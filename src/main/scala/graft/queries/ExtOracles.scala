package graft.queries

import graft.ext.Similarity

/** DuckDB oracle SQL for the ext (LLM-pipeline) queries. Every
  * fingerprint goes through md5 (bit-identical in both engines);
  * hex→int uses the '0x'||hex cast; float reductions use
  * list_transform + list_sum, which reduces sequentially exactly like
  * Spark's aggregate() HOF — verified bit-equal. The LSH hyperplanes
  * are generated from the same Scala LCG as the Spark side and
  * inlined as a literal.
  */
object ExtOracles {

  private val dupCorpus =
    """corpus AS (SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id + 100000, text FROM documents WHERE doc_id % 7 = 0)""".stripMargin

  private val nearCorpus =
    """corpus AS (SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id + 200000, text || ' graftmarker end'
      |  FROM documents WHERE doc_id % 11 = 0)""".stripMargin

  /** 8-bit Morton interleave as a disjoint-bit SUM (x even bits, y
    * odd) — Layout.zorderValue2's fold written out. def, not val:
    * object-init order would silently interpolate an empty string. */
  private def morton8(qx: String, qy: String): String =
    (0 until 8).map(i =>
      s"((($qx >> $i) & 1) << ${2 * i}) + ((($qy >> $i) & 1) << ${2 * i + 1})")
      .mkString(" + ")

  /** The deterministic JL ±1 matrix (16×64) from the same md5-parity
    * stream Similarity.jlMatrixRow builds, one list-typed row per
    * output dim. def for the same init-order reason. */
  private def jlMatrixCte: String =
    """m AS (SELECT j.range AS j,
      |    list(CASE WHEN CAST('0x' || substr(md5('jl|' ||
      |        CAST(j.range AS VARCHAR) || '|' ||
      |        CAST(i.range AS VARCHAR)), 1, 15) AS BIGINT) % 2 = 0
      |      THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END
      |      ORDER BY i.range) AS rvec
      |  FROM range(16) j, range(64) i GROUP BY 1)""".stripMargin

  /** BM25 scoring CTE block (Retrieval.bm25TopK's integer form):
    * postings with tf/dl over the doc_id >= 20 corpus, df, one-row
    * (N, T) totals, distinct first-3-token query terms from the
    * doc_id < 20 probes, and the per-(query, doc) integer score —
    * idf in clamped whole bits, tf saturation as one integral
    * division in 2^10 fixed point (k1 = 3/2, b = 3/4 multiplied
    * through by 8T). */
  /** The BM25 integer chain parameterized by the CORPUS predicate —
    * the base form scores doc_id >= 20; the time-travel oracle scores
    * only the store's BUILD corpus (df and (N, T) shrink with it,
    * which is exactly what a snapshot-pinned historical read must
    * reproduce). */
  private def bm25CtesFrom(corpusWhere: String): String =
    s"""post AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf,
      |    MAX(dl) AS dl
      |  FROM (SELECT doc_id,
      |      CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
      |      unnest(string_split(text, ' ')) AS tok
      |    FROM documents WHERE $corpusWhere) tk
      |  GROUP BY doc_id, tok),""".stripMargin + "\n" +
    """dfreq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df
      |  FROM post GROUP BY tok),
      |btot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(dl) AS BIGINT) AS t
      |  FROM (SELECT doc_id, MAX(dl) AS dl FROM post GROUP BY doc_id) u),
      |bq AS (SELECT DISTINCT query_id, tok FROM (
      |  SELECT doc_id AS query_id,
      |      unnest(list_slice(string_split(text, ' '), 1, 3)) AS tok
      |  FROM documents WHERE doc_id < 20) s),
      |bm25scored AS (SELECT bq.query_id, p.doc_id,
      |    CAST(SUM(GREATEST(0, length(bin(2 * (btot.n - d.df) + 1))
      |                       - length(bin(2 * d.df + 1)))
      |      * ((20480 * btot.t * p.tf)
      |         // (8 * btot.t * p.tf + 3 * btot.t + 9 * p.dl * btot.n))
      |    ) AS BIGINT) AS score_q
      |  FROM bq JOIN post p ON p.tok = bq.tok
      |  JOIN dfreq d ON d.tok = bq.tok, btot
      |  GROUP BY bq.query_id, p.doc_id)""".stripMargin

  private val bm25Ctes: String = bm25CtesFrom("doc_id >= 20")

  /** q_bm25_topk's full statement — shared verbatim by q_bm25_stored
    * (the persisted index must be invisible in the answer). */
  private def bm25TopkSql: String = bm25TopkSqlFrom(bm25Ctes)

  private def bm25TopkSqlFrom(ctes: String): String =
    s"""WITH $ctes
       |SELECT query_id, doc_id, rank, score_q FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY score_q DESC, doc_id ASC) AS rank
       |  FROM bm25scored) r
       |WHERE rank <= 5""".stripMargin

  /** q_bm25_timetravel: the store's snapshot-0 (pre-append) state —
    * BM25 over the BUILD corpus alone, with the build corpus's df and
    * (N, T): a historical read that resolved any artifact at today's
    * generation would produce different SCORES, which is the property
    * the one-pin cross-artifact resolve exists for. */
  private def bm25TimetravelSql: String =
    bm25TopkSqlFrom(bm25CtesFrom("doc_id >= 20 AND doc_id % 7 <> 0"))

  /** q_incr_stored's full statement — the DIRECT MinHash chain over
    * index = documents ∪ appended batch A, probed by batch B. Shared
    * verbatim by q_sig_compact: compaction is physical only, so the
    * persisted store's probe answers must be bit-identical through
    * it. */
  private def incrStoredSql: String =
    """WITH incA AS (
      |  SELECT doc_id + 600000 AS doc_id, text || ' graftincr end' AS text
      |  FROM documents WHERE doc_id % 13 = 0),
      |idx AS (SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id, text FROM incA),
      |inc AS (
      |  SELECT doc_id + 800000 AS doc_id, text || ' graftincr fresh' AS text
      |  FROM documents WHERE doc_id % 26 = 0)""".stripMargin +
      ",\n" + minhashProbeChainSql

  /** q_sig_timetravel: the signature store at SNAPSHOT 0 — batch B
    * probed against the BASE index alone; batch A (committed as
    * snapshot 1 before the probe) must be invisible to the pinned
    * resolve, so every A-clone candidate pair is absent. */
  private def incrTimetravelSql: String =
    """WITH idx AS (SELECT doc_id, text FROM documents),
      |inc AS (
      |  SELECT doc_id + 800000 AS doc_id, text || ' graftincr fresh' AS text
      |  FROM documents WHERE doc_id % 26 = 0)""".stripMargin +
      ",\n" + minhashProbeChainSql

  /** The streaming-ingest head: index = documents ∪ BOTH streamed
    * waves (the fold must be visible to the post-stream probe —
    * B's clones match the base doc, wave A1's clone of it, and wave
    * A2's), probed by the same batch B. */
  private def streamSigIngestSql: String =
    """WITH incA1 AS (
      |  SELECT doc_id + 600000 AS doc_id, text || ' graftincr end' AS text
      |  FROM documents WHERE doc_id % 13 = 0),
      |incA2 AS (
      |  SELECT doc_id + 810000 AS doc_id, text || ' graftincr end2' AS text
      |  FROM documents WHERE doc_id % 26 = 0),
      |idx AS (SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id, text FROM incA1
      |  UNION ALL SELECT doc_id, text FROM incA2),
      |inc AS (
      |  SELECT doc_id + 800000 AS doc_id, text || ' graftincr fresh' AS text
      |  FROM documents WHERE doc_id % 26 = 0)""".stripMargin +
      ",\n" + minhashProbeChainSql

  /** The MinHash probe chain over (idx, inc) CTEs — shingles,
    * 8-seed signatures, 2-row bands, band-collision candidates,
    * exact-Jaccard verification at 0.5. */
  private val minhashProbeChainSql: String =
    """ti AS (SELECT doc_id, string_split(text, ' ') AS w FROM idx),
      |tn AS (SELECT doc_id, string_split(text, ' ') AS w FROM inc),
      |shi AS (SELECT DISTINCT doc_id, shingle FROM (
      |  SELECT doc_id, unnest(list_transform(range(1, len(w) - 1),
      |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
      |  FROM ti WHERE len(w) >= 3) t),
      |shn AS (SELECT DISTINCT doc_id, shingle FROM (
      |  SELECT doc_id, unnest(list_transform(range(1, len(w) - 1),
      |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
      |  FROM tn WHERE len(w) >= 3) t),
      |mhi AS (SELECT doc_id, sd.seed,
      |    min(md5(sd.seed::VARCHAR || '|' || shingle)) AS h
      |  FROM shi CROSS JOIN (SELECT unnest(range(8)) AS seed) sd
      |  GROUP BY doc_id, sd.seed),
      |mhn AS (SELECT doc_id, sd.seed,
      |    min(md5(sd.seed::VARCHAR || '|' || shingle)) AS h
      |  FROM shn CROSS JOIN (SELECT unnest(range(8)) AS seed) sd
      |  GROUP BY doc_id, sd.seed),
      |bi AS (SELECT doc_id, seed // 2 AS band,
      |    min(CASE WHEN seed % 2 = 0 THEN h END)
      |      || min(CASE WHEN seed % 2 = 1 THEN h END) AS bkey
      |  FROM mhi GROUP BY doc_id, seed // 2),
      |bn AS (SELECT doc_id, seed // 2 AS band,
      |    min(CASE WHEN seed % 2 = 0 THEN h END)
      |      || min(CASE WHEN seed % 2 = 1 THEN h END) AS bkey
      |  FROM mhn GROUP BY doc_id, seed // 2),
      |cand AS (SELECT DISTINCT n.doc_id AS new_id, i.doc_id AS index_id
      |  FROM bn n JOIN bi i ON i.band = n.band AND i.bkey = n.bkey),
      |inter AS (SELECT c.new_id, c.index_id, CAST(COUNT(*) AS BIGINT) AS i
      |  FROM cand c JOIN shn sn ON sn.doc_id = c.new_id
      |  JOIN shi si ON si.doc_id = c.index_id AND si.shingle = sn.shingle
      |  GROUP BY c.new_id, c.index_id),
      |szn AS (SELECT doc_id, COUNT(*) AS n FROM shn GROUP BY doc_id),
      |szi AS (SELECT doc_id, COUNT(*) AS n FROM shi GROUP BY doc_id)
      |SELECT i.new_id, i.index_id,
      |  CAST(i.i AS DOUBLE) / (sn.n + si.n - i.i) AS jaccard
      |FROM inter i JOIN szn sn ON sn.doc_id = i.new_id
      |JOIN szi si ON si.doc_id = i.index_id
      |WHERE CAST(i.i AS DOUBLE) / (sn.n + si.n - i.i) >= 0.5""".stripMargin

  /** q_phrase_topk's full statement — positional postings + adjacency
    * join + phrase-tf ranking. Shared verbatim by q_phrase_stored:
    * the persisted positional index (bucket layout, pruned scan,
    * compaction) must be invisible in the answer. */
  private val phraseTopkSql: String =
    """WITH ppost AS (SELECT doc_id, i - 1 AS pos, w[i] AS tok
      |  FROM (SELECT doc_id, string_split(text, ' ') AS w
      |    FROM documents WHERE doc_id >= 20) d,
      |  unnest(range(1, len(w) + 1)) AS t(i)),
      |pq AS (SELECT doc_id AS query_id, w[1] AS t1, w[2] AS t2
      |  FROM (SELECT doc_id, string_split(text, ' ') AS w
      |    FROM documents WHERE doc_id < 20) q WHERE len(w) >= 2),
      |m AS (SELECT q.query_id, a.doc_id,
      |    CAST(COUNT(*) AS BIGINT) AS phrase_tf
      |  FROM pq q
      |  JOIN ppost a ON a.tok = q.t1
      |  JOIN ppost b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
      |    AND b.tok = q.t2
      |  GROUP BY q.query_id, a.doc_id)
      |SELECT query_id, doc_id, rank, phrase_tf FROM (
      |  SELECT query_id, doc_id, phrase_tf,
      |    CAST(row_number() OVER (PARTITION BY query_id
      |      ORDER BY phrase_tf DESC, doc_id ASC) AS BIGINT) AS rank
      |  FROM m) t WHERE rank <= 3""".stripMargin

  /** Winnowing CTE block (TextOps.winnowFingerprints k=3, w=4) over a
    * `corpus(doc_id, text)` CTE: zipped positional unnest of the
    * 3-gram hex15 hashes, per-doc shingle count, and the 4-window
    * rolling min. */
  private val winnowFpCtes: String =
    """wtoks AS (SELECT doc_id, string_split(text, ' ') AS w FROM corpus),
      |sh AS (SELECT doc_id,
      |    unnest(range(1, len(w) - 1)) AS pos,
      |    unnest(list_transform(range(1, len(w) - 1),
      |      i -> CAST('0x' || substr(md5(w[i] || ' ' || w[i+1] ||
      |        ' ' || w[i+2]), 1, 15) AS BIGINT))) AS h
      |  FROM wtoks WHERE len(w) >= 3),
      |wm AS (SELECT doc_id, pos, cnt,
      |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
      |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m
      |  FROM (SELECT doc_id, pos, h,
      |      COUNT(*) OVER (PARTITION BY doc_id) AS cnt FROM sh) t)""".stripMargin

  /** Temperature-mix CTE block (Sampling.temperatureQuotas): per-
    * source counts, sqrt-weight in 2^10 fixed point, one-row Σw. */
  private val tempQuotaCtes: String =
    """c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
      |  FROM documents GROUP BY source),
      |w AS (SELECT source, n_docs,
      |    CAST(floor(sqrt(CAST(n_docs * 1048576 AS DOUBLE))) AS BIGINT)
      |      AS weight
      |  FROM c),
      |t AS (SELECT CAST(SUM(weight) AS BIGINT) AS wsum FROM w)""".stripMargin

  /** Same hyperplanes as Similarity.planes(8, 64), inlined. */
  private val planesLit: String =
    Similarity.planes(8, 64)
      .map(p => p.mkString("[", ", ", "]")).mkString("[", ", ", "]")

  private val bucketTerms: String =
    (0 until 8).map { p =>
      s"""(CASE WHEN list_sum(list_transform(range(1, 65),
         |   i -> v[i] * pl[${p + 1}][i])) >= 0 THEN ${1L << p} ELSE 0 END)""".stripMargin
    }.mkString(" + ")

  /** The bit-stable cosine term (sequential list_sum reduction). */
  private def cosSql(a: String, b: String): String =
    s"""list_sum(list_transform(range(1, 65), i -> $a[i] * $b[i]))
       |      / (sqrt(list_sum(list_transform(range(1, 65), i -> $a[i] * $a[i])))
       |       * sqrt(list_sum(list_transform(range(1, 65), i -> $b[i] * $b[i]))))""".stripMargin


  // ===== trained-codebook (k-means) oracle machinery =====
  //
  // The unrolled Lloyd chain mirroring ext.KMeans.fit EXACTLY:
  // components quantize ONCE to BIGINT (floor(x*scale + 0.5) — exact
  // in IEEE double, identical in every engine), assignment distances
  // are integer sums (order-independent, so grouped SUM is safe to
  // parallelize), and centroid updates are round-half-up integer
  // means via floor((2s+n)/(2n)) with exact-integer s, n and a
  // correctly-rounded double division — every engine floors the same
  // value while 2s stays under 2^53. The in-row argmin
  // (list_indexof of list_min over a cid-ORDERED centroid list)
  // implements "min d2, ties to the smallest cid": centroid ids are
  // 0..k-1 contiguous by construction, so index-1 = cid. Expects a
  // CTE `kmsrc(rid BIGINT, v DOUBLE[])` in scope; produces
  // kmc{iters} (cid, m, cv BIGINT[]) plus the [[kmCodebookCtes]]
  // views of it.
  private def kmAssign(name: String, src: String, sd: Int): String =
    s"""$name AS (SELECT rid, m,
       |    cl[list_indexof(ds, list_min(ds))].cid AS cid FROM (
       |    SELECT q.rid, q.m,
       |      list_transform(c.cl, cc -> list_sum(list_transform(
       |        range(1, ${sd + 1}),
       |        i -> (q.qv[i] - cc.cv[i]) * (q.qv[i] - cc.cv[i])))) AS ds,
       |      c.cl
       |    FROM kmqv q JOIN (SELECT m, list({'cid': cid, 'cv': cv}
       |        ORDER BY cid) AS cl FROM $src GROUP BY m) c
       |      ON c.m = q.m) t)""".stripMargin

  // k is a SQL expression (a literal, or a scalar subquery for
  // data-dependent sizing like the coarse quantizer's √N)
  private def kmChain(k: String, ns: Int, sd: Int, iters: Int,
                      scale: Long): String = {
    val sums = (1 to sd).map(i => s"SUM(q.qv[$i]) AS s$i").mkString(", ")
    val means = (1 to sd).map(i =>
      s"CAST(FLOOR((2.0 * u.s$i + u.n) / (2.0 * u.n)) AS BIGINT)")
      .mkString(", ")
    val head =
      s"""kmqv AS (SELECT s.rid, m.m, list_transform(range(1, ${sd + 1}), i ->
         |    CAST(FLOOR(s.v[m.m * $sd + i] * $scale + 0.5) AS BIGINT)) AS qv
         |  FROM kmsrc s, (SELECT unnest(range(0, $ns)) AS m) m),
         |kminit AS (SELECT cid, rid FROM (
         |    SELECT rid, row_number() OVER (
         |        ORDER BY (rid * 48271) % 2147483647, rid) - 1 AS cid
         |    FROM kmsrc) t WHERE cid < $k),
         |kmc0 AS (SELECT n.cid, q.m, q.qv AS cv
         |  FROM kminit n JOIN kmqv q ON q.rid = n.rid)""".stripMargin
    val steps = (1 to iters).map { t =>
      kmAssign(s"kma$t", s"kmc${t - 1}", sd) + ",\n" +
        s"""kmc$t AS (SELECT p.cid, p.m,
           |    CASE WHEN u.n IS NULL THEN p.cv
           |      ELSE list_value($means) END AS cv
           |  FROM kmc${t - 1} p LEFT JOIN (
           |    SELECT a.cid, a.m, COUNT(*) AS n, $sums
           |    FROM kma$t a JOIN kmqv q ON q.rid = a.rid AND q.m = a.m
           |    GROUP BY 1, 2) u ON u.cid = p.cid AND u.m = p.m)""".stripMargin
    }
    (head +: steps).mkString(",\n")
  }

  /** Codebook views over the fitted kmc{iters}: `kmseeds (j, sv)` —
    * full-width rows (sub-centroids concatenated in (m, i) order,
    * components /scale back to vector space, exact dyadic doubles),
    * the shape the wide LUT joins want; and `kmsub (m, scl)` — the
    * per-subspace slice lists the in-row encode argmin wants. */
  private def kmCodebookCtes(sd: Int, iters: Int, scale: Long): String =
    s"""kmseeds AS (SELECT cid AS j,
       |    list(CAST(cv[i.i] AS DOUBLE) / $scale.0 ORDER BY m, i.i) AS sv
       |  FROM kmc$iters CROSS JOIN
       |    (SELECT unnest(range(1, ${sd + 1})) AS i) i
       |  GROUP BY cid),
       |kmsub AS (SELECT m, list(list_transform(range(1, ${sd + 1}), i ->
       |    CAST(cv[i] AS DOUBLE) / $scale.0) ORDER BY cid) AS scl
       |  FROM kmc$iters GROUP BY m)""".stripMargin

  /** Unrolled BPE merge-learning chain mirroring TextOps.bpeLearn:
    * pretoken frequency table → per round, one pair-count agg, a
    * 1-row top pick (count DESC, then lexicographic pair — a total
    * order), and the chr(31)-anchored replace fuse (left-to-right
    * non-overlapping = greedy BPE fusion, the identical primitive in
    * both engines). */
  private def bpeLearnSql(numMerges: Int): String = {
    val head =
      """WITH rich AS (SELECT doc_id,
        |    text || ' doc-' || CAST(doc_id AS VARCHAR) || ' it''s v1.2, n=' ||
        |      CAST(n_chars AS VARCHAR) || '!' AS rich
        |  FROM documents),
        |pt AS (SELECT unnest(regexp_extract_all(rich,
        |    '''(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+| +'))
        |    AS w FROM rich),
        |w0 AS (SELECT chr(31) || array_to_string(string_split(w, ''), chr(31))
        |      || chr(31) AS s,
        |    CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM pt GROUP BY 1)""".stripMargin
    // AS MATERIALIZED on every step CTE: w{t-1} is referenced twice
    // per round (pair count + rewrite) and the rounds nest 12 deep —
    // the DuckDB planner blowup the qcls chain measured (62 s at 12
    // inlined rounds; ms materialized)
    val steps = (1 to numMerges).map { t =>
      s"""m$t AS MATERIALIZED (SELECT l, r, pc FROM (
         |    SELECT (u).l AS l, (u).r AS r, SUM(cnt) AS pc FROM (
         |      SELECT cnt, unnest(list_transform(range(1, len(sy)), i ->
         |          {'l': sy[i], 'r': sy[i + 1]})) AS u
         |      FROM (SELECT cnt, list_filter(string_split(s, chr(31)),
         |          x -> x <> '') AS sy FROM w${t - 1}) q0) q1
         |    GROUP BY 1, 2) g
         |  ORDER BY pc DESC, l ASC, r ASC LIMIT 1),
         |w$t AS MATERIALIZED (SELECT replace(w.s, chr(31) || m.l
         |      || chr(31) || m.r || chr(31),
         |      chr(31) || m.l || m.r || chr(31)) AS s, w.cnt
         |  FROM w${t - 1} w, m$t m)""".stripMargin
    }
    val tail = (1 to numMerges).map { t =>
      s"""SELECT CAST($t AS BIGINT) AS rank, l AS "left", r AS "right",
         |  CAST(pc AS BIGINT) AS pair_count FROM m$t""".stripMargin
    }.mkString("\n", "\nUNION ALL ", "")
    (head +: steps).mkString(",\n") + tail
  }

  private def eCandCtes: String =
    s"""WITH e AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |cand AS (SELECT vec_id, v FROM e WHERE vec_id >= 20)""".stripMargin

  /** e/cand over the ANISOTROPIC fixture (ExtQueries.anisoEmb): the
    * rank-1 all-ones component planted per vector — float → double,
    * one multiply-add, one round-to-nearest cast back to REAL, so the
    * doubles downstream are bit-identical to the Spark side's. */
  private def anisoECandCtes: String =
    s"""WITH aniso AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(CAST(x AS DOUBLE) +
       |      (CAST(vec_id % 17 AS DOUBLE) - 8) * 0.1 AS REAL))
       |      AS embedding
       |  FROM embeddings),
       |e AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM aniso),
       |cand AS (SELECT vec_id, v FROM e WHERE vec_id >= 20)""".stripMargin

  /** e/cand over the ORGANIC fixture (ExtQueries.organicEmb): each
    * document's 64-bucket feature-hash token-count profile via the
    * shared hex15-md5 stream. Counts are small integers — exact in
    * REAL and DOUBLE — and md5 is byte-identical in both engines, so
    * the downstream integer-quantized chains replay bit-for-bit. */
  private def organicECandCtes: String =
    s"""WITH org AS (SELECT doc_id AS vec_id,
       |    list_transform(range(0, 64), j ->
       |      CAST(len(list_filter(list_transform(string_split(text, ' '),
       |        t -> CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) % 64),
       |        b -> b = j)) AS DOUBLE)) AS v
       |  FROM documents),
       |e AS (SELECT vec_id, v FROM org),
       |cand AS (SELECT vec_id, v FROM e WHERE vec_id >= 20)""".stripMargin

  /** e/cand + kmsrc over the raw candidate vectors + the fitted
    * codebook CTEs — the preamble of every trained-PQ oracle.
    * `head` picks the e/cand source (raw embeddings vs the
    * anisotropic fixture). */
  private def pqPreamble: String = pqPreambleFrom(eCandCtes)

  private def pqPreambleFrom(head: String): String =
    head + ",\nkmsrc AS (SELECT vec_id AS rid, v FROM cand),\n" +
      kmChain(ExtQueries.PqK.toString, ExtQueries.PqSub, ExtQueries.PqDim,
        ExtQueries.PqIters, ExtQueries.PqScale) + ",\n" +
      kmCodebookCtes(ExtQueries.PqDim, ExtQueries.PqIters, ExtQueries.PqScale)

  /** PQ encode of `cand` against kmsub — in-row argmin per (vector,
    * subspace); d2 runs in FLOAT space (v minus the dyadic-exact
    * codebook slice), the same left-to-right fold as pqEncode. */
  private def pqEncodeCte(sd: Int, src: String = "cand"): String =
    s"""codes AS (SELECT vec_id, m,
       |    list_indexof(ds, list_min(ds)) - 1 AS code,
       |    list_min(ds) AS d2 FROM (
       |  SELECT c.vec_id, k.m, list_transform(k.scl, sc ->
       |    list_sum(list_transform(range(1, ${sd + 1}), i ->
       |      (c.v[k.m * $sd + i] - sc[i])
       |      * (c.v[k.m * $sd + i] - sc[i])))) AS ds
       |  FROM $src c, kmsub k) t)""".stripMargin

  private def pqLutCte(ns: Int, sd: Int): String =
    s"""lut AS (SELECT q.query_id, m.m, s.j,
       |    list_sum(list_transform(range(1, ${sd + 1}), i ->
       |      (q.v[m.m * $sd + i] - s.sv[m.m * $sd + i])
       |      * (q.v[m.m * $sd + i] - s.sv[m.m * $sd + i]))) AS d2
       |  FROM q, (SELECT unnest(range(0, $ns)) AS m) m, kmseeds s)""".stripMargin

  private val pqAdcRankedCtes: String =
    """adc AS (SELECT l.query_id, c.vec_id AS neighbor_id,
      |    list_sum(list(l.d2 ORDER BY c.m)) AS adc_dist2
      |  FROM codes c JOIN lut l ON l.m = c.m AND l.j = c.code
      |  GROUP BY 1, 2),
      |ranked AS (SELECT query_id, neighbor_id, adc_dist2,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY adc_dist2 ASC, neighbor_id ASC) AS rank
      |  FROM adc)""".stripMargin

  private val qCte: String =
    "q AS (SELECT vec_id AS query_id, v FROM e WHERE vec_id < 20)"

  private val recallTailSql: String =
    """SELECT e2.query_id, CAST(COUNT(*) AS BIGINT) AS n_exact,
      |  CAST((SELECT COUNT(*) FROM approx a2
      |    WHERE a2.query_id = e2.query_id) AS BIGINT) AS n_approx,
      |  CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0
      |    END) AS BIGINT) AS n_hit
      |FROM exact e2 LEFT JOIN approx a
      |  ON a.query_id = e2.query_id AND a.neighbor_id = e2.neighbor_id
      |GROUP BY e2.query_id""".stripMargin

  /** Brute-force incoming × index exact-Jaccard truth over the
    * q_incr_exact fixture (clones of every 13th doc + token-reversed
    * copies of every 19th): the shared preamble of the three AB-join
    * gate rows — single-pass, sharded, and routed all answer the same
    * question, so one truth pins all three. `tail` picks the output
    * columns (the routed row carries a literal route instead of the
    * integer counts). */
  private def incrExactBruteSql(tail: String): String =
    """WITH d AS (SELECT doc_id, text FROM documents),
      |inc AS (SELECT doc_id + 600000 AS doc_id,
      |    text || ' graftincr end' AS text
      |  FROM d WHERE doc_id % 13 = 0
      |  UNION ALL SELECT doc_id + 700000,
      |    array_to_string(list_reverse(string_split(text, ' ')), ' ')
      |  FROM d WHERE doc_id % 19 = 0),
      |shi AS (SELECT DISTINCT doc_id, shingle FROM (
      |  SELECT doc_id, unnest(list_transform(range(1, len(w) - 1),
      |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
      |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM d)
      |  WHERE len(w) >= 3) t),
      |shn AS (SELECT DISTINCT doc_id, shingle FROM (
      |  SELECT doc_id, unnest(list_transform(range(1, len(w) - 1),
      |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
      |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM inc)
      |  WHERE len(w) >= 3) t),
      |szi AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM shi GROUP BY doc_id),
      |szn AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM shn GROUP BY doc_id),
      |inter AS (SELECT a.doc_id AS index_id, b.doc_id AS new_id,
      |    CAST(COUNT(*) AS BIGINT) AS i
      |  FROM shi a JOIN shn b ON a.shingle = b.shingle
      |  GROUP BY 1, 2)
      |""".stripMargin + tail + "\n" +
      """FROM inter i
        |JOIN szi na ON na.doc_id = i.index_id
        |JOIN szn nb ON nb.doc_id = i.new_id
        |WHERE i.i * 100 >= 60 * (na.n + nb.n - i.i)""".stripMargin

  private val exactL2Cte: String =
    """exact AS (SELECT query_id, neighbor_id FROM (
      |  SELECT q.query_id, c.vec_id AS neighbor_id, row_number() OVER (
      |      PARTITION BY q.query_id ORDER BY
      |      list_sum(list_transform(range(1, 65), i ->
      |        (q.v[i] - c.v[i]) * (q.v[i] - c.v[i]))) ASC,
      |      c.vec_id ASC) AS rank
      |  FROM q, cand c) t WHERE rank <= 3)""".stripMargin

  private def pqCodesSql: String =
    pqPreamble + ",\n" + pqEncodeCte(ExtQueries.PqDim) + "\n" +
      """SELECT vec_id, CAST(m AS BIGINT) AS sub_id,
        |  CAST(code AS BIGINT) AS code, d2 AS dist2
        |FROM codes""".stripMargin

  private def pqTopkSql: String =
    pqPreamble + ",\n" + pqEncodeCte(ExtQueries.PqDim) + ",\n" + qCte +
      ",\n" + pqLutCte(ExtQueries.PqSub, ExtQueries.PqDim) + ",\n" +
      pqAdcRankedCtes + "\n" +
      """SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank,
        |  adc_dist2
        |FROM ranked WHERE rank <= 3""".stripMargin

  private def pqRecallSql: String = pqRecallSqlFrom(eCandCtes)

  private def pqRecallSqlFrom(head: String): String =
    pqPreambleFrom(head) + ",\n" + pqEncodeCte(ExtQueries.PqDim) + ",\n" +
      qCte + ",\n" + pqLutCte(ExtQueries.PqSub, ExtQueries.PqDim) + ",\n" +
      pqAdcRankedCtes + ",\n" +
      "approx AS (SELECT query_id, neighbor_id FROM ranked WHERE rank <= 3),\n" +
      exactL2Cte + "\n" + recallTailSql

  /** Householder application: rotate `srcSel`'s (id, x) rows by the
    * reflection in `rotn (w, nw2)` — x′[i] = x[i] − 2·(w·x)/‖w‖²·w[i],
    * every fold left-to-right (the exact op order Pca.opqRotate
    * emits). `srcSel` must yield (id-aliased column, v DOUBLE[]). */
  private def rotApplyCte(name: String, idAs: String,
                          srcSel: String): String =
    s"""$name AS MATERIALIZED (SELECT $idAs,
       |    list_transform(range(1, 65), i ->
       |      x[i] - 2 * wx / nw2 * w[i]) AS v FROM (
       |  SELECT t0.$idAs, t0.v AS x, r.w, r.nw2,
       |    list_sum(list_transform(range(1, 65), j ->
       |      t0.v[j] * r.w[j])) AS wx
       |  FROM ($srcSel) t0, rotn r) t)""".stripMargin

  /** OPQ-lite preamble: pcaChain over the CANDIDATE corpus (the
    * rotation trains on what it rotates, mirroring
    * ExtQueries.rotCands), the Householder vector w = v − β·e₁ with
    * β = −sign(v₁), rcand = rotated candidates, then the Lloyd fit
    * whose kmsrc is the ROTATED vectors. */
  private def pqRotPreamble: String = pqRotPreambleFrom(eCandCtes)

  private def pqRotPreambleFrom(head: String): String =
    head + ",\n" + pcaChain(12, "cand", "v") + ",\n" +
      """rotw AS MATERIALIZED (SELECT list_transform(range(1, 65), i ->
        |    CASE WHEN i = 1 THEN v[1] -
        |        (CASE WHEN v[1] >= 0 THEN -1.0 ELSE 1.0 END)
        |      ELSE v[i] END) AS w FROM vf),
        |rotn AS (SELECT w, list_sum(list_transform(range(1, 65), i ->
        |    w[i] * w[i])) AS nw2 FROM rotw)""".stripMargin + ",\n" +
      rotApplyCte("rcand", "vec_id", "SELECT vec_id, v FROM cand") +
      ",\nkmsrc AS (SELECT vec_id AS rid, v FROM rcand),\n" +
      kmChain(ExtQueries.PqK.toString, ExtQueries.PqSub, ExtQueries.PqDim,
        ExtQueries.PqIters, ExtQueries.PqScale) + ",\n" +
      kmCodebookCtes(ExtQueries.PqDim, ExtQueries.PqIters, ExtQueries.PqScale)

  private def pqRotCodesSql: String =
    pqRotPreamble + ",\n" + pqEncodeCte(ExtQueries.PqDim, "rcand") + "\n" +
      """SELECT vec_id, CAST(m AS BIGINT) AS sub_id,
        |  CAST(code AS BIGINT) AS code, d2 AS dist2
        |FROM codes""".stripMargin

  /** Rotated-space ADC vs UNROTATED exact L2 (valid: the reflection
    * is orthogonal, so the true neighbor set is unchanged). */
  private def pqRotRecallSql: String = pqRotRecallSqlFrom(eCandCtes)

  private def pqRotRecallSqlFrom(head: String): String =
    pqRotPreambleFrom(head) + ",\n" +
      pqEncodeCte(ExtQueries.PqDim, "rcand") + ",\n" +
      rotApplyCte("q", "query_id",
        "SELECT vec_id AS query_id, v FROM e WHERE vec_id < 20") + ",\n" +
      pqLutCte(ExtQueries.PqSub, ExtQueries.PqDim) + ",\n" +
      pqAdcRankedCtes + ",\n" +
      "approx AS (SELECT query_id, neighbor_id FROM ranked WHERE rank <= 3),\n" +
      """exact AS (SELECT query_id, neighbor_id FROM (
        |  SELECT q.query_id, c.vec_id AS neighbor_id, row_number() OVER (
        |      PARTITION BY q.query_id ORDER BY
        |      list_sum(list_transform(range(1, 65), i ->
        |        (q.v[i] - c.v[i]) * (q.v[i] - c.v[i]))) ASC,
        |      c.vec_id ASC) AS rank
        |  FROM (SELECT vec_id AS query_id, v FROM e WHERE vec_id < 20) q,
        |    cand c) t WHERE rank <= 3)""".stripMargin + "\n" +
      recallTailSql

  /** The argmin cell assignment of `src` against `cent`, with
    * residual vectors — the shared CTE body of every IVF chain. */
  private def asgCte(name: String, src: String): String =
    s"""$name AS (SELECT neighbor_id, cell, rv FROM (
       |  SELECT c.vec_id AS neighbor_id, ct.cid AS cell,
       |    list_transform(range(1, 65), i -> c.v[i] - ct.cv[i]) AS rv,
       |    row_number() OVER (PARTITION BY c.vec_id ORDER BY
       |      list_sum(list_transform(range(1, 65), i ->
       |        (c.v[i] - ct.cv[i]) * (c.v[i] - ct.cv[i]))) ASC,
       |      ct.cid ASC) AS rk
       |  FROM $src c, cent ct) WHERE rk = 1)""".stripMargin

  /** IVF cells + residuals (identical to the r7 chain) + a km fit
    * whose kmsrc is the RESIDUAL vectors — the codebook the ADC
    * probes against is trained on what it quantizes. `head` picks
    * the e/cand source (raw embeddings, the organic fixture, the
    * shifted rebuild corpus). */
  private def ivfPreamble: String = ivfPreambleFrom(eCandCtes)

  private def ivfPreambleFrom(head: String): String =
    head + ",\n" +
      """stride AS (SELECT greatest(1, CAST(floor(sqrt(COUNT(*))) AS BIGINT))
        |    AS m FROM cand),
        |cent AS (SELECT vec_id AS cid, v AS cv FROM cand, stride
        |  WHERE vec_id % stride.m = 0)""".stripMargin + ",\n" +
      asgCte("asg", "cand") +
      ",\nkmsrc AS (SELECT neighbor_id AS rid, rv AS v FROM asg),\n" +
      kmChain(ExtQueries.PqK.toString, ExtQueries.PqSub, ExtQueries.PqDim,
        ExtQueries.PqIters, ExtQueries.PqScale) + ",\n" +
      kmCodebookCtes(ExtQueries.PqDim, ExtQueries.PqIters, ExtQueries.PqScale)

  /** Train-on-base, encode-all preamble — the FROZEN-geometry drift
    * chain: `head` must define `tr` (the corpus the store was built
    * on) beside `e`/`cand` (the full corpus including appends). The
    * coarse quantizer (stride + cent) and the residual codebook fit
    * come from `tr` only; `asg` — the codes source the ADC body reads
    * — covers ALL of `cand`, exactly what [[graft.ext
    * .VectorIndexStore.append]]'s snapshot semantics encode. */
  private def ivfPreambleSplit(head: String): String =
    head + ",\n" +
      """stride AS (SELECT greatest(1, CAST(floor(sqrt(COUNT(*))) AS BIGINT))
        |    AS m FROM tr),
        |cent AS (SELECT vec_id AS cid, v AS cv FROM tr, stride
        |  WHERE vec_id % stride.m = 0)""".stripMargin + ",\n" +
      asgCte("asgt", "tr") +
      ",\nkmsrc AS (SELECT neighbor_id AS rid, rv AS v FROM asgt),\n" +
      kmChain(ExtQueries.PqK.toString, ExtQueries.PqSub, ExtQueries.PqDim,
        ExtQueries.PqIters, ExtQueries.PqScale) + ",\n" +
      kmCodebookCtes(ExtQueries.PqDim, ExtQueries.PqIters,
        ExtQueries.PqScale) + ",\n" +
      asgCte("asg", "cand")

  private def ivfBodyCtes(ns: Int, sd: Int, q: String = qCte): String =
    s"""codes AS (SELECT neighbor_id, cell, m,
       |    list_indexof(ds, list_min(ds)) - 1 AS code FROM (
       |  SELECT a.neighbor_id, a.cell, k.m, list_transform(k.scl, sc ->
       |    list_sum(list_transform(range(1, ${sd + 1}), i ->
       |      (a.rv[k.m * $sd + i] - sc[i])
       |      * (a.rv[k.m * $sd + i] - sc[i])))) AS ds
       |  FROM asg a, kmsub k) t),
       |$q,
       |probes AS (SELECT query_id, cell, qr FROM (
       |  SELECT q.query_id, ct.cid AS cell,
       |    list_transform(range(1, 65), i -> q.v[i] - ct.cv[i]) AS qr,
       |    row_number() OVER (PARTITION BY q.query_id ORDER BY
       |      list_sum(list_transform(range(1, 65), i ->
       |        (q.v[i] - ct.cv[i]) * (q.v[i] - ct.cv[i]))) ASC,
       |      ct.cid ASC) AS rk
       |  FROM q, cent ct) WHERE rk <= 3),
       |lut AS (SELECT p.query_id, p.cell, m.m, s.j,
       |    list_sum(list_transform(range(1, ${sd + 1}), i ->
       |      (p.qr[m.m * $sd + i] - s.sv[m.m * $sd + i])
       |      * (p.qr[m.m * $sd + i] - s.sv[m.m * $sd + i]))) AS d2
       |  FROM probes p, (SELECT unnest(range(0, $ns)) AS m) m, kmseeds s),
       |adc AS (SELECT l.query_id, c.neighbor_id,
       |    list_sum(list(l.d2 ORDER BY c.m)) AS adc_dist2
       |  FROM codes c
       |  JOIN lut l ON l.cell = c.cell AND l.m = c.m AND l.j = c.code
       |  GROUP BY 1, 2),
       |ranked AS (SELECT query_id, neighbor_id, adc_dist2,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY adc_dist2 ASC, neighbor_id ASC) AS rank
       |  FROM adc)""".stripMargin

  private val ivfTopkTail: String =
    """SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank,
      |  adc_dist2
      |FROM ranked WHERE rank <= 3""".stripMargin

  /** The statically-PRUNED index chain: the pruning window (top-3
    * impact postings per token — tf desc, dl asc, doc_id asc)
    * replayed over the full posting table, scored with TRUE df (idf
    * untouched by pruning) — the same integer chain otherwise.
    * Shared by q_bm25_capped (one-shot build) and q_bm25_recap
    * (capped build + unpruned appends + capped REBUILD — the rebuild
    * must make the append history invisible). */
  private def bm25CappedSql: String =
    s"""WITH $bm25Ctes,
       |pruned AS (SELECT tok, doc_id, tf, dl FROM (
       |  SELECT *, row_number() OVER (PARTITION BY tok
       |    ORDER BY tf DESC, dl ASC, doc_id ASC) AS pr FROM post) t
       |  WHERE pr <= 3),
       |capscored AS (SELECT bq.query_id, p.doc_id,
       |    CAST(SUM(GREATEST(0, length(bin(2 * (btot.n - d.df) + 1))
       |                       - length(bin(2 * d.df + 1)))
       |      * ((20480 * btot.t * p.tf)
       |         // (8 * btot.t * p.tf + 3 * btot.t + 9 * p.dl * btot.n))
       |    ) AS BIGINT) AS score_q
       |  FROM bq JOIN pruned p ON p.tok = bq.tok
       |  JOIN dfreq d ON d.tok = bq.tok, btot
       |  GROUP BY bq.query_id, p.doc_id)
       |SELECT query_id, doc_id, rank, score_q FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY score_q DESC, doc_id ASC) AS rank
       |  FROM capscored) r
       |WHERE rank <= 5""".stripMargin

  private def ivfPqTopkSql: String = ivfPqTopkSqlFrom(eCandCtes)

  private def ivfPqTopkSqlFrom(head: String): String =
    ivfPreambleFrom(head) + ",\n" +
      ivfBodyCtes(ExtQueries.PqSub, ExtQueries.PqDim) + "\n" + ivfTopkTail

  private def ivfPqRecallSql: String = ivfPqRecallSqlFrom(eCandCtes)

  private def ivfPqRecallSqlFrom(head: String): String =
    ivfPreambleFrom(head) + ",\n" +
      ivfBodyCtes(ExtQueries.PqSub, ExtQueries.PqDim) + ",\n" +
      "approx AS (SELECT query_id, neighbor_id FROM ranked WHERE rank <= 3),\n" +
      exactL2Cte + "\n" + recallTailSql

  /** Shifted-corpus head for the rebuild/drift gates: e = `e0` ∪ a
    * +64.0 element-wise-shifted copy (double add, REAL round-trip —
    * the exact float chain the Spark fixture emits; ids +900000 — a
    * second mode far from every base centroid). cand = base
    * candidates ∪ shifted candidates. `e0Cte` picks the base tier
    * (raw embeddings, or the organic token-profile fixture — whose
    * small-integer counts stay exact through the REAL round-trip). */
  private def shiftedHeadFrom(e0Cte: String): String =
    e0Cte + ",\n" +
      """sh AS (SELECT vec_id + 900000 AS vec_id,
        |    list_transform(v, x -> CAST(CAST(x + 64.0 AS REAL) AS DOUBLE))
        |      AS v
        |  FROM e0),
        |e AS (SELECT * FROM e0 UNION ALL SELECT * FROM sh),
        |cand AS (SELECT vec_id, v FROM e
        |  WHERE (vec_id >= 20 AND vec_id < 900000) OR vec_id >= 900020)"""
        .stripMargin

  private val rebuildHead: String = shiftedHeadFrom(
    """WITH e0 AS (SELECT vec_id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings)""".stripMargin)

  private val orgRebuildHead: String = shiftedHeadFrom(
    """WITH e0 AS (SELECT doc_id AS vec_id,
      |    list_transform(range(0, 64), j ->
      |      CAST(len(list_filter(list_transform(string_split(text, ' '),
      |        t -> CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) % 64),
      |        b -> b = j)) AS DOUBLE)) AS v
      |  FROM documents)""".stripMargin)

  private val baseTrCte: String =
    ",\ntr AS (SELECT vec_id, v FROM e WHERE vec_id >= 20 AND " +
      "vec_id < 900000)"

  /** The mixed query set of the rebuild gates: the 20 original
    * queries plus their shifted copies. */
  private val rebuildQCte: String =
    """q AS (SELECT vec_id AS query_id, v FROM e
      |  WHERE vec_id < 20 OR (vec_id >= 900000 AND vec_id < 900020))"""
      .stripMargin

  /** Post-rebuild route == a fresh IVFADC derivation over the
    * extended corpus (the rebuild contract), so the oracle is the
    * standard chain on the shifted head with the mixed queries. */
  private def annRebuildSql: String = annRebuildSqlFrom(rebuildHead)

  private def annRebuildSqlFrom(head: String): String =
    ivfPreambleFrom(head) + ",\n" +
      ivfBodyCtes(ExtQueries.PqSub, ExtQueries.PqDim, rebuildQCte) +
      "\n" + ivfTopkTail

  private def annRebuildRecallSql: String =
    ivfPreambleFrom(rebuildHead) + ",\n" +
      ivfBodyCtes(ExtQueries.PqSub, ExtQueries.PqDim, rebuildQCte) + ",\n" +
      "approx AS (SELECT query_id, neighbor_id FROM ranked WHERE rank <= 3),\n" +
      exactL2Cte + "\n" + recallTailSql

  /** The in-band drift MONITOR: per-vector encode distortion under
    * the frozen train-on-base geometry — codes kept WITH their
    * per-subspace min d2, folded per vector in sub_id order (the
    * proven ADC double-chain), no exact side at all. */
  private def annDriftMonitorSql: String =
    annDriftMonitorSqlFrom(rebuildHead)

  private def annDriftMonitorSqlFrom(head: String): String =
    ivfPreambleSplit(head + baseTrCte) + ",\n" +
      s"""codesd AS (SELECT neighbor_id, m, list_min(ds) AS d2 FROM (
         |  SELECT a.neighbor_id, k.m, list_transform(k.scl, sc ->
         |    list_sum(list_transform(range(1, ${ExtQueries.PqDim + 1}), i ->
         |      (a.rv[k.m * ${ExtQueries.PqDim} + i] - sc[i])
         |      * (a.rv[k.m * ${ExtQueries.PqDim} + i] - sc[i])))) AS ds
         |  FROM asg a, kmsub k) t)
         |SELECT neighbor_id AS vec_id,
         |  list_sum(list(d2 ORDER BY m)) AS distortion
         |FROM codesd GROUP BY neighbor_id""".stripMargin

  /** q_ann_timetravel: the vector store at SNAPSHOT 0 — geometry
    * trained on the FULL corpus (the gate builds with the full
    * corpus's centroids/codebook, per the frozen-quantizer contract),
    * codes over only the build FIFTH (what the store held when
    * snapshot 0 committed). `ivfPreambleSplit` reversed: tr = all
    * candidates, cand = the fifth. */
  private def annTimetravelSql: String =
    ivfPreambleSplit(
      """WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |tr AS (SELECT vec_id, v FROM e WHERE vec_id >= 20),
        |cand AS (SELECT vec_id, v FROM tr WHERE vec_id % 5 = 0)"""
        .stripMargin) + ",\n" +
      ivfBodyCtes(ExtQueries.PqSub, ExtQueries.PqDim) + "\n" + ivfTopkTail

  /** Frozen-geometry drift audit: geometry trained on the BASE tier
    * (`tr`), codes over the full corpus, recall vs exact L2 over the
    * full corpus — the whole snapshot-semantics chain replayed. */
  private def annDriftSql: String =
    ivfPreambleSplit(rebuildHead + baseTrCte) + ",\n" +
      ivfBodyCtes(ExtQueries.PqSub, ExtQueries.PqDim, rebuildQCte) + ",\n" +
      "approx AS (SELECT query_id, neighbor_id FROM ranked WHERE rank <= 3),\n" +
      exactL2Cte + "\n" + recallTailSql

  /** The k-means fit itself through the gate: candidate-corpus
    * chain + one more assignment under the FINAL centroids for
    * n_members, exploded to (sub_id, cid, dim_id, c, n_members). */
  private def kmeansFitSql: String =
    eCandCtes + ",\nkmsrc AS (SELECT vec_id AS rid, v FROM cand),\n" +
      kmChain(ExtQueries.PqK.toString, ExtQueries.PqSub, ExtQueries.PqDim,
        ExtQueries.PqIters, ExtQueries.PqScale) + ",\n" +
      kmAssign("kmaf", s"kmc${ExtQueries.PqIters}", ExtQueries.PqDim) + "\n" +
      s"""SELECT CAST(c.m AS BIGINT) AS sub_id, CAST(c.cid AS BIGINT) AS cid,
         |  CAST(i.i - 1 AS BIGINT) AS dim_id, c.cv[i.i] AS c,
         |  CAST(COALESCE(n.n, 0) AS BIGINT) AS n_members
         |FROM kmc${ExtQueries.PqIters} c
         |LEFT JOIN (SELECT cid, m, COUNT(*) AS n FROM kmaf GROUP BY 1, 2) n
         |  ON n.cid = c.cid AND n.m = c.m
         |CROSS JOIN (SELECT unnest(range(1, ${ExtQueries.PqDim + 1})) AS i) i"""
        .stripMargin

  /** Coarse-quantizer preamble: e/cand + kmsrc over the RAW candidate
    * vectors + a FULL-WIDTH (ns = 1, sd = 64) Lloyd chain with
    * k = √N as a scalar subquery — the trained replacement for the
    * modulo centroid pick. */
  private def coarsePreamble: String =
    eCandCtes + ",\nkmsrc AS (SELECT vec_id AS rid, v FROM cand),\n" +
      kmChain(
        "(SELECT greatest(1, CAST(floor(sqrt(COUNT(*))) AS BIGINT)) FROM kmsrc)",
        1, 64, ExtQueries.PqIters, ExtQueries.PqScale) + ",\n" +
      kmCodebookCtes(64, ExtQueries.PqIters, ExtQueries.PqScale)

  /** The cosine-IVF assign/probe/scan chain of q_ivf_topk,
    * parameterized on the centroid CTE and a name prefix so two
    * flavors (modulo-picked vs trained) can coexist in one oracle.
    * Emits `${p}top (query_id, neighbor_id, rank, cosine)`. */
  private def ivfCosineCtes(p: String, cent: String, np: Int = 3): String =
    s"""${p}asg AS (SELECT neighbor_id, nv, cell FROM (
       |  SELECT c.vec_id AS neighbor_id, c.v AS nv, ct.cid AS cell,
       |    row_number() OVER (PARTITION BY c.vec_id
       |      ORDER BY ${cosSql("c.v", "ct.cv")} DESC, ct.cid ASC) AS rn
       |  FROM cand c CROSS JOIN $cent ct) t WHERE rn = 1),
       |${p}probes AS (SELECT query_id, qv, cell FROM (
       |  SELECT q.vec_id AS query_id, q.v AS qv, ct.cid AS cell,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY ${cosSql("q.v", "ct.cv")} DESC, ct.cid ASC) AS pr
       |  FROM (SELECT * FROM e WHERE vec_id < 20) q CROSS JOIN $cent ct) t
       |  WHERE pr <= $np),
       |${p}top AS (SELECT query_id, neighbor_id, rank, cosine FROM (
       |  SELECT s.*, row_number() OVER (PARTITION BY query_id
       |    ORDER BY cosine DESC, neighbor_id ASC) AS rank FROM (
       |    SELECT p.query_id, a.neighbor_id,
       |      ${cosSql("p.qv", "a.nv")} AS cosine
       |    FROM ${p}probes p JOIN ${p}asg a ON p.cell = a.cell) s) t
       |  WHERE rank <= 3)""".stripMargin

  /** stride/cent — the √N leaf-centroid pick shared by the IVF
    * oracles (identical text lives inline in [[ivfPreamble]]). */
  private val strideCentCtes: String =
    """stride AS (SELECT greatest(1, CAST(floor(sqrt(COUNT(*))) AS BIGINT))
      |    AS m FROM cand),
      |cent AS (SELECT vec_id AS cid, v AS cv FROM cand, stride
      |  WHERE vec_id % stride.m = 0)""".stripMargin

  /** Two-level coarse assignment (Similarity.ivfResidualsHier):
    * K1 ≈ √K tops = every (stride·tstride)-th candidate (⊆ cent, so
    * every top owns at least itself), tpos = rank by id; candidates
    * probe their `w` nearest tops by (d2, tpos) and the winning leaf
    * minimizes (d2, probe rank, cid) — the operator's struct-min
    * contract. Emits `$name (neighbor_id, cell, rv)`; `p` prefixes
    * the internal CTEs so several w instances coexist in one oracle
    * (the q_ivf_hier_curve sweep). */
  private def hierAsgCtes(name: String, w: Int = 2,
                          p: String = ""): String =
    s"""${p}tstride AS (SELECT greatest(1, CAST(floor(sqrt(COUNT(*))) AS BIGINT))
       |    AS m FROM cent),
       |${p}tops AS (SELECT cid AS tid, cv AS tv,
       |    row_number() OVER (ORDER BY cid) - 1 AS tpos
       |  FROM cent, stride, ${p}tstride
       |  WHERE cid % (stride.m * ${p}tstride.m) = 0),
       |${p}l2t AS (SELECT cid, cv, tpos FROM (
       |  SELECT c.cid, c.cv, t.tpos,
       |    row_number() OVER (PARTITION BY c.cid ORDER BY
       |      list_sum(list_transform(range(1, 65), i ->
       |        (c.cv[i] - t.tv[i]) * (c.cv[i] - t.tv[i]))) ASC,
       |      t.tpos ASC) AS rk
       |  FROM cent c, ${p}tops t) WHERE rk = 1),
       |${p}cprobe AS (SELECT vec_id, tpos, prank FROM (
       |  SELECT c.vec_id, t.tpos,
       |    row_number() OVER (PARTITION BY c.vec_id ORDER BY
       |      list_sum(list_transform(range(1, 65), i ->
       |        (c.v[i] - t.tv[i]) * (c.v[i] - t.tv[i]))) ASC,
       |      t.tpos ASC) AS prank
       |  FROM cand c, ${p}tops t) WHERE prank <= $w),
       |$name AS (SELECT neighbor_id, cell, rv FROM (
       |  SELECT c.vec_id AS neighbor_id, l.cid AS cell,
       |    list_transform(range(1, 65), i -> c.v[i] - l.cv[i]) AS rv,
       |    row_number() OVER (PARTITION BY c.vec_id ORDER BY
       |      list_sum(list_transform(range(1, 65), i ->
       |        (c.v[i] - l.cv[i]) * (c.v[i] - l.cv[i]))) ASC,
       |      p.prank ASC, l.cid ASC) AS rk
       |  FROM cand c JOIN ${p}cprobe p ON p.vec_id = c.vec_id
       |  JOIN ${p}l2t l ON l.tpos = p.tpos) WHERE rk = 1)""".stripMargin

  /** q_ivf_hier preamble: the hier assignment feeds the residual
    * k-means fit (kmsrc = hier residuals) — the CTE is NAMED `asg`
    * so [[ivfBodyCtes]] reuses unchanged (query-side probing stays
    * flat over cent, matching ivfPqTopKHier). */
  private def ivfHierPreamble: String =
    eCandCtes + ",\n" + strideCentCtes + ",\n" + hierAsgCtes("asg") +
      ",\nkmsrc AS (SELECT neighbor_id AS rid, rv AS v FROM asg),\n" +
      kmChain(ExtQueries.PqK.toString, ExtQueries.PqSub, ExtQueries.PqDim,
        ExtQueries.PqIters, ExtQueries.PqScale) + ",\n" +
      kmCodebookCtes(ExtQueries.PqDim, ExtQueries.PqIters, ExtQueries.PqScale)

  private def ivfHierSql: String =
    ivfHierPreamble + ",\n" +
      ivfBodyCtes(ExtQueries.PqSub, ExtQueries.PqDim) + "\n" +
      """SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank,
        |  adc_dist2
        |FROM ranked WHERE rank <= 3""".stripMargin

  private def ivfHierRecallSql: String =
    ivfHierPreamble + ",\n" +
      ivfBodyCtes(ExtQueries.PqSub, ExtQueries.PqDim) + ",\n" +
      "approx AS (SELECT query_id, neighbor_id FROM ranked WHERE rank <= 3),\n" +
      exactL2Cte + "\n" + recallTailSql

  private def ivfHierAgreeSql: String =
    eCandCtes + ",\n" + strideCentCtes + ",\n" + hierAsgCtes("hasg") + ",\n" +
      """fasg AS (SELECT neighbor_id, cell FROM (
        |  SELECT c.vec_id AS neighbor_id, ct.cid AS cell,
        |    row_number() OVER (PARTITION BY c.vec_id ORDER BY
        |      list_sum(list_transform(range(1, 65), i ->
        |        (c.v[i] - ct.cv[i]) * (c.v[i] - ct.cv[i]))) ASC,
        |      ct.cid ASC) AS rk
        |  FROM cand c, cent ct) WHERE rk = 1)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
        |  CAST(SUM(CASE WHEN f.cell = h.cell THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_same_cell
        |FROM fasg f JOIN hasg h ON h.neighbor_id = f.neighbor_id"""
        .stripMargin

  /** The w-SWEEP of the two-level router (q_ivf_hier_curve): one
    * hierAsgCtes instance per w ∈ {1..4} over the same tops/leaves,
    * each joined to the flat (exact) argmin — (w, n_vectors,
    * n_same_cell) rows, the curve a deployment reads to size w
    * against its own geometry instead of trusting the w = 2
    * default. */
  private def ivfHierCurveSql: String = ivfHierCurveSqlFrom(eCandCtes)

  private def ivfHierCurveSqlFrom(head: String): String = {
    val ws = Seq(1, 2, 3, 4)
    val arms = ws.map(w => hierAsgCtes(s"h$w", w, s"w${w}_"))
      .mkString(",\n")
    val selects = ws.map(w =>
      s"""SELECT CAST($w AS BIGINT) AS w,
         |  CAST(COUNT(*) AS BIGINT) AS n_vectors,
         |  CAST(SUM(CASE WHEN f.cell = h.cell THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_same_cell
         |FROM fasg f JOIN h$w h ON h.neighbor_id = f.neighbor_id"""
        .stripMargin).mkString("\nUNION ALL\n")
    head + ",\n" + strideCentCtes + ",\n" + arms + ",\n" +
      """fasg AS (SELECT neighbor_id, cell FROM (
        |  SELECT c.vec_id AS neighbor_id, ct.cid AS cell,
        |    row_number() OVER (PARTITION BY c.vec_id ORDER BY
        |      list_sum(list_transform(range(1, 65), i ->
        |        (c.v[i] - ct.cv[i]) * (c.v[i] - ct.cv[i]))) ASC,
        |      ct.cid ASC) AS rk
        |  FROM cand c, cent ct) WHERE rk = 1)
        |""".stripMargin + selects
  }

  /** The coarse-IVF recall curve: one ivfCosineCtes instance per
    * nprobe ∈ {1, 3, 5} against the same √N cells + one brute exact
    * top-3, unioned into (nprobe, query_id, n_exact, n_approx,
    * n_hit) rows. */
  private def ivfProbeCurveSql: String = {
    val curves = Seq(1, 3, 5)
      .map(np => ivfCosineCtes(s"p${np}_", "cent", np)).mkString(",\n")
    val tails = Seq(1, 3, 5).map { np =>
      s"""SELECT CAST($np AS BIGINT) AS nprobe, x.query_id,
         |  CAST(COUNT(*) AS BIGINT) AS n_exact,
         |  CAST((SELECT COUNT(*) FROM p${np}_top a2
         |    WHERE a2.query_id = x.query_id) AS BIGINT) AS n_approx,
         |  CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0
         |    END) AS BIGINT) AS n_hit
         |FROM exc x LEFT JOIN p${np}_top a
         |  ON a.query_id = x.query_id AND a.neighbor_id = x.neighbor_id
         |GROUP BY x.query_id""".stripMargin
    }.mkString("\nUNION ALL\n")
    eCandCtes + ",\n" + strideCentCtes + ",\n" + curves + ",\n" +
      s"""exc AS (SELECT query_id, neighbor_id FROM (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |      ${cosSql("q.v", "c.v")} DESC, c.vec_id ASC) AS rank
         |  FROM (SELECT * FROM e WHERE vec_id < 20) q, cand c) t
         |  WHERE rank <= 3)
         |""".stripMargin + tails
  }

  private def ivfTrainedSql: String =
    coarsePreamble +
      ",\ncentt AS (SELECT j AS cid, sv AS cv FROM kmseeds),\n" +
      ivfCosineCtes("t_", "centt") + "\n" +
      "SELECT query_id, neighbor_id, rank, cosine FROM t_top"

  private def ivfRouteRecallSql: String =
    coarsePreamble + ",\n" +
      """stride AS (SELECT greatest(1, CAST(floor(sqrt(COUNT(*)))
        |    AS BIGINT)) AS m FROM cand),
        |centm AS (SELECT vec_id AS cid, v AS cv FROM cand, stride
        |  WHERE vec_id % stride.m = 0),
        |centt AS (SELECT j AS cid, sv AS cv FROM kmseeds)""".stripMargin +
      ",\n" + ivfCosineCtes("m_", "centm") +
      ",\n" + ivfCosineCtes("t_", "centt") + ",\n" +
      s"""exc AS (SELECT query_id, neighbor_id FROM (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |      ${cosSql("q.v", "c.v")} DESC, c.vec_id ASC) AS rank
         |  FROM (SELECT * FROM e WHERE vec_id < 20) q, cand c) t
         |  WHERE rank <= 3)
         |SELECT e2.query_id, CAST(COUNT(*) AS BIGINT) AS n_exact,
         |  CAST(SUM(CASE WHEN m.neighbor_id IS NOT NULL THEN 1 ELSE 0
         |    END) AS BIGINT) AS n_hit_mod,
         |  CAST(SUM(CASE WHEN t.neighbor_id IS NOT NULL THEN 1 ELSE 0
         |    END) AS BIGINT) AS n_hit_trained
         |FROM exc e2
         |LEFT JOIN m_top m ON m.query_id = e2.query_id
         |  AND m.neighbor_id = e2.neighbor_id
         |LEFT JOIN t_top t ON t.query_id = e2.query_id
         |  AND t.neighbor_id = e2.neighbor_id
         |GROUP BY e2.query_id""".stripMargin

  /** SemDeDup: clone-planted corpus → full-width k-means cells →
    * in-cell cosine pairs → recursive-CTE closure → min-id rep. */
  private def semanticDedupSql: String =
    """WITH RECURSIVE e AS (SELECT vec_id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |corpus AS (SELECT vec_id, v FROM e
      |  UNION ALL SELECT vec_id + 10000, v FROM e WHERE vec_id % 13 = 0),
      |kmsrc AS (SELECT vec_id AS rid, v FROM corpus)""".stripMargin +
      ",\n" +
      kmChain(ExtQueries.SemK.toString, 1, 64, ExtQueries.SemIters,
        ExtQueries.PqScale) + ",\n" +
      kmAssign("kmacell", s"kmc${ExtQueries.SemIters}", 64) + ",\n" +
      s"""pv AS (SELECT a.rid AS vec_id, a.cid AS cell, s.v
         |  FROM kmacell a JOIN kmsrc s ON s.rid = a.rid),
         |pairs AS (SELECT a.vec_id AS pa, b.vec_id AS pb
         |  FROM pv a JOIN pv b ON a.cell = b.cell AND a.vec_id < b.vec_id
         |  WHERE ${cosSql("a.v", "b.v")} >= ${ExtQueries.SemMinCos}),
         |edges AS (SELECT pa AS s, pb AS d FROM pairs
         |  UNION SELECT pb, pa FROM pairs),
         |reach(id, r) AS (
         |  SELECT s, s FROM edges
         |  UNION
         |  SELECT e2.s, r.r FROM edges e2 JOIN reach r ON e2.d = r.id),
         |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id)
         |SELECT p.vec_id, CAST(p.cell AS BIGINT) AS cell,
         |  COALESCE(c.component, p.vec_id) AS component,
         |  (COALESCE(c.component, p.vec_id) = p.vec_id) AS is_rep
         |FROM pv p LEFT JOIN comp c ON c.id = p.vec_id""".stripMargin

  /** q_incr_release's oracle: replays the full release chain to its
    * kept set and frozen models, then the planted batch chain
    * DIRECTLY (no store). Shared verbatim by q_stream_release — the
    * two-trigger streamed loop must compose to the same ledger. */
  private lazy val incrReleaseSql: String = releaseChainCtes + """,
    |bsrc AS MATERIALIZED (SELECT u0.doc_id, u0.text, u0.url,
    |    d0.lang, d0.source
    |  FROM u0 JOIN documents d0 ON d0.doc_id = u0.doc_id),
    |batch AS MATERIALIZED (
    |  SELECT doc_id + 400000 AS doc_id,
    |    text || ' graftrecrawl' AS text, url, lang, source
    |  FROM bsrc WHERE doc_id % 21 = 0
    |  UNION ALL SELECT doc_id + 410000, text,
    |    'https://batch.example/b/' || CAST(doc_id AS VARCHAR),
    |    lang, source
    |  FROM bsrc WHERE doc_id % 23 = 0
    |  UNION ALL SELECT doc_id + 420000, text || ' graftbatch end',
    |    'https://batch.example/n/' || CAST(doc_id AS VARCHAR),
    |    lang, source
    |  FROM bsrc WHERE doc_id % 17 = 0
    |  UNION ALL SELECT doc_id + 430000,
    |    array_to_string(list_slice(string_split(text, ' '), 1, 12), ' '),
    |    'https://batch.example/c/' || CAST(doc_id AS VARCHAR),
    |    lang, source
    |  FROM bsrc WHERE doc_id % 37 = 0
    |  UNION ALL SELECT doc_id + 440000,
    |    array_to_string(list_reverse(string_split(text, ' ')), ' '),
    |    'https://batch.example/f/' || CAST(doc_id AS VARCHAR),
    |    lang, source
    |  FROM bsrc WHERE doc_id % 29 = 0),
    |bnu AS MATERIALIZED (SELECT doc_id, text, lang, source,
    |    scheme || '://' || host || path ||
    |      CASE WHEN q = '' THEN '' ELSE '?' || q END AS norm_url
    |  FROM (SELECT doc_id, text, lang, source,
    |      lower(regexp_extract(url,
    |        '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
    |      regexp_replace(
    |        CASE lower(regexp_extract(url,
    |            '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
    |          WHEN 'http' THEN regexp_replace(lower(regexp_extract(url,
    |            '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)), ':80$', '')
    |          WHEN 'https' THEN regexp_replace(lower(regexp_extract(url,
    |            '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)), ':443$', '')
    |          ELSE lower(regexp_extract(url,
    |            '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)) END,
    |        '^www\.', '') AS host,
    |      regexp_replace(regexp_extract(url,
    |        '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1),
    |        '/+$', '') AS path,
    |      COALESCE(array_to_string(list_sort(list_filter(
    |        string_split(regexp_extract(url, '\?([^#]*)', 1), '&'),
    |        p -> p <> '' AND NOT regexp_matches(p,
    |          '^(utm_[A-Za-z0-9_]*|fbclid|gclid|ref)='))), '&'), '') AS q
    |    FROM batch) c),
    |busurv AS MATERIALIZED (SELECT doc_id, text, lang, source FROM (
    |  SELECT doc_id, text, lang, source,
    |      min(doc_id) OVER (PARTITION BY norm_url) AS k
    |  FROM bnu WHERE norm_url NOT IN (SELECT norm_url FROM nu)) t
    |  WHERE doc_id = k),
    |besurv AS MATERIALIZED (SELECT doc_id, text, lang, source FROM (
    |  SELECT doc_id, text, lang, source,
    |      min(doc_id) OVER (PARTITION BY md5(text)) AS k
    |  FROM busurv WHERE md5(text) NOT IN
    |    (SELECT DISTINCT md5(text) FROM corpus)) t
    |  WHERE doc_id = k),
    |btk AS (SELECT doc_id, string_split(text, ' ') AS w FROM besurv),
    |bsh2 AS MATERIALIZED (SELECT DISTINCT doc_id, shingle FROM (
    |  SELECT doc_id, unnest(list_transform(range(1, len(w) - 1),
    |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
    |  FROM btk WHERE len(w) >= 3) t),
    |bmh2 AS (SELECT doc_id, sd.seed,
    |    min(md5(sd.seed::VARCHAR || '|' || shingle)) AS h
    |  FROM bsh2 CROSS JOIN (SELECT unnest(range(8)) AS seed) sd
    |  GROUP BY doc_id, sd.seed),
    |bbn2 AS MATERIALIZED (SELECT doc_id, seed // 2 AS band,
    |    min(CASE WHEN seed % 2 = 0 THEN h END)
    |      || min(CASE WHEN seed % 2 = 1 THEN h END) AS bkey
    |  FROM bmh2 GROUP BY doc_id, seed // 2),
    |finb AS MATERIALIZED (SELECT b.doc_id, b.band, b.bkey FROM bands b
    |  JOIN fin f ON f.doc_id = b.doc_id),
    |fbsz AS (SELECT band, bkey, CAST(COUNT(*) AS BIGINT) AS n
    |  FROM finb GROUP BY 1, 2),
    |bbsz2 AS (SELECT band, bkey, CAST(COUNT(*) AS BIGINT) AS n
    |  FROM bbn2 GROUP BY 1, 2),
    |bszs AS (SELECT doc_id, COUNT(*) AS n FROM bsh2 GROUP BY doc_id),
    |icand AS (SELECT DISTINCT n.doc_id AS new_id, i.doc_id AS index_id
    |  FROM bbn2 n JOIN finb i ON i.band = n.band AND i.bkey = n.bkey
    |  JOIN fbsz z ON z.band = n.band AND z.bkey = n.bkey AND z.n <= 64),
    |iint AS (SELECT c.new_id, c.index_id, COUNT(*) AS i
    |  FROM icand c JOIN bsh2 sn ON sn.doc_id = c.new_id
    |  JOIN sh si ON si.doc_id = c.index_id AND si.shingle = sn.shingle
    |  GROUP BY 1, 2),
    |imatch AS MATERIALIZED (SELECT DISTINCT i.new_id AS id FROM iint i
    |  JOIN bszs sn ON sn.doc_id = i.new_id
    |  JOIN sizes si ON si.doc_id = i.index_id
    |  WHERE CAST(i.i AS DOUBLE) / (sn.n + si.n - i.i) >= 0.5),
    |bcand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    |  FROM bbn2 a JOIN bbn2 b ON a.band = b.band AND a.bkey = b.bkey
    |    AND a.doc_id < b.doc_id
    |  JOIN bbsz2 z ON z.band = a.band AND z.bkey = a.bkey AND z.n <= 64),
    |bint AS (SELECT c.doc_a, c.doc_b, COUNT(*) AS i
    |  FROM bcand c JOIN bsh2 sa ON sa.doc_id = c.doc_a
    |  JOIN bsh2 sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
    |  GROUP BY 1, 2),
    |bpair AS MATERIALIZED (SELECT i.doc_a, i.doc_b FROM bint i
    |  JOIN bszs na ON na.doc_id = i.doc_a
    |  JOIN bszs nb ON nb.doc_id = i.doc_b
    |  WHERE CAST(i.i AS DOUBLE) / (na.n + nb.n - i.i) >= 0.5),
    |bedges AS (SELECT doc_a AS s, doc_b AS d FROM bpair
    |  UNION SELECT doc_b, doc_a FROM bpair),
    |breach(id, r) AS (SELECT s, s FROM bedges
    |  UNION SELECT e.s, r.r FROM bedges e JOIN breach r ON e.d = r.id),
    |bcomp0 AS (SELECT id, min(r) AS component FROM breach GROUP BY id),
    |bcomp AS MATERIALIZED (SELECT b.doc_id AS id,
    |    COALESCE(c.component, b.doc_id) AS component
    |  FROM besurv b LEFT JOIN bcomp0 c ON c.id = b.doc_id),
    |badcomp AS (SELECT DISTINCT c.component FROM bcomp c
    |  JOIN imatch m ON m.id = c.id),
    |bneardrop AS MATERIALIZED (SELECT id AS doc_id FROM bcomp
    |  WHERE component IN (SELECT component FROM badcomp)
    |    OR id <> component),
    |bclean0 AS MATERIALIZED (SELECT * FROM besurv
    |  WHERE doc_id NOT IN (SELECT doc_id FROM bneardrop)),
    |bdt AS (SELECT doc_id, string_split(text, ' ') AS w FROM bclean0),
    |bds AS MATERIALIZED (SELECT DISTINCT doc_id, shingle FROM (
    |  SELECT doc_id, unnest(list_transform(range(1, len(w) - 3),
    |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
    |      || ' ' || w[i+4])) AS shingle
    |  FROM bdt WHERE len(w) >= 5) t),
    |bcontam AS MATERIALIZED (SELECT bds.doc_id FROM bds JOIN bs
    |    ON bds.shingle = bs.shingle
    |  GROUP BY bds.doc_id HAVING COUNT(*) >= 3),
    |bclean AS MATERIALIZED (SELECT b.* FROM bclean0 b
    |  LEFT JOIN bcontam c ON c.doc_id = b.doc_id
    |  WHERE c.doc_id IS NULL),
    |bg AS MATERIALIZED (SELECT doc_id, lang, substr(text, i, 3) AS gram
    |  FROM bclean, unnest(range(1, len(text) - 1)) AS t(i)),
    |bdg AS (SELECT DISTINCT doc_id, gram FROM bg),
    |bhits AS (SELECT bdg.doc_id, prof.lang AS cand2,
    |    CAST(COUNT(*) AS BIGINT) AS ovl
    |  FROM bdg JOIN prof ON prof.gram = bdg.gram GROUP BY 1, 2),
    |bpred AS MATERIALIZED (SELECT doc_id, pred_lang FROM (
    |  SELECT d.doc_id, l.cand2 AS pred_lang, row_number() OVER (
    |      PARTITION BY d.doc_id
    |      ORDER BY COALESCE(h.ovl, 0) DESC, l.cand2 ASC) AS rk
    |  FROM bclean d CROSS JOIN langs l
    |  LEFT JOIN bhits h ON h.doc_id = d.doc_id AND h.cand2 = l.cand2)
    |  WHERE rk = 1),
    |bqt AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
    |  FROM bclean),
    |bsurp AS MATERIALIZED (SELECT t.doc_id,
    |    CAST(COUNT(*) AS BIGINT) AS n_tokens,
    |    CAST(SUM(length(bin(tot.n + tot.v))
    |      - length(bin(COALESCE(u.c, 0) + 1))) AS BIGINT)
    |      AS surprisal_bits
    |  FROM bqt t LEFT JOIN u ON u.tok = t.tok, tot GROUP BY t.doc_id),
    |bgq AS MATERIALIZED (SELECT doc_id,
    |    (len(w) BETWEEN 30 AND 100000)
    |    AND (CAST(ch - (len(w) - 1) AS DOUBLE) / len(w)
    |      BETWEEN 3.0 AND 10.0)
    |    AND (CAST(len(list_filter(w, t2 ->
    |      regexp_matches(t2, '[A-Za-z]'))) AS DOUBLE) / len(w) >= 0.8)
    |    AND (len(list_filter(w, t2 -> t2 IN
    |      ('the','a','of','and','to','in','is','data'))) >= 2)
    |      AS gopher_pass
    |  FROM (SELECT doc_id, length(text) AS ch,
    |    string_split(text, ' ') AS w FROM bclean)),
    |broute AS MATERIALIZED (SELECT d.doc_id,
    |    CASE WHEN NOT gq.gopher_pass THEN 'quality_drop'
    |      WHEN NOT (p.pred_lang = d.lang)
    |        OR s.surprisal_bits * 5 > s.n_tokens * 26
    |        THEN 'quality_review'
    |      ELSE 'kept' END AS disposition
    |  FROM bclean d
    |  JOIN bpred p ON p.doc_id = d.doc_id
    |  JOIN bsurp s ON s.doc_id = d.doc_id
    |  JOIN bgq gq ON gq.doc_id = d.doc_id)
    |SELECT doc_id, 'url' AS disposition FROM batch
    |WHERE doc_id NOT IN (SELECT doc_id FROM busurv)
    |UNION ALL
    |SELECT doc_id, 'exact' FROM busurv
    |WHERE doc_id NOT IN (SELECT doc_id FROM besurv)
    |UNION ALL
    |SELECT doc_id, 'near' FROM bneardrop
    |UNION ALL
    |SELECT doc_id, 'contaminated' FROM bcontam
    |UNION ALL
    |SELECT doc_id, disposition FROM broute""".stripMargin

  val sql: Map[String, String] = Map(

    "q_dedup_exact" ->
      s"""WITH $dupCorpus
         |SELECT min(doc_id) AS keeper_id, COUNT(*) AS n_copies
         |FROM corpus GROUP BY md5(text)""".stripMargin,

    "q_dedup_minhash_lsh" ->
      s"""WITH $nearCorpus,
         |toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM corpus),
         |sh AS (SELECT DISTINCT doc_id, shingle FROM (
         |  SELECT doc_id, unnest(list_transform(range(1, len(w) - 1),
         |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
         |  FROM toks WHERE len(w) >= 3) t),
         |mh AS (SELECT doc_id, sd.seed,
         |    min(md5(sd.seed::VARCHAR || '|' || shingle)) AS h
         |  FROM sh CROSS JOIN (SELECT unnest(range(8)) AS seed) sd
         |  GROUP BY doc_id, sd.seed),
         |bands AS (SELECT doc_id, seed // 2 AS band,
         |    min(CASE WHEN seed % 2 = 0 THEN h END)
         |      || min(CASE WHEN seed % 2 = 1 THEN h END) AS bkey
         |  FROM mh GROUP BY doc_id, seed // 2),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |inter AS (SELECT c.doc_a, c.doc_b, COUNT(*) AS i
         |  FROM cand c
         |  JOIN sh sa ON sa.doc_id = c.doc_a
         |  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
         |  GROUP BY c.doc_a, c.doc_b),
         |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id)
         |SELECT i.doc_a, i.doc_b,
         |  CAST(i.i AS DOUBLE) / (na.n + nb.n - i.i) AS jaccard
         |FROM inter i
         |JOIN sizes na ON na.doc_id = i.doc_a
         |JOIN sizes nb ON nb.doc_id = i.doc_b
         |WHERE CAST(i.i AS DOUBLE) / (na.n + nb.n - i.i) >= 0.5""".stripMargin,

    // The bucket cap pinned in SQL: same minhash/banding as
    // q_dedup_minhash_lsh over a corpus with planted 8-member
    // identical-text cliques; buckets over the cap drop from pairing.
    "q_lsh_bucket_cap" ->
      """WITH corpus AS (SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 200000, text || ' graftmarker end'
        |  FROM documents WHERE doc_id % 11 = 0
        |  UNION ALL SELECT 500000 + doc_id * 8 + k.k, text
        |  FROM documents CROSS JOIN (SELECT unnest(range(1, 8)) AS k) k
        |  WHERE doc_id % 50 = 0),
        |toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM corpus),
        |sh AS (SELECT DISTINCT doc_id, shingle FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, len(w) - 1),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
        |  FROM toks WHERE len(w) >= 3) t),
        |mh AS (SELECT doc_id, sd.seed,
        |    min(md5(sd.seed::VARCHAR || '|' || shingle)) AS h
        |  FROM sh CROSS JOIN (SELECT unnest(range(8)) AS seed) sd
        |  GROUP BY doc_id, sd.seed),
        |bands AS (SELECT doc_id, seed // 2 AS band,
        |    min(CASE WHEN seed % 2 = 0 THEN h END)
        |      || min(CASE WHEN seed % 2 = 1 THEN h END) AS bkey
        |  FROM mh GROUP BY doc_id, seed // 2),
        |small AS (SELECT band, bkey FROM bands
        |  GROUP BY band, bkey HAVING COUNT(*) <= 6),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM bands a
        |  JOIN small s ON s.band = a.band AND s.bkey = a.bkey
        |  JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
        |    AND a.doc_id < b.doc_id),
        |inter AS (SELECT c.doc_a, c.doc_b, COUNT(*) AS i
        |  FROM cand c
        |  JOIN sh sa ON sa.doc_id = c.doc_a
        |  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
        |  GROUP BY c.doc_a, c.doc_b),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id)
        |SELECT i.doc_a, i.doc_b,
        |  CAST(i.i AS DOUBLE) / (na.n + nb.n - i.i) AS jaccard
        |FROM inter i
        |JOIN sizes na ON na.doc_id = i.doc_a
        |JOIN sizes nb ON nb.doc_id = i.doc_b
        |WHERE CAST(i.i AS DOUBLE) / (na.n + nb.n - i.i) >= 0.5""".stripMargin,

    "q_ngram_jaccard" ->
      s"""WITH corpus AS (SELECT doc_id, text, source, n_chars FROM documents
         |  UNION ALL SELECT doc_id + 200000, text || ' graftmarker end', source, n_chars
         |  FROM documents WHERE doc_id % 11 = 0),
         |cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM corpus a JOIN corpus b
         |    ON a.source = b.source AND a.n_chars = b.n_chars
         |    AND a.doc_id < b.doc_id),
         |sh AS (SELECT DISTINCT doc_id, shingle FROM (
         |  SELECT doc_id, unnest(list_transform(range(1, length(text) - 3),
         |    i -> substr(text, i, 5))) AS shingle
         |  FROM corpus WHERE length(text) >= 5) t),
         |inter AS (SELECT c.doc_a, c.doc_b, COUNT(*) AS i
         |  FROM cand c
         |  JOIN sh sa ON sa.doc_id = c.doc_a
         |  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
         |  GROUP BY c.doc_a, c.doc_b),
         |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id)
         |SELECT i.doc_a, i.doc_b,
         |  CAST(i.i AS DOUBLE) / (na.n + nb.n - i.i) AS jaccard
         |FROM inter i
         |JOIN sizes na ON na.doc_id = i.doc_a
         |JOIN sizes nb ON nb.doc_id = i.doc_b
         |WHERE CAST(i.i AS DOUBLE) / (na.n + nb.n - i.i) >= 0.6""".stripMargin,

    "q_simhash" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |h AS (SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 4) AS BIGINT) AS h
        |  FROM toks),
        |votes AS (SELECT doc_id, bb.b, SUM(((h >> bb.b) & 1) * 2 - 1) AS s
        |  FROM h CROSS JOIN (SELECT unnest(range(16)) AS b) bb
        |  GROUP BY doc_id, bb.b)
        |SELECT doc_id,
        |  CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)
        |    AS BIGINT) AS simhash
        |FROM votes GROUP BY doc_id""".stripMargin,

    // 64-bit SimHash in band shape: the hash is assembled from two
    // 32-bit hex halves and emitted as 4×16-bit band values, so no
    // step needs a signed-64 hex parse in either engine.
    "q_simhash64" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |h AS (SELECT doc_id,
        |    CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) AS hhi,
        |    CAST('0x' || substr(md5(tok), 9, 8) AS BIGINT) AS hlo
        |  FROM toks),
        |votes AS (SELECT doc_id, bb.b,
        |    SUM(((CASE WHEN bb.b < 32 THEN (hlo >> bb.b)
        |           ELSE (hhi >> (bb.b - 32)) END) & 1) * 2 - 1) AS s
        |  FROM h CROSS JOIN (SELECT unnest(range(64)) AS b) bb
        |  GROUP BY doc_id, bb.b)
        |SELECT doc_id,
        |  CAST(SUM(CASE WHEN s > 0 AND b < 16
        |    THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS b0,
        |  CAST(SUM(CASE WHEN s > 0 AND b >= 16 AND b < 32
        |    THEN (CAST(1 AS BIGINT) << (b - 16)) ELSE 0 END) AS BIGINT) AS b1,
        |  CAST(SUM(CASE WHEN s > 0 AND b >= 32 AND b < 48
        |    THEN (CAST(1 AS BIGINT) << (b - 32)) ELSE 0 END) AS BIGINT) AS b2,
        |  CAST(SUM(CASE WHEN s > 0 AND b >= 48
        |    THEN (CAST(1 AS BIGINT) << (b - 48)) ELSE 0 END) AS BIGINT) AS b3
        |FROM votes GROUP BY doc_id""".stripMargin,

    "q_normalize" ->
      """WITH rough AS (SELECT doc_id,
        |    '  NOISE?! ' || upper(substr(text, 1, 40)) || ' ## ' || text AS rough
        |  FROM documents),
        |cleaned AS (SELECT doc_id,
        |    trim(regexp_replace(regexp_replace(lower(rough), '[^a-z0-9 ]', '', 'g'),
        |      ' +', ' ', 'g')) AS clean_text
        |  FROM rough)
        |SELECT doc_id, clean_text, length(clean_text) AS clean_len FROM cleaned""".stripMargin,

    // distinct 5-gram shingle overlap vs the benchmark shingle union
    "q_decontaminate" ->
      """WITH bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 37 = 0
        |  UNION ALL SELECT 900001, 'zzz qqq xxx yyy www vvv uuu'),
        |bt AS (SELECT string_split(text, ' ') AS w FROM bench),
        |bs AS (SELECT DISTINCT shingle FROM (
        |  SELECT unnest(list_transform(range(1, len(w) - 3),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
        |      || ' ' || w[i+4])) AS shingle
        |  FROM bt WHERE len(w) >= 5) t),
        |dt AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |ds AS (SELECT DISTINCT doc_id, shingle FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, len(w) - 3),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
        |      || ' ' || w[i+4])) AS shingle
        |  FROM dt WHERE len(w) >= 5) t)
        |SELECT ds.doc_id, CAST(COUNT(*) AS BIGINT) AS n_overlap
        |FROM ds JOIN bs ON ds.shingle = bs.shingle
        |GROUP BY ds.doc_id HAVING COUNT(*) >= 3
        |ORDER BY ds.doc_id""".stripMargin,

    // contiguous first-fit packing: pack = floor(cum_before / budget)
    "q_seq_packing" ->
      """WITH t AS (SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (SELECT doc_id, source, n_tokens,
        |    COALESCE(SUM(n_tokens) OVER (PARTITION BY source
        |      ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND 1 PRECEDING), 0) AS cum_before
        |  FROM t)
        |SELECT doc_id, source, n_tokens,
        |  CAST(cum_before // 512 AS BIGINT) AS pack_id,
        |  CAST(row_number() OVER (PARTITION BY source, cum_before // 512
        |    ORDER BY doc_id) AS BIGINT) AS pack_pos
        |FROM c""".stripMargin,

    "q_token_stats" ->
      """SELECT doc_id,
        |  len(string_split(text, ' ')) AS n_tokens,
        |  len(list_distinct(string_split(text, ' '))) AS n_distinct_tokens,
        |  length(text) AS n_chars,
        |  CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
        |    / len(string_split(text, ' ')) AS avg_token_len
        |FROM documents""".stripMargin,

    "q_lang_quality" ->
      """SELECT doc_id, lang,
        |  CASE WHEN ratio >= 0.05 THEN 'en_like' ELSE 'other' END AS heur_lang,
        |  n_tokens, ratio AS stop_ratio,
        |  least(1.0, n_tokens / 100.0) * 0.5 + ratio * 0.5 AS quality
        |FROM (SELECT doc_id, lang, len(w) AS n_tokens,
        |    CAST(len(list_filter(w, t -> t IN
        |      ('the','a','of','and','to','in','is','data'))) AS DOUBLE) / len(w) AS ratio
        |  FROM (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents) t) t2""".stripMargin,

    "q_fingerprint" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |pos AS (SELECT doc_id, unnest(range(1, len(w) + 1)) AS i, unnest(w) AS tok
        |  FROM toks)
        |SELECT doc_id,
        |  CAST(SUM(i * (CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) % 1000003))
        |    % 1000003 AS BIGINT) AS fingerprint
        |FROM pos GROUP BY doc_id""".stripMargin,

    "q_split_assign" ->
      """SELECT doc_id,
        |  CAST('0x' || substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 15)
        |    AS BIGINT) % 10000 AS bucket,
        |  CASE WHEN CAST('0x' || substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 15)
        |         AS BIGINT) % 10000 < 9800 THEN 'train'
        |       WHEN CAST('0x' || substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 15)
        |         AS BIGINT) % 10000 < 9900 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents""".stripMargin,

    "q_domain_mix" ->
      """SELECT doc_id, source FROM documents
        |WHERE CAST('0x' || substr(md5('mix|' || CAST(doc_id AS VARCHAR)), 1, 15)
        |    AS BIGINT) % 10000
        |  < CASE source WHEN 'src0' THEN 5000 WHEN 'src1' THEN 2000
        |                WHEN 'src2' THEN 0 ELSE 10000 END""".stripMargin,

    "q_repetition" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT doc_id, w,
        |    list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]) AS grams
        |  FROM t)
        |SELECT doc_id,
        |  len(w) AS n_tokens,
        |  CASE WHEN len(w) > 0
        |    THEN CAST(len(w) - len(list_distinct(w)) AS DOUBLE) / len(w)
        |    ELSE 0.0 END AS dup_token_frac,
        |  len(grams) AS n_2grams,
        |  CASE WHEN len(grams) > 0
        |    THEN CAST(len(grams) - len(list_distinct(grams)) AS DOUBLE) / len(grams)
        |    ELSE 0.0 END AS dup_2gram_frac
        |FROM g""".stripMargin,

    "q_gopher_quality" ->
      """WITH t AS (SELECT doc_id, length(text) AS ch,
        |    string_split(text, ' ') AS w FROM documents),
        |m AS (SELECT doc_id, len(w) AS n_tokens,
        |    CAST(ch - (len(w) - 1) AS DOUBLE) / len(w) AS mean_word_len,
        |    CAST(len(list_filter(w, t2 -> regexp_matches(t2, '[A-Za-z]')))
        |      AS DOUBLE) / len(w) AS alpha_frac,
        |    len(list_filter(w, t2 -> t2 IN
        |      ('the','a','of','and','to','in','is','data'))) AS stop_hits
        |  FROM t)
        |SELECT doc_id, n_tokens, mean_word_len, alpha_frac, stop_hits,
        |  n_tokens BETWEEN 30 AND 100000 AS flag_tokens,
        |  mean_word_len BETWEEN 3.0 AND 10.0 AS flag_word_len,
        |  alpha_frac >= 0.8 AS flag_alpha,
        |  stop_hits >= 2 AS flag_stop,
        |  (n_tokens BETWEEN 30 AND 100000) AND (mean_word_len BETWEEN 3.0 AND 10.0)
        |    AND alpha_frac >= 0.8 AND stop_hits >= 2 AS pass
        |FROM m""".stripMargin,

    "q_cosine_topk" ->
      """WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |scored AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_sum(list_transform(range(1, 65), i -> q.v[i] * c.v[i]))
        |      / (sqrt(list_sum(list_transform(range(1, 65), i -> q.v[i] * q.v[i])))
        |       * sqrt(list_sum(list_transform(range(1, 65), i -> c.v[i] * c.v[i]))))
        |      AS cosine
        |  FROM (SELECT * FROM e WHERE vec_id < 5) q,
        |       (SELECT * FROM e WHERE vec_id >= 5) c)
        |SELECT query_id, neighbor_id, rank, cosine FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY cosine DESC, neighbor_id ASC) AS rank
        |  FROM scored) t
        |WHERE rank <= 3""".stripMargin,

    "q_ann_topk" ->
      s"""WITH e AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |pls AS (SELECT $planesLit::DOUBLE[][] AS pl),
         |b AS (SELECT vec_id, v, $bucketTerms AS bucket FROM e CROSS JOIN pls),
         |scored AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    list_sum(list_transform(range(1, 65), i -> q.v[i] * c.v[i]))
         |      / (sqrt(list_sum(list_transform(range(1, 65), i -> q.v[i] * q.v[i])))
         |       * sqrt(list_sum(list_transform(range(1, 65), i -> c.v[i] * c.v[i]))))
         |      AS cosine
         |  FROM (SELECT * FROM b WHERE vec_id < 20) q
         |  JOIN (SELECT * FROM b WHERE vec_id >= 20) c ON q.bucket = c.bucket)
         |SELECT query_id, neighbor_id, rank, cosine FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cosine DESC, neighbor_id ASC) AS rank
         |  FROM scored) t
         |WHERE rank <= 3""".stripMargin,

    "q_ann_multiprobe" ->
      s"""WITH e AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |pls AS (SELECT $planesLit::DOUBLE[][] AS pl),
         |b AS (SELECT vec_id, v, $bucketTerms AS bucket FROM e CROSS JOIN pls),
         |probes AS (SELECT vec_id, v,
         |    unnest([bucket] || list_transform(range(0, 8),
         |      p -> xor(bucket, CAST(1 AS BIGINT) << p))) AS bucket
         |  FROM b WHERE vec_id < 20),
         |scored AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    list_sum(list_transform(range(1, 65), i -> q.v[i] * c.v[i]))
         |      / (sqrt(list_sum(list_transform(range(1, 65), i -> q.v[i] * q.v[i])))
         |       * sqrt(list_sum(list_transform(range(1, 65), i -> c.v[i] * c.v[i]))))
         |      AS cosine
         |  FROM probes q
         |  JOIN (SELECT * FROM b WHERE vec_id >= 20) c ON q.bucket = c.bucket)
         |SELECT query_id, neighbor_id, rank, cosine FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cosine DESC, neighbor_id ASC) AS rank
         |  FROM scored) t
         |WHERE rank <= 3""".stripMargin,

    // packing-efficiency audit: the q_chunk_pack derivation reduced
    // to per-source integer pack statistics
    "q_pack_stats" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w
        |  FROM documents),
        |s AS (SELECT doc_id, w,
        |  unnest(range(1, greatest(1, len(w) - 8) + 1, 56)) AS start_tok
        |  FROM toks),
        |ch AS (SELECT doc_id,
        |    doc_id * 1024 + (start_tok - 1) // 56 AS chunk_uid,
        |    CAST(len(list_slice(w, start_tok, start_tok + 63)) AS BIGINT)
        |      AS n_tokens
        |  FROM s),
        |j AS (SELECT ch.chunk_uid, d.source, ch.n_tokens
        |  FROM ch JOIN documents d ON d.doc_id = ch.doc_id),
        |c AS (SELECT chunk_uid, source, n_tokens,
        |    COALESCE(SUM(n_tokens) OVER (PARTITION BY source
        |      ORDER BY chunk_uid ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND 1 PRECEDING), 0) AS cum_before
        |  FROM j),
        |pk AS (SELECT source, cum_before // 256 AS pack_id,
        |    CAST(COUNT(*) AS BIGINT) AS n_chunks,
        |    CAST(SUM(n_tokens) AS BIGINT) AS fill
        |  FROM c GROUP BY source, cum_before // 256)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_packs,
        |  CAST(SUM(n_chunks) AS BIGINT) AS n_chunks,
        |  CAST(SUM(fill) AS BIGINT) AS n_tokens,
        |  CAST(SUM(CASE WHEN fill >= 256 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_full,
        |  MAX(fill) AS max_fill, MIN(fill) AS min_fill
        |FROM pk GROUP BY source""".stripMargin,

    // PQ codes over the TRAINED codebook: the unrolled Lloyd fit
    // (kmChain) followed by an in-row encode argmin; d2 is the
    // winner's float-space residual, ties to the smallest code
    "q_pq_codes" -> pqCodesSql,

    // PQ ADC top-3 over the trained codebook: per-query lookup
    // table against kmseeds; a candidate's distance is the table
    // sum over its codes in sub_id order (list(... ORDER BY m) ->
    // list_sum = the engine's sorted-fold)
    "q_pq_topk" -> pqTopkSql,

    // PQ recall audit: trained-codebook ADC top-3 vs the exact
    // full-vector squared-L2 top-3, reduced to integer per-query
    // overlap counts (>= 0.7 on the gate fixture with the fit in
    // place — the round-7 stand-in measured ~0.10)
    "q_pq_recall" -> pqRecallSql,
    "q_pq_rot_codes" -> pqRotCodesSql,
    "q_pq_rot_recall" -> pqRotRecallSql,
    // the anisotropic-fixture pair: identical chains over the
    // planted-slab corpus — the arm where the rotation should WIN,
    // next to the isotropic control above
    "q_pq_recall_aniso" -> pqRecallSqlFrom(anisoECandCtes),
    "q_pq_rot_aniso" -> pqRotRecallSqlFrom(anisoECandCtes),
    // the organic token-profile fixture: same replayed chains, the
    // e/cand head swaps in the feature-hash profile derivation
    "q_pq_recall_org" -> pqRecallSqlFrom(organicECandCtes),
    "q_pq_rot_org" -> pqRotRecallSqlFrom(organicECandCtes),

    // quality routing: the lang-id argmax chain + the surprisal LM
    // chain + the gopher pass boolean, joined per doc and reduced to
    // the deterministic keep/review/drop decision (integer
    // cross-multiply threshold, no division)
    "q_quality_route" ->
      """WITH g AS (SELECT doc_id, lang, substr(text, i, 3) AS gram
        |  FROM documents, unnest(range(1, len(text) - 1)) AS t(i)),
        |prof AS (SELECT lang, gram FROM (
        |  SELECT lang, gram, row_number() OVER (PARTITION BY lang
        |      ORDER BY COUNT(*) DESC, gram ASC) AS rk
        |  FROM g GROUP BY lang, gram) WHERE rk <= 50),
        |langs AS (SELECT DISTINCT lang AS cand FROM prof),
        |dg AS (SELECT DISTINCT doc_id, gram FROM g),
        |hits AS (SELECT dg.doc_id, prof.lang AS cand,
        |    CAST(COUNT(*) AS BIGINT) AS ovl
        |  FROM dg JOIN prof ON prof.gram = dg.gram GROUP BY 1, 2),
        |pred AS (SELECT doc_id, pred_lang FROM (
        |  SELECT d.doc_id, l.cand AS pred_lang, row_number() OVER (
        |      PARTITION BY d.doc_id
        |      ORDER BY COALESCE(h.ovl, 0) DESC, l.cand ASC) AS rk
        |  FROM documents d CROSS JOIN langs l
        |  LEFT JOIN hits h ON h.doc_id = d.doc_id AND h.cand = l.cand)
        |  WHERE rk = 1),
        |toks AS (SELECT doc_id, unnest(string_split(text, ' '))
        |    AS tok FROM documents),
        |u AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM toks GROUP BY tok),
        |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
        |    CAST(COUNT(*) AS BIGINT) AS v FROM u),
        |surp AS (SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |    CAST(SUM(length(bin(tot.n + tot.v))
        |      - length(bin(u.c + 1))) AS BIGINT) AS surprisal_bits
        |  FROM toks t JOIN u ON u.tok = t.tok, tot GROUP BY t.doc_id),
        |gq AS (SELECT doc_id,
        |    (len(w) BETWEEN 30 AND 100000)
        |    AND (CAST(ch - (len(w) - 1) AS DOUBLE) / len(w)
        |      BETWEEN 3.0 AND 10.0)
        |    AND (CAST(len(list_filter(w, t2 ->
        |      regexp_matches(t2, '[A-Za-z]'))) AS DOUBLE) / len(w) >= 0.8)
        |    AND (len(list_filter(w, t2 -> t2 IN
        |      ('the','a','of','and','to','in','is','data'))) >= 2)
        |      AS gopher_pass
        |  FROM (SELECT doc_id, length(text) AS ch,
        |    string_split(text, ' ') AS w FROM documents))
        |SELECT d.doc_id, d.lang, (p.pred_lang = d.lang) AS lang_match,
        |  s.n_tokens, s.surprisal_bits, gq.gopher_pass,
        |  CASE WHEN NOT gq.gopher_pass THEN 'drop'
        |    WHEN NOT (p.pred_lang = d.lang)
        |      OR s.surprisal_bits * 5 > s.n_tokens * 26 THEN 'review'
        |    ELSE 'keep' END AS route
        |FROM documents d
        |JOIN pred p ON p.doc_id = d.doc_id
        |JOIN surp s ON s.doc_id = d.doc_id
        |JOIN gq ON gq.doc_id = d.doc_id""".stripMargin,

    // exact prefix-filter similarity join: the oracle is the BRUTE
    // FORCE all-pairs truth (full shingle self-join + integer
    // cross-multiply threshold), so equality proves the engine's
    // prefix/length/positional pruning dropped no qualifying pair
    // the exact family's pre-flight: the SAME rarity window + prefix
    // rule as the join it prices, then pure integer arithmetic —
    // est_candidate_pairs = sum over prefix shingles of C(pdf, 2),
    // the pre-filter candidate row count (DuckDB // is integer
    // division; the product is even so both engines halve exactly)
    "q_pair_budget" ->
      """WITH corpus AS (SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 200000, text || ' graftmarker end'
        |  FROM documents WHERE doc_id % 11 = 0),
        |toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM corpus),
        |sh AS (SELECT DISTINCT doc_id, shingle FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, len(w) - 1),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
        |  FROM toks WHERE len(w) >= 3) t),
        |freq AS (SELECT shingle, CAST(COUNT(*) AS BIGINT) AS df
        |  FROM sh GROUP BY 1),
        |pos AS (SELECT s.doc_id, s.shingle,
        |    row_number() OVER (PARTITION BY s.doc_id
        |      ORDER BY f.df ASC, s.shingle ASC) AS p,
        |    COUNT(*) OVER (PARTITION BY s.doc_id) AS sz
        |  FROM sh s JOIN freq f ON f.shingle = s.shingle),
        |pre AS (SELECT doc_id, shingle FROM pos
        |  WHERE p <= sz - (sz * 60 + 99) // 100 + 1),
        |pdf AS (SELECT shingle, CAST(COUNT(*) AS BIGINT) AS pdf
        |  FROM pre GROUP BY 1),
        |stats AS (SELECT
        |    (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) FROM sh)
        |      AS n_docs,
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM sh) AS n_shingle_rows,
        |    CAST(COALESCE(SUM(pdf), 0) AS BIGINT) AS n_prefix_rows,
        |    CAST(COALESCE(SUM(pdf * (pdf - 1) // 2), 0) AS BIGINT)
        |      AS est_candidate_pairs
        |  FROM pdf)
        |SELECT b.b AS budget_pairs, n_docs, n_shingle_rows,
        |  n_prefix_rows, est_candidate_pairs,
        |  est_candidate_pairs <= b.b AS within_budget
        |FROM stats, (SELECT unnest([CAST(10 AS BIGINT),
        |  CAST(1000000000000 AS BIGINT)]) AS b) b""".stripMargin,

    // maximal repeated-substring lengths: bucket = the first
    // minTokens(10) tokens (any qualifying match shares it), distinct
    // truncated suffixes collapse with a count, adjacent-LCP window
    // per bucket, identical twins shortcut to their own length;
    // chr(1)-joined strings sort in UTF8 byte order in both engines
    "q_substr_spans" ->
      """WITH corpus AS (SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 200000, text || ' graftmarker end'
        |  FROM documents WHERE doc_id % 11 = 0),
        |toks AS (SELECT doc_id, string_split(text, ' ') AS w
        |  FROM corpus WHERE len(string_split(text, ' ')) >= 10),
        |sfx AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos,
        |    array_to_string(w[pos:pos+19], chr(1)) AS s,
        |    array_to_string(w[pos:pos+9], chr(1)) AS bkt
        |  FROM (SELECT doc_id, w, unnest(range(1, len(w) - 8)) AS pos
        |    FROM toks)),
        |d AS (SELECT bkt, s, string_split(s, chr(1)) AS arr,
        |    CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM sfx GROUP BY 1, 2),
        |n AS (SELECT bkt, s, arr, cnt,
        |    lag(arr) OVER (PARTITION BY bkt ORDER BY s) AS pa,
        |    lead(arr) OVER (PARTITION BY bkt ORDER BY s) AS na
        |  FROM d),
        |m AS (SELECT s, GREATEST(
        |    CASE WHEN pa IS NULL THEN 0 ELSE COALESCE(
        |      list_position(list_transform(
        |        range(1, greatest(len(arr), len(pa)) + 1),
        |        i -> arr[i] IS NOT DISTINCT FROM pa[i]), false) - 1,
        |      least(len(arr), len(pa))) END,
        |    CASE WHEN na IS NULL THEN 0 ELSE COALESCE(
        |      list_position(list_transform(
        |        range(1, greatest(len(arr), len(na)) + 1),
        |        i -> arr[i] IS NOT DISTINCT FROM na[i]), false) - 1,
        |      least(len(arr), len(na))) END,
        |    CASE WHEN cnt >= 2 THEN len(arr) ELSE 0 END) AS match_len
        |  FROM n)
        |SELECT f.doc_id, f.pos, CAST(m.match_len AS BIGINT) AS match_len
        |FROM sfx f JOIN m ON m.s = f.s
        |WHERE m.match_len >= 10""".stripMargin,

    // chain CC: expected labels via gaps-and-islands — component =
    // min id of each consecutive-id run inside a 50-id block (nodes
    // with no edge, i.e. singleton islands, don't enter the graph)
    "q_cc_chain" ->
      """WITH ids AS (SELECT DISTINCT doc_id AS id FROM documents),
        |grp AS (SELECT id, id - row_number() OVER (ORDER BY id) AS g1,
        |    id // 50 AS blk
        |  FROM ids),
        |isl AS (SELECT id,
        |    CAST(MIN(id) OVER (PARTITION BY g1, blk) AS BIGINT)
        |      AS component,
        |    COUNT(*) OVER (PARTITION BY g1, blk) AS n
        |  FROM grp)
        |SELECT id, component FROM isl WHERE n >= 2""".stripMargin,

    // the routed dispatch's exact branch: brute-force truth over the
    // third-corpus + clones (the route column pins WHICH branch ran)
    "q_exact_routed" ->
      """WITH corpus AS (SELECT doc_id, text FROM documents
        |  WHERE doc_id % 3 = 0
        |  UNION ALL SELECT doc_id + 200000, text || ' graftmarker end'
        |  FROM documents WHERE doc_id % 33 = 0),
        |toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM corpus),
        |sh AS (SELECT DISTINCT doc_id, shingle FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, len(w) - 1),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
        |  FROM toks WHERE len(w) >= 3) t),
        |sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM sh GROUP BY doc_id),
        |inter AS (SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b,
        |    CAST(COUNT(*) AS BIGINT) AS i
        |  FROM sh sa JOIN sh sb
        |    ON sa.shingle = sb.shingle AND sa.doc_id < sb.doc_id
        |  GROUP BY 1, 2)
        |SELECT i.doc_a, i.doc_b, 'exact' AS route
        |FROM inter i
        |JOIN sizes na ON na.doc_id = i.doc_a
        |JOIN sizes nb ON nb.doc_id = i.doc_b
        |WHERE i.i * 100 >= 60 * (na.n + nb.n - i.i)""".stripMargin,

    "q_prefix_join" ->
      """WITH corpus AS (SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 200000, text || ' graftmarker end'
        |  FROM documents WHERE doc_id % 11 = 0),
        |toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM corpus),
        |sh AS (SELECT DISTINCT doc_id, shingle FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, len(w) - 1),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
        |  FROM toks WHERE len(w) >= 3) t),
        |sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM sh GROUP BY doc_id),
        |inter AS (SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b,
        |    CAST(COUNT(*) AS BIGINT) AS i
        |  FROM sh sa JOIN sh sb
        |    ON sa.shingle = sb.shingle AND sa.doc_id < sb.doc_id
        |  GROUP BY 1, 2)
        |SELECT i.doc_a, i.doc_b, i.i AS inter, na.n AS na, nb.n AS nb
        |FROM inter i
        |JOIN sizes na ON na.doc_id = i.doc_a
        |JOIN sizes nb ON nb.doc_id = i.doc_b
        |WHERE i.i * 100 >= 60 * (na.n + nb.n - i.i)""".stripMargin,

    // the sharded exact join answers the SAME question as
    // q_prefix_join (identical corpus, threshold, columns): one
    // brute-force truth pins both the single-pass and the
    // shard-decomposed execution — exactly-once across shards or the
    // hashes diverge
    "q_exact_sharded" ->
      """WITH corpus AS (SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 200000, text || ' graftmarker end'
        |  FROM documents WHERE doc_id % 11 = 0),
        |toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM corpus),
        |sh AS (SELECT DISTINCT doc_id, shingle FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, len(w) - 1),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
        |  FROM toks WHERE len(w) >= 3) t),
        |sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM sh GROUP BY doc_id),
        |inter AS (SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b,
        |    CAST(COUNT(*) AS BIGINT) AS i
        |  FROM sh sa JOIN sh sb
        |    ON sa.shingle = sb.shingle AND sa.doc_id < sb.doc_id
        |  GROUP BY 1, 2)
        |SELECT i.doc_a, i.doc_b, i.i AS inter, na.n AS na, nb.n AS nb
        |FROM inter i
        |JOIN sizes na ON na.doc_id = i.doc_a
        |JOIN sizes nb ON nb.doc_id = i.doc_b
        |WHERE i.i * 100 >= 60 * (na.n + nb.n - i.i)""".stripMargin,

    // corpus data card: per-doc stats in one agg + the exact-vocab
    // token count, emitted long-form (metric, value) all BIGINT
    "q_data_card" ->
      """WITH a AS (SELECT
        |    CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
        |    CAST(SUM(length(text)) AS BIGINT) AS n_chars,
        |    CAST(MAX(len(string_split(text, ' '))) AS BIGINT)
        |      AS max_doc_tokens,
        |    CAST(MIN(len(string_split(text, ' '))) AS BIGINT)
        |      AS min_doc_tokens,
        |    CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS BIGINT)
        |      AS n_exact_dup_docs,
        |    CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
        |    CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
        |  FROM documents),
        |v AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_vocab
        |  FROM (SELECT unnest(string_split(text, ' ')) AS tok
        |    FROM documents) t)
        |SELECT 'n_docs' AS metric, n_docs AS value FROM a
        |UNION ALL SELECT 'n_tokens', n_tokens FROM a
        |UNION ALL SELECT 'n_chars', n_chars FROM a
        |UNION ALL SELECT 'max_doc_tokens', max_doc_tokens FROM a
        |UNION ALL SELECT 'min_doc_tokens', min_doc_tokens FROM a
        |UNION ALL SELECT 'n_exact_dup_docs', n_exact_dup_docs FROM a
        |UNION ALL SELECT 'n_langs', n_langs FROM a
        |UNION ALL SELECT 'n_sources', n_sources FROM a
        |UNION ALL SELECT 'n_vocab', n_vocab FROM v""".stripMargin,

    // two-stage retrieval: hamming top-20 shortlist -> exact cosine
    // re-rank to 3; the cosine form matches the engine's expression
    "q_rerank" ->
      """WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |bq AS (SELECT vec_id,
        |    CAST(list_sum(list_transform(range(0, 32), i ->
        |      CASE WHEN embedding[i + 1] > 0
        |        THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)) AS BIGINT) AS b_lo,
        |    CAST(list_sum(list_transform(range(0, 32), i ->
        |      CASE WHEN embedding[i + 33] > 0
        |        THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)) AS BIGINT) AS b_hi
        |  FROM embeddings),
        |short AS (SELECT query_id, neighbor_id FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY bit_count(xor(q.b_lo, c.b_lo))
        |        + bit_count(xor(q.b_hi, c.b_hi)) ASC, c.vec_id ASC) AS rank
        |  FROM (SELECT * FROM bq WHERE vec_id < 20) q,
        |       (SELECT * FROM bq WHERE vec_id >= 20) c) t WHERE rank <= 20)
        |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank,
        |  cosine
        |FROM (SELECT s.query_id, s.neighbor_id,
        |    list_sum(list_transform(range(1, 65), i -> q.v[i] * c.v[i]))
        |    / (sqrt(list_sum(list_transform(range(1, 65), i ->
        |        q.v[i] * q.v[i])))
        |     * sqrt(list_sum(list_transform(range(1, 65), i ->
        |        c.v[i] * c.v[i])))) AS cosine,
        |    row_number() OVER (PARTITION BY s.query_id
        |      ORDER BY list_sum(list_transform(range(1, 65), i ->
        |          q.v[i] * c.v[i]))
        |        / (sqrt(list_sum(list_transform(range(1, 65), i ->
        |            q.v[i] * q.v[i])))
        |         * sqrt(list_sum(list_transform(range(1, 65), i ->
        |            c.v[i] * c.v[i])))) DESC,
        |        s.neighbor_id ASC) AS rank
        |  FROM short s
        |  JOIN e q ON q.vec_id = s.query_id
        |  JOIN e c ON c.vec_id = s.neighbor_id) t
        |WHERE rank <= 3""".stripMargin,

    // composed two-stage recall audit: the full q_rerank chain
    // (hamming top-20 shortlist -> exact cosine re-rank to 3) as
    // `approx` beside the exact cosine top-3, reduced to the same
    // integer overlap counts as the other recall audits — stage 2 is
    // exact on the shortlist, so n_exact - n_hit IS stage-1 loss
    "q_rerank_recall" ->
      s"""WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |bq AS (SELECT vec_id,
        |    CAST(list_sum(list_transform(range(0, 32), i ->
        |      CASE WHEN embedding[i + 1] > 0
        |        THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)) AS BIGINT) AS b_lo,
        |    CAST(list_sum(list_transform(range(0, 32), i ->
        |      CASE WHEN embedding[i + 33] > 0
        |        THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)) AS BIGINT) AS b_hi
        |  FROM embeddings),
        |short AS (SELECT query_id, neighbor_id FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY bit_count(xor(q.b_lo, c.b_lo))
        |        + bit_count(xor(q.b_hi, c.b_hi)) ASC, c.vec_id ASC) AS rank
        |  FROM (SELECT * FROM bq WHERE vec_id < 20) q,
        |       (SELECT * FROM bq WHERE vec_id >= 20) c) t WHERE rank <= 20),
        |approx AS (SELECT query_id, neighbor_id FROM (
        |  SELECT s.query_id, s.neighbor_id,
        |    row_number() OVER (PARTITION BY s.query_id
        |      ORDER BY ${cosSql("q.v", "c.v")} DESC,
        |        s.neighbor_id ASC) AS rank
        |  FROM short s
        |  JOIN e q ON q.vec_id = s.query_id
        |  JOIN e c ON c.vec_id = s.neighbor_id) t WHERE rank <= 3),
        |exact AS (SELECT query_id, neighbor_id FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY ${cosSql("q.v", "c.v")} DESC,
        |        c.vec_id ASC) AS rank
        |  FROM (SELECT * FROM e WHERE vec_id < 20) q,
        |       (SELECT * FROM e WHERE vec_id >= 20) c) t WHERE rank <= 3)
        |SELECT e2.query_id, CAST(COUNT(*) AS BIGINT) AS n_exact,
        |  CAST((SELECT COUNT(*) FROM approx a2
        |    WHERE a2.query_id = e2.query_id) AS BIGINT) AS n_approx,
        |  CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0
        |    END) AS BIGINT) AS n_hit
        |FROM exact e2 LEFT JOIN approx a
        |  ON a.query_id = e2.query_id AND a.neighbor_id = e2.neighbor_id
        |GROUP BY e2.query_id""".stripMargin,

    // HTML extraction: rebuild the planted HTML by concat, then the
    // identical pipeline — drop script/style elements + comments,
    // split into blocks at block-tag boundaries, per block count <a
    // tags / strip tags / decode entities (&amp; last) / collapse
    // whitespace, keep blocks with >= 3 words and words > 2*links,
    // reassemble in document order
    "q_html_extract" ->
      """WITH h AS (SELECT doc_id,
        |    '<html><head><script type="text/javascript">var nav = 1;'
        |    || '</script><style>.m{color:red}</style></head><body>'
        |    || '<nav><a href="/">Home</a> <a href="/a">About</a> '
        |    || '<a href="/b">Contact</a></nav><h1>Doc '
        |    || CAST(doc_id AS VARCHAR) || '</h1><p>' || text
        |    || '</p><p>Tail &amp; entities &lt;kept&gt; here</p>'
        |    || '<footer><a href="/privacy">Privacy</a></footer>'
        |    || '</body></html>' AS html
        |  FROM documents),
        |s1 AS (SELECT doc_id, regexp_replace(html,
        |    '(?is)<(script|style|noscript|template)(>|[ \t][^>]*>).*?</(script|style|noscript|template)>',
        |    '', 'g') AS t FROM h),
        |s2 AS (SELECT doc_id, regexp_replace(t, '(?s)<!--.*?-->', '',
        |    'g') AS t FROM s1),
        |b AS (SELECT doc_id, len(arr) AS nb,
        |    unnest(list_transform(range(1, len(arr) + 1), i ->
        |      {'pos': i, 'blk': arr[i]})) AS u
        |  FROM (SELECT doc_id, regexp_split_to_array(t,
        |    '(?i)</?(p|div|h[1-6]|li|ul|ol|tr|td|th|table|section|article|header|footer|nav|blockquote|pre|form)(>|[ \t][^>]*>)|<br[ \t]*/?>')
        |    AS arr FROM s2) t2),
        |c AS (SELECT doc_id, nb, u.pos AS pos, u.blk AS blk FROM b),
        |d AS (SELECT doc_id, nb, pos,
        |    len(regexp_extract_all(blk, '(?i)<a[ >]')) AS links,
        |    trim(regexp_replace(
        |      regexp_replace(regexp_replace(regexp_replace(
        |        regexp_replace(regexp_replace(
        |          regexp_replace(blk, '<[^>]*>', '', 'g'),
        |          '&lt;', '<', 'g'), '&gt;', '>', 'g'),
        |        '&quot;', '"', 'g'), '&#39;', chr(39), 'g'),
        |      '&nbsp;', ' ', 'g'), '&amp;', '&', 'g')) AS txt0
        |  FROM c),
        |e2 AS (SELECT doc_id, nb, pos, links,
        |    trim(regexp_replace(txt0, '[ \t\r\n]+', ' ', 'g')) AS txt
        |  FROM d),
        |e3 AS (SELECT *, CASE WHEN txt = '' THEN 0
        |    ELSE len(string_split(txt, ' ')) END AS words FROM e2),
        |k AS (SELECT doc_id,
        |    string_agg(txt, chr(10) ORDER BY pos) AS clean_text,
        |    CAST(COUNT(*) AS BIGINT) AS n_kept
        |  FROM e3 WHERE words >= 3 AND words > links * 2
        |  GROUP BY doc_id),
        |lt AS (SELECT doc_id, CAST(SUM(links) AS BIGINT) AS n_links,
        |    CAST(MAX(nb) AS BIGINT) AS n_blocks FROM e3 GROUP BY doc_id)
        |SELECT d0.doc_id, COALESCE(k.clean_text, '') AS clean_text,
        |  lt.n_blocks, CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept,
        |  lt.n_links
        |FROM documents d0
        |LEFT JOIN k ON k.doc_id = d0.doc_id
        |LEFT JOIN lt ON lt.doc_id = d0.doc_id""".stripMargin,

    // hard-pair mining: per anchor the lowest-cosine same-label and
    // highest-cosine other-label candidate, ties to the smaller id
    "q_hard_pairs" ->
      """WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
        |    label
        |  FROM embeddings),
        |a AS (SELECT vec_id AS anchor_id, v, label FROM e
        |  WHERE vec_id < 20),
        |c AS (SELECT vec_id AS cid, v, label FROM e WHERE vec_id >= 20),
        |s AS (SELECT a.anchor_id, a.label AS albl, c.cid,
        |    c.label AS clbl,
        |    list_sum(list_transform(range(1, 65), i -> a.v[i] * c.v[i]))
        |    / (sqrt(list_sum(list_transform(range(1, 65), i ->
        |        a.v[i] * a.v[i])))
        |     * sqrt(list_sum(list_transform(range(1, 65), i ->
        |        c.v[i] * c.v[i])))) AS cos
        |  FROM a, c),
        |pos AS (SELECT anchor_id, cid AS pos_id, cos AS pos_cos FROM (
        |  SELECT anchor_id, cid, cos, row_number() OVER (
        |      PARTITION BY anchor_id ORDER BY cos ASC, cid ASC) AS rk
        |  FROM s WHERE clbl = albl) t WHERE rk = 1),
        |neg AS (SELECT anchor_id, cid AS neg_id, cos AS neg_cos FROM (
        |  SELECT anchor_id, cid, cos, row_number() OVER (
        |      PARTITION BY anchor_id ORDER BY cos DESC, cid ASC) AS rk
        |  FROM s WHERE clbl <> albl) t WHERE rk = 1)
        |SELECT a.anchor_id, p.pos_id, p.pos_cos, n.neg_id, n.neg_cos
        |FROM a
        |LEFT JOIN pos p ON p.anchor_id = a.anchor_id
        |LEFT JOIN neg n ON n.anchor_id = a.anchor_id""".stripMargin,

    // sign-bit binary quantization: two 32-bit words per vector, all
    // integer — bit 31 is the highest used, no 64-bit sign wrap
    "q_binary_embed" ->
      """SELECT vec_id,
        |  CAST(list_sum(list_transform(range(0, 32), i ->
        |    CASE WHEN embedding[i + 1] > 0
        |      THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)) AS BIGINT) AS b_lo,
        |  CAST(list_sum(list_transform(range(0, 32), i ->
        |    CASE WHEN embedding[i + 33] > 0
        |      THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)) AS BIGINT) AS b_hi
        |FROM embeddings""".stripMargin,

    // Hamming top-3 over the packed words: XOR + popcount per half
    "q_hamming_topk" ->
      """WITH bq AS (SELECT vec_id,
        |    CAST(list_sum(list_transform(range(0, 32), i ->
        |      CASE WHEN embedding[i + 1] > 0
        |        THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)) AS BIGINT) AS b_lo,
        |    CAST(list_sum(list_transform(range(0, 32), i ->
        |      CASE WHEN embedding[i + 33] > 0
        |        THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)) AS BIGINT) AS b_hi
        |  FROM embeddings),
        |q AS (SELECT vec_id AS query_id, b_lo AS qlo, b_hi AS qhi
        |  FROM bq WHERE vec_id < 20),
        |c AS (SELECT vec_id AS neighbor_id, b_lo AS clo, b_hi AS chi
        |  FROM bq WHERE vec_id >= 20)
        |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank,
        |  hamming
        |FROM (SELECT q.query_id, c.neighbor_id,
        |    CAST(bit_count(xor(qlo, clo)) + bit_count(xor(qhi, chi))
        |      AS BIGINT) AS hamming,
        |    row_number() OVER (PARTITION BY q.query_id
        |      ORDER BY bit_count(xor(qlo, clo)) + bit_count(xor(qhi, chi))
        |        ASC, c.neighbor_id ASC) AS rank
        |  FROM q, c) t
        |WHERE rank <= 3""".stripMargin,

    // Hamming recall audit: the binary top-3 vs the exact cosine
    // top-3, integer overlap counts
    "q_hamming_recall" ->
      """WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |bq AS (SELECT vec_id,
        |    CAST(list_sum(list_transform(range(0, 32), i ->
        |      CASE WHEN embedding[i + 1] > 0
        |        THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)) AS BIGINT) AS b_lo,
        |    CAST(list_sum(list_transform(range(0, 32), i ->
        |      CASE WHEN embedding[i + 33] > 0
        |        THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)) AS BIGINT) AS b_hi
        |  FROM embeddings),
        |exact AS (SELECT query_id, neighbor_id FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |      list_sum(list_transform(range(1, 65), i -> q.v[i] * c.v[i]))
        |      / (sqrt(list_sum(list_transform(range(1, 65), i ->
        |          q.v[i] * q.v[i])))
        |       * sqrt(list_sum(list_transform(range(1, 65), i ->
        |          c.v[i] * c.v[i]))))
        |      DESC, c.vec_id ASC) AS rank
        |  FROM (SELECT * FROM e WHERE vec_id < 20) q,
        |       (SELECT * FROM e WHERE vec_id >= 20) c) t WHERE rank <= 3),
        |approx AS (SELECT query_id, neighbor_id FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY bit_count(xor(q.b_lo, c.b_lo))
        |        + bit_count(xor(q.b_hi, c.b_hi)) ASC, c.vec_id ASC) AS rank
        |  FROM (SELECT * FROM bq WHERE vec_id < 20) q,
        |       (SELECT * FROM bq WHERE vec_id >= 20) c) t WHERE rank <= 3)
        |SELECT e2.query_id, CAST(COUNT(*) AS BIGINT) AS n_exact,
        |  CAST((SELECT COUNT(*) FROM approx a2
        |    WHERE a2.query_id = e2.query_id) AS BIGINT) AS n_approx,
        |  CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0
        |    END) AS BIGINT) AS n_hit
        |FROM exact e2 LEFT JOIN approx a
        |  ON a.query_id = e2.query_id AND a.neighbor_id = e2.neighbor_id
        |GROUP BY e2.query_id""".stripMargin,

    // exact incremental check: brute-force incoming x index truth —
    // every cross pair sharing >= 1 shingle, integer threshold
    "q_incr_exact" -> incrExactBruteSql(
      """SELECT i.index_id, i.new_id, i.i AS inter,
        |  na.n AS n_index, nb.n AS n_new""".stripMargin),

    // the sharded AB join answers the SAME question (identical
    // fixture, threshold, columns): one brute-force truth pins both
    // the single-pass and the shard-decomposed execution — AB
    // exactly-once across shards or the hashes diverge
    "q_incr_sharded" -> incrExactBruteSql(
      """SELECT i.index_id, i.new_id, i.i AS inter,
        |  na.n AS n_index, nb.n AS n_new""".stripMargin),

    // the routed AB dispatch's shard branch: pair set = the brute
    // cross truth, route pins WHICH branch ran (budget 1 forces the
    // over-budget path; 'shard' keeps the exact contract)
    "q_incr_exact_routed" -> incrExactBruteSql(
      "SELECT i.index_id, i.new_id, 'exact_sharded' AS route"),

    // the exact pipeline composed: brute-force exact-Jaccard pairs
    // (the q_prefix_join truth) -> recursive-CTE component closure ->
    // windowed keep-best argmax (n_toks DESC, id ASC)
    "q_exact_prep" ->
      """WITH RECURSIVE corpus AS (SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 200000, text || ' graftmarker end'
        |  FROM documents WHERE doc_id % 11 = 0),
        |toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM corpus),
        |sh AS (SELECT DISTINCT doc_id, shingle FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, len(w) - 1),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
        |  FROM toks WHERE len(w) >= 3) t),
        |sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM sh GROUP BY doc_id),
        |inter AS (SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b,
        |    CAST(COUNT(*) AS BIGINT) AS i
        |  FROM sh sa JOIN sh sb
        |    ON sa.shingle = sb.shingle AND sa.doc_id < sb.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (SELECT i.doc_a, i.doc_b FROM inter i
        |  JOIN sizes na ON na.doc_id = i.doc_a
        |  JOIN sizes nb ON nb.doc_id = i.doc_b
        |  WHERE i.i * 100 >= 60 * (na.n + nb.n - i.i)),
        |edges AS (SELECT doc_a AS s, doc_b AS d FROM pairs
        |  UNION SELECT doc_b, doc_a FROM pairs),
        |reach(id, r) AS (
        |  SELECT s, s FROM edges
        |  UNION
        |  SELECT e.s, r.r FROM edges e JOIN reach r ON e.d = r.id),
        |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
        |q AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT)
        |    AS n_toks FROM corpus)
        |SELECT component AS cluster_id, id AS rep_id,
        |  n_toks AS rep_quality, cluster_size
        |FROM (SELECT c.component, c.id, q.n_toks,
        |    row_number() OVER (PARTITION BY c.component
        |      ORDER BY q.n_toks DESC, c.id ASC) AS rk,
        |    CAST(COUNT(*) OVER (PARTITION BY c.component) AS BIGINT)
        |      AS cluster_size
        |  FROM comp c JOIN q ON q.doc_id = c.id) t
        |WHERE rk = 1""".stripMargin,

    // DSIR importance weights: the lm-surprisal chain twice (target =
    // src0 docs, corpus = all docs), integer bit-length surprisal,
    // weight = bits_corpus - bits_target; unseen-in-target tokens
    // smooth to 0+1 via the left join's COALESCE
    "q_dsir_select" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' '))
        |    AS tok FROM documents),
        |ttoks AS (SELECT unnest(string_split(text, ' ')) AS tok
        |  FROM documents WHERE source = 'src0'),
        |cu AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM toks GROUP BY tok),
        |ct AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM ttoks GROUP BY tok),
        |totc AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
        |    CAST(COUNT(*) AS BIGINT) AS v FROM cu),
        |tott AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
        |    CAST(COUNT(*) AS BIGINT) AS v FROM ct)
        |SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |  CAST(SUM(length(bin(tott.n + tott.v))
        |    - length(bin(COALESCE(ct.c, 0) + 1))) AS BIGINT) AS bits_target,
        |  CAST(SUM(length(bin(totc.n + totc.v))
        |    - length(bin(cu.c + 1))) AS BIGINT) AS bits_corpus,
        |  CAST(SUM(length(bin(totc.n + totc.v)) - length(bin(cu.c + 1)))
        |    - SUM(length(bin(tott.n + tott.v))
        |      - length(bin(COALESCE(ct.c, 0) + 1))) AS BIGINT)
        |    AS weight_bits,
        |  SUM(length(bin(totc.n + totc.v)) - length(bin(cu.c + 1)))
        |    > SUM(length(bin(tott.n + tott.v))
        |      - length(bin(COALESCE(ct.c, 0) + 1))) AS selected
        |FROM toks t
        |JOIN cu ON cu.tok = t.tok
        |LEFT JOIN ct ON ct.tok = t.tok, totc, tott
        |GROUP BY t.doc_id""".stripMargin,

    // IVFADC over the RESIDUAL-trained codebook: sqrt(N) L2 cells
    // -> km fit on the residuals -> residual PQ codes ->
    // per-(query, cell) residual LUTs -> sub_id-ordered ADC chain
    "q_ivf_pq_topk" -> ivfPqTopkSql,
    // the persisted-index route answers from the on-disk artifact;
    // the oracle is the DIRECT chain's — the store must be invisible
    "q_ann_stored" -> ivfPqTopkSql,
    // the STREAMING probe face replays the same chain: per-trigger
    // probe planning and the store itself invisible in the completed
    // stream (top-k is per query; ids are disjoint across triggers)
    "q_stream_ann" -> ivfPqTopkSql,
    // the streaming INGEST face: per-batch landing + the store log
    // must be invisible — the post-stream store answers the direct
    // chain over the full corpus
    "q_stream_ann_ingest" -> ivfPqTopkSql,
    // the ORGANIC-head stored route replays the same direct chain on
    // the token-profile fixture: store plumbing, the append, and
    // bucket pruning invisible on data nobody shaped
    "q_ann_stored_org" -> ivfPqTopkSqlFrom(organicECandCtes),
    "q_ann_recall_org" -> ivfPqRecallSqlFrom(organicECandCtes),
    // frozen-geometry drift: train-on-base, encode-all, audited
    "q_ann_drift" -> annDriftSql,
    // the ground-truth-free monitor: per-vector encode distortion
    "q_ann_drift_monitor" -> annDriftMonitorSql,
    // the same monitor separation question on the ORGANIC base tier
    // (is a drifted batch distinguishable when the base profiles are
    // irregular?) and the rebuild == fresh-derivation contract there
    "q_ann_monitor_org" -> annDriftMonitorSqlFrom(orgRebuildHead),
    "q_ann_rebuild_org" -> annRebuildSqlFrom(orgRebuildHead),
    // rebuild == fresh derivation over the extended corpus
    "q_ann_rebuild" -> annRebuildSql,
    // a TRIGGERED rebuild is a fresh build over base + appends — the
    // composed policy gate answers the rebuild oracle verbatim
    "q_ann_autorebuild" -> annRebuildSql,
    "q_ann_rebuild_recall" -> annRebuildRecallSql,
    // build(4/5 of the candidates) ∪ append(the rest) is exactly the
    // q_ivf_pq_topk corpus again, and compaction of the cell-bucketed
    // codes is physical only — same oracle, store invisible
    "q_ann_compact" -> ivfPqTopkSql,
    "q_ann_concurrent" -> ivfPqTopkSql,
    // multi-artifact multi-writer: the file-level snapshot commit —
    // however the racing writers interleave, the probe/query answers
    // the sequential chains' oracles verbatim
    "q_sig_concurrent" -> incrStoredSql,
    "q_bm25_concurrent" -> bm25TopkSql,
    "q_ann_snapshot" -> ivfPqTopkSql,
    // store-level time travel: snapshot-0 answers, cross-artifact
    // consistent (BM25's historical df/(N,T), the vector store's
    // pre-append codes)
    "q_ann_timetravel" -> annTimetravelSql,
    "q_bm25_timetravel" -> bm25TimetravelSql,
    "q_sig_timetravel" -> incrTimetravelSql,
    "q_ivf_hier" -> ivfHierSql,
    "q_ivf_hier_agree" -> ivfHierAgreeSql,
    "q_ivf_hier_curve" -> ivfHierCurveSql,
    "q_ivf_hier_curve_aniso" -> ivfHierCurveSqlFrom(anisoECandCtes),
    "q_ivf_hier_curve_org" -> ivfHierCurveSqlFrom(organicECandCtes),
    "q_ivf_hier_recall" -> ivfHierRecallSql,
    "q_ivf_probe_curve" -> ivfProbeCurveSql,

    // IVFADC recall audit: the full residual-trained chain as
    // `approx` beside the exact full-vector L2 top-3, the same
    // integer overlap counts as the other recall audits
    "q_ivf_pq_recall" -> ivfPqRecallSql,

    // the k-means trainer itself: fitted centroids + final-assignment
    // populations, integer-exact end to end
    "q_kmeans_fit" -> kmeansFitSql,

    // IVF over the TRAINED √N coarse quantizer (full-width Lloyd fit,
    // k as a scalar subquery) — q_ivf_topk's chain with data-matched
    // cells; the routing dividend is measured in q_ivf_route_recall
    "q_ivf_trained" -> ivfTrainedSql,

    // routing-recall audit: modulo-picked vs trained centroids at the
    // same nprobe, both against the exact cosine top-3, one row per
    // query — isolates the cell-routing term of q_ivf_pq_recall's loss
    "q_ivf_route_recall" -> ivfRouteRecallSql,

    // SemDeDup (Abbas et al. 2023): k-means cells bound the pairwise
    // cosine stage, closure over qualifying pairs, min-id rep — the
    // full fit + assignment + closure re-derived in SQL
    "q_semantic_dedup" -> semanticDedupSql,

    // BPE merge learning: 12 unrolled top-pair rounds over the
    // enriched corpus's pretoken frequency table
    "q_bpe_learn" -> bpeLearnSql(12),

    // epoch shuffle: the engine's bucket-decomposed ranking equals
    // one global ORDER BY (bucket, hash, id) because the bucket is a
    // prefix of the sort key; md5-hex15 is the shared hash domain
    "q_epoch_shuffle" ->
      """WITH h AS (SELECT doc_id,
        |  CAST('0x' || substr(md5('epoch0|' || CAST(doc_id AS VARCHAR)),
        |    1, 15) AS BIGINT) AS h
        |  FROM documents),
        |r AS (SELECT doc_id,
        |  row_number() OVER (ORDER BY h % 1024, h, doc_id) AS pos
        |  FROM h)
        |SELECT doc_id, CAST(pos AS BIGINT) AS pos,
        |  CAST((pos - 1) // 64 AS BIGINT) AS batch_id
        |FROM r""".stripMargin,

    // curriculum phases: the oracle's GLOBAL row_number over
    // (score, id) is the equality proof for the operator's
    // order-preserving bucket decomposition
    "q_curriculum" ->
      """WITH s AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS score
        |  FROM documents),
        |r AS (SELECT doc_id, score,
        |    CAST(row_number() OVER (ORDER BY score, doc_id) AS BIGINT)
        |      AS grank,
        |    CAST(COUNT(*) OVER () AS BIGINT) AS total
        |  FROM s)
        |SELECT doc_id, score, grank AS global_rank,
        |  CAST((grank - 1) * 10 // total AS BIGINT) AS phase
        |FROM r""".stripMargin,

    // unigram-LM surprisal: add-one smoothing, per-term quantization
    // via integer bit length (length(bin(x)) = floor(log2 x)+1 — the
    // engine-portable form of -log2 p; float ln would hash-break)
    "q_lm_surprisal" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' '))
        |    AS tok FROM documents),
        |u AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM toks GROUP BY tok),
        |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
        |    CAST(COUNT(*) AS BIGINT) AS v FROM u)
        |SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |  CAST(SUM(length(bin(tot.n + tot.v))
        |    - length(bin(u.c + 1))) AS BIGINT) AS surprisal_bits,
        |  CAST(SUM(CASE WHEN u.c = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_singletons,
        |  CAST(SUM(u.c) AS BIGINT) AS sum_count
        |FROM toks t JOIN u ON u.tok = t.tok, tot
        |GROUP BY t.doc_id""".stripMargin,

    // language-ID confusion matrix: per-lang top-50 char-trigram
    // profiles (count DESC, gram ASC rank ties), per-doc distinct-
    // trigram overlap per candidate language, argmax = overlap DESC,
    // lang ASC — the engine's strict-greater ascending fold verbatim
    "q_lang_id" ->
      """WITH g AS (SELECT doc_id, lang, substr(text, i, 3) AS gram
        |  FROM documents, unnest(range(1, len(text) - 1)) AS t(i)),
        |prof AS (SELECT lang, gram FROM (
        |  SELECT lang, gram, row_number() OVER (PARTITION BY lang
        |      ORDER BY COUNT(*) DESC, gram ASC) AS rk
        |  FROM g GROUP BY lang, gram) WHERE rk <= 50),
        |langs AS (SELECT DISTINCT lang AS cand FROM prof),
        |dg AS (SELECT DISTINCT doc_id, gram FROM g),
        |hits AS (SELECT dg.doc_id, prof.lang AS cand,
        |    CAST(COUNT(*) AS BIGINT) AS ovl
        |  FROM dg JOIN prof ON prof.gram = dg.gram GROUP BY 1, 2),
        |scored AS (SELECT d.doc_id, d.lang, l.cand,
        |    COALESCE(h.ovl, 0) AS ovl
        |  FROM documents d CROSS JOIN langs l
        |  LEFT JOIN hits h ON h.doc_id = d.doc_id AND h.cand = l.cand),
        |pred AS (SELECT doc_id, lang, cand AS pred_lang, ovl,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY ovl DESC, cand ASC) AS rk
        |  FROM scored)
        |SELECT lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(ovl) AS BIGINT) AS sum_overlap
        |FROM pred WHERE rk = 1 GROUP BY lang, pred_lang""".stripMargin,

    // recall audit: exact / single-probe / multi-probe top-3 derived
    // by the same CTE chains as q_cosine_topk / q_ann_topk /
    // q_ann_multiprobe on one query split, reduced to per-query
    // integer overlap counts
    "q_ann_recall" ->
      s"""WITH e AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |pls AS (SELECT $planesLit::DOUBLE[][] AS pl),
         |b AS (SELECT vec_id, v, $bucketTerms AS bucket FROM e CROSS JOIN pls),
         |ex AS (SELECT query_id, neighbor_id FROM (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |      list_sum(list_transform(range(1, 65), i -> q.v[i] * c.v[i]))
         |      / (sqrt(list_sum(list_transform(range(1, 65), i -> q.v[i] * q.v[i])))
         |       * sqrt(list_sum(list_transform(range(1, 65), i -> c.v[i] * c.v[i]))))
         |      DESC, c.vec_id ASC) AS rank
         |  FROM (SELECT * FROM e WHERE vec_id < 20) q,
         |       (SELECT * FROM e WHERE vec_id >= 20) c) t WHERE rank <= 3),
         |an AS (SELECT query_id, neighbor_id FROM (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |      list_sum(list_transform(range(1, 65), i -> q.v[i] * c.v[i]))
         |      / (sqrt(list_sum(list_transform(range(1, 65), i -> q.v[i] * q.v[i])))
         |       * sqrt(list_sum(list_transform(range(1, 65), i -> c.v[i] * c.v[i]))))
         |      DESC, c.vec_id ASC) AS rank
         |  FROM (SELECT * FROM b WHERE vec_id < 20) q
         |  JOIN (SELECT * FROM b WHERE vec_id >= 20) c ON q.bucket = c.bucket)
         |  t WHERE rank <= 3),
         |probes AS (SELECT vec_id, v,
         |    unnest([bucket] || list_transform(range(0, 8),
         |      p -> xor(bucket, CAST(1 AS BIGINT) << p))) AS bucket
         |  FROM b WHERE vec_id < 20),
         |anmp AS (SELECT query_id, neighbor_id FROM (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |      list_sum(list_transform(range(1, 65), i -> q.v[i] * c.v[i]))
         |      / (sqrt(list_sum(list_transform(range(1, 65), i -> q.v[i] * q.v[i])))
         |       * sqrt(list_sum(list_transform(range(1, 65), i -> c.v[i] * c.v[i]))))
         |      DESC, c.vec_id ASC) AS rank
         |  FROM probes q
         |  JOIN (SELECT * FROM b WHERE vec_id >= 20) c ON q.bucket = c.bucket)
         |  t WHERE rank <= 3),
         |ne AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_exact
         |  FROM ex GROUP BY query_id),
         |na AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_ann
         |  FROM an GROUP BY query_id),
         |nh AS (SELECT ex.query_id, CAST(COUNT(*) AS BIGINT) AS n_hit
         |  FROM ex JOIN an ON an.query_id = ex.query_id
         |    AND an.neighbor_id = ex.neighbor_id GROUP BY ex.query_id),
         |nam AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_ann_mp
         |  FROM anmp GROUP BY query_id),
         |nhm AS (SELECT ex.query_id, CAST(COUNT(*) AS BIGINT) AS n_hit_mp
         |  FROM ex JOIN anmp ON anmp.query_id = ex.query_id
         |    AND anmp.neighbor_id = ex.neighbor_id GROUP BY ex.query_id)
         |SELECT ne.query_id, ne.n_exact,
         |  COALESCE(na.n_ann, 0) AS n_ann, COALESCE(nh.n_hit, 0) AS n_hit,
         |  COALESCE(nam.n_ann_mp, 0) AS n_ann_mp,
         |  COALESCE(nhm.n_hit_mp, 0) AS n_hit_mp
         |FROM ne LEFT JOIN na ON na.query_id = ne.query_id
         |LEFT JOIN nh ON nh.query_id = ne.query_id
         |LEFT JOIN nam ON nam.query_id = ne.query_id
         |LEFT JOIN nhm ON nhm.query_id = ne.query_id""".stripMargin,

    "q_dedup_clusters" ->
      """WITH RECURSIVE corpus AS (SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 200000, text || ' graftmarker end'
        |    FROM documents WHERE doc_id % 11 = 0
        |  UNION ALL SELECT doc_id + 300000, text || ' graftmarker two'
        |    FROM documents WHERE doc_id % 11 = 0),
        |toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM corpus),
        |sh AS (SELECT DISTINCT doc_id, shingle FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, len(w) - 1),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
        |  FROM toks WHERE len(w) >= 3) t),
        |mh AS (SELECT doc_id, sd.seed,
        |    min(md5(sd.seed::VARCHAR || '|' || shingle)) AS h
        |  FROM sh CROSS JOIN (SELECT unnest(range(8)) AS seed) sd
        |  GROUP BY doc_id, sd.seed),
        |bands AS (SELECT doc_id, seed // 2 AS band,
        |    min(CASE WHEN seed % 2 = 0 THEN h END)
        |      || min(CASE WHEN seed % 2 = 1 THEN h END) AS bkey
        |  FROM mh GROUP BY doc_id, seed // 2),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
        |inter AS (SELECT c.doc_a, c.doc_b, COUNT(*) AS i
        |  FROM cand c
        |  JOIN sh sa ON sa.doc_id = c.doc_a
        |  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
        |  GROUP BY c.doc_a, c.doc_b),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |pairs AS (SELECT i.doc_a, i.doc_b FROM inter i
        |  JOIN sizes na ON na.doc_id = i.doc_a
        |  JOIN sizes nb ON nb.doc_id = i.doc_b
        |  WHERE CAST(i.i AS DOUBLE) / (na.n + nb.n - i.i) >= 0.5),
        |edges AS (SELECT doc_a AS s, doc_b AS d FROM pairs
        |  UNION SELECT doc_b, doc_a FROM pairs),
        |reach(id, r) AS (
        |  SELECT s, s FROM edges
        |  UNION
        |  SELECT e.s, r.r FROM edges e JOIN reach r ON e.d = r.id),
        |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id)
        |SELECT component AS keeper_id, COUNT(*) AS cluster_size
        |FROM comp GROUP BY component""".stripMargin,

    "q_tfidf" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
        |  GROUP BY doc_id, term),
        |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
        |n AS (SELECT COUNT(*) AS n FROM documents),
        |scored AS (SELECT t.doc_id, t.term, t.tf, d.df,
        |    CAST(t.tf AS DOUBLE) * CAST(n.n + 1 AS DOUBLE)
        |      / CAST(d.df + 1 AS DOUBLE) AS score
        |  FROM tf t JOIN dfreq d ON t.term = d.term CROSS JOIN n)
        |SELECT doc_id, term, tf, df, score, rank FROM (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY score DESC, term ASC) AS rank
        |  FROM scored) t
        |WHERE rank <= 3""".stripMargin,

    "q_stratified_sample" ->
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source, row_number() OVER (PARTITION BY source
        |    ORDER BY CAST('0x' || substr(md5('strat|' || CAST(doc_id AS VARCHAR)),
        |      1, 15) AS BIGINT) % 10000 ASC, doc_id ASC) AS rn
        |  FROM documents) t
        |WHERE rn <= 5""".stripMargin,

    "q_redact" ->
      """WITH planted AS (SELECT doc_id,
        |    'contact u' || CAST(doc_id AS VARCHAR) ||
        |    '@mail.example.com or https://ex.org/d/' || CAST(doc_id AS VARCHAR) ||
        |    '?ref=20260812999 ' || text AS t
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(t,
        |    'https?://[^ ]+', '<URL>', 'g'),
        |    '[a-zA-Z0-9._]+@[a-zA-Z0-9.]+', '<EMAIL>', 'g'),
        |    '[0-9]{4,}', '<NUM>', 'g') AS clean_text
        |FROM planted""".stripMargin,

    "q_source_stats" ->
      """SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
        |  CAST(SUM(CAST(n_chars AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
        |    AS avg_chars,
        |  quantile_cont(CAST(n_chars AS DOUBLE), 0.5) AS median_chars
        |FROM documents GROUP BY source""".stripMargin,

    // centroid stride = floor(sqrt(N)) over the candidate count — the
    // same K ≈ √N sizing the Spark gate computes with one count()
    "q_ivf_topk" ->
      s"""WITH e AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |stride AS (SELECT greatest(1, CAST(floor(sqrt(COUNT(*))) AS BIGINT)) AS m
         |           FROM e WHERE vec_id >= 20),
         |cent AS (SELECT vec_id AS cid, v AS cv FROM e, stride
         |         WHERE vec_id >= 20 AND vec_id % stride.m = 0),
         |asg AS (SELECT neighbor_id, nv, cell FROM (
         |  SELECT c.vec_id AS neighbor_id, c.v AS nv, ct.cid AS cell,
         |    row_number() OVER (PARTITION BY c.vec_id
         |      ORDER BY ${cosSql("c.v", "ct.cv")} DESC, ct.cid ASC) AS rn
         |  FROM (SELECT * FROM e WHERE vec_id >= 20) c CROSS JOIN cent ct) t
         |  WHERE rn = 1),
         |probes AS (SELECT query_id, qv, cell FROM (
         |  SELECT q.vec_id AS query_id, q.v AS qv, ct.cid AS cell,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY ${cosSql("q.v", "ct.cv")} DESC, ct.cid ASC) AS pr
         |  FROM (SELECT * FROM e WHERE vec_id < 20) q CROSS JOIN cent ct) t
         |  WHERE pr <= 3),
         |scored AS (SELECT p.query_id, a.neighbor_id,
         |    ${cosSql("p.qv", "a.nv")} AS cosine
         |  FROM probes p JOIN asg a ON p.cell = a.cell)
         |SELECT query_id, neighbor_id, rank, cosine FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cosine DESC, neighbor_id ASC) AS rank
         |  FROM scored) t
         |WHERE rank <= 3""".stripMargin,

    // int8 quantization: floor(x/scale + 0.5) is the explicit
    // engine-portable rounding; q and max_abs_err are bit-reproducible.
    // The gate emits q as a comma-joined string — the driver's pandas
    // hasher cannot sort raw array cells (int→string is unambiguous
    // in both engines, so the scalar shape loses nothing).
    "q_embed_quant" ->
      """WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |s AS (SELECT vec_id, v,
        |    list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
        |  FROM e),
        |qz AS (SELECT vec_id, v, scale,
        |    CASE WHEN scale = 0 THEN list_transform(v, x -> 0)
        |    ELSE list_transform(v, x -> CAST(greatest(-127, least(127,
        |      CAST(floor(x / scale + 0.5) AS BIGINT))) AS INT)) END AS q
        |  FROM s)
        |SELECT vec_id, scale,
        |  array_to_string(list_transform(q, x -> CAST(x AS VARCHAR)), ',')
        |    AS q_csv,
        |  CASE WHEN scale = 0 THEN 0.0
        |  ELSE list_max(list_transform(range(1, len(v) + 1),
        |    i -> abs(v[i] - CAST(q[i] AS DOUBLE) * scale))) END AS max_abs_err
        |FROM qz""".stripMargin,

    // deliberately the UNDER-provisioned every-25th centroid set
    // (K linear in N) so the audit is pinned firing — q_ivf_topk's
    // gate sizing is the √N stride this audit exists to prescribe
    "q_ivf_cell_audit" ->
      s"""WITH e AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |cent AS (SELECT vec_id AS cid, v AS cv FROM e
         |         WHERE vec_id >= 20 AND vec_id % 25 = 0),
         |asg AS (SELECT neighbor_id, cell FROM (
         |  SELECT c.vec_id AS neighbor_id, ct.cid AS cell,
         |    row_number() OVER (PARTITION BY c.vec_id
         |      ORDER BY ${cosSql("c.v", "ct.cv")} DESC, ct.cid ASC) AS rn
         |  FROM (SELECT * FROM e WHERE vec_id >= 20) c CROSS JOIN cent ct) t
         |  WHERE rn = 1)
         |SELECT cell, CAST(COUNT(*) AS BIGINT) AS cell_size
         |FROM asg GROUP BY cell HAVING COUNT(*) > 30
         |ORDER BY cell""".stripMargin,

    "q_bpe_tokens" ->
      """WITH rich AS (SELECT doc_id,
        |    text || ' doc-' || CAST(doc_id AS VARCHAR) || ' it''s v1.2, n=' ||
        |      CAST(n_chars AS VARCHAR) || '!' AS rich
        |  FROM documents),
        |t AS (SELECT doc_id, length(rich) AS ch,
        |    len(string_split(rich, ' ')) AS n_ws_tokens,
        |    regexp_extract_all(rich,
        |      '''(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+| +') AS pt
        |  FROM rich)
        |SELECT doc_id, n_ws_tokens, len(pt) AS n_pretokens,
        |  len(list_distinct(pt)) AS n_distinct_pretokens,
        |  CAST(ch AS DOUBLE) / len(pt) AS chars_per_pretoken
        |FROM t""".stripMargin,

    // Real BPE re-derived WITHOUT the engine's list-based merge loop:
    // symbols live in a chr(31)-anchored string (text is printable
    // ASCII; the anchor bounds every match to whole symbols) and a
    // recursive CTE applies ONE replace of the lowest-ranked pair
    // present per step. Anchor sharing means back-to-back occurrences
    // take extra iterations, and the closed merge table (a fused pair
    // only creates pairs ranked after itself) is what makes that
    // converge to the same encoding as merge-all-occurrences-at-once.
    "q_bpe_merges" ->
      """WITH RECURSIVE rich AS (SELECT doc_id,
        |    text || ' doc-' || CAST(doc_id AS VARCHAR) || ' it''s v1.2, n=' ||
        |      CAST(n_chars AS VARCHAR) || '!' AS rich
        |  FROM documents),
        |merges(rank, a, b) AS (
        |  SELECT * FROM (VALUES
        |    (0,'t','h'),(1,'h','e'),(2,'i','n'),(3,'e','r'),(4,'a','n'),
        |    (5,'r','e'),(6,'o','n'),(7,'a','t'),(8,'e','n'),(9,'o','r'),
        |    (10,'e','s'),(11,'th','e'),(12,'an','d'),(13,'in','g'),(14,'o','u'),
        |    (15,'l','e'),(16,'s','t'),(17,' ','t'),(18,' ','a'),(19,' ','the'))),
        |pre AS (
        |  SELECT doc_id, generate_subscripts(pt, 1) AS tok_idx, unnest(pt) AS tok
        |  FROM (SELECT doc_id, regexp_extract_all(rich,
        |    '''(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+| +') AS pt
        |  FROM rich)),
        |npre AS (
        |  SELECT doc_id, len(regexp_extract_all(rich,
        |    '''(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+| +'))
        |    AS n_pretokens
        |  FROM rich),
        |init AS (
        |  SELECT doc_id, tok_idx,
        |    chr(31) || array_to_string(regexp_extract_all(tok, '(?s).'), chr(31))
        |      || chr(31) AS s
        |  FROM pre),
        |enc AS (
        |  SELECT doc_id, tok_idx, s, 0 AS it FROM init
        |  UNION ALL
        |  SELECT e.doc_id, e.tok_idx,
        |    replace(e.s, chr(31) || m.a || chr(31) || m.b || chr(31),
        |                 chr(31) || m.a || m.b || chr(31)) AS s,
        |    e.it + 1
        |  FROM enc e
        |  JOIN LATERAL (
        |    SELECT a, b FROM merges
        |    WHERE contains(e.s, chr(31) || a || chr(31) || b || chr(31))
        |    ORDER BY rank LIMIT 1) m ON TRUE),
        |fin AS (
        |  SELECT doc_id, tok_idx, arg_max(s, it) AS s
        |  FROM enc GROUP BY doc_id, tok_idx),
        |agg AS (
        |  SELECT doc_id,
        |    flatten(list(string_split(trim(s, chr(31)), chr(31)) ORDER BY tok_idx))
        |      AS syms
        |  FROM fin GROUP BY doc_id)
        |SELECT r.doc_id, n.n_pretokens,
        |  COALESCE(len(a.syms), 0) AS n_tokens,
        |  COALESCE(array_to_string(a.syms[1:12], '|'), '') AS encoded_head
        |FROM rich r JOIN npre n USING (doc_id) LEFT JOIN agg a USING (doc_id)""".stripMargin,

    "q_embed_neardup" ->
      s"""WITH corpus AS (SELECT vec_id, embedding FROM embeddings
         |  UNION ALL SELECT vec_id + 10000, embedding
         |  FROM embeddings WHERE vec_id % 13 = 0),
         |e AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM corpus),
         |pls AS (SELECT $planesLit::DOUBLE[][] AS pl),
         |b AS (SELECT vec_id, v, $bucketTerms AS bucket FROM e CROSS JOIN pls)
         |SELECT a.vec_id AS vec_a, c.vec_id AS vec_b,
         |  list_sum(list_transform(range(1, 65), i -> a.v[i] * c.v[i]))
         |    / (sqrt(list_sum(list_transform(range(1, 65), i -> a.v[i] * a.v[i])))
         |     * sqrt(list_sum(list_transform(range(1, 65), i -> c.v[i] * c.v[i]))))
         |    AS cosine
         |FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
         |WHERE list_sum(list_transform(range(1, 65), i -> a.v[i] * c.v[i]))
         |    / (sqrt(list_sum(list_transform(range(1, 65), i -> a.v[i] * a.v[i])))
         |     * sqrt(list_sum(list_transform(range(1, 65), i -> c.v[i] * c.v[i]))))
         |    >= 0.99""".stripMargin,

    "q_centroid" ->
      """SELECT label, i - 1 AS pos,
        |  CAST(SUM(CAST(CAST(e AS DOUBLE) AS DECIMAL(18,8))) AS DOUBLE)
        |    / COUNT(*) AS c
        |FROM (SELECT label, unnest(range(1, 65)) AS i, unnest(embedding) AS e
        |      FROM embeddings) t
        |GROUP BY label, i""".stripMargin,

    "q_training_prep" ->
      """WITH corpus AS (SELECT doc_id, text, lang FROM documents
        |  UNION ALL SELECT doc_id + 100000, text, lang
        |    FROM documents WHERE doc_id % 7 = 0
        |  UNION ALL SELECT doc_id + 200000, text || ' graftmarker end', lang
        |    FROM documents WHERE doc_id % 11 = 0),
        |keepers AS (SELECT min(doc_id) AS doc_id FROM corpus GROUP BY md5(text)),
        |ex AS (SELECT c.* FROM corpus c JOIN keepers k ON c.doc_id = k.doc_id),
        |toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM ex),
        |sh AS (SELECT DISTINCT doc_id, shingle FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, len(w) - 1),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
        |  FROM toks WHERE len(w) >= 3) t),
        |mh AS (SELECT doc_id, sd.seed,
        |    min(md5(sd.seed::VARCHAR || '|' || shingle)) AS h
        |  FROM sh CROSS JOIN (SELECT unnest(range(8)) AS seed) sd
        |  GROUP BY doc_id, sd.seed),
        |bands AS (SELECT doc_id, seed // 2 AS band,
        |    min(CASE WHEN seed % 2 = 0 THEN h END)
        |      || min(CASE WHEN seed % 2 = 1 THEN h END) AS bkey
        |  FROM mh GROUP BY doc_id, seed // 2),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
        |inter AS (SELECT c.doc_a, c.doc_b, COUNT(*) AS i
        |  FROM cand c
        |  JOIN sh sa ON sa.doc_id = c.doc_a
        |  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
        |  GROUP BY c.doc_a, c.doc_b),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |losers AS (SELECT DISTINCT i.doc_b AS doc_id
        |  FROM inter i
        |  JOIN sizes na ON na.doc_id = i.doc_a
        |  JOIN sizes nb ON nb.doc_id = i.doc_b
        |  WHERE CAST(i.i AS DOUBLE) / (na.n + nb.n - i.i) >= 0.5),
        |nd AS (SELECT * FROM ex WHERE doc_id NOT IN (SELECT doc_id FROM losers)),
        |q AS (SELECT doc_id, lang, len(w) AS n_tokens,
        |    least(1.0, len(w) / 100.0) * 0.5 +
        |    CAST(len(list_filter(w, t -> t IN
        |      ('the','a','of','and','to','in','is','data'))) AS DOUBLE) / len(w) * 0.5
        |      AS quality
        |  FROM (SELECT doc_id, lang, string_split(text, ' ') AS w FROM nd) t)
        |SELECT doc_id, lang, n_tokens, quality FROM q WHERE quality >= 0.25""".stripMargin,

    "q_line_dedup" ->
      """WITH planted AS (SELECT doc_id,
        |    'subscribe to graft updates' || chr(10) || text || chr(10) ||
        |    'copyright ' || source AS t
        |  FROM documents),
        |ls AS (SELECT doc_id, string_split(t, chr(10)) AS l FROM planted),
        |lines AS (SELECT doc_id, unnest(range(1, len(l) + 1)) AS pos,
        |    unnest(l) AS line FROM ls),
        |hot AS (SELECT line FROM (
        |    SELECT line, COUNT(DISTINCT doc_id) AS nd FROM lines GROUP BY line) t
        |  WHERE nd > 50),
        |kept AS (SELECT * FROM lines WHERE line NOT IN (SELECT line FROM hot)),
        |agg AS (SELECT doc_id,
        |    string_agg(line, chr(10) ORDER BY pos) AS clean_text,
        |    COUNT(*) AS n_kept
        |  FROM kept GROUP BY doc_id)
        |SELECT a.doc_id, a.clean_text, a.n_kept,
        |  len(string_split(p.t, chr(10))) - a.n_kept AS n_dropped
        |FROM agg a JOIN planted p ON a.doc_id = p.doc_id""".stripMargin,

    "q_kmv_distinct" ->
      """WITH h AS (SELECT DISTINCT CAST('0x' ||
        |    substr(md5('kmv|' || CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) AS hv
        |  FROM events),
        |b AS (SELECT hv FROM h ORDER BY hv LIMIT 64),
        |s AS (SELECT COUNT(*) AS m, max(hv) AS kth FROM b),
        |x AS (SELECT COUNT(*) AS n_exact FROM h)
        |SELECT CAST(64 AS BIGINT) AS k,
        |  CASE WHEN s.m < 64 THEN CAST(s.m AS DOUBLE)
        |       ELSE (63.0 * power(2.0, 60)) / CAST(s.kth AS DOUBLE) END
        |    AS est_distinct,
        |  x.n_exact AS n_exact
        |FROM s, x""".stripMargin,

    "q_multimodal_meta" ->
      """SELECT doc_id, octet_length(encode(text)) AS n_bytes,
        |  CASE WHEN octet_length(encode(text)) > 0
        |       THEN CAST('0x' || substr(hex(encode(text)), 1, 2) AS BIGINT)
        |       ELSE -1 END AS first_byte,
        |  CAST(COALESCE(list_sum(list_transform(
        |    range(1, octet_length(encode(text)) + 1),
        |    i -> i * CAST('0x' || substr(hex(encode(text)), i * 2 - 1, 2) AS BIGINT))), 0)
        |    % 1000003 AS BIGINT) AS checksum
        |FROM documents""".stripMargin,

    "q_simhash_pairs" ->
      s"""WITH $nearCorpus,
         |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
         |  FROM corpus),
         |h AS (SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 4) AS BIGINT) AS h
         |  FROM toks),
         |votes AS (SELECT doc_id, bb.b, SUM(((h >> bb.b) & 1) * 2 - 1) AS s
         |  FROM h CROSS JOIN (SELECT unnest(range(16)) AS b) bb
         |  GROUP BY doc_id, bb.b),
         |fp AS (SELECT doc_id,
         |    CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)
         |      AS BIGINT) AS simhash
         |  FROM votes GROUP BY doc_id),
         |bands AS (SELECT doc_id, simhash, kk.k AS band,
         |    (simhash >> (kk.k * 8)) & 255 AS nib
         |  FROM fp CROSS JOIN (SELECT unnest(range(2)) AS k) kk),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    a.simhash AS sa, b.simhash AS sb
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.nib = b.nib AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b,
         |  CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
         |FROM cand WHERE bit_count(xor(sa, sb)) <= 1""".stripMargin,

    "q_oversize_audit" ->
      """WITH corpus AS (SELECT doc_id, text, lang FROM documents
        |  UNION ALL SELECT doc_id + 400000,
        |    'hotblock shared prefix marker ' || text, 'xx'
        |  FROM documents WHERE doc_id % 3 = 0),
        |blocked AS (SELECT lang, substr(text, 1, 16) AS blk FROM corpus)
        |SELECT lang, blk, CAST(COUNT(*) AS BIGINT) AS block_size
        |FROM blocked GROUP BY lang, blk HAVING COUNT(*) > 64
        |ORDER BY lang, blk""".stripMargin,

    // 64-bit banded pairs: band values from the same two-half hash
    // derivation as q_simhash64; hamming = sum of per-band
    // bit_count(xor), identical to bit_count over the full 64 bits.
    "q_simhash64_pairs" ->
      s"""WITH $nearCorpus,
         |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
         |  FROM corpus),
         |h AS (SELECT doc_id,
         |    CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) AS hhi,
         |    CAST('0x' || substr(md5(tok), 9, 8) AS BIGINT) AS hlo
         |  FROM toks),
         |votes AS (SELECT doc_id, bb.b,
         |    SUM(((CASE WHEN bb.b < 32 THEN (hlo >> bb.b)
         |           ELSE (hhi >> (bb.b - 32)) END) & 1) * 2 - 1) AS s
         |  FROM h CROSS JOIN (SELECT unnest(range(64)) AS b) bb
         |  GROUP BY doc_id, bb.b),
         |fp AS (SELECT doc_id,
         |    CAST(SUM(CASE WHEN s > 0 AND b < 16
         |      THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS b0,
         |    CAST(SUM(CASE WHEN s > 0 AND b >= 16 AND b < 32
         |      THEN (CAST(1 AS BIGINT) << (b - 16)) ELSE 0 END) AS BIGINT) AS b1,
         |    CAST(SUM(CASE WHEN s > 0 AND b >= 32 AND b < 48
         |      THEN (CAST(1 AS BIGINT) << (b - 32)) ELSE 0 END) AS BIGINT) AS b2,
         |    CAST(SUM(CASE WHEN s > 0 AND b >= 48
         |      THEN (CAST(1 AS BIGINT) << (b - 48)) ELSE 0 END) AS BIGINT) AS b3
         |  FROM votes GROUP BY doc_id),
         |bands AS (SELECT doc_id, b0, b1, b2, b3, kk.k AS band,
         |    CASE kk.k WHEN 0 THEN b0 WHEN 1 THEN b1
         |      WHEN 2 THEN b2 ELSE b3 END AS bkey
         |  FROM fp CROSS JOIN (SELECT unnest(range(4)) AS k) kk),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    a.b0 AS a0, a.b1 AS a1, a.b2 AS a2, a.b3 AS a3,
         |    b.b0 AS c0, b.b1 AS c1, b.b2 AS c2, b.b3 AS c3
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b,
         |  CAST(bit_count(xor(a0, c0)) + bit_count(xor(a1, c1))
         |     + bit_count(xor(a2, c2)) + bit_count(xor(a3, c3)) AS BIGINT) AS hamming
         |FROM cand
         |WHERE bit_count(xor(a0, c0)) + bit_count(xor(a1, c1))
         |    + bit_count(xor(a2, c2)) + bit_count(xor(a3, c3)) <= 3""".stripMargin,

    "q_edit_distance" ->
      """WITH corpus AS (SELECT doc_id, text, lang FROM documents
        |  UNION ALL SELECT doc_id + 300000, text || ' graft edit suffix', lang
        |  FROM documents WHERE doc_id % 13 = 0),
        |d0 AS (SELECT doc_id, text,
        |  lang || '|' || substr(text, 1, 8) AS blk FROM corpus),
        |-- mirror Dedup.editDistancePairs's hot-block cap (64): blocks
        |-- over the cap drop from pairing on BOTH sides
        |d AS (SELECT * FROM d0 WHERE blk IN
        |  (SELECT blk FROM d0 GROUP BY blk HAVING COUNT(*) <= 64))
        |SELECT doc_a, doc_b, dist FROM (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    levenshtein(substr(a.text, 1, 120), substr(b.text, 1, 120)) AS dist
        |  FROM d a JOIN d b ON a.blk = b.blk AND a.doc_id < b.doc_id) p
        |WHERE dist <= 25""".stripMargin,

    "q_media_sniff" ->
      """WITH p AS (SELECT doc_id,
        |  CASE WHEN doc_id % 4 = 0 THEN from_hex('89504E47') || encode(text)
        |       WHEN doc_id % 4 = 1 THEN from_hex('FFD8FFE0') || encode(text)
        |       WHEN doc_id % 4 = 2 THEN from_hex('52494646') || encode(text)
        |       ELSE encode(text) END AS payload FROM documents)
        |SELECT CASE
        |    WHEN substr(hex(payload), 1, 8) LIKE '89504E47%' THEN 'image/png'
        |    WHEN substr(hex(payload), 1, 6) = 'FFD8FF' THEN 'image/jpeg'
        |    WHEN substr(hex(payload), 1, 8) = '47494638' THEN 'image/gif'
        |    WHEN substr(hex(payload), 1, 8) = '52494646' THEN 'audio/wav'
        |    ELSE 'unknown' END AS kind,
        |  COUNT(*) AS n
        |FROM p GROUP BY kind ORDER BY kind""".stripMargin,

    "q_kmv_set_algebra" ->
      """WITH hv AS (SELECT event_type, CAST('0x' ||
        |    substr(md5('kmv|' || CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) AS hv
        |  FROM events WHERE event_type IN ('view', 'purchase')),
        |va AS (SELECT DISTINCT hv FROM hv WHERE event_type = 'view'),
        |pa AS (SELECT DISTINCT hv FROM hv WHERE event_type = 'purchase'),
        |ua AS (SELECT DISTINCT hv FROM hv),
        |vs AS (SELECT COUNT(*) AS m, max(hv) AS kth
        |       FROM (SELECT hv FROM va ORDER BY hv LIMIT 64)),
        |ps AS (SELECT COUNT(*) AS m, max(hv) AS kth
        |       FROM (SELECT hv FROM pa ORDER BY hv LIMIT 64)),
        |us AS (SELECT COUNT(*) AS m, max(hv) AS kth
        |       FROM (SELECT hv FROM ua ORDER BY hv LIMIT 64)),
        |est AS (SELECT
        |  CASE WHEN vs.m < 64 THEN CAST(vs.m AS DOUBLE)
        |       ELSE (63.0 * power(2.0, 60)) / CAST(vs.kth AS DOUBLE) END AS est_view,
        |  CASE WHEN ps.m < 64 THEN CAST(ps.m AS DOUBLE)
        |       ELSE (63.0 * power(2.0, 60)) / CAST(ps.kth AS DOUBLE) END AS est_purchase,
        |  CASE WHEN us.m < 64 THEN CAST(us.m AS DOUBLE)
        |       ELSE (63.0 * power(2.0, 60)) / CAST(us.kth AS DOUBLE) END AS est_union,
        |  (SELECT COUNT(*) FROM va) AS n_view,
        |  (SELECT COUNT(*) FROM pa) AS n_purchase,
        |  (SELECT COUNT(*) FROM ua) AS n_union
        |  FROM vs, ps, us)
        |SELECT est_view, est_purchase, est_union,
        |  est_view + est_purchase - est_union AS est_intersect,
        |  CAST(n_view AS BIGINT) AS n_view,
        |  CAST(n_purchase AS BIGINT) AS n_purchase,
        |  CAST(n_union AS BIGINT) AS n_union,
        |  CAST(n_view + n_purchase - n_union AS BIGINT) AS n_intersect
        |FROM est""".stripMargin,

    "q_multimodal_frames" ->
      """SELECT doc_id,
        |  CASE WHEN octet_length(encode(text)) > 0
        |       THEN len(range(1, octet_length(encode(text)) + 1, 16))
        |       ELSE 0 END AS n_frames,
        |  CASE WHEN octet_length(encode(text)) > 0
        |       THEN CAST(COALESCE(list_sum(list_transform(
        |              range(1, octet_length(encode(text)) + 1, 16),
        |              i -> CAST('0x' || substr(hex(encode(text)), i * 2 - 1, 2)
        |                   AS BIGINT))), 0) % 1000003 AS BIGINT)
        |       ELSE 0 END AS frame_checksum
        |FROM documents""".stripMargin,

    "q_cms_frequency" ->
      """WITH i AS (SELECT unnest(range(4)) AS row),
        |sk AS (SELECT row,
        |    CAST('0x' || substr(md5('cms' || row || '|'
        |      || CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) % 256 AS bucket,
        |    CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM events, i GROUP BY 1, 2),
        |p AS (SELECT DISTINCT user_id FROM events WHERE user_id % 29 = 0),
        |pb AS (SELECT p.user_id, i.row,
        |    CAST('0x' || substr(md5('cms' || i.row || '|'
        |      || CAST(p.user_id AS VARCHAR)), 1, 15) AS BIGINT) % 256 AS bucket
        |  FROM p, i),
        |est AS (SELECT pb.user_id, MIN(COALESCE(sk.cnt, 0)) AS est_count
        |  FROM pb LEFT JOIN sk ON sk.row = pb.row AND sk.bucket = pb.bucket
        |  GROUP BY pb.user_id),
        |ex AS (SELECT user_id, COUNT(*) AS n_exact FROM events
        |  WHERE user_id % 29 = 0 GROUP BY user_id)
        |SELECT est.user_id, est.est_count, ex.n_exact
        |FROM est JOIN ex ON est.user_id = ex.user_id
        |ORDER BY est.user_id""".stripMargin,

    // bottom-k hash sample: the 256 rows with the smallest row-identity
    // hashes (ties by value) are a partitioning-independent uniform
    // sample; quantile_cont matches Spark's percentile interpolation
    "q_quantile_sketch" ->
      """WITH s AS (SELECT CAST(value AS DOUBLE) AS v,
        |    CAST('0x' || substr(md5('qsk|' || CAST(event_id AS VARCHAR)), 1, 15)
        |      AS BIGINT) AS h
        |  FROM events),
        |b AS (SELECT v FROM s ORDER BY h ASC, v ASC LIMIT 256)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_sample,
        |  quantile_cont(v, 0.1) AS q10, quantile_cont(v, 0.25) AS q25,
        |  quantile_cont(v, 0.5) AS q50, quantile_cont(v, 0.75) AS q75,
        |  quantile_cont(v, 0.9) AS q90,
        |  (SELECT quantile_cont(CAST(value AS DOUBLE), 0.5) FROM events)
        |    AS exact_q50
        |FROM b""".stripMargin,

    // top-64 corpus vocabulary (count desc, token asc — deterministic
    // through ties), then per-doc covered-occurrence fraction
    "q_vocab_coverage" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |v AS (SELECT tok FROM (
        |  SELECT tok, COUNT(*) AS n FROM toks GROUP BY tok
        |  ORDER BY n DESC, tok ASC LIMIT 64))
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |  CAST(SUM(CASE WHEN tok IN (SELECT tok FROM v) THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_covered,
        |  CAST(SUM(CASE WHEN tok IN (SELECT tok FROM v) THEN 1 ELSE 0 END)
        |    AS DOUBLE) / COUNT(*) AS coverage
        |FROM toks GROUP BY doc_id""".stripMargin,

    // the q_dedup_clusters CTE chain (same planted cliques, same LSH
    // + recursive-CTE components), extended with a per-cluster argmax:
    // highest token count wins, ties to the smallest doc_id —
    // mirroring clusterRepresentatives' max(struct(q, -id))
    "q_cluster_reps" ->
      """WITH RECURSIVE corpus AS (SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 200000, text || ' graftmarker end'
        |    FROM documents WHERE doc_id % 11 = 0
        |  UNION ALL SELECT doc_id + 300000, text || ' graftmarker two'
        |    FROM documents WHERE doc_id % 11 = 0),
        |toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM corpus),
        |sh AS (SELECT DISTINCT doc_id, shingle FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, len(w) - 1),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
        |  FROM toks WHERE len(w) >= 3) t),
        |mh AS (SELECT doc_id, sd.seed,
        |    min(md5(sd.seed::VARCHAR || '|' || shingle)) AS h
        |  FROM sh CROSS JOIN (SELECT unnest(range(8)) AS seed) sd
        |  GROUP BY doc_id, sd.seed),
        |bands AS (SELECT doc_id, seed // 2 AS band,
        |    min(CASE WHEN seed % 2 = 0 THEN h END)
        |      || min(CASE WHEN seed % 2 = 1 THEN h END) AS bkey
        |  FROM mh GROUP BY doc_id, seed // 2),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
        |inter AS (SELECT c.doc_a, c.doc_b, COUNT(*) AS i
        |  FROM cand c
        |  JOIN sh sa ON sa.doc_id = c.doc_a
        |  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
        |  GROUP BY c.doc_a, c.doc_b),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |pairs AS (SELECT i.doc_a, i.doc_b FROM inter i
        |  JOIN sizes na ON na.doc_id = i.doc_a
        |  JOIN sizes nb ON nb.doc_id = i.doc_b
        |  WHERE CAST(i.i AS DOUBLE) / (na.n + nb.n - i.i) >= 0.5),
        |edges AS (SELECT doc_a AS s, doc_b AS d FROM pairs
        |  UNION SELECT doc_b, doc_a FROM pairs),
        |reach(id, r) AS (
        |  SELECT s, s FROM edges
        |  UNION
        |  SELECT e.s, r.r FROM edges e JOIN reach r ON e.d = r.id),
        |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
        |ntok AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM corpus),
        |scored AS (SELECT c.component, c.id, t.n_tokens,
        |    row_number() OVER (PARTITION BY c.component
        |      ORDER BY t.n_tokens DESC, c.id ASC) AS rn,
        |    COUNT(*) OVER (PARTITION BY c.component) AS cluster_size
        |  FROM comp c JOIN ntok t ON t.doc_id = c.id)
        |SELECT component AS cluster_id, id AS rep_id,
        |  n_tokens AS rep_quality, CAST(cluster_size AS BIGINT) AS cluster_size
        |FROM scored WHERE rn = 1""".stripMargin,

    // lift = n_ab * Nu * Nu / Nb / n_a / n_b as one left-to-right
    // double chain — the same IEEE op order pmiCollocations emits, so
    // scores are bit-equal; k-boundary ties break by (w1, w2) asc
    "q_pmi_colloc" ->
      """WITH toks AS (SELECT string_split(text, ' ') AS w FROM documents),
        |u AS (SELECT tok, COUNT(*) AS n FROM (
        |  SELECT unnest(w) AS tok FROM toks) GROUP BY tok),
        |nu AS (SELECT SUM(n) AS nu FROM u),
        |big AS (SELECT unnest(list_transform(range(1, len(w)),
        |    i -> struct_pack(w1 := w[i], w2 := w[i+1]))) AS p
        |  FROM toks WHERE len(w) >= 2),
        |bg AS (SELECT p.w1 AS w1, p.w2 AS w2, COUNT(*) AS n_ab
        |  FROM big GROUP BY 1, 2),
        |nb AS (SELECT SUM(n_ab) AS nb FROM bg)
        |SELECT bg.w1, bg.w2, bg.n_ab,
        |  CAST(bg.n_ab AS DOUBLE) * CAST(nu.nu AS DOUBLE)
        |    * CAST(nu.nu AS DOUBLE) / CAST(nb.nb AS DOUBLE)
        |    / CAST(ua.n AS DOUBLE) / CAST(ub.n AS DOUBLE) AS lift
        |FROM bg JOIN u ua ON ua.tok = bg.w1
        |  JOIN u ub ON ub.tok = bg.w2, nu, nb
        |WHERE bg.n_ab >= 5
        |ORDER BY lift DESC, bg.w1, bg.w2 LIMIT 100""".stripMargin,

    // duplicated = 5-gram in >= 2 distinct docs; runs via
    // gaps-and-islands (pos - row_number constant within a run),
    // mirroring dupNgramSpans' window. The gram collapses to the same
    // 60-bit md5 key the engine uses, so a collision is consistent
    // across engines
    "q_dup_ngram_spans" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w
        |  FROM documents),
        |p AS (SELECT doc_id, g.pos AS pos,
        |  CAST('0x' || substr(md5(g.gram), 1, 15) AS BIGINT) AS gh FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, len(w) - 3),
        |    i -> struct_pack(pos := CAST(i AS BIGINT),
        |      gram := w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' '
        |        || w[i+3] || ' ' || w[i+4]))) AS g
        |  FROM toks WHERE len(w) >= 5) t),
        |dg AS (SELECT gh FROM (
        |  SELECT gh, COUNT(DISTINCT doc_id) AS df FROM p GROUP BY gh)
        |  WHERE df >= 2),
        |f AS (SELECT p.doc_id, p.pos, (dg.gh IS NOT NULL) AS isdup
        |  FROM p LEFT JOIN dg ON dg.gh = p.gh),
        |stats AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
        |    CAST(SUM(CASE WHEN isdup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
        |  FROM f GROUP BY doc_id),
        |runs AS (SELECT doc_id, MAX(cnt) AS maxrun FROM (
        |  SELECT doc_id, grp, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
        |    SELECT doc_id, pos,
        |      pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
        |        AS grp
        |    FROM f WHERE isdup) GROUP BY doc_id, grp) GROUP BY doc_id)
        |SELECT s.doc_id, s.n_grams, s.n_dup,
        |  CAST(s.n_dup AS DOUBLE) / CAST(s.n_grams AS DOUBLE) AS dup_frac,
        |  COALESCE(r.maxrun, 0) AS max_dup_run
        |FROM stats s LEFT JOIN runs r ON r.doc_id = s.doc_id""".stripMargin,

    // TV(s) = (present + (N - seen)·N_s) / 2 / N_s / N with an
    // integer numerator (order-independent sum) and the same
    // left-to-right double chain sourceDivergence emits
    "q_source_divergence" ->
      """WITH st AS (SELECT source, tok, COUNT(*) AS n_st FROM (
        |  SELECT source, unnest(string_split(text, ' ')) AS tok
        |  FROM documents) t GROUP BY source, tok),
        |tot AS (SELECT tok, SUM(n_st) AS n_t FROM st GROUP BY tok),
        |ns AS (SELECT source, SUM(n_st) AS n_s FROM st GROUP BY source),
        |na AS (SELECT SUM(n_t) AS n_all FROM tot)
        |SELECT a.source, CAST(a.n_s AS BIGINT) AS n_tokens,
        |  CAST(a.present + (a.n_all - a.seen) * a.n_s AS DOUBLE) / 2.0
        |    / CAST(a.n_s AS DOUBLE) / CAST(a.n_all AS DOUBLE) AS tv
        |FROM (SELECT st.source, ns.n_s, na.n_all,
        |    SUM(ABS(st.n_st * na.n_all - tot.n_t * ns.n_s)) AS present,
        |    SUM(tot.n_t) AS seen
        |  FROM st JOIN tot ON tot.tok = st.tok
        |    JOIN ns ON ns.source = st.source, na
        |  GROUP BY st.source, ns.n_s, na.n_all) a""".stripMargin,

    // 64-token windows, 8-token overlap, stride 56; range's exclusive
    // stop is greatest(1, len-overlap)+1 so starts match Spark's
    // inclusive sequence bound; list_slice clamps at the doc end like
    // Spark's slice
    "q_doc_chunks" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w
        |  FROM documents),
        |s AS (SELECT doc_id, w,
        |  unnest(range(1, greatest(1, len(w) - 8) + 1, 56)) AS start_tok
        |  FROM toks)
        |SELECT doc_id,
        |  CAST((start_tok - 1) // 56 AS BIGINT) AS chunk_id,
        |  CAST(start_tok AS BIGINT) AS start_tok,
        |  CAST(len(list_slice(w, start_tok, start_tok + 63)) AS BIGINT)
        |    AS n_tokens,
        |  array_to_string(list_slice(w, start_tok, start_tok + 63), ' ')
        |    AS chunk_text
        |FROM s""".stripMargin,

    // same minhash/band CTEs as q_dedup_minhash_lsh plus the
    // component-agreement count: n_match/inter/n_union are integers,
    // the two ratios are single exact-int divisions (bit-equal)
    "q_minhash_acc" ->
      s"""WITH $nearCorpus,
         |toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM corpus),
         |sh AS (SELECT DISTINCT doc_id, shingle FROM (
         |  SELECT doc_id, unnest(list_transform(range(1, len(w) - 1),
         |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
         |  FROM toks WHERE len(w) >= 3) t),
         |mh AS (SELECT doc_id, sd.seed,
         |    min(md5(sd.seed::VARCHAR || '|' || shingle)) AS h
         |  FROM sh CROSS JOIN (SELECT unnest(range(8)) AS seed) sd
         |  GROUP BY doc_id, sd.seed),
         |bands AS (SELECT doc_id, seed // 2 AS band,
         |    min(CASE WHEN seed % 2 = 0 THEN h END)
         |      || min(CASE WHEN seed % 2 = 1 THEN h END) AS bkey
         |  FROM mh GROUP BY doc_id, seed // 2),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |mt AS (SELECT c.doc_a, c.doc_b,
         |    CAST(SUM(CASE WHEN ma.h = mb.h THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_match
         |  FROM cand c JOIN mh ma ON ma.doc_id = c.doc_a
         |    JOIN mh mb ON mb.doc_id = c.doc_b AND mb.seed = ma.seed
         |  GROUP BY c.doc_a, c.doc_b),
         |inter AS (SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS i
         |  FROM cand c JOIN sh sa ON sa.doc_id = c.doc_a
         |  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
         |  GROUP BY c.doc_a, c.doc_b),
         |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id)
         |SELECT m.doc_a, m.doc_b, m.n_match, i.i AS inter,
         |  CAST(na.n + nb.n - i.i AS BIGINT) AS n_union,
         |  CAST(m.n_match AS DOUBLE) / 8 AS est_jaccard,
         |  CAST(i.i AS DOUBLE) / (na.n + nb.n - i.i) AS jaccard
         |FROM mt m JOIN inter i ON i.doc_a = m.doc_a AND i.doc_b = m.doc_b
         |JOIN sizes na ON na.doc_id = m.doc_a
         |JOIN sizes nb ON nb.doc_id = m.doc_b""".stripMargin,

    // batch = near-clones of every 13th doc (+600000) and
    // token-REVERSED copies of every 19th (+700000, shares vocabulary
    // but no 3-shingles — must produce NO pairs); candidates are
    // incoming×index band collisions only, mirroring the operator's
    // never-self-pair-the-corpus shape
    // the persisted-store route must equal the DIRECT MinHash chain
    // over index = documents UNION the appended batch A; the store
    // (parquet round-trip, broadcast probes) never appears here
    "q_incr_stored" -> incrStoredSql,
    // the compaction gate replays the SAME oracle: compaction is
    // physical only (the append's accreted band/set files fold into
    // the base layout), so the store's probe answers must be
    // bit-identical through it
    "q_sig_compact" -> incrStoredSql,
    // streaming fold: the probe must see base ∪ BOTH streamed waves
    "q_stream_sig_ingest" -> streamSigIngestSql,
    // the GENERATIONAL gate replays the same oracle again: the chain,
    // the online compaction, and the keep-window vacuum must all be
    // invisible in a reader planned before the cycle started
    "q_sig_gen" -> incrStoredSql,
    // the store-level snapshot layer is opt-in plumbing over the
    // same logical stores: all three lifecycle gates answer their
    // non-snapshot siblings' oracles verbatim
    "q_sig_snapshot" -> incrStoredSql,
    "q_incr_dedup" ->
      """WITH inc AS (
        |  SELECT doc_id + 600000 AS doc_id, text || ' graftincr end' AS text
        |  FROM documents WHERE doc_id % 13 = 0
        |  UNION ALL SELECT doc_id + 700000,
        |    array_to_string(list_reverse(string_split(text, ' ')), ' ')
        |  FROM documents WHERE doc_id % 19 = 0),
        |ti AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |tn AS (SELECT doc_id, string_split(text, ' ') AS w FROM inc),
        |shi AS (SELECT DISTINCT doc_id, shingle FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, len(w) - 1),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
        |  FROM ti WHERE len(w) >= 3) t),
        |shn AS (SELECT DISTINCT doc_id, shingle FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, len(w) - 1),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
        |  FROM tn WHERE len(w) >= 3) t),
        |mhi AS (SELECT doc_id, sd.seed,
        |    min(md5(sd.seed::VARCHAR || '|' || shingle)) AS h
        |  FROM shi CROSS JOIN (SELECT unnest(range(8)) AS seed) sd
        |  GROUP BY doc_id, sd.seed),
        |mhn AS (SELECT doc_id, sd.seed,
        |    min(md5(sd.seed::VARCHAR || '|' || shingle)) AS h
        |  FROM shn CROSS JOIN (SELECT unnest(range(8)) AS seed) sd
        |  GROUP BY doc_id, sd.seed),
        |bi AS (SELECT doc_id, seed // 2 AS band,
        |    min(CASE WHEN seed % 2 = 0 THEN h END)
        |      || min(CASE WHEN seed % 2 = 1 THEN h END) AS bkey
        |  FROM mhi GROUP BY doc_id, seed // 2),
        |bn AS (SELECT doc_id, seed // 2 AS band,
        |    min(CASE WHEN seed % 2 = 0 THEN h END)
        |      || min(CASE WHEN seed % 2 = 1 THEN h END) AS bkey
        |  FROM mhn GROUP BY doc_id, seed // 2),
        |cand AS (SELECT DISTINCT n.doc_id AS new_id, i.doc_id AS index_id
        |  FROM bn n JOIN bi i ON i.band = n.band AND i.bkey = n.bkey),
        |inter AS (SELECT c.new_id, c.index_id, CAST(COUNT(*) AS BIGINT) AS i
        |  FROM cand c JOIN shn sn ON sn.doc_id = c.new_id
        |  JOIN shi si ON si.doc_id = c.index_id AND si.shingle = sn.shingle
        |  GROUP BY c.new_id, c.index_id),
        |szn AS (SELECT doc_id, COUNT(*) AS n FROM shn GROUP BY doc_id),
        |szi AS (SELECT doc_id, COUNT(*) AS n FROM shi GROUP BY doc_id)
        |SELECT i.new_id, i.index_id,
        |  CAST(i.i AS DOUBLE) / (sn.n + si.n - i.i) AS jaccard
        |FROM inter i JOIN szn sn ON sn.doc_id = i.new_id
        |JOIN szi si ON si.doc_id = i.index_id
        |WHERE CAST(i.i AS DOUBLE) / (sn.n + si.n - i.i) >= 0.5""".stripMargin,

    // cluster-aware split: the q_dedup_minhash_lsh pair chain over
    // the near corpus -> recursive CC -> split hash over the CLUSTER
    // label (singletons label themselves), same 9800/9900 thresholds
    // as q_split_assign
    "q_leakage_split" ->
      s"""WITH RECURSIVE $nearCorpus,
         |toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM corpus),
         |sh AS (SELECT DISTINCT doc_id, shingle FROM (
         |  SELECT doc_id, unnest(list_transform(range(1, len(w) - 1),
         |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
         |  FROM toks WHERE len(w) >= 3) t),
         |mh AS (SELECT doc_id, sd.seed,
         |    min(md5(sd.seed::VARCHAR || '|' || shingle)) AS h
         |  FROM sh CROSS JOIN (SELECT unnest(range(8)) AS seed) sd
         |  GROUP BY doc_id, sd.seed),
         |bands AS (SELECT doc_id, seed // 2 AS band,
         |    min(CASE WHEN seed % 2 = 0 THEN h END)
         |      || min(CASE WHEN seed % 2 = 1 THEN h END) AS bkey
         |  FROM mh GROUP BY doc_id, seed // 2),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |inter AS (SELECT c.doc_a, c.doc_b, COUNT(*) AS i
         |  FROM cand c
         |  JOIN sh sa ON sa.doc_id = c.doc_a
         |  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
         |  GROUP BY c.doc_a, c.doc_b),
         |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
         |pairs AS (SELECT i.doc_a, i.doc_b FROM inter i
         |  JOIN sizes na ON na.doc_id = i.doc_a
         |  JOIN sizes nb ON nb.doc_id = i.doc_b
         |  WHERE CAST(i.i AS DOUBLE) / (na.n + nb.n - i.i) >= 0.5),
         |edges AS (SELECT doc_a AS s, doc_b AS d FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs),
         |reach(id, r) AS (
         |  SELECT s, s FROM edges
         |  UNION
         |  SELECT e.s, r.r FROM edges e JOIN reach r ON e.d = r.id),
         |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
         |lab AS (SELECT c.doc_id,
         |    COALESCE(p.component, c.doc_id) AS component
         |  FROM corpus c LEFT JOIN comp p ON p.id = c.doc_id)
         |SELECT doc_id, component,
         |  CAST('0x' || substr(md5('split|' || CAST(component AS VARCHAR)), 1, 15)
         |    AS BIGINT) % 10000 AS bucket,
         |  CASE WHEN CAST('0x' || substr(md5('split|' || CAST(component AS VARCHAR)), 1, 15)
         |         AS BIGINT) % 10000 < 9800 THEN 'train'
         |       WHEN CAST('0x' || substr(md5('split|' || CAST(component AS VARCHAR)), 1, 15)
         |         AS BIGINT) % 10000 < 9900 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM lab""".stripMargin,

    // chunk (64/8, stride 56) -> join source -> first-fit pack into
    // 256-token budgets per source, ordered by chunk_uid — the same
    // window form as q_seq_packing over the q_doc_chunks derivation
    "q_chunk_pack" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w
        |  FROM documents),
        |s AS (SELECT doc_id, w,
        |  unnest(range(1, greatest(1, len(w) - 8) + 1, 56)) AS start_tok
        |  FROM toks),
        |ch AS (SELECT doc_id,
        |    doc_id * 1024 + (start_tok - 1) // 56 AS chunk_uid,
        |    CAST(len(list_slice(w, start_tok, start_tok + 63)) AS BIGINT)
        |      AS n_tokens
        |  FROM s),
        |j AS (SELECT ch.chunk_uid, d.source, ch.n_tokens
        |  FROM ch JOIN documents d ON d.doc_id = ch.doc_id),
        |c AS (SELECT chunk_uid, source, n_tokens,
        |    COALESCE(SUM(n_tokens) OVER (PARTITION BY source
        |      ORDER BY chunk_uid ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND 1 PRECEDING), 0) AS cum_before
        |  FROM j)
        |SELECT chunk_uid, source, n_tokens,
        |  CAST(cum_before // 256 AS BIGINT) AS pack_id,
        |  CAST(row_number() OVER (PARTITION BY source, cum_before // 256
        |    ORDER BY chunk_uid) AS BIGINT) AS pack_pos
        |FROM c""".stripMargin,

    // p=12: m=4096 registers, cap=61-12=49, 2^49=562949953421312,
    // m^2=16777216 — mirrors Sketches.hllDistinct's default precision
    "q_hll_distinct" ->
      """WITH h AS (SELECT CAST('0x' ||
        |    substr(md5('hll|' || CAST(l_partkey AS VARCHAR)), 1, 15) AS BIGINT) AS hv
        |  FROM lineitem),
        |r AS (SELECT hv % 4096 AS bucket, hv,
        |    CASE WHEN hv // 4096 = 0 THEN 49
        |         ELSE CAST(log2(CAST((hv // 4096) & -(hv // 4096) AS DOUBLE)) AS INT) + 1
        |    END AS rho
        |  FROM h),
        |mx AS (SELECT bucket, MAX(rho) AS r, COUNT(DISTINCT hv) AS nd
        |  FROM r GROUP BY bucket)
        |SELECT (0.7213 / (1.0 + 1.079 / 4096.0)) * 16777216.0 * 562949953421312.0
        |    / CAST(CAST(SUM(1::BIGINT << (49 - r)) AS BIGINT)
        |           + (4096 - COUNT(*)) * 562949953421312 AS DOUBLE) AS est_distinct,
        |  CAST(SUM(nd) AS BIGINT) AS n_exact
        |FROM mx""".stripMargin,

    "q_bm25_topk" -> bm25TopkSql,
    // the persisted-index gate replays the SAME oracle: build ∪
    // append is exactly q_bm25_topk's corpus, and the store must be
    // invisible in the answer (same policy as q_ann_stored)
    "q_bm25_stored" -> bm25TopkSql,
    "q_bm25_snapshot" -> bm25TopkSql,
    // the streaming-ingest face lands the same logical corpus
    // (build subset + streamed rest), so the same direct chain is
    // its truth — stream and chains invisible
    "q_stream_bm25_ingest" -> bm25TopkSql,

    // the statically-PRUNED index: the pruning window (top-3 impact
    // postings per token — tf desc, dl asc, doc_id asc) replayed over
    // the full posting table, scored with TRUE df (idf untouched by
    // pruning) — the same integer chain otherwise
    "q_bm25_capped" -> bm25CappedSql,
    // REBUILD restores the pruning invariant: the capped store with
    // an appended-unpruned history, rebuilt with the same cap over
    // the full corpus, must equal the one-shot capped build — the
    // oracle is q_bm25_capped's verbatim
    "q_bm25_recap" -> bm25CappedSql,

    // the pruned store's full lifecycle: the pruning window replays
    // over the BUILD subset only (doc_id % 7 <> 0 — appended postings
    // are not re-truncated, the store's snapshot-until-rebuild
    // contract), the appended docs' postings union in whole, and
    // scoring uses TRUE df over the union — exactly the sums the
    // compaction fold must preserve (df deltas → one row per token,
    // stats deltas → one totals row)
    "q_bm25_compact" ->
      s"""WITH $bm25Ctes,
         |prunedA AS (SELECT tok, doc_id, tf, dl FROM (
         |  SELECT *, row_number() OVER (PARTITION BY tok
         |    ORDER BY tf DESC, dl ASC, doc_id ASC) AS pr
         |  FROM post WHERE doc_id % 7 <> 0) t
         |  WHERE pr <= 3),
         |keep AS (SELECT tok, doc_id, tf, dl FROM prunedA
         |  UNION ALL
         |  SELECT tok, doc_id, tf, dl FROM post WHERE doc_id % 7 = 0),
         |cptscored AS (SELECT bq.query_id, p.doc_id,
         |    CAST(SUM(GREATEST(0, length(bin(2 * (btot.n - d.df) + 1))
         |                       - length(bin(2 * d.df + 1)))
         |      * ((20480 * btot.t * p.tf)
         |         // (8 * btot.t * p.tf + 3 * btot.t + 9 * p.dl * btot.n))
         |    ) AS BIGINT) AS score_q
         |  FROM bq JOIN keep p ON p.tok = bq.tok
         |  JOIN dfreq d ON d.tok = bq.tok, btot
         |  GROUP BY bq.query_id, p.doc_id)
         |SELECT query_id, doc_id, rank, score_q FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY score_q DESC, doc_id ASC) AS rank
         |  FROM cptscored) r
         |WHERE rank <= 5""".stripMargin,

    // hybrid RRF: dense exact-cosine top-20 (vec_id<20 queries, same
    // 64-dim sequential list_sum reduction as q_cosine_topk) fused
    // with the BM25 top-20 via 1000000 // (60 + rank) contributions —
    // the engine's fixed-point 1/(60+r), summed per candidate
    "q_rrf_fusion" ->
      s"""WITH $bm25Ctes,
         |e AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |dsc AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    list_sum(list_transform(range(1, 65), i -> q.v[i] * c.v[i]))
         |      / (sqrt(list_sum(list_transform(range(1, 65), i -> q.v[i] * q.v[i])))
         |       * sqrt(list_sum(list_transform(range(1, 65), i -> c.v[i] * c.v[i]))))
         |      AS cosine
         |  FROM (SELECT * FROM e WHERE vec_id < 20) q,
         |       (SELECT * FROM e WHERE vec_id >= 20) c),
         |dense AS (SELECT query_id, neighbor_id, rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cosine DESC, neighbor_id ASC) AS rank FROM dsc) t
         |  WHERE rank <= 20),
         |sparse AS (SELECT query_id, doc_id AS neighbor_id, rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY score_q DESC, doc_id ASC) AS rank FROM bm25scored) t
         |  WHERE rank <= 20),
         |contrib AS (
         |  SELECT query_id, neighbor_id, 1000000 // (60 + rank) AS c
         |  FROM dense
         |  UNION ALL
         |  SELECT query_id, neighbor_id, 1000000 // (60 + rank) AS c
         |  FROM sparse),
         |fused AS (SELECT query_id, neighbor_id,
         |    CAST(SUM(c) AS BIGINT) AS rrf_score
         |  FROM contrib GROUP BY query_id, neighbor_id)
         |SELECT query_id, neighbor_id, rank, rrf_score FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY rrf_score DESC, neighbor_id ASC) AS rank
         |  FROM fused) t
         |WHERE rank <= 3""".stripMargin,

    // winnowing (MOSS): positional 3-gram md5-hex15 hashes, window
    // min over 4 consecutive (ROWS CURRENT..3 FOLLOWING), selection
    // positions 1..max(1, cnt-3) — docs with <4 shingles degenerate
    // to one global-min window; DISTINCT mins per doc
    "q_winnow_fp" ->
      s"""WITH $nearCorpus,
         |$winnowFpCtes
         |SELECT DISTINCT doc_id, m AS fp FROM wm
         |WHERE pos <= GREATEST(1, cnt - 3)""".stripMargin,

    "q_winnow_overlap" ->
      s"""WITH $nearCorpus,
         |$winnowFpCtes,
         |fps AS (SELECT DISTINCT doc_id, m AS fp FROM wm
         |  WHERE pos <= GREATEST(1, cnt - 3)),
         |rare AS (SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) <= 50),
         |kept AS (SELECT f.doc_id, f.fp FROM fps f
         |  JOIN rare r ON r.fp = f.fp)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(COUNT(*) AS BIGINT) AS shared
         |FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |GROUP BY a.doc_id, b.doc_id
         |HAVING COUNT(*) >= 2""".stripMargin,

    // CCNet terciles: the lm_surprisal integer chain, per-token key
    // in 2^20 fixed point, ntile(3) per language over (key, doc_id)
    "q_ccnet_buckets" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' '))
        |    AS tok FROM documents),
        |u AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM toks GROUP BY tok),
        |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
        |    CAST(COUNT(*) AS BIGINT) AS v FROM u),
        |surp AS (SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |    CAST(SUM(length(bin(tot.n + tot.v))
        |      - length(bin(u.c + 1))) AS BIGINT) AS sbits
        |  FROM toks t JOIN u ON u.tok = t.tok, tot
        |  GROUP BY t.doc_id),
        |keyed AS (SELECT s.doc_id, d.lang, s.n_tokens,
        |    (s.sbits * 1048576) // s.n_tokens AS ppl_q
        |  FROM surp s JOIN documents d ON d.doc_id = s.doc_id),
        |b AS (SELECT *, CAST(ntile(3) OVER (PARTITION BY lang
        |    ORDER BY ppl_q ASC, doc_id ASC) AS BIGINT) AS bucket
        |  FROM keyed)
        |SELECT doc_id, lang, n_tokens, ppl_q, bucket,
        |  CASE WHEN bucket = 1 THEN 'head'
        |       WHEN bucket = 2 THEN 'middle'
        |       ELSE 'tail' END AS tier
        |FROM b""".stripMargin,

    // temperature mixing, alpha = 1/2 in 2^10 fixed point:
    // weight = floor(sqrt(n * 2^20)) (sqrt is correctly rounded in
    // both engines; floor exact below 2^52), quota = (200·w) // Σw
    "q_temp_quotas" ->
      s"""WITH $tempQuotaCtes
         |SELECT source, n_docs, weight, (200 * weight) // t.wsum AS quota
         |FROM w, t""".stripMargin,

    // containment: 3-gram distinct shingle sets over documents ∪
    // 10-token excerpts (id+800000), df-capped equi-join, integer
    // (inter, na, nb) with true (uncapped) set sizes
    "q_containment" ->
      """WITH corpus AS (SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 800000,
        |    array_to_string(list_slice(string_split(text, ' '), 1, 10),
        |      ' ')
        |  FROM documents WHERE doc_id % 13 = 0),
        |toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM corpus),
        |sh AS (SELECT DISTINCT doc_id, shingle FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, len(w) - 1),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
        |  FROM toks WHERE len(w) >= 3) t),
        |rare AS (SELECT shingle FROM sh GROUP BY shingle
        |  HAVING COUNT(*) <= 50),
        |kept AS (SELECT s.doc_id, s.shingle FROM sh s
        |  JOIN rare r ON r.shingle = s.shingle),
        |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    CAST(COUNT(*) AS BIGINT) AS inter
        |  FROM kept a JOIN kept b
        |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id HAVING COUNT(*) >= 2),
        |sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM sh GROUP BY doc_id)
        |SELECT i.doc_a, i.doc_b, i.inter, na.n AS na, nb.n AS nb
        |FROM inter i JOIN sizes na ON na.doc_id = i.doc_a
        |JOIN sizes nb ON nb.doc_id = i.doc_b""".stripMargin,

    "q_token_budget" ->
      """WITH r AS (SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    CAST('0x' || substr(md5('tokbudget|'
        |      || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 10000 AS h
        |  FROM documents),
        |c AS (SELECT doc_id, source, n_tokens,
        |    CAST(SUM(n_tokens) OVER (PARTITION BY source
        |      ORDER BY h ASC, doc_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum_tokens
        |  FROM r)
        |SELECT doc_id, source, n_tokens, cum_tokens FROM c
        |WHERE cum_tokens <= 800""".stripMargin,

    "q_corpus_diff" ->
      """WITH v2 AS (SELECT doc_id,
        |    CASE WHEN doc_id % 13 = 0 THEN text || ' v2 edit'
        |         ELSE text END AS text
        |  FROM documents WHERE doc_id % 17 <> 0
        |  UNION ALL SELECT doc_id + 900000, text FROM documents
        |  WHERE doc_id % 23 = 0),
        |a AS (SELECT doc_id, md5(text) AS h1 FROM documents),
        |b AS (SELECT doc_id, md5(text) AS h2 FROM v2),
        |j AS (SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id, h1, h2
        |  FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id),
        |s AS (SELECT doc_id,
        |    CASE WHEN h1 IS NULL THEN 'added'
        |         WHEN h2 IS NULL THEN 'removed'
        |         WHEN h1 <> h2 THEN 'changed'
        |         ELSE 'unchanged' END AS status
        |  FROM j)
        |SELECT doc_id, status FROM s
        |WHERE status <> 'unchanged'""".stripMargin,

    // span excision: positional 5-gram hashes, grams in >=2 docs
    // expand to their 5 covered positions, kept tokens re-join in
    // position order; fully-excised docs keep an empty-text row
    "q_span_removal" ->
      s"""WITH $dupCorpus,
         |toks AS (SELECT doc_id, string_split(text, ' ') AS w
         |  FROM corpus),
         |tok AS (SELECT doc_id, unnest(range(1, len(w) + 1)) AS pos,
         |    unnest(w) AS tok FROM toks),
         |g AS (SELECT doc_id, unnest(range(1, len(w) - 3)) AS gp,
         |    unnest(list_transform(range(1, len(w) - 3),
         |      i -> CAST('0x' || substr(md5(w[i] || ' ' || w[i+1] ||
         |        ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]),
         |        1, 15) AS BIGINT))) AS gh
         |  FROM toks WHERE len(w) >= 5),
         |dg AS (SELECT gh FROM (SELECT DISTINCT doc_id, gh FROM g) d
         |  GROUP BY gh HAVING COUNT(*) >= 2),
         |cov AS (SELECT DISTINCT doc_id, pos FROM (
         |  SELECT g.doc_id, unnest(range(g.gp, g.gp + 5)) AS pos
         |  FROM g JOIN dg ON dg.gh = g.gh) t),
         |k AS (SELECT t.doc_id, t.pos, t.tok FROM tok t
         |  WHERE NOT EXISTS (SELECT 1 FROM cov c
         |    WHERE c.doc_id = t.doc_id AND c.pos = t.pos)),
         |ka AS (SELECT doc_id,
         |    string_agg(tok, ' ' ORDER BY pos) AS clean_text,
         |    CAST(COUNT(*) AS BIGINT) AS n_kept
         |  FROM k GROUP BY doc_id),
         |nt AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS ntok
         |  FROM toks)
         |SELECT nt.doc_id, COALESCE(ka.clean_text, '') AS clean_text,
         |  CAST(COALESCE(ka.n_kept, 0) AS BIGINT) AS n_kept,
         |  CAST(nt.ntok - COALESCE(ka.n_kept, 0) AS BIGINT) AS n_removed
         |FROM nt LEFT JOIN ka ON ka.doc_id = nt.doc_id""".stripMargin,

    // bigram LM: lag window per doc, add-one over (c1(prev)+V),
    // first token under the unigram LM — lm_surprisal's chain one
    // order up, all in whole bits
    "q_bigram_surprisal" ->
      """WITH tok AS (SELECT doc_id,
        |    unnest(range(1, len(w) + 1)) AS pos, unnest(w) AS tok
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w
        |    FROM documents) t),
        |uni AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c1
        |  FROM tok GROUP BY tok),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS v,
        |    CAST(SUM(c1) AS BIGINT) AS n FROM uni),
        |sq AS (SELECT doc_id, pos, tok,
        |    lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        |  FROM tok),
        |bi AS (SELECT prev, tok, CAST(COUNT(*) AS BIGINT) AS c2
        |  FROM sq WHERE prev IS NOT NULL GROUP BY prev, tok),
        |sb AS (SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) AS nbi,
        |    CAST(SUM(length(bin(u.c1 + tot.v))
        |      - length(bin(b.c2 + 1))) AS BIGINT) AS bibits,
        |    CAST(SUM(CASE WHEN b.c2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_unseen
        |  FROM sq s JOIN bi b ON b.prev = s.prev AND b.tok = s.tok
        |  JOIN uni u ON u.tok = s.prev, tot
        |  WHERE s.prev IS NOT NULL GROUP BY s.doc_id),
        |fs AS (SELECT t.doc_id,
        |    CAST(length(bin(tot.n + tot.v))
        |      - length(bin(u.c1 + 1)) AS BIGINT) AS fbits
        |  FROM tok t JOIN uni u ON u.tok = t.tok, tot WHERE t.pos = 1)
        |SELECT fs.doc_id,
        |  CAST(COALESCE(sb.nbi, 0) + 1 AS BIGINT) AS n_tokens,
        |  CAST(fs.fbits + COALESCE(sb.bibits, 0) AS BIGINT) AS bits_total,
        |  CAST(COALESCE(sb.n_unseen, 0) AS BIGINT) AS n_unseen
        |FROM fs LEFT JOIN sb ON sb.doc_id = fs.doc_id""".stripMargin,

    // winnow decontamination: the corpus winnow table re-filtered for
    // the benchmark subset (winnowing is per-doc, so the subset's
    // fingerprints equal its standalone run), >=2 shared selected fps
    "q_winnow_decon" ->
      s"""WITH corpus AS (SELECT doc_id, text FROM documents),
         |$winnowFpCtes,
         |fps AS (SELECT DISTINCT doc_id, m AS fp FROM wm
         |  WHERE pos <= GREATEST(1, cnt - 3)),
         |bf AS (SELECT doc_id AS eval_id, fp FROM fps
         |  WHERE doc_id % 31 = 0)
         |SELECT c.doc_id, b.eval_id, CAST(COUNT(*) AS BIGINT) AS shared
         |FROM fps c JOIN bf b ON b.fp = c.fp
         |GROUP BY c.doc_id, b.eval_id
         |HAVING COUNT(*) >= 2""".stripMargin,

    // shard plan: global token cumsum over the (h%1024, h, id)
    // permutation — the oracle's ONE global window IS the equality
    // check that the engine's bucket-decomposed cumsum (no global
    // window in its plan) equals the global order
    "q_shard_plan" ->
      """WITH h AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    CAST('0x' || substr(md5('shard|' || CAST(doc_id AS VARCHAR)),
        |      1, 15) AS BIGINT) AS h
        |  FROM documents),
        |r AS (SELECT doc_id, n_tokens,
        |    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY h % 1024, h, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS cum_before
        |  FROM h)
        |SELECT doc_id, n_tokens, cum_before,
        |  cum_before // 2000 AS shard_id
        |FROM r""".stripMargin,

    // cluster-size histogram: the q_dedup_clusters chain reduced to
    // (size, n_clusters), singletons = total - clustered
    "q_cluster_stats" ->
      """WITH RECURSIVE corpus AS (SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 200000, text || ' graftmarker end'
        |    FROM documents WHERE doc_id % 11 = 0
        |  UNION ALL SELECT doc_id + 300000, text || ' graftmarker two'
        |    FROM documents WHERE doc_id % 11 = 0),
        |toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM corpus),
        |sh AS (SELECT DISTINCT doc_id, shingle FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, len(w) - 1),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
        |  FROM toks WHERE len(w) >= 3) t),
        |mh AS (SELECT doc_id, sd.seed,
        |    min(md5(sd.seed::VARCHAR || '|' || shingle)) AS h
        |  FROM sh CROSS JOIN (SELECT unnest(range(8)) AS seed) sd
        |  GROUP BY doc_id, sd.seed),
        |bands AS (SELECT doc_id, seed // 2 AS band,
        |    min(CASE WHEN seed % 2 = 0 THEN h END)
        |      || min(CASE WHEN seed % 2 = 1 THEN h END) AS bkey
        |  FROM mh GROUP BY doc_id, seed // 2),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
        |inter AS (SELECT c.doc_a, c.doc_b, COUNT(*) AS i
        |  FROM cand c
        |  JOIN sh sa ON sa.doc_id = c.doc_a
        |  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
        |  GROUP BY c.doc_a, c.doc_b),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |pairs AS (SELECT i.doc_a, i.doc_b FROM inter i
        |  JOIN sizes na ON na.doc_id = i.doc_a
        |  JOIN sizes nb ON nb.doc_id = i.doc_b
        |  WHERE CAST(i.i AS DOUBLE) / (na.n + nb.n - i.i) >= 0.5),
        |edges AS (SELECT doc_a AS s, doc_b AS d FROM pairs
        |  UNION SELECT doc_b, doc_a FROM pairs),
        |reach(id, r) AS (
        |  SELECT s, s FROM edges
        |  UNION
        |  SELECT e.s, r.r FROM edges e JOIN reach r ON e.d = r.id),
        |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
        |cs AS (SELECT component, CAST(COUNT(*) AS BIGINT) AS cluster_size
        |  FROM comp GROUP BY component),
        |hist AS (SELECT cluster_size, CAST(COUNT(*) AS BIGINT)
        |    AS n_clusters FROM cs GROUP BY cluster_size),
        |tots AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM corpus),
        |lab AS (SELECT CAST(COALESCE(SUM(cluster_size), 0) AS BIGINT)
        |    AS l FROM cs)
        |SELECT cluster_size, n_clusters FROM hist
        |UNION ALL
        |SELECT CAST(1 AS BIGINT) AS cluster_size, t - l AS n_clusters
        |FROM tots, lab""".stripMargin,

    "q_temp_sample" ->
      s"""WITH $tempQuotaCtes,
         |q AS (SELECT source, (200 * weight) // t.wsum AS quota
         |  FROM w, t),
         |r AS (SELECT doc_id, source,
         |    CAST(row_number() OVER (PARTITION BY source ORDER BY
         |      CAST('0x' || substr(md5('temp|' || CAST(doc_id AS VARCHAR)),
         |        1, 15) AS BIGINT) % 10000 ASC,
         |      doc_id ASC) AS BIGINT) AS rk
         |  FROM documents)
         |SELECT r.doc_id, r.source, r.rk
         |FROM r JOIN q ON q.source = r.source
         |WHERE r.rk <= q.quota""".stripMargin,

    // quality-classifier trainer: 12 unrolled hard-sigmoid full-batch
    // gradient rounds over hashed bag-of-words counts, integer-exact
    // (Classifier.fit defaults) — the fastText-slot training loop
    // itself re-derived in SQL
    "q_qcls_train" -> ("WITH " + qclsChain(12) + "\n" +
      """SELECT CAST(t.j AS BIGINT) AS j, w.wl[t.j + 1] AS w
        |FROM w12 w, (SELECT unnest(range(0, 17)) AS j) t""".stripMargin),

    // scoring under the trained weights: margin, clamped hard-sigmoid
    // p, keep decision — the zero-shuffle face, weights re-derived
    "q_qcls_score" -> ("WITH " + qclsChain(12) + ",\n" + qclsScoreCtes +
      "\nSELECT doc_id, z, p, CAST(CASE WHEN p >= 32768 THEN 1 ELSE 0 " +
      "END AS INTEGER) AS keep FROM sc2"),

    // confusion-matrix audit vs the training label: 0.962 train
    // accuracy on the fixture (majority baseline 0.5), through the
    // gate like the recall audits
    "q_qcls_audit" -> ("WITH " + qclsChain(12) + ",\n" + qclsScoreCtes +
      "\n" +
      """SELECT
        |  CAST(SUM(CASE WHEN p >= 32768 AND y = 1 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS tp,
        |  CAST(SUM(CASE WHEN p >= 32768 AND y = 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS fp,
        |  CAST(SUM(CASE WHEN p < 32768 AND y = 1 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS fn,
        |  CAST(SUM(CASE WHEN p < 32768 AND y = 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS tn,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs
        |FROM sc2""".stripMargin),

    // reliability table: probability-octile buckets over the integer
    // sigmoid domain, each with its positive-label rate numerator —
    // calibration as an exact-count gate artifact
    "q_qcls_calibration" -> ("WITH " + qclsChain(12) + ",\n" +
      qclsScoreCtes + "\n" +
      """SELECT p // 8192 AS p_bucket,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(y) AS BIGINT) AS n_pos,
        |  CAST(MIN(p) AS BIGINT) AS min_p,
        |  CAST(MAX(p) AS BIGINT) AS max_p
        |FROM sc2 GROUP BY 1""".stripMargin),

    // CSV sidecar ingest: explicit columns, RFC 4180 quoting both
    // engines (Spark pins escape='"'), empty -> NULL
    "q_csv_read" ->
      s"""SELECT id, title,
         |  string_split(tags, ';')[1] AS lang_tag,
         |  string_split(tags, ';')[2] AS source_tag,
         |  score, note
         |FROM read_csv('$CsvFixture', header=true,
         |  columns={id: 'BIGINT', title: 'VARCHAR', tags: 'VARCHAR',
         |    score: 'BIGINT', note: 'VARCHAR'})""".stripMargin,

    // ORC round-trip: the oracle reports from the PARQUET original;
    // the Spark side must survive write-to-ORC + read-back unchanged
    "q_orc_roundtrip" ->
      """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
        |FROM documents GROUP BY source""".stripMargin,

    // perceptual media hash: the oracle re-derives the integer DCT →
    // median-sign pipeline from the bare content bytes (the Spark
    // side must strip the sniffed container header to line up)
    "q_phash_media" ->
      s"""WITH $phashCtes
         |SELECT doc_id,
         |  CASE k WHEN 0 THEN 'image/png' WHEN 1 THEN 'image/jpeg'
         |    ELSE 'image/gif' END AS kind,
         |  phash
         |FROM hsh""".stripMargin,

    // perceptual near-dup pairs: banded-join recall is total at
    // hamming <= 7 (pigeonhole over 8 byte-bands), so the oracle can
    // brute-force all pairs — the band cap is replicated so a
    // degenerate bucket drops identically on both sides
    "q_phash_neardup" ->
      s"""WITH $phashCtes,
         |bandt AS (SELECT doc_id, phash, b.bk AS band,
         |    (phash >> (8 * b.bk)) & 255 AS nib
         |  FROM hsh, (SELECT unnest(range(8)) AS bk) b),
         |ok AS (SELECT band, nib FROM bandt
         |  GROUP BY band, nib HAVING COUNT(*) <= 256),
         |cand AS (SELECT DISTINCT a.doc_id AS media_a, c.doc_id AS media_b,
         |    a.phash AS ha, c.phash AS hb
         |  FROM bandt a
         |  JOIN ok o ON o.band = a.band AND o.nib = a.nib
         |  JOIN bandt c ON c.band = a.band AND c.nib = a.nib
         |    AND a.doc_id < c.doc_id)
         |SELECT media_a, media_b,
         |  CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
         |FROM cand WHERE bit_count(xor(ha, hb)) <= 7""".stripMargin,

    // the production dedup cascade: canonical-URL keeper → exact
    // content hash → LSH near-dup + recursive-CTE components, each
    // stage only over the previous stage's survivors; per-doc
    // decision rows (first dropping stage + keeper)
    "q_corpus_release" -> corpusReleaseSql,
    // the release SHIPS its ingest index: the store is built from the
    // released (kept) set and tomorrow's probe batch checks against
    // it — the oracle replays the release chain to `fin`, then the
    // direct MinHash chain between fin and the probe, with no store
    "q_release_ingest" -> (releaseChainCtes + """,
      |relinc AS MATERIALIZED (SELECT doc_id + 900000 AS doc_id,
      |    text || ' graftincr probe' AS text
      |  FROM documents WHERE doc_id % 21 = 0),
      |ing_ti AS (SELECT doc_id, string_split(text, ' ') AS w FROM fin),
      |ing_tn AS (SELECT doc_id, string_split(text, ' ') AS w FROM relinc),
      |ing_shi AS MATERIALIZED (SELECT DISTINCT doc_id, shingle FROM (
      |  SELECT doc_id, unnest(list_transform(range(1, len(w) - 1),
      |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
      |  FROM ing_ti WHERE len(w) >= 3) t),
      |ing_shn AS MATERIALIZED (SELECT DISTINCT doc_id, shingle FROM (
      |  SELECT doc_id, unnest(list_transform(range(1, len(w) - 1),
      |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
      |  FROM ing_tn WHERE len(w) >= 3) t),
      |ing_mhi AS (SELECT doc_id, sd.seed,
      |    min(md5(sd.seed::VARCHAR || '|' || shingle)) AS h
      |  FROM ing_shi CROSS JOIN (SELECT unnest(range(8)) AS seed) sd
      |  GROUP BY doc_id, sd.seed),
      |ing_mhn AS (SELECT doc_id, sd.seed,
      |    min(md5(sd.seed::VARCHAR || '|' || shingle)) AS h
      |  FROM ing_shn CROSS JOIN (SELECT unnest(range(8)) AS seed) sd
      |  GROUP BY doc_id, sd.seed),
      |ing_bi AS (SELECT doc_id, seed // 2 AS band,
      |    min(CASE WHEN seed % 2 = 0 THEN h END)
      |      || min(CASE WHEN seed % 2 = 1 THEN h END) AS bkey
      |  FROM ing_mhi GROUP BY doc_id, seed // 2),
      |ing_bn AS (SELECT doc_id, seed // 2 AS band,
      |    min(CASE WHEN seed % 2 = 0 THEN h END)
      |      || min(CASE WHEN seed % 2 = 1 THEN h END) AS bkey
      |  FROM ing_mhn GROUP BY doc_id, seed // 2),
      |ing_cand AS (SELECT DISTINCT n.doc_id AS new_id, i.doc_id AS index_id
      |  FROM ing_bn n JOIN ing_bi i
      |    ON i.band = n.band AND i.bkey = n.bkey),
      |ing_inter AS (SELECT c.new_id, c.index_id,
      |    CAST(COUNT(*) AS BIGINT) AS i
      |  FROM ing_cand c JOIN ing_shn sn ON sn.doc_id = c.new_id
      |  JOIN ing_shi si ON si.doc_id = c.index_id
      |    AND si.shingle = sn.shingle
      |  GROUP BY c.new_id, c.index_id),
      |ing_szn AS (SELECT doc_id, COUNT(*) AS n FROM ing_shn GROUP BY doc_id),
      |ing_szi AS (SELECT doc_id, COUNT(*) AS n FROM ing_shi GROUP BY doc_id)
      |SELECT i.new_id, i.index_id,
      |  CAST(i.i AS DOUBLE) / (sn.n + si.n - i.i) AS jaccard
      |FROM ing_inter i JOIN ing_szn sn ON sn.doc_id = i.new_id
      |JOIN ing_szi si ON si.doc_id = i.index_id
      |WHERE CAST(i.i AS DOUBLE) / (sn.n + si.n - i.i) >= 0.5""".stripMargin),

    // the INCREMENTAL release: replay the full release chain to its
    // kept set (fin) and frozen models (prof / u / tot), then the
    // batch chain DIRECTLY with no store — seen-url filter (nu over
    // the release input), within-batch url keeper, seen-hash filter,
    // within-batch exact keeper, near-dup vs fin (capped index
    // buckets) + within-batch pairs (capped batch buckets) with
    // index-match propagation through batch components, benchmark
    // decon, and frozen-model quality routing with the unseen-token
    // smoothing path (LEFT JOIN u, COALESCE(c,0)+1)
    "q_incr_release" -> incrReleaseSql,
    // the composed STREAMING loop answers the single-batch
    // loop's oracle verbatim (composition-safe wave split)
    "q_stream_release" -> incrReleaseSql,

    "q_dedup_cascade" ->
      """WITH RECURSIVE u0 AS (SELECT doc_id, text,
        |    CASE (doc_id // 100) % 5
        |      WHEN 0 THEN 'HTTPS://WWW.' || upper(dom) || ':443' || base
        |        || '/?utm_source=feed&x=1#top'
        |      WHEN 1 THEN 'http://' || dom || ':80' || base
        |      WHEN 2 THEN 'https://www.' || dom || base || '/?x=1'
        |      WHEN 3 THEN 'https://' || dom || base
        |        || '?b=2&a=1&utm_campaign=x&ref=rss'
        |      ELSE 'https://cdn.' || dom || base || '?a=1&b=2' END AS url
        |  FROM (SELECT doc_id, text,
        |      'site' || CAST(doc_id % 100 % 7 AS VARCHAR) || '.' ||
        |        CASE (doc_id % 100 % 7) % 3 WHEN 0 THEN 'com'
        |          WHEN 1 THEN 'org' ELSE 'net' END AS dom,
        |      '/p/' || CAST(doc_id % 100 AS VARCHAR) AS base
        |    FROM documents) s),
        |corpus AS (SELECT doc_id, text, url FROM u0
        |  UNION ALL SELECT doc_id + 300000, text,
        |    'https://mirror.example/m/' || CAST(doc_id AS VARCHAR)
        |  FROM u0 WHERE doc_id % 13 = 0
        |  UNION ALL SELECT doc_id + 200000, text || ' graftmarker end',
        |    'https://alt.example/a/' || CAST(doc_id AS VARCHAR)
        |  FROM u0 WHERE doc_id % 11 = 0),
        |nu AS (SELECT doc_id, text,
        |    scheme || '://' || host || path ||
        |      CASE WHEN q = '' THEN '' ELSE '?' || q END AS norm_url
        |  FROM (SELECT doc_id, text,
        |      lower(regexp_extract(url,
        |        '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |      regexp_replace(
        |        CASE lower(regexp_extract(url,
        |            '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
        |          WHEN 'http' THEN regexp_replace(lower(regexp_extract(url,
        |            '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)), ':80$', '')
        |          WHEN 'https' THEN regexp_replace(lower(regexp_extract(url,
        |            '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)), ':443$', '')
        |          ELSE lower(regexp_extract(url,
        |            '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)) END,
        |        '^www\.', '') AS host,
        |      regexp_replace(regexp_extract(url,
        |        '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1),
        |        '/+$', '') AS path,
        |      COALESCE(array_to_string(list_sort(list_filter(
        |        string_split(regexp_extract(url, '\?([^#]*)', 1), '&'),
        |        p -> p <> '' AND NOT regexp_matches(p,
        |          '^(utm_[A-Za-z0-9_]*|fbclid|gclid|ref)='))), '&'), '') AS q
        |    FROM corpus) c),
        |uk AS (SELECT doc_id, text,
        |    min(doc_id) OVER (PARTITION BY norm_url) AS k FROM nu),
        |udrop AS (SELECT doc_id, 'url' AS dropped_by, k AS keeper_id
        |  FROM uk WHERE doc_id <> k),
        |ek AS (SELECT doc_id, text,
        |    min(doc_id) OVER (PARTITION BY md5(text)) AS k
        |  FROM uk WHERE doc_id = k),
        |edrop AS (SELECT doc_id, 'exact' AS dropped_by, k AS keeper_id
        |  FROM ek WHERE doc_id <> k),
        |se AS (SELECT doc_id, text FROM ek WHERE doc_id = k),
        |toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM se),
        |sh AS (SELECT DISTINCT doc_id, shingle FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, len(w) - 1),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
        |  FROM toks WHERE len(w) >= 3) t),
        |mh AS (SELECT doc_id, sd.seed,
        |    min(md5(sd.seed::VARCHAR || '|' || shingle)) AS h
        |  FROM sh CROSS JOIN (SELECT unnest(range(8)) AS seed) sd
        |  GROUP BY doc_id, sd.seed),
        |bands AS (SELECT doc_id, seed // 2 AS band,
        |    min(CASE WHEN seed % 2 = 0 THEN h END)
        |      || min(CASE WHEN seed % 2 = 1 THEN h END) AS bkey
        |  FROM mh GROUP BY doc_id, seed // 2),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
        |inter AS (SELECT c.doc_a, c.doc_b, COUNT(*) AS i
        |  FROM cand c
        |  JOIN sh sa ON sa.doc_id = c.doc_a
        |  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
        |  GROUP BY c.doc_a, c.doc_b),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |pairs AS (SELECT i.doc_a, i.doc_b FROM inter i
        |  JOIN sizes na ON na.doc_id = i.doc_a
        |  JOIN sizes nb ON nb.doc_id = i.doc_b
        |  WHERE CAST(i.i AS DOUBLE) / (na.n + nb.n - i.i) >= 0.5),
        |edges AS (SELECT doc_a AS s, doc_b AS d FROM pairs
        |  UNION SELECT doc_b, doc_a FROM pairs),
        |reach(id, r) AS (
        |  SELECT s, s FROM edges
        |  UNION
        |  SELECT e.s, r.r FROM edges e JOIN reach r ON e.d = r.id),
        |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
        |ndrop AS (SELECT id AS doc_id, 'near' AS dropped_by,
        |    component AS keeper_id FROM comp WHERE id <> component),
        |drops AS (SELECT * FROM udrop UNION ALL SELECT * FROM edrop
        |  UNION ALL SELECT * FROM ndrop)
        |SELECT c.doc_id,
        |  COALESCE(d.dropped_by, 'kept') AS dropped_by,
        |  CAST(COALESCE(d.keeper_id, c.doc_id) AS BIGINT) AS keeper_id
        |FROM corpus c LEFT JOIN drops d ON d.doc_id = c.doc_id""".stripMargin,

    // z-order extent audit: all-integer quantization (// = Spark DIV),
    // Morton interleave as a disjoint-bit sum, fixed-width z buckets
    "q_zorder_cluster" ->
      s"""WITH s AS (SELECT MIN(l_partkey) AS xlo, MAX(l_partkey) AS xhi,
        |    MIN(l_suppkey) AS ylo, MAX(l_suppkey) AS yhi FROM lineitem),
        |q AS (SELECT l_partkey, l_suppkey,
        |    ((l_partkey - xlo) * 255) // greatest(xhi - xlo, 1) AS qx,
        |    ((l_suppkey - ylo) * 255) // greatest(yhi - ylo, 1) AS qy
        |  FROM lineitem, s),
        |z AS (SELECT l_partkey, l_suppkey, ${morton8("qx", "qy")} AS z
        |  FROM q)
        |SELECT CAST(z // 4096 AS BIGINT) AS bucket_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(MIN(l_partkey) AS BIGINT) AS x_min,
        |  CAST(MAX(l_partkey) AS BIGINT) AS x_max,
        |  CAST(MIN(l_suppkey) AS BIGINT) AS y_min,
        |  CAST(MAX(l_suppkey) AS BIGINT) AS y_max
        |FROM z GROUP BY 1""".stripMargin,

    // z-order write + row-group prune audit: the Spark query WRITES
    // the layout (fixed /tmp path keyed by the sf dir name), both
    // engines then read the same footers — parquet_metadata replays
    // the identical prune rule over the identical artifact
    "q_zorder_prune" ->
      """WITH s AS (SELECT
        |    CAST(regexp_extract(file_name, 'part-(\d+)', 1) AS BIGINT)
        |      AS f,
        |    row_group_id,
        |    CAST(MIN(row_group_num_rows) AS BIGINT) AS rg_rows,
        |    CAST(MIN(CASE WHEN path_in_schema = 'l_partkey'
        |      THEN stats_min_value END) AS BIGINT) AS mn,
        |    CAST(MIN(CASE WHEN path_in_schema = 'l_partkey'
        |      THEN stats_max_value END) AS BIGINT) AS mx
        |  FROM parquet_metadata('/tmp/graft_zorder_sf0.01/*.parquet')
        |  GROUP BY 1, 2)
        |SELECT f AS file_id, CAST(COUNT(*) AS BIGINT) AS n_row_groups,
        |  CAST(SUM(CASE WHEN mx < 100 OR mn > 200 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_pruned,
        |  CAST(SUM(CASE WHEN mx < 100 OR mn > 200 THEN 0 ELSE rg_rows END)
        |    AS BIGINT) AS rows_scanned,
        |  CAST(SUM(CASE WHEN mx < 100 OR mn > 200 THEN rg_rows ELSE 0 END)
        |    AS BIGINT) AS rows_skipped
        |FROM s GROUP BY 1""".stripMargin,

    // footer min/max stats cross-engine check (fixture documents)
    "q_rg_stats" ->
      """SELECT regexp_replace(file_name, '.*/', '') AS file_name,
        |  CAST(row_group_id AS BIGINT) AS row_group_id,
        |  CAST(MIN(row_group_num_rows) AS BIGINT) AS n_rows,
        |  CAST(MIN(CASE WHEN path_in_schema = 'doc_id'
        |    THEN stats_min_value END) AS BIGINT) AS col_min,
        |  CAST(MIN(CASE WHEN path_in_schema = 'doc_id'
        |    THEN stats_max_value END) AS BIGINT) AS col_max
        |FROM parquet_metadata('/root/testdata/sf0.01/documents.parquet')
        |GROUP BY 1, 2""".stripMargin,

    // JL sign projection: the ±1 matrix from the same md5 parity
    // stream, the dot as the same ordered list fold, *0.25 = 1/√16
    // binary-exact
    "q_jl_project" ->
      s"""WITH $jlMatrixCte,
        |e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings)
        |SELECT e.vec_id, m.j AS out_dim,
        |  list_sum(list_transform(range(1, 65), i -> e.v[i] * m.rvec[i]))
        |    * CAST(0.25 AS DOUBLE) AS y
        |FROM e, m""".stripMargin,

    // JL recall audit: exact top-3 on 64 dims vs top-3 on the 16-dim
    // projection (the mrl_recall shape with projection instead of
    // truncation)
    "q_jl_recall" ->
      s"""WITH $jlMatrixCte,
        |e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |p AS (SELECT vec_id, list(y ORDER BY j) AS v FROM (
        |    SELECT e.vec_id, m.j,
        |      list_sum(list_transform(range(1, 65), i -> e.v[i] * m.rvec[i]))
        |        * CAST(0.25 AS DOUBLE) AS y
        |    FROM e, m) t GROUP BY vec_id),
        |ex AS (SELECT query_id, neighbor_id FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |      list_sum(list_transform(range(1, 65), i -> q.v[i] * c.v[i]))
        |      / (sqrt(list_sum(list_transform(range(1, 65), i -> q.v[i] * q.v[i])))
        |       * sqrt(list_sum(list_transform(range(1, 65), i -> c.v[i] * c.v[i]))))
        |      DESC, c.vec_id ASC) AS rank
        |  FROM (SELECT * FROM e WHERE vec_id < 20) q,
        |       (SELECT * FROM e WHERE vec_id >= 20) c) t WHERE rank <= 3),
        |tr AS (SELECT query_id, neighbor_id FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |      list_sum(list_transform(range(1, 17), i -> q.v[i] * c.v[i]))
        |      / (sqrt(list_sum(list_transform(range(1, 17), i -> q.v[i] * q.v[i])))
        |       * sqrt(list_sum(list_transform(range(1, 17), i -> c.v[i] * c.v[i]))))
        |      DESC, c.vec_id ASC) AS rank
        |  FROM (SELECT * FROM p WHERE vec_id < 20) q,
        |       (SELECT * FROM p WHERE vec_id >= 20) c) t WHERE rank <= 3)
        |SELECT x.query_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_exact,
        |  CAST((SELECT COUNT(*) FROM tr WHERE tr.query_id = x.query_id)
        |    AS BIGINT) AS n_approx,
        |  CAST(COALESCE(SUM(CASE WHEN t2.neighbor_id IS NOT NULL
        |    THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_hit
        |FROM ex x LEFT JOIN tr t2
        |  ON t2.query_id = x.query_id AND t2.neighbor_id = x.neighbor_id
        |GROUP BY x.query_id""".stripMargin,

    // weighted priority sample: hash div weight, k smallest
    "q_weighted_sample" ->
      """WITH s AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS weight,
        |    CAST('0x' || substr(md5('wsample|' || CAST(doc_id AS VARCHAR)), 1, 15)
        |      AS BIGINT) AS h
        |  FROM documents)
        |SELECT doc_id, weight, h // greatest(weight, 1) AS priority
        |FROM s ORDER BY priority ASC, doc_id ASC LIMIT 200""".stripMargin,

    // join-mass preflight: self-join on l_partkey priced from the key
    // histogram; exact total, top-5 keys, integer ppm share
    "q_join_preflight" ->
      """WITH ca AS (SELECT l_partkey AS key,
        |    CAST(COUNT(*) AS BIGINT) AS n_left FROM lineitem GROUP BY 1),
        |p AS (SELECT key, n_left, n_left AS n_right,
        |    n_left * n_left AS pairs FROM ca),
        |t AS (SELECT CAST(SUM(pairs) AS BIGINT) AS total_pairs FROM p)
        |SELECT key, n_left, n_right, pairs, total_pairs,
        |  (pairs * 1000000) // greatest(total_pairs, 1) AS share_ppm
        |FROM p, t ORDER BY pairs DESC, key ASC LIMIT 5""".stripMargin,

    // per-column codec audit: parquet_metadata carries the same
    // footer fields parquet-mr's ColumnChunkMetaData exposes
    "q_codec_audit" ->
      """SELECT path_in_schema AS column_name, compression AS codec,
        |  CAST(COUNT(*) AS BIGINT) AS n_chunks,
        |  CAST(SUM(total_compressed_size) AS BIGINT) AS bytes_comp,
        |  CAST(SUM(total_uncompressed_size) AS BIGINT) AS bytes_raw,
        |  CAST((SUM(total_compressed_size) * 100) //
        |    greatest(SUM(total_uncompressed_size), 1) AS BIGINT)
        |    AS ratio_pct
        |FROM parquet_metadata('/root/testdata/sf0.01/lineitem.parquet')
        |GROUP BY 1, 2""".stripMargin,

    // schema-drift audit over the staged two-generation tree (the
    // query writes it before auditing — zorder-gate staging
    // convention): leaf columns only (num_children NULL), physical
    // type names shared verbatim between parquet-mr and DuckDB.
    // The staged generations are deliberately FLAT: the operator
    // names nested leaves by their full dotted path (LayoutSpec pins
    // "props.a"), but parquet_schema reports bare leaf names with
    // the parent context in separate rows, so a nested fixture would
    // need a path-reconstruction walk this oracle doesn't attempt
    "q_schema_drift" ->
      """WITH s AS (SELECT file_name, name, type
        |    FROM parquet_schema('/tmp/graft_schema_sf0.01/**/*.parquet')
        |    WHERE num_children IS NULL),
        |t AS (SELECT CAST(COUNT(DISTINCT file_name) AS BIGINT) AS total
        |      FROM s)
        |SELECT name AS column_name,
        |  CAST(COUNT(DISTINCT file_name) AS BIGINT) AS n_files,
        |  CAST(t.total - COUNT(DISTINCT file_name) AS BIGINT)
        |    AS n_missing,
        |  CAST(COUNT(DISTINCT type) AS BIGINT) AS n_types,
        |  string_agg(DISTINCT type, ',' ORDER BY type) AS types
        |FROM s CROSS JOIN t GROUP BY name, t.total""".stripMargin,

    // trigram stupid-backoff: LM on every 3rd doc, the rest scored;
    // chained window/count CTEs are MATERIALIZED (the re-inlining
    // planner trap the unigram trainer hit)
    "q_trigram_backoff" ->
      """WITH rt AS MATERIALIZED (SELECT doc_id,
        |    unnest(range(1, len(w) + 1)) AS pos, unnest(w) AS tok
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w
        |    FROM documents WHERE doc_id % 3 = 0) t),
        |rs AS MATERIALIZED (SELECT doc_id, pos, tok,
        |    lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS p1,
        |    lag(tok, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS p2
        |  FROM rt),
        |uni AS MATERIALIZED (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c1
        |  FROM rt GROUP BY 1),
        |tot AS (SELECT CAST(SUM(c1) AS BIGINT) AS n,
        |    CAST(COUNT(*) AS BIGINT) AS v FROM uni),
        |bi AS MATERIALIZED (SELECT p1, tok, CAST(COUNT(*) AS BIGINT) AS c2
        |  FROM rs WHERE p1 IS NOT NULL GROUP BY 1, 2),
        |tri AS MATERIALIZED (SELECT p2, p1, tok,
        |    CAST(COUNT(*) AS BIGINT) AS c3
        |  FROM rs WHERE p2 IS NOT NULL GROUP BY 1, 2, 3),
        |st AS MATERIALIZED (SELECT doc_id,
        |    unnest(range(1, len(w) + 1)) AS pos, unnest(w) AS tok
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w
        |    FROM documents WHERE doc_id % 3 <> 0) t),
        |ss AS MATERIALIZED (SELECT doc_id, pos, tok,
        |    lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS p1,
        |    lag(tok, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS p2
        |  FROM st),
        |sj AS (SELECT s.doc_id,
        |    CASE WHEN t3.c3 IS NOT NULL THEN 3
        |         WHEN b.c2 IS NOT NULL THEN 2
        |         WHEN u.c1 IS NOT NULL THEN 1 ELSE 0 END AS lvl,
        |    CASE WHEN t3.c3 IS NOT NULL
        |           THEN length(bin(bc.c2)) - length(bin(t3.c3))
        |         WHEN b.c2 IS NOT NULL
        |           THEN 1 + length(bin(uc.c1)) - length(bin(b.c2))
        |         WHEN u.c1 IS NOT NULL
        |           THEN 2 + length(bin(tot.n)) - length(bin(u.c1))
        |         ELSE 1 + length(bin(tot.n + tot.v)) END AS sbits
        |  FROM ss s
        |  LEFT JOIN tri t3 ON t3.p2 = s.p2 AND t3.p1 = s.p1
        |    AND t3.tok = s.tok
        |  LEFT JOIN bi b ON b.p1 = s.p1 AND b.tok = s.tok
        |  LEFT JOIN bi bc ON bc.p1 = s.p2 AND bc.tok = s.p1
        |  LEFT JOIN uni uc ON uc.tok = s.p1
        |  LEFT JOIN uni u ON u.tok = s.tok, tot
        |  WHERE s.p2 IS NOT NULL)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_scored,
        |  CAST(SUM(sbits) AS BIGINT) AS bits_total,
        |  CAST(SUM(CASE WHEN lvl = 3 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_tri,
        |  CAST(SUM(CASE WHEN lvl = 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_bi_backoff,
        |  CAST(SUM(CASE WHEN lvl = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_uni_backoff,
        |  CAST(SUM(CASE WHEN lvl = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_oov
        |FROM sj GROUP BY 1""".stripMargin,

    // parquet-footer layout inventory: DuckDB's parquet_metadata
    // reads the same footers (absolute fixture path — the F1-oracle
    // precedent; the correctness gate always runs at sf0.01)
    // compaction plan: per-file footer rollup (bytes = sum of chunk
    // total_compressed_size — the same field parquet-mr's
    // BlockMetaData.getCompressedSize sums), then the deterministic
    // start-offset grouping under the 256 KB target
    "q_compaction_plan" ->
      """WITH m AS (SELECT regexp_replace(file_name, '.*/', '') AS f,
        |    row_group_id,
        |    CAST(MIN(row_group_num_rows) AS BIGINT) AS rg_rows,
        |    CAST(SUM(total_compressed_size) AS BIGINT) AS rg_bytes
        |  FROM parquet_metadata('/root/testdata/sf0.01/*.parquet')
        |  GROUP BY 1, 2),
        |c AS (SELECT f, CAST(COUNT(*) AS BIGINT) AS n_row_groups,
        |    CAST(SUM(rg_rows) AS BIGINT) AS n_rows,
        |    CAST(SUM(rg_bytes) AS BIGINT) AS file_bytes
        |  FROM m GROUP BY f),
        |w AS (SELECT f, n_row_groups, n_rows, file_bytes,
        |    CAST(COALESCE(SUM(file_bytes) OVER (ORDER BY f
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS cum0
        |  FROM c),
        |g AS (SELECT *, cum0 // 262144 AS group_id FROM w)
        |SELECT CAST(group_id AS BIGINT) AS group_id, f AS file_name,
        |  file_bytes, n_row_groups, n_rows,
        |  CAST(SUM(file_bytes) OVER (PARTITION BY group_id) AS BIGINT)
        |    AS group_bytes,
        |  CAST(COUNT(*) OVER (PARTITION BY group_id) AS BIGINT)
        |    AS n_files_in_group
        |FROM g""".stripMargin,

    // compaction EXECUTED: the plan's grouping rule re-derived over
    // the staged source footers (left side) joined against the row
    // re-inventory of the written group files (right side) — both
    // from parquet_metadata over the artifacts the Spark query staged
    // and wrote (fixed /tmp paths, zorder-gate convention)
    "q_compaction_exec" ->
      """WITH m AS (SELECT regexp_replace(file_name, '.*/', '') AS f,
        |    row_group_id,
        |    CAST(MIN(row_group_num_rows) AS BIGINT) AS rg_rows,
        |    CAST(SUM(total_compressed_size) AS BIGINT) AS rg_bytes
        |  FROM parquet_metadata('/tmp/graft_compact_src_sf0.01/*.parquet')
        |  GROUP BY 1, 2),
        |c AS (SELECT f, CAST(SUM(rg_rows) AS BIGINT) AS n_rows,
        |    CAST(SUM(rg_bytes) AS BIGINT) AS file_bytes
        |  FROM m GROUP BY f),
        |w AS (SELECT f, n_rows,
        |    CAST(COALESCE(SUM(file_bytes) OVER (ORDER BY f
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS cum0
        |  FROM c),
        |p AS (SELECT CAST(cum0 // 16384 AS BIGINT) AS group_id,
        |    CAST(COUNT(*) AS BIGINT) AS n_files_in,
        |    CAST(SUM(n_rows) AS BIGINT) AS plan_rows
        |  FROM w GROUP BY 1),
        |orows AS (SELECT file_name, row_group_id,
        |    CAST(MIN(row_group_num_rows) AS BIGINT) AS rg_rows
        |  FROM parquet_metadata(
        |    '/tmp/graft_compact_out_sf0.01/*/*.parquet')
        |  GROUP BY 1, 2),
        |o AS (SELECT CAST(regexp_extract(file_name, 'group_id=(\d+)', 1)
        |      AS BIGINT) AS group_id,
        |    CAST(COUNT(DISTINCT file_name) AS BIGINT) AS out_files,
        |    CAST(SUM(rg_rows) AS BIGINT) AS out_rows
        |  FROM orows GROUP BY 1)
        |SELECT p.group_id, p.n_files_in, p.plan_rows, o.out_files,
        |  o.out_rows, p.plan_rows = o.out_rows AS rows_match
        |FROM p JOIN o ON o.group_id = p.group_id""".stripMargin,

    // MERGE executed: textbook MERGE semantics in SQL over the staged
    // source tree (the batch re-derived identically — upsert 13ths
    // that aren't 19ths, delete 19ths, insert +900000 clones of
    // 31sts); the Spark side answers from the POST-MERGE artifact
    // (manifest-carried sources + written units), so equality proves
    // the executed copy-on-write reconstructs the exact merged table
    "q_merge_exec" ->
      """WITH src AS (SELECT doc_id, text, n_chars
        |    FROM read_parquet('/tmp/graft_merge_src_sf0.01/*.parquet')),
        |upd AS (
        |  SELECT doc_id, text || ' graftmerge upd' AS text, n_chars,
        |      FALSE AS del
        |  FROM src WHERE doc_id % 13 = 0 AND doc_id % 19 <> 0
        |  UNION ALL
        |  SELECT doc_id, text, n_chars, TRUE FROM src
        |  WHERE doc_id % 19 = 0
        |  UNION ALL
        |  SELECT doc_id + 900000, text || ' graftmerge new', n_chars,
        |      FALSE
        |  FROM src WHERE doc_id % 31 = 0)
        |SELECT doc_id, text, n_chars FROM src
        |WHERE doc_id NOT IN (SELECT doc_id FROM upd)
        |UNION ALL
        |SELECT doc_id, text, n_chars FROM upd WHERE NOT del""".stripMargin,

    "q_parquet_layout" ->
      """SELECT regexp_replace(file_name, '.*/', '') AS file_name,
        |  CAST(row_group_id AS BIGINT) AS row_group_id,
        |  CAST(MIN(row_group_num_rows) AS BIGINT) AS n_rows,
        |  CAST(COUNT(*) AS BIGINT) AS n_columns
        |FROM parquet_metadata('/root/testdata/sf0.01/documents.parquet')
        |GROUP BY 1, 2""".stripMargin,

    // Matryoshka truncation audit: full-width exact top-3 vs top-3
    // over the first 16 dims, integer-overlap recall per query
    "q_mrl_recall" ->
      """WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |ex AS (SELECT query_id, neighbor_id FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |      list_sum(list_transform(range(1, 65), i -> q.v[i] * c.v[i]))
        |      / (sqrt(list_sum(list_transform(range(1, 65), i -> q.v[i] * q.v[i])))
        |       * sqrt(list_sum(list_transform(range(1, 65), i -> c.v[i] * c.v[i]))))
        |      DESC, c.vec_id ASC) AS rank
        |  FROM (SELECT * FROM e WHERE vec_id < 20) q,
        |       (SELECT * FROM e WHERE vec_id >= 20) c) t WHERE rank <= 3),
        |tr AS (SELECT query_id, neighbor_id FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |      list_sum(list_transform(range(1, 17), i -> q.v[i] * c.v[i]))
        |      / (sqrt(list_sum(list_transform(range(1, 17), i -> q.v[i] * q.v[i])))
        |       * sqrt(list_sum(list_transform(range(1, 17), i -> c.v[i] * c.v[i]))))
        |      DESC, c.vec_id ASC) AS rank
        |  FROM (SELECT * FROM e WHERE vec_id < 20) q,
        |       (SELECT * FROM e WHERE vec_id >= 20) c) t WHERE rank <= 3)
        |SELECT x.query_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_exact,
        |  CAST((SELECT COUNT(*) FROM tr WHERE tr.query_id = x.query_id)
        |    AS BIGINT) AS n_approx,
        |  CAST(COALESCE(SUM(CASE WHEN t2.neighbor_id IS NOT NULL
        |    THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_hit
        |FROM ex x LEFT JOIN tr t2
        |  ON t2.query_id = x.query_id AND t2.neighbor_id = x.neighbor_id
        |GROUP BY x.query_id""".stripMargin,

    // markdown extraction: the same regex pipeline in DuckDB dialect
    // (backreferences are \1 here, $1 in Spark; 'g' is explicit);
    // strip order matters — images before links, rules before
    // bullets, bold before italic — and both sides encode it
    "q_md_extract" ->
      """WITH m AS (SELECT doc_id,
        |    '# Doc ' || CAST(doc_id AS VARCHAR) || chr(10) || chr(10)
        |    || 'intro **' || lang || '** and *' || source
        |    || '* with `inline code` and [site link](https://example.com/'
        |    || CAST(doc_id AS VARCHAR)
        |    || ') plus ![fig alt](img.png)' || chr(10) || chr(10)
        |    || '## Stats' || chr(10) || chr(10) || '- first '
        |    || CAST(n_chars AS VARCHAR) || ' chars' || chr(10)
        |    || '- second item' || chr(10) || chr(10) || '1. one'
        |    || chr(10) || '2. two' || chr(10) || chr(10)
        |    || '> quoted wisdom' || chr(10) || chr(10) || '```'
        |    || chr(10) || 'code block dropped' || chr(10) || '```'
        |    || chr(10) || chr(10) || '---' || chr(10) || chr(10)
        |    || text AS md
        |  FROM documents),
        |c AS (SELECT doc_id, md,
        |    CAST(len(regexp_extract_all(md, '(?s)```.*?```')) AS BIGINT)
        |      AS n_code_blocks,
        |    CAST(len(regexp_extract_all(md, '(?m)^#{1,6}[ \t]')) AS BIGINT)
        |      AS n_headings,
        |    CAST(len(regexp_extract_all(md, '!\[[^\]]*\]\([^)]*\)'))
        |      AS BIGINT) AS n_images,
        |    regexp_replace(regexp_replace(regexp_replace(md,
        |      '(?s)```.*?```', '', 'g'), '`([^`]+)`', '\1', 'g'),
        |      '!\[([^\]]*)\]\([^)]*\)', '\1', 'g') AS t1
        |  FROM m),
        |d AS (SELECT doc_id, n_code_blocks, n_headings, n_images,
        |    CAST(len(regexp_extract_all(t1, '\[[^\]]*\]\([^)]*\)'))
        |      AS BIGINT) AS n_links,
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |      regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |        regexp_replace(regexp_replace(t1,
        |        '\[([^\]]*)\]\([^)]*\)', '\1', 'g'),
        |        '(?m)^#{1,6}[ \t]+', '', 'g'),
        |        '(?m)^>[ \t]?', '', 'g'),
        |        '(?m)^[ \t]*(-{3,}|\*{3,})[ \t]*$', '', 'g'),
        |        '(?m)^[ \t]*[-*+][ \t]+', '', 'g'),
        |        '(?m)^[ \t]*[0-9]+\.[ \t]+', '', 'g'),
        |        '\*\*([^*]+)\*\*', '\1', 'g'),
        |        '\*([^*]+)\*', '\1', 'g'),
        |        '__([^_]+)__', '\1', 'g'),
        |        '_([^_]+)_', '\1', 'g') AS t2
        |  FROM c)
        |SELECT doc_id,
        |  trim(regexp_replace(t2, '[ \t\r' || chr(10) || ']+', ' ', 'g'))
        |    AS clean_text,
        |  n_headings, n_links, n_images, n_code_blocks
        |FROM d""".stripMargin,

    // streaming perceptual dedup: the completed stream must equal
    // this batch band join (index = base corpus, incoming = clones)
    "q_stream_phash" ->
      s"""WITH $phashCtes,
         |bandt AS (SELECT doc_id, phash, b.bk AS band,
         |    (phash >> (8 * b.bk)) & 255 AS nib
         |  FROM hsh, (SELECT unnest(range(8)) AS bk) b),
         |idx AS (SELECT doc_id AS index_id, phash AS h_index, band, nib
         |  FROM bandt WHERE doc_id < 10000),
         |inc AS (SELECT doc_id AS new_id, phash, band, nib
         |  FROM bandt WHERE doc_id >= 10000)
         |SELECT i.new_id, x.index_id,
         |  CAST(bit_count(xor(i.phash, x.h_index)) AS BIGINT) AS hamming,
         |  CAST(COUNT(*) AS BIGINT) AS n_bands
         |FROM inc i JOIN idx x ON x.band = i.band AND x.nib = i.nib
         |WHERE bit_count(xor(i.phash, x.h_index)) <= 7
         |GROUP BY i.new_id, x.index_id, bit_count(xor(i.phash, x.h_index))"""
        .stripMargin,

    // unigram-LM Viterbi segmentation: the recursive CTE re-derives
    // the DP over DISTINCT tokens — candidates per position compared
    // by ONE struct sort on (negscore, count, piece-sequence), the
    // exact contract order (UnigramSegment scaladoc) — and the doc
    // fingerprint pins the full piece sequence, not just its size
    "q_unigram_segment" ->
      s"""WITH RECURSIVE $unigramCtes
         |SELECT r.doc_id,
         |  CAST(COALESCE(len(p.pieces), 0) AS BIGINT) AS n_pieces,
         |  CAST(COALESCE(len(list_filter(p.pieces,
         |    x -> len(map_extract(v.m, x)) = 0)), 0) AS BIGINT) AS n_unk,
         |  CAST(COALESCE(list_sum(list_transform(p.pieces, x ->
         |    COALESCE(map_extract(v.m, x)[1], $UnigramUnk))), 0) AS BIGINT)
         |    AS score_total,
         |  md5(COALESCE(array_to_string(p.pieces, chr(31)), '')) AS pieces_fp
         |FROM rich r CROSS JOIN vm v LEFT JOIN docp p USING (doc_id)""".stripMargin,

    // one hard-EM prune round: usage counts from the full-vocab DP
    // decide the surviving multi-char pieces (singles always stay —
    // the coverage guarantee), then the SAME DP re-runs under the
    // pruned vocab; the second segmentation is fingerprint-pinned
    "q_unigram_prune" ->
      s"""WITH RECURSIVE $unigramCtes,
         |cnt AS (SELECT piece, CAST(COUNT(*) AS BIGINT) AS n
         |  FROM (SELECT doc_id, unnest(pieces) AS piece FROM docp)
         |  GROUP BY piece),
         |vocab2 AS (SELECT v.piece, v.s FROM vocab v
         |  LEFT JOIN cnt ON cnt.piece = v.piece
         |  WHERE len(v.piece) = 1 OR COALESCE(cnt.n, 0) >= 600),
         |vm2 AS (SELECT map(list(piece ORDER BY piece),
         |                   list(s ORDER BY piece)) AS m,
         |               max(len(piece)) AS maxl FROM vocab2),
         |${unigramDpCtes("vm2", "dp2", "seg2", "docp2")}
         |SELECT r.doc_id,
         |  CAST(COALESCE(len(p1.pieces), 0) AS BIGINT) AS n_pieces_full,
         |  CAST(COALESCE(len(p2.pieces), 0) AS BIGINT) AS n_pieces_pruned,
         |  md5(COALESCE(array_to_string(p2.pieces, chr(31)), ''))
         |    AS pieces_fp_pruned
         |FROM rich r LEFT JOIN docp p1 USING (doc_id)
         |LEFT JOIN docp2 p2 USING (doc_id)""".stripMargin,

    // Viterbi piece-usage counts (the unigram trainer's hard-EM
    // pruning statistic), derived from the same DP
    "q_unigram_train" -> unigramTrainSql,
    "q_pca_top" -> pcaTopSql,
    "q_abtt" -> abttSql,

    "q_unigram_counts" ->
      s"""WITH RECURSIVE $unigramCtes
         |SELECT u.piece, CAST(COUNT(*) AS BIGINT) AS n_uses,
         |  CAST(COUNT(DISTINCT u.doc_id) AS BIGINT) AS n_docs,
         |  len(map_extract(v.m, u.piece)) > 0 AS in_vocab
         |FROM (SELECT doc_id, unnest(pieces) AS piece FROM docp) u
         |CROSS JOIN vm v
         |GROUP BY u.piece, len(map_extract(v.m, u.piece)) > 0""".stripMargin,

    // exact-phrase retrieval: positional postings + adjacency join,
    // phrase-tf ranking — integer counts end to end
    "q_phrase_topk" -> phraseTopkSql,
    // the stored positional face replays the SAME oracle (build ∪
    // append is exactly q_phrase_topk's corpus; bucket layout,
    // pruned scan, and compaction must be invisible in the answer)
    "q_phrase_stored" -> phraseTopkSql,

    // held-out generalization audit: train on the 4/5 md5-split
    // train fold, confusion on the unseen 1/5 — the figure a model
    // card actually wants (train accuracy flatters)
    "q_qcls_holdout" -> ("WITH " + qclsChain(12, "split <> 0") + ",\n" +
      qclsScoreCtes + "\n" +
      """SELECT
        |  CAST(SUM(CASE WHEN p >= 32768 AND y = 1 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS tp,
        |  CAST(SUM(CASE WHEN p >= 32768 AND y = 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS fp,
        |  CAST(SUM(CASE WHEN p < 32768 AND y = 1 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS fn,
        |  CAST(SUM(CASE WHEN p < 32768 AND y = 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS tn,
        |  CAST(COUNT(*) AS BIGINT) AS n_test
        |FROM sc2 WHERE split = 0""".stripMargin),

    // streaming quality gate: the scored stream's per-source keep
    // report, batch-equivalent by the stream contract
    "q_stream_quality" -> ("WITH " + qclsChain(12) + ",\n" +
      qclsScoreCtes + "\n" +
      """SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN s.p >= 32768 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_keep
        |FROM sc2 s JOIN documents d ON d.doc_id = s.doc_id
        |GROUP BY d.source""".stripMargin),

    // URL canonicalization: every normalization rule (case, default
    // port, www, trailing slash, fragment, trackers, param sort)
    // string-exact per doc
    "q_url_normalize" -> ("WITH " + urlCtes + "\n" +
      "SELECT doc_id, url, norm_url, host, reg_domain FROM nu"),

    // URL-level dedup on the canonical key: mess variants 0 and 2
    // collapse; keeper = min doc_id, variant count observable
    "q_url_dedup" -> ("WITH " + urlCtes + "\n" +
      """SELECT norm_url, CAST(MIN(doc_id) AS BIGINT) AS keep_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_variants
        |FROM nu GROUP BY norm_url""".stripMargin),

    // per-registered-domain cap: quality rank (n_chars DESC, doc_id
    // ASC) within the domain, keep rank <= 40
    "q_domain_cap" -> ("WITH " + urlCtes + "\n" +
      """SELECT doc_id, reg_domain, rk FROM (
        |  SELECT doc_id, reg_domain,
        |    CAST(row_number() OVER (PARTITION BY reg_domain
        |      ORDER BY n_chars DESC, doc_id ASC) AS BIGINT) AS rk
        |  FROM nu) t WHERE rk <= 40""".stripMargin),

    // PageRank: 10 unrolled integer-domain damped rounds over the
    // deduped events-derived graph — floored shares, dropped dangling
    // mass, every long reproduced exactly (GraphOps.pageRank verbatim)
    "q_pagerank" -> ("WITH " + pageRankChain(10) +
      s"\nSELECT node, pr FROM pr10"),

    // personalized PageRank: teleport confined to seeds {0..4}
    "q_ppr" -> ("WITH " + pprChain(10) +
      s"\nSELECT node, pr FROM pr10"),

    // per-node triangle counts over the pagerank graph: the oracle
    // enumerates triangles by the id-ordered a<b<c three-way self-join
    // (each triangle once by construction) — a DIFFERENT algorithm
    // than Spark's degree-ordered orientation, so the hash match is an
    // independent proof of the orientation's exactly-once claim
    "q_triangles" ->
      """WITH raw AS (SELECT user_id % 100 AS x, event_id % 100 AS y
        |             FROM events),
        |e AS (SELECT DISTINCT least(x, y) AS a, greatest(x, y) AS b
        |      FROM raw WHERE x <> y),
        |tri AS (SELECT e1.a AS u, e1.b AS v, e2.b AS w
        |        FROM e e1 JOIN e e2 ON e2.a = e1.b
        |        JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        |n AS (SELECT a AS node FROM e UNION SELECT b AS node FROM e),
        |cnt AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS tri_cnt FROM (
        |    SELECT u AS node FROM tri
        |    UNION ALL SELECT v FROM tri
        |    UNION ALL SELECT w FROM tri) t GROUP BY 1)
        |SELECT n.node, CAST(COALESCE(cnt.tri_cnt, 0) AS BIGINT)
        |  AS tri_cnt
        |FROM n LEFT JOIN cnt USING (node)""".stripMargin,

    // co-occurrence: the oracle replays the per-user cap then counts
    // pairs via the a<b SELF-JOIN — Spark generates them in-row from
    // the capped array, so the hash match proves the HOF pair
    // expansion emits exactly the join's set
    "q_cooc" ->
      ("WITH " + coocCapCtes + """
        |SELECT a.i AS item_a, b.i AS item_b,
        |  CAST(COUNT(*) AS BIGINT) AS n_users
        |FROM cap a JOIN cap b ON a.u = b.u AND a.i < b.i
        |GROUP BY 1, 2""".stripMargin),

    // lift over the same capped world: margins, pairs, and N all from
    // the capped table; the double is ONE left-to-right chain
    // matching Spark's expression order exactly
    "q_cooc_lift" ->
      ("WITH " + coocCapCtes + """,
        |t AS (SELECT CAST(COUNT(DISTINCT u) AS BIGINT) AS n_total
        |      FROM cap),
        |m AS (SELECT i, CAST(COUNT(*) AS BIGINT) AS cnt
        |      FROM cap GROUP BY i),
        |p AS (SELECT a.i AS item_a, b.i AS item_b,
        |    CAST(COUNT(*) AS BIGINT) AS n_users
        |  FROM cap a JOIN cap b ON a.u = b.u AND a.i < b.i
        |  GROUP BY 1, 2)
        |SELECT p.item_a, p.item_b, p.n_users,
        |  ma.cnt AS cnt_a, mb.cnt AS cnt_b,
        |  CAST(p.n_users AS DOUBLE) * t.n_total / ma.cnt / mb.cnt
        |    AS lift
        |FROM p JOIN m ma ON ma.i = p.item_a
        |  JOIN m mb ON mb.i = p.item_b CROSS JOIN t""".stripMargin),

    // streaming incremental cooc: completed stream == the batch
    // incoming x capped-index join
    "q_stream_cooc" ->
      ("WITH " + coocCapCtes + """,
        |inc AS (SELECT user_id AS u, (event_id * 7) % 500 AS i_new
        |  FROM events WHERE event_id % 13 = 0)
        |SELECT least(inc.i_new, cap.i) AS item_a,
        |  greatest(inc.i_new, cap.i) AS item_b,
        |  CAST(COUNT(*) AS BIGINT) AS n_pairs
        |FROM inc JOIN cap ON inc.u = cap.u AND cap.i <> inc.i_new
        |GROUP BY 1, 2""".stripMargin),

    // the cap's pricing row: pair mass with and without the cap
    "q_cooc_audit" ->
      ("WITH " + coocCapCtes + """,
        |n AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS n_items
        |      FROM ui GROUP BY u)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
        |  CAST(SUM(CASE WHEN n_items > 20 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_capped_users,
        |  CAST(SUM(GREATEST(n_items - 20, 0)) AS BIGINT)
        |    AS items_dropped,
        |  CAST(SUM(n_items * (n_items - 1) // 2) AS BIGINT)
        |    AS pairs_uncapped,
        |  CAST(SUM(LEAST(n_items, 20) * (LEAST(n_items, 20) - 1) // 2)
        |    AS BIGINT) AS pairs_capped
        |FROM n""".stripMargin),

    // k-core: 6 materialized peel rounds (fixpoint at 4 — the tail
    // rounds are identities, proving the operator's early exit);
    // output = degrees within the final edge set
    "q_kcore" -> ("WITH " + kCoreChain(32, 6) +
      """
        |SELECT node, CAST(COUNT(*) AS BIGINT) AS core_deg FROM (
        |  SELECT a AS node FROM ke6 UNION ALL SELECT b AS node FROM ke6) t
        |GROUP BY 1""".stripMargin),

    // cross-container media dedup: the oracle signs the RAW content
    // (no header ever attached), so Spark's sniffed-kind header strip
    // must land on exactly the planted content bytes to match
    "q_media_dedup" ->
      """WITH mc AS (SELECT d.doc_id,
        |    CASE d.doc_id % 3 WHEN 0 THEN 'image/png'
        |      WHEN 1 THEN 'image/jpeg' ELSE 'image/gif' END AS kind,
        |    c.text AS content
        |  FROM documents d JOIN documents c ON c.doc_id = d.doc_id % 250),
        |s AS (SELECT doc_id, kind,
        |    md5(lower(hex(encode(content)))) AS sig FROM mc)
        |SELECT sig, CAST(MIN(doc_id) AS BIGINT) AS keep_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_copies,
        |  CAST(COUNT(DISTINCT kind) AS BIGINT) AS n_kinds
        |FROM s GROUP BY sig""".stripMargin,

    // per-dimension quantized embedding moments: integer-exact
    // normalization parameters (round-half-up mean, variance
    // numerator in closed integer form)
    "q_embed_stats" ->
      """WITH e2 AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |qv AS (SELECT t.i - 1 AS dim_id,
        |    CAST(floor(v[t.i] * 32768 + 0.5) AS BIGINT) AS q
        |  FROM e2, (SELECT unnest(range(1, 65)) AS i) t),
        |g AS (SELECT dim_id, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(q) AS BIGINT) AS sum_q,
        |    CAST(SUM(q * q) AS BIGINT) AS sum_q2
        |  FROM qv GROUP BY dim_id)
        |SELECT CAST(dim_id AS BIGINT) AS dim_id, n, sum_q, sum_q2,
        |  CAST(floor((2.0 * sum_q + n) / (2.0 * n)) AS BIGINT) AS mean_q,
        |  n * sum_q2 - sum_q * sum_q AS var_num
        |FROM g""".stripMargin,

    // JSONL ingest: explicit columns (the no-inference rule), broken
    // lines kept as null rows (ignore_errors = DuckDB's PERMISSIVE),
    // good rows = id present by schema contract
    "q_jsonl_read" ->
      s"""SELECT id, lang, meta.source AS source, meta.stars AS stars,
         |  CAST(length(text) AS BIGINT) AS n_chars
         |FROM read_json('$JsonlFixture',
         |  format='newline_delimited', ignore_errors=true,
         |  columns={id: 'BIGINT', lang: 'VARCHAR', text: 'VARCHAR',
         |    meta: 'STRUCT(source VARCHAR, stars BIGINT)'})
         |WHERE id IS NOT NULL""".stripMargin,

    // composed web-corpus prep: canonical-URL keeper ∧ classifier
    // keep ∧ domain cap — the three crawl-side stages as one chain
    "q_web_prep" -> ("WITH " + urlCtes + ",\n" + qclsChain(12) + ",\n" +
      qclsScoreCtes + ",\n" +
      """k AS (SELECT doc_id, n_chars, norm_url, reg_domain,
        |    min(doc_id) OVER (PARTITION BY norm_url) AS keep0
        |  FROM nu),
        |surv AS (SELECT k.doc_id, k.n_chars, k.reg_domain, s.p
        |  FROM k JOIN sc2 s ON s.doc_id = k.doc_id
        |  WHERE k.doc_id = k.keep0 AND s.p >= 32768)
        |SELECT doc_id, reg_domain, p, rk FROM (
        |  SELECT doc_id, reg_domain, p,
        |    CAST(row_number() OVER (PARTITION BY reg_domain
        |      ORDER BY n_chars DESC, doc_id ASC) AS BIGINT) AS rk
        |  FROM surv) t
        |WHERE rk <= 40""".stripMargin),

    // ingest-health audit: lines vs schema-valid vs broken
    "q_jsonl_audit" ->
      s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
         |  CAST(COUNT(id) AS BIGINT) AS n_good,
         |  CAST(COUNT(*) - COUNT(id) AS BIGINT) AS n_corrupt
         |FROM read_json('$JsonlFixture',
         |  format='newline_delimited', ignore_errors=true,
         |  columns={id: 'BIGINT', lang: 'VARCHAR', text: 'VARCHAR',
         |    meta: 'STRUCT(source VARCHAR, stars BIGINT)'})""".stripMargin,
  )

  // defs, not vals: referenced by the sql map above, which
  // initializes first in object-body order
  private def JsonlFixture: String = graft.sources.JsonlCorpus.FixtureFile
  private def CsvFixture: String = graft.sources.CsvMeta.FixtureFile

  /** Planted messy-URL corpus + normalization components — the
    * ExtQueries.urlCorpus / UrlOps rules verbatim in RE2-safe SQL:
    * emits `u (doc_id, n_chars, url)` and `nu (doc_id, n_chars, url,
    * scheme, host, path, q, norm_url, reg_domain)`. */
  private def urlCtes: String =
    """u AS (SELECT doc_id, n_chars,
      |    CASE (doc_id // 100) % 5
      |      WHEN 0 THEN 'HTTPS://WWW.' || upper(dom) || ':443' || base
      |        || '/?utm_source=feed&x=1#top'
      |      WHEN 1 THEN 'http://' || dom || ':80' || base
      |      WHEN 2 THEN 'https://www.' || dom || base || '/?x=1'
      |      WHEN 3 THEN 'https://' || dom || base
      |        || '?b=2&a=1&utm_campaign=x&ref=rss'
      |      ELSE 'https://cdn.' || dom || base || '?a=1&b=2' END AS url
      |  FROM (SELECT doc_id, n_chars,
      |      'site' || CAST(doc_id % 100 % 7 AS VARCHAR) || '.' ||
      |        CASE (doc_id % 100 % 7) % 3 WHEN 0 THEN 'com'
      |          WHEN 1 THEN 'org' ELSE 'net' END AS dom,
      |      '/p/' || CAST(doc_id % 100 AS VARCHAR) AS base
      |    FROM documents) s),
      |nu AS (SELECT doc_id, n_chars, url, scheme, host, path, q,
      |    scheme || '://' || host || path ||
      |      CASE WHEN q = '' THEN '' ELSE '?' || q END AS norm_url,
      |    regexp_extract(host, '([^.]+\.[^.]+)$', 1) AS reg_domain
      |  FROM (SELECT doc_id, n_chars, url,
      |      lower(regexp_extract(url,
      |        '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
      |      regexp_replace(
      |        CASE lower(regexp_extract(url,
      |            '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
      |          WHEN 'http' THEN regexp_replace(lower(regexp_extract(url,
      |            '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)), ':80$', '')
      |          WHEN 'https' THEN regexp_replace(lower(regexp_extract(url,
      |            '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)), ':443$', '')
      |          ELSE lower(regexp_extract(url,
      |            '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)) END,
      |        '^www\.', '') AS host,
      |      regexp_replace(regexp_extract(url,
      |        '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1),
      |        '/+$', '') AS path,
      |      COALESCE(array_to_string(list_sort(list_filter(
      |        string_split(regexp_extract(url, '\?([^#]*)', 1), '&'),
      |        p -> p <> '' AND NOT regexp_matches(p,
      |          '^(utm_[A-Za-z0-9_]*|fbclid|gclid|ref)='))), '&'), '') AS q
      |    FROM u) c)""".stripMargin

  /** Quality-classifier training chain (Classifier.fit defaults:
    * 16 hashed buckets + gain-32 bias slot, scale 2^16, lr = 2^-8,
    * label = n_chars >= 306), unrolled: feat / trainfeat / cden / w0
    * then one (p_i, g_i, w_i) triple per round — the scaled-integer
    * hard-sigmoid gradient loop verbatim. `trainWhere` restricts the
    * training corpus (the holdout face); feat always carries the
    * md5 split column. Emits `w$iters (wl)`. */
  private def qclsChain(iters: Int, trainWhere: String = "TRUE"): String = {
    val head =
      s"""feat AS MATERIALIZED (SELECT doc_id,
        |    CAST('0x' || substr(md5('qcls|' || CAST(doc_id AS VARCHAR)),
        |      1, 15) AS BIGINT) % 5 AS split,
        |    CASE WHEN n_chars >= 306 THEN CAST(1 AS BIGINT)
        |      ELSE CAST(0 AS BIGINT) END AS y,
        |    list_concat([CAST(32 AS BIGINT)],
        |      list_transform(range(0, 16), j ->
        |        CAST(len(list_filter(bs, b -> b = j)) AS BIGINT))) AS x
        |  FROM (SELECT doc_id, n_chars,
        |      list_transform(string_split(text, ' '),
        |        t -> CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) % 16)
        |        AS bs
        |    FROM documents) s),
        |trainfeat AS MATERIALIZED (SELECT * FROM feat WHERE $trainWhere),
        |cden AS (SELECT CAST(COUNT(*) AS BIGINT) * 256 AS d
        |  FROM trainfeat),
        |w0 AS (SELECT list_transform(range(0, 17),
        |    j -> CAST(0 AS BIGINT)) AS wl)""".stripMargin
    // ONE reference to w{i-1} per round (the doc × j cross join
    // carries the weight list into both the margin and the update) —
    // the p/g/w three-CTE form was 2^iters inlining — AND the round
    // CTEs are AS MATERIALIZED: even single-referenced, the 12-deep
    // nested inline sends DuckDB's planner super-linear (measured
    // 0.85 s at 9 rounds → 62 s at 12); materializing each round
    // pins the plan to 12 small independent queries (0.19 s)
    val rounds = (1 to iters).map { i =>
      s"""w$i AS MATERIALIZED (SELECT list(wn ORDER BY j) AS wl FROM (
         |  SELECT t.j, MAX(w.wl[t.j + 1])
         |    - CAST(floor((2 * SUM((GREATEST(0, LEAST(65536,
         |        32768 + CAST(floor(list_sum(list_transform(range(1, 18),
         |          i -> w.wl[i] * f.x[i])) / 4.0) AS BIGINT)))
         |        - f.y * 65536) * f.x[t.j + 1]) + MAX(c.d))
         |      / (2.0 * MAX(c.d))) AS BIGINT) AS wn
         |  FROM trainfeat f, w${i - 1} w, cden c,
         |    (SELECT unnest(range(0, 17)) AS j) t
         |  GROUP BY t.j) u)""".stripMargin
    }
    (head +: rounds).mkString(",\n")
  }

  /** PageRank chain (GraphOps.pageRank over the events-derived
    * graph): deduped edges, node set, out-degrees, then one pr CTE
    * per round — pr_{i-1} referenced exactly ONCE per round (the
    * single-reference rule the qcls chain documents), so DuckDB's
    * inlining stays linear. Emits `pr$iters (node, pr)`. */
  /** k-core peel unrolled: per round, a degree CTE (HAVING >= k) and
    * the edge set semi-filtered to surviving endpoints. Every round
    * AS MATERIALIZED — each is referenced twice (both endpoint
    * filters), and un-materialized DuckDB re-inlines the whole
    * upstream chain per reference (the q_unigram_train lesson). After
    * the fixpoint (round 4 on this fixture) the remaining rounds are
    * identities, so the fixed unroll equals the operator's early
    * exit. */
  private def kCoreChain(k: Int, rounds: Int): String = {
    val head =
      """ke0 AS MATERIALIZED (
        |  WITH raw AS (SELECT user_id % 397 AS x,
        |      (event_id * 7 + user_id) % 397 AS y FROM events)
        |  SELECT DISTINCT least(x, y) AS a, greatest(x, y) AS b
        |  FROM raw WHERE x <> y)""".stripMargin
    val steps = (1 to rounds).map { r =>
      val p = s"ke${r - 1}"
      s"""ka$r AS MATERIALIZED (SELECT node FROM (
         |    SELECT a AS node FROM $p UNION ALL SELECT b AS node FROM $p) t
         |  GROUP BY node HAVING COUNT(*) >= $k),
         |ke$r AS MATERIALIZED (SELECT $p.a, $p.b FROM $p
         |  JOIN ka$r x ON $p.a = x.node
         |  JOIN ka$r y ON $p.b = y.node)""".stripMargin
    }
    (head +: steps).mkString(",\n")
  }

  /** The capped co-occurrence world's CTEs (ui → ranked → cap),
    * shared by all four cooc oracles so the cap definition cannot
    * drift between them — margins, pairs, N, the audit, and the
    * streaming face must describe ONE corpus. Mirrors the Spark
    * side's GraphOps.capped (maxPerUser = 20, item = event_id%500).
    * A `def`, not a `val` — the init-order gotcha. */
  private def coocCapCtes: String =
    """ui AS (SELECT DISTINCT user_id AS u,
      |    event_id % 500 AS i FROM events),
      |r AS (SELECT u, i,
      |    row_number() OVER (PARTITION BY u ORDER BY i) AS rk
      |  FROM ui),
      |cap AS (SELECT u, i FROM r WHERE rk <= 20)""".stripMargin

  /** Personalized-PageRank rounds: same integer recurrence as
    * [[pageRankChain]] but init mass and the per-round teleport go
    * ONLY to the fixture's seed set {0..4} (node < 5). */
  private def pprChain(iters: Int): String = {
    val head =
      """ed AS (SELECT DISTINCT user_id % 100 AS src,
        |    event_id % 100 AS dst
        |  FROM events WHERE user_id % 100 <> event_id % 100),
        |nodes AS (SELECT DISTINCT node FROM (
        |  SELECT src AS node FROM ed
        |  UNION ALL SELECT dst FROM ed) q),
        |odeg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS outd
        |  FROM ed GROUP BY src),
        |pr0 AS (SELECT node, CASE WHEN node < 5
        |    THEN 1000000000000 // 5 ELSE 0 END AS pr FROM nodes)""".stripMargin
    val rounds = (1 to iters).map { i =>
      s"""pr$i AS (SELECT n2.node,
         |    CASE WHEN n2.node < 5 THEN 150000000000 // 5 ELSE 0 END
         |      + 85 * COALESCE(s.contrib, 0) // 100 AS pr
         |  FROM nodes n2
         |  LEFT JOIN (SELECT e.dst,
         |      CAST(SUM(p.pr // o.outd) AS BIGINT) AS contrib
         |    FROM pr${i - 1} p
         |    JOIN odeg o ON o.src = p.node
         |    JOIN ed e ON e.src = p.node
         |    GROUP BY e.dst) s ON s.dst = n2.node)""".stripMargin
    }
    (head +: rounds).mkString(",\n")
  }

  private def pageRankChain(iters: Int): String = {
    val head =
      """ed AS (SELECT DISTINCT user_id % 100 AS src,
        |    event_id % 100 AS dst
        |  FROM events WHERE user_id % 100 <> event_id % 100),
        |nodes AS (SELECT DISTINCT node FROM (
        |  SELECT src AS node FROM ed
        |  UNION ALL SELECT dst FROM ed) q),
        |ncnt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
        |odeg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS outd
        |  FROM ed GROUP BY src),
        |pr0 AS (SELECT node, 1000000000000 // c.n AS pr
        |  FROM nodes, ncnt c)""".stripMargin
    val rounds = (1 to iters).map { i =>
      s"""pr$i AS (SELECT n2.node,
         |    (150000000000 // c.n) + 85 * COALESCE(s.contrib, 0) // 100
         |      AS pr
         |  FROM nodes n2 CROSS JOIN ncnt c
         |  LEFT JOIN (SELECT e.dst,
         |      CAST(SUM(p.pr // o.outd) AS BIGINT) AS contrib
         |    FROM pr${i - 1} p
         |    JOIN odeg o ON o.src = p.node
         |    JOIN ed e ON e.src = p.node
         |    GROUP BY e.dst) s ON s.dst = n2.node)""".stripMargin
    }
    (head +: rounds).mkString(",\n")
  }

  // def, not val: the `sql` map interpolates this during object init,
  // which runs in declaration order — a val down here would still be 0
  private def UnigramUnk: Long = graft.catalyst.UnigramSegment.DefaultUnkScore

  /** Shared CTE chain of the perceptual-hash oracles: planted media
    * corpus (base / re-wrap / perturbed) → content bytes → 8×8 luma
    * fold (modular per-cell sums, same arithmetic as the running
    * modular accumulation in Phash64.compute) → integer DCT-II with
    * the SAME scaled-cosine matrix the expression carries
    * (interpolated from Phash64.Coef, so one matrix by construction)
    * → median-sign bits at 63−k. The oracle hashes the BARE content;
    * the container header only exists on the Spark side, where the
    * sniff→strip path must remove it exactly. */
  private def phashCtes: String = {
    val coefVals = graft.catalyst.Phash64.Coef.zipWithIndex.flatMap {
      case (row, u) => row.zipWithIndex.map { case (c, x) => s"($u, $x, $c)" }
    }.mkString(", ")
    s"""corpus AS (
       |  SELECT doc_id, text AS content, doc_id % 3 AS k FROM documents
       |  UNION ALL
       |  SELECT doc_id + 10000, text, (doc_id % 3 + 1) % 3
       |  FROM documents WHERE doc_id % 4 = 0
       |  UNION ALL
       |  SELECT doc_id + 20000,
       |    substr(text, 1, 100) || 'XQZ' || substr(text, 104), doc_id % 3
       |  FROM documents WHERE doc_id % 5 = 0),
       |coef(u, x, c) AS (VALUES $coefVals),
       |hx AS (SELECT doc_id, k, hex(encode(content)) AS h,
       |    octet_length(encode(content)) AS n FROM corpus),
       |by AS (SELECT doc_id, t.i AS j,
       |    CAST('0x' || substr(h, t.i * 2 + 1, 2) AS BIGINT) AS b
       |  FROM hx, unnest(range(n)) AS t(i)),
       |luma AS (SELECT g.doc_id, g.cell, COALESCE(l.v, 0) AS v
       |  FROM (SELECT doc_id, t.cell
       |        FROM hx, (SELECT unnest(range(64)) AS cell) t) g
       |  LEFT JOIN (SELECT doc_id, j % 64 AS cell,
       |      CAST(SUM(b * ((j // 64) % 7 + 1)) % 1000003 AS BIGINT) AS v
       |    FROM by GROUP BY doc_id, j % 64) l
       |  ON l.doc_id = g.doc_id AND l.cell = g.cell),
       |inner_ AS (SELECT l.doc_id, cf.u AS v, l.cell // 8 AS x,
       |    CAST(SUM(l.v * cf.c) AS BIGINT) AS s
       |  FROM luma l JOIN coef cf ON cf.x = l.cell % 8
       |  GROUP BY l.doc_id, cf.u, l.cell // 8),
       |t AS (SELECT i.doc_id, cf.u, i.v,
       |    CAST(SUM(cf.c * i.s) AS BIGINT) AS tv
       |  FROM inner_ i JOIN coef cf ON cf.x = i.x
       |  GROUP BY i.doc_id, cf.u, i.v),
       |med AS (SELECT doc_id, list_sort(list(tv))[32] AS m
       |  FROM t WHERE NOT (u = 0 AND v = 0) GROUP BY doc_id),
       |hsh AS (SELECT h2.doc_id, h2.k, CAST(COALESCE(s.ph, 0) AS BIGINT) AS phash
       |  FROM hx h2 LEFT JOIN (
       |    SELECT t.doc_id, SUM(1::BIGINT << (63 - (t.u * 8 + t.v))) AS ph
       |    FROM t JOIN med ON med.doc_id = t.doc_id
       |    WHERE NOT (t.u = 0 AND t.v = 0) AND t.tv > med.m
       |    GROUP BY t.doc_id) s ON s.doc_id = h2.doc_id)""".stripMargin
  }

  /** Shared CTE chain of the unigram-LM oracles: enriched corpus →
    * vocab map (the SAME piece list the native expression carries,
    * inlined as VALUES) → Viterbi DP per DISTINCT token as a
    * recursive CTE over end position j, each row carrying the dp
    * cell list so far — candidates at j compared by one ascending
    * struct sort on (negscore, count, pieces), the contract's
    * (score desc, count asc, sequence lex asc) — → per-doc piece
    * reassembly in token order. */
  /** One Viterbi DP + per-doc reassembly block over `toks`/`dtoks`,
    * parameterized by the vocab-map CTE it reads and the names it
    * defines — emitted twice by the prune oracle (full vocab, then
    * the usage-pruned one). */
  private def unigramDpCtes(vm: String, dp: String, seg: String,
                            docp: String): String =
    s"""$dp AS (
       |  SELECT tok, 0 AS j,
       |    [struct_pack(ns := CAST(0 AS BIGINT), cnt := CAST(0 AS BIGINT),
       |                 ps := CAST([] AS VARCHAR[]))] AS cells
       |  FROM toks
       |  UNION ALL
       |  SELECT tok, j + 1,
       |    cells || [list_sort(list_filter(
       |      list_transform(range(1, least(maxl, j + 1) + 1), l ->
       |        CASE
       |          WHEN len(map_extract(m, substr(tok, j + 2 - l, l))) > 0
       |          THEN struct_pack(
       |            ns := cells[j + 2 - l].ns
       |              - map_extract(m, substr(tok, j + 2 - l, l))[1],
       |            cnt := cells[j + 2 - l].cnt + 1,
       |            ps := cells[j + 2 - l].ps || [substr(tok, j + 2 - l, l)])
       |          WHEN l = 1
       |          THEN struct_pack(
       |            ns := cells[j + 1].ns + ${-UnigramUnk},
       |            cnt := cells[j + 1].cnt + 1,
       |            ps := cells[j + 1].ps || [substr(tok, j + 1, 1)])
       |          ELSE NULL END),
       |      x -> x IS NOT NULL))[1]]
       |  FROM $dp, $vm WHERE j < len(tok)),
       |$seg AS (SELECT tok, cells[len(tok) + 1].ps AS ps
       |  FROM $dp WHERE j = len(tok)),
       |$docp AS (SELECT doc_id, flatten(list(ps ORDER BY tok_idx)) AS pieces
       |  FROM dtoks JOIN $seg USING (tok) GROUP BY doc_id)""".stripMargin

  private def unigramVocabVals: String =
    graft.catalyst.UnigramSegment.DefaultVocab
      .map { case (p, s) => s"('${p.replace("'", "''")}', $s)" }
      .mkString(", ")

  private def unigramCtes: String =
    s"""rich AS (SELECT doc_id,
       |    text || ' doc-' || CAST(doc_id AS VARCHAR) || ' it''s v1.2, n=' ||
       |      CAST(n_chars AS VARCHAR) || '! café' AS rich
       |  FROM documents),
       |vocab(piece, s) AS (VALUES $unigramVocabVals),
       |vm AS (SELECT map(list(piece ORDER BY piece), list(s ORDER BY piece)) AS m,
       |              max(len(piece)) AS maxl FROM vocab),
       |toks AS (SELECT DISTINCT tok FROM (
       |  SELECT unnest(string_split(rich, ' ')) AS tok FROM rich) WHERE tok <> ''),
       |dtoks AS (SELECT doc_id, tok_idx, tok FROM (
       |  SELECT doc_id, generate_subscripts(st, 1) AS tok_idx, unnest(st) AS tok
       |  FROM (SELECT doc_id, string_split(rich, ' ') AS st FROM rich))
       |  WHERE tok <> ''),
       |${unigramDpCtes("vm", "dp", "seg", "docp")}""".stripMargin

  /** The COMPOSED corpus release (q_corpus_release): the dedup
    * cascade verbatim (the q_dedup_cascade chain), then 5-gram
    * benchmark decontamination over the cascade's keepers, then the
    * q_quality_route chain re-derived over the POST-decon corpus
    * (profiles and the unigram LM train on what they score — the
    * composition contract), then packing/sharding/card over the
    * released set — reduced to the per-stage manifest. Inline
    * duplication of the member chains is deliberate (the
    * q_cluster_stats policy): each member oracle stays independently
    * green, and this one proves the COMPOSITION with src swapped to
    * each stage's survivor set. */
  /** The release chain's CTE prefix (u0 ... fin/pk/sp), shared by
    * the manifest oracle and the release-ingest oracle: `fin` is the
    * released (kept) document set both queries read. */
  private def releaseChainCtes: String =
    """WITH RECURSIVE u0 AS (SELECT doc_id, text,
      |    CASE (doc_id // 100) % 5
      |      WHEN 0 THEN 'HTTPS://WWW.' || upper(dom) || ':443' || base
      |        || '/?utm_source=feed&x=1#top'
      |      WHEN 1 THEN 'http://' || dom || ':80' || base
      |      WHEN 2 THEN 'https://www.' || dom || base || '/?x=1'
      |      WHEN 3 THEN 'https://' || dom || base
      |        || '?b=2&a=1&utm_campaign=x&ref=rss'
      |      ELSE 'https://cdn.' || dom || base || '?a=1&b=2' END AS url
      |  FROM (SELECT doc_id, text,
      |      'site' || CAST(doc_id % 100 % 7 AS VARCHAR) || '.' ||
      |        CASE (doc_id % 100 % 7) % 3 WHEN 0 THEN 'com'
      |          WHEN 1 THEN 'org' ELSE 'net' END AS dom,
      |      '/p/' || CAST(doc_id % 100 AS VARCHAR) AS base
      |    FROM documents) s),
      |corpus AS MATERIALIZED (SELECT doc_id, text, url FROM u0
      |  UNION ALL SELECT doc_id + 300000, text,
      |    'https://mirror.example/m/' || CAST(doc_id AS VARCHAR)
      |  FROM u0 WHERE doc_id % 13 = 0
      |  UNION ALL SELECT doc_id + 200000, text || ' graftmarker end',
      |    'https://alt.example/a/' || CAST(doc_id AS VARCHAR)
      |  FROM u0 WHERE doc_id % 11 = 0),
      |nu AS MATERIALIZED (SELECT doc_id, text,
      |    scheme || '://' || host || path ||
      |      CASE WHEN q = '' THEN '' ELSE '?' || q END AS norm_url
      |  FROM (SELECT doc_id, text,
      |      lower(regexp_extract(url,
      |        '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
      |      regexp_replace(
      |        CASE lower(regexp_extract(url,
      |            '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
      |          WHEN 'http' THEN regexp_replace(lower(regexp_extract(url,
      |            '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)), ':80$', '')
      |          WHEN 'https' THEN regexp_replace(lower(regexp_extract(url,
      |            '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)), ':443$', '')
      |          ELSE lower(regexp_extract(url,
      |            '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)) END,
      |        '^www\.', '') AS host,
      |      regexp_replace(regexp_extract(url,
      |        '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1),
      |        '/+$', '') AS path,
      |      COALESCE(array_to_string(list_sort(list_filter(
      |        string_split(regexp_extract(url, '\?([^#]*)', 1), '&'),
      |        p -> p <> '' AND NOT regexp_matches(p,
      |          '^(utm_[A-Za-z0-9_]*|fbclid|gclid|ref)='))), '&'), '') AS q
      |    FROM corpus) c),
      |uk AS MATERIALIZED (SELECT doc_id, text,
      |    min(doc_id) OVER (PARTITION BY norm_url) AS k FROM nu),
      |udrop AS MATERIALIZED (SELECT doc_id, 'url' AS dropped_by FROM uk
      |  WHERE doc_id <> k),
      |ek AS MATERIALIZED (SELECT doc_id, text,
      |    min(doc_id) OVER (PARTITION BY md5(text)) AS k
      |  FROM uk WHERE doc_id = k),
      |edrop AS MATERIALIZED (SELECT doc_id, 'exact' AS dropped_by FROM ek
      |  WHERE doc_id <> k),
      |se AS MATERIALIZED (SELECT doc_id, text FROM ek WHERE doc_id = k),
      |toks AS MATERIALIZED (SELECT doc_id, string_split(text, ' ') AS w FROM se),
      |sh AS MATERIALIZED (SELECT DISTINCT doc_id, shingle FROM (
      |  SELECT doc_id, unnest(list_transform(range(1, len(w) - 1),
      |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
      |  FROM toks WHERE len(w) >= 3) t),
      |mh AS MATERIALIZED (SELECT doc_id, sd.seed,
      |    min(md5(sd.seed::VARCHAR || '|' || shingle)) AS h
      |  FROM sh CROSS JOIN (SELECT unnest(range(8)) AS seed) sd
      |  GROUP BY doc_id, sd.seed),
      |bands AS MATERIALIZED (SELECT doc_id, seed // 2 AS band,
      |    min(CASE WHEN seed % 2 = 0 THEN h END)
      |      || min(CASE WHEN seed % 2 = 1 THEN h END) AS bkey
      |  FROM mh GROUP BY doc_id, seed // 2),
      |bsz AS MATERIALIZED (SELECT band, bkey, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM bands GROUP BY band, bkey),
      |cand AS MATERIALIZED (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM bands a JOIN bands b
      |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
      |  JOIN bsz z ON z.band = a.band AND z.bkey = a.bkey AND z.n <= 64),
      |inter AS MATERIALIZED (SELECT c.doc_a, c.doc_b, COUNT(*) AS i
      |  FROM cand c
      |  JOIN sh sa ON sa.doc_id = c.doc_a
      |  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
      |  GROUP BY c.doc_a, c.doc_b),
      |sizes AS MATERIALIZED (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      |pairs AS MATERIALIZED (SELECT i.doc_a, i.doc_b FROM inter i
      |  JOIN sizes na ON na.doc_id = i.doc_a
      |  JOIN sizes nb ON nb.doc_id = i.doc_b
      |  WHERE CAST(i.i AS DOUBLE) / (na.n + nb.n - i.i) >= 0.5),
      |edges AS MATERIALIZED (SELECT doc_a AS s, doc_b AS d FROM pairs
      |  UNION SELECT doc_b, doc_a FROM pairs),
      |reach(id, r) AS (
      |  SELECT s, s FROM edges
      |  UNION
      |  SELECT e.s, r.r FROM edges e JOIN reach r ON e.d = r.id),
      |comp AS MATERIALIZED (SELECT id, min(r) AS component FROM reach GROUP BY id),
      |ndrop AS MATERIALIZED (SELECT id AS doc_id, 'near' AS dropped_by
      |  FROM comp WHERE id <> component),
      |drops AS MATERIALIZED (SELECT * FROM udrop UNION ALL SELECT * FROM edrop
      |  UNION ALL SELECT * FROM ndrop),
      |keptm AS MATERIALIZED (SELECT k.doc_id, k.text, d0.lang, d0.source
      |  FROM (SELECT s2.doc_id, s2.text FROM se s2
      |    LEFT JOIN ndrop n ON n.doc_id = s2.doc_id
      |    WHERE n.doc_id IS NULL) k
      |  JOIN documents d0 ON d0.doc_id =
      |    CASE WHEN k.doc_id >= 300000 THEN k.doc_id - 300000
      |         WHEN k.doc_id >= 200000 THEN k.doc_id - 200000
      |         ELSE k.doc_id END),
      |bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 37 = 0),
      |bt AS (SELECT string_split(text, ' ') AS w FROM bench),
      |bs AS MATERIALIZED (SELECT DISTINCT shingle FROM (
      |  SELECT unnest(list_transform(range(1, len(w) - 3),
      |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
      |      || ' ' || w[i+4])) AS shingle
      |  FROM bt WHERE len(w) >= 5) t),
      |dt AS MATERIALIZED (SELECT doc_id, string_split(text, ' ') AS w FROM keptm),
      |ds AS MATERIALIZED (SELECT DISTINCT doc_id, shingle FROM (
      |  SELECT doc_id, unnest(list_transform(range(1, len(w) - 3),
      |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
      |      || ' ' || w[i+4])) AS shingle
      |  FROM dt WHERE len(w) >= 5) t),
      |contam AS MATERIALIZED (SELECT ds.doc_id FROM ds JOIN bs
      |    ON ds.shingle = bs.shingle
      |  GROUP BY ds.doc_id HAVING COUNT(*) >= 3),
      |clean AS MATERIALIZED (SELECT k.* FROM keptm k LEFT JOIN contam c
      |  ON c.doc_id = k.doc_id WHERE c.doc_id IS NULL),
      |g AS MATERIALIZED (SELECT doc_id, lang, substr(text, i, 3) AS gram
      |  FROM clean, unnest(range(1, len(text) - 1)) AS t(i)),
      |prof AS MATERIALIZED (SELECT lang, gram FROM (
      |  SELECT lang, gram, row_number() OVER (PARTITION BY lang
      |      ORDER BY COUNT(*) DESC, gram ASC) AS rk
      |  FROM g GROUP BY lang, gram) WHERE rk <= 50),
      |langs AS (SELECT DISTINCT lang AS cand2 FROM prof),
      |dg AS MATERIALIZED (SELECT DISTINCT doc_id, gram FROM g),
      |hits AS MATERIALIZED (SELECT dg.doc_id, prof.lang AS cand2,
      |    CAST(COUNT(*) AS BIGINT) AS ovl
      |  FROM dg JOIN prof ON prof.gram = dg.gram GROUP BY 1, 2),
      |pred AS MATERIALIZED (SELECT doc_id, pred_lang FROM (
      |  SELECT d.doc_id, l.cand2 AS pred_lang, row_number() OVER (
      |      PARTITION BY d.doc_id
      |      ORDER BY COALESCE(h.ovl, 0) DESC, l.cand2 ASC) AS rk
      |  FROM clean d CROSS JOIN langs l
      |  LEFT JOIN hits h ON h.doc_id = d.doc_id AND h.cand2 = l.cand2)
      |  WHERE rk = 1),
      |qrtoks AS MATERIALIZED (SELECT doc_id, unnest(string_split(text, ' '))
      |    AS tok FROM clean),
      |u AS MATERIALIZED (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM qrtoks GROUP BY tok),
      |tot AS MATERIALIZED (SELECT CAST(SUM(c) AS BIGINT) AS n,
      |    CAST(COUNT(*) AS BIGINT) AS v FROM u),
      |surp AS MATERIALIZED (SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
      |    CAST(SUM(length(bin(tot.n + tot.v))
      |      - length(bin(u.c + 1))) AS BIGINT) AS surprisal_bits
      |  FROM qrtoks t JOIN u ON u.tok = t.tok, tot GROUP BY t.doc_id),
      |gq AS MATERIALIZED (SELECT doc_id,
      |    (len(w) BETWEEN 30 AND 100000)
      |    AND (CAST(ch - (len(w) - 1) AS DOUBLE) / len(w)
      |      BETWEEN 3.0 AND 10.0)
      |    AND (CAST(len(list_filter(w, t2 ->
      |      regexp_matches(t2, '[A-Za-z]'))) AS DOUBLE) / len(w) >= 0.8)
      |    AND (len(list_filter(w, t2 -> t2 IN
      |      ('the','a','of','and','to','in','is','data'))) >= 2)
      |      AS gopher_pass
      |  FROM (SELECT doc_id, length(text) AS ch,
      |    string_split(text, ' ') AS w FROM clean)),
      |qroute AS MATERIALIZED (SELECT d.doc_id,
      |    CASE WHEN NOT gq.gopher_pass THEN 'drop'
      |      WHEN NOT (p.pred_lang = d.lang)
      |        OR s.surprisal_bits * 5 > s.n_tokens * 26 THEN 'review'
      |      ELSE 'keep' END AS route
      |  FROM clean d
      |  JOIN pred p ON p.doc_id = d.doc_id
      |  JOIN surp s ON s.doc_id = d.doc_id
      |  JOIN gq ON gq.doc_id = d.doc_id),
      |fin AS MATERIALIZED (SELECT c.doc_id, c.text, c.lang, c.source
      |  FROM clean c JOIN qroute r ON r.doc_id = c.doc_id
      |  WHERE r.route = 'keep'),
      |pk AS MATERIALIZED (SELECT doc_id, source, n_tokens,
      |    COALESCE(SUM(n_tokens) OVER (PARTITION BY source
      |      ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
      |      AND 1 PRECEDING), 0) // 512 AS pack_id
      |  FROM (SELECT doc_id, source,
      |      CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |    FROM fin) t),
      |sp AS MATERIALIZED (SELECT doc_id,
      |    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY h % 1024, h, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS BIGINT) // 2000 AS shard_id
      |  FROM (SELECT doc_id,
      |      CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |      CAST('0x' || substr(md5('shard|' || CAST(doc_id AS VARCHAR)),
      |        1, 15) AS BIGINT) AS h
      |    FROM fin) t)""".stripMargin

  private def corpusReleaseSql: String = releaseChainCtes + "\n" +
    """SELECT '0_input' AS stage, 'n_docs' AS metric,
      |  CAST((SELECT COUNT(*) FROM corpus) AS BIGINT) AS value,
      |  'exact' AS contract
      |UNION ALL SELECT '1_url', 'n_dropped', CAST((SELECT COUNT(*)
      |  FROM drops WHERE dropped_by = 'url') AS BIGINT), 'exact'
      |UNION ALL SELECT '2_exact', 'n_dropped', CAST((SELECT COUNT(*)
      |  FROM drops WHERE dropped_by = 'exact') AS BIGINT), 'exact'
      |UNION ALL SELECT '3_near', 'n_dropped', CAST((SELECT COUNT(*)
      |  FROM drops WHERE dropped_by = 'near') AS BIGINT), 'lsh_capped'
      |UNION ALL SELECT '3_near', 'n_buckets_capped', CAST((SELECT
      |  COUNT(*) FROM bsz WHERE n > 64) AS BIGINT), 'lsh_capped'
      |UNION ALL SELECT '3_near', 'n_pairs_dropped',
      |  CAST(COALESCE((SELECT SUM(n * (n - 1) // 2) FROM bsz
      |  WHERE n > 64), 0) AS BIGINT), 'lsh_capped'
      |UNION ALL SELECT '4_decon', 'n_dropped',
      |  CAST((SELECT COUNT(*) FROM contam) AS BIGINT), 'exact'
      |UNION ALL SELECT '5_quality', 'n_drop', CAST((SELECT COUNT(*)
      |  FROM qroute WHERE route = 'drop') AS BIGINT), 'exact'
      |UNION ALL SELECT '5_quality', 'n_review', CAST((SELECT COUNT(*)
      |  FROM qroute WHERE route = 'review') AS BIGINT), 'exact'
      |UNION ALL SELECT '5_quality', 'n_keep',
      |  CAST((SELECT COUNT(*) FROM fin) AS BIGINT), 'exact'
      |UNION ALL SELECT '6_pack', 'n_packs', CAST((SELECT COUNT(*) FROM
      |  (SELECT DISTINCT source, pack_id FROM pk) t) AS BIGINT), 'exact'
      |UNION ALL SELECT '6_pack', 'n_tokens',
      |  CAST(COALESCE((SELECT SUM(n_tokens) FROM pk), 0) AS BIGINT),
      |  'exact'
      |UNION ALL SELECT '7_shard', 'n_shards', CAST((SELECT
      |  COUNT(DISTINCT shard_id) FROM sp) AS BIGINT), 'exact'
      |UNION ALL SELECT '8_card', 'n_docs',
      |  CAST((SELECT COUNT(*) FROM fin) AS BIGINT), 'exact'
      |UNION ALL SELECT '8_card', 'n_tokens', CAST(COALESCE((SELECT
      |  SUM(len(string_split(text, ' '))) FROM fin), 0) AS BIGINT),
      |  'exact'
      |UNION ALL SELECT '8_card', 'n_vocab', CAST((SELECT
      |  COUNT(DISTINCT tok) FROM (SELECT unnest(string_split(text, ' '))
      |  AS tok FROM fin) t) AS BIGINT), 'exact'""".stripMargin

  /** Shared CTE chain of the PCA family (Pca.powerIterate replayed in
    * SQL): integer-exact quantized scatter (n, Σq, Σqqᵀ), double
    * centering M = n·Σqqᵀ − (Σq)(Σq)ᵀ per entry (one expression over
    * exact longs — deterministic IEEE, same as the Scala loop), 12
    * materialized power-iteration rounds with list_sum's
    * left-to-right fold matching the driver's while-loops, then the
    * sign convention (largest-|v_i| component non-negative, ties
    * smallest i). Emits `vf (v)`, `mm (M)`, `s`, `dims`. */
  private def pcaChain(iters: Int = 12, src: String = "embeddings",
                       vcol: String = "embedding"): String = {
    val rounds = (1 to iters).map { r =>
      val prev = if (r == 1) "v0" else s"v${r - 1}"
      s"""w$r AS MATERIALIZED (SELECT list_transform(range(1, 65), i ->
         |    list_sum(list_transform(range(1, 65), j ->
         |      mm.M[i][j] * p.v[j]))) AS w FROM mm, $prev p),
         |v$r AS MATERIALIZED (SELECT list_transform(range(1, 65), i ->
         |    w.w[i] / sqrt(list_sum(list_transform(range(1, 65), i2 ->
         |      w.w[i2] * w.w[i2])))) AS v FROM w$r w)""".stripMargin
    }.mkString(",\n")
    s"""eq AS (SELECT vec_id, list_transform($vcol, x ->
       |    CAST(floor(CAST(x AS DOUBLE) * 8192 + 0.5) AS BIGINT)) AS q
       |  FROM $src),
       |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM eq),
       |dims AS (SELECT unnest(range(1, 65)) AS i),
       |s AS MATERIALIZED (SELECT i.i, CAST(SUM(q[i.i]) AS BIGINT) AS si
       |  FROM eq, dims i GROUP BY i.i),
       |s2 AS MATERIALIZED (SELECT i.i, j.i AS j,
       |    CAST(SUM(q[i.i] * q[j.i]) AS BIGINT) AS sij
       |  FROM eq, dims i, dims j GROUP BY i.i, j.i),
       |m AS MATERIALIZED (SELECT s2.i, s2.j,
       |    CAST(nn.n AS DOUBLE) * CAST(s2.sij AS DOUBLE)
       |      - CAST(a.si AS DOUBLE) * CAST(b.si AS DOUBLE) AS mij
       |  FROM s2, nn, s a, s b WHERE a.i = s2.i AND b.i = s2.j),
       |mrows AS (SELECT i, list(mij ORDER BY j) AS r FROM m GROUP BY i),
       |mm AS MATERIALIZED (SELECT list(r ORDER BY i) AS M FROM mrows),
       |k AS (SELECT i AS k FROM (SELECT i,
       |    row_number() OVER (ORDER BY mij DESC, i ASC) AS rk
       |  FROM m WHERE i = j) t WHERE rk = 1),
       |v0 AS (SELECT list_transform(range(1, 65), x ->
       |    CASE WHEN x = k.k THEN 1.0 ELSE 0.0 END) AS v FROM k),
       |$rounds,
       |ax AS (SELECT i FROM (SELECT i.i AS i, row_number() OVER (
       |    ORDER BY abs(v.v[i.i]) DESC, i.i ASC) AS rk
       |  FROM v$iters v, dims i) t WHERE rk = 1),
       |vf AS MATERIALIZED (SELECT list_transform(v.v, x ->
       |    CASE WHEN v.v[ax.i] < 0 THEN -x ELSE x END) AS v
       |  FROM v$iters v, ax)""".stripMargin
  }

  private def pcaTopSql: String =
    s"WITH ${pcaChain()},\n" +
      """wf AS MATERIALIZED (SELECT list_transform(range(1, 65), i ->
        |    list_sum(list_transform(range(1, 65), j ->
        |      mm.M[i][j] * p.v[j]))) AS w FROM mm, vf p),
        |lam AS (SELECT list_sum(list_transform(range(1, 65), i ->
        |    v.v[i] * w.w[i])) AS lambda FROM vf v, wf w),
        |tr AS (SELECT list_sum(list_transform(range(1, 65), i ->
        |    M[i][i])) AS trace FROM mm)
        |SELECT CAST(i.i - 1 AS BIGINT) AS dim_id, s.si AS sum_q,
        |  vf.v[i.i] AS pc1, lam.lambda AS lambda, tr.trace AS trace
        |FROM dims i, s, vf, lam, tr WHERE s.i = i.i""".stripMargin

  private def abttSql: String =
    s"WITH ${pcaChain()},\n" +
      """ve AS (SELECT vec_id, list_transform(embedding, x ->
        |    CAST(x AS DOUBLE)) AS x FROM embeddings),
        |p AS (SELECT vec_id,
        |    list_sum(list_transform(range(1, 65), i ->
        |      x[i] * vf.v[i])) AS proj,
        |    list_sum(list_transform(range(1, 65), i ->
        |      x[i] * x[i])) AS norm2_before,
        |    x, vf.v AS v
        |  FROM ve, vf)
        |SELECT vec_id, proj, norm2_before,
        |  list_sum(list_transform(range(1, 65), i ->
        |    (x[i] - proj * v[i]) * (x[i] - proj * v[i])))
        |    AS norm2_after
        |FROM p""".stripMargin

  /** q_unigram_train: unrolls TextOps.unigramTrain's prune schedule —
    * a pure function of (|multi₀|, targetMulti), re-derived here with
    * the identical recurrence — as chained Viterbi-DP CTEs: round r
    * counts piece usage from the segmentation under vocab r−1, keeps
    * the top-keep multi-char pieces by (usage DESC, piece ASC), and
    * the NEXT round segments under the pruned vocab (the last round's
    * DP is skipped — the trainer never segments under the final
    * vocab). Each round's full vocab membership is pinned by the
    * chr(31)-joined md5 fingerprint. */
  private def unigramTrainSql: String = {
    val target = 12
    val multi0 = graft.catalyst.UnigramSegment.DefaultVocab
      .count(p => p._1.codePointCount(0, p._1.length) > 1)
    val rounds = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    var m = multi0
    while (m > target && rounds.size < 8) {
      val keep = math.max(target, m - math.max(1, m / 5))
      rounds += ((m, keep)); m = keep
    }
    // AS MATERIALIZED on every per-round CTE (and a materialized
    // alias over each recursive DP's docp, which unigramDpCtes
    // cannot mark itself): each docp/vocab is referenced twice
    // (next round's count + the trajectory row), so without the
    // barrier DuckDB re-inlines the ENTIRE upstream DP chain per
    // reference — exponential planning, the same blowup the BPE
    // oracle's 12 nested rounds hit (62 s inlined, ms materialized;
    // here 4 chained DPs never finished inlined)
    val ctes = rounds.zipWithIndex.map { case ((_, keep), i) =>
      val r = i + 1
      val prev = if (r == 1) "docpm0" else s"docpm${i}"
      val prevVocab = if (r == 1) "vocab" else s"vocabt${i}"
      val vocabCte =
        s"""cntt$r AS MATERIALIZED (
           |  SELECT piece, CAST(COUNT(*) AS BIGINT) AS n
           |  FROM (SELECT unnest(pieces) AS piece FROM $prev)
           |  GROUP BY piece),
           |vocabt$r AS MATERIALIZED (
           |  SELECT piece, s FROM (
           |    SELECT v.piece, v.s, row_number() OVER (
           |        ORDER BY COALESCE(c.n, 0) DESC, v.piece ASC) AS rk
           |    FROM $prevVocab v LEFT JOIN cntt$r c ON c.piece = v.piece
           |    WHERE len(v.piece) > 1) t WHERE rk <= $keep
           |  UNION ALL
           |  SELECT piece, s FROM $prevVocab WHERE len(piece) = 1)"""
          .stripMargin
      if (r == rounds.size) vocabCte
      else vocabCte + ",\n" +
        s"""vmt$r AS MATERIALIZED (
           |  SELECT map(list(piece ORDER BY piece),
           |             list(s ORDER BY piece)) AS m,
           |         max(len(piece)) AS maxl FROM vocabt$r),
           |${unigramDpCtes(s"vmt$r", s"dpt$r", s"segt$r", s"docpt$r")},
           |docpm$r AS MATERIALIZED (SELECT doc_id, pieces FROM docpt$r)"""
          .stripMargin
    }.mkString(",\n")
    val rows = rounds.zipWithIndex.map { case ((before, keep), i) =>
      val r = i + 1
      val prev = if (r == 1) "docpm0" else s"docpm$i"
      s"""SELECT CAST($r AS BIGINT) AS round,
         |  CAST($before AS BIGINT) AS n_multi_before,
         |  CAST($keep AS BIGINT) AS n_multi_after,
         |  CAST(${before - keep} AS BIGINT) AS n_dropped,
         |  (SELECT CAST(SUM(len(pieces)) AS BIGINT) FROM $prev)
         |    AS corpus_pieces,
         |  (SELECT md5(array_to_string(list(piece ORDER BY piece),
         |      chr(31))) FROM vocabt$r) AS vocab_fp""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"WITH RECURSIVE $unigramCtes,\n" +
      "docpm0 AS MATERIALIZED (SELECT doc_id, pieces FROM docp),\n" +
      s"$ctes\n$rows"
  }

  /** Margin + clamped p per doc under the trained `w12` weights. */
  private def qclsScoreCtes: String =
    """sc AS (SELECT f.doc_id, f.split, f.y,
      |    CAST(list_sum(list_transform(range(1, 18),
      |      i -> w.wl[i] * f.x[i])) AS BIGINT) AS z
      |  FROM feat f, w12 w),
      |sc2 AS (SELECT doc_id, split, y, z,
      |    GREATEST(0, LEAST(65536,
      |      32768 + CAST(floor(z / 4.0) AS BIGINT))) AS p
      |  FROM sc)""".stripMargin
}
