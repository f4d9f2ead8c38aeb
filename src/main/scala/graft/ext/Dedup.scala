package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import TextOps._

/** Deduplication operators (brief §ext): exact content-hash dedup,
  * MinHash-LSH banded near-dup detection, SimHash fingerprints, and
  * blocked n-gram Jaccard.
  *
  * Scale posture — the non-negotiable at 100 TB is NEVER all-pairs:
  * - exact dedup is one hash-groupBy (map-side partial agg);
  * - MinHash-LSH shuffles by (band, band-key); only same-bucket pairs
  *   are ever materialized, and exact Jaccard runs on candidates only;
  * - n-gram Jaccard uses explicit blocking keys the caller chooses;
  * - SimHash is a per-doc projection; pairing again goes through
  *   bucket keys (prefix bands of the fingerprint), not cross joins.
  */
object Dedup {

  /** Exact dedup: group by md5(text); keeper = lowest id. Returns
    * (keeper_id, n_copies) per distinct content. */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_copies"))
      .drop("content_hash")

  /** Distinct word n-gram shingles, one row per (id, shingle). The
    * token array is materialized into its own projection first: a
    * `split(...)` referenced inside the shingle lambda would be
    * re-evaluated per element (no CSE across lambda boundaries) —
    * ~3 regex splits per shingle instead of 1 per document. */
  def shingleRows(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    TextOps.rebalance(df) // unsplittable-input guard: the shingle
      // explode is the CPU-heavy stage of every exact-similarity path
      .select(col(idCol), tokens(col(textCol)).as("__toks"))
      .select(col(idCol), explode(wordShingles(col("__toks"), n)).as("shingle"))
      .distinct()

  /** MinHash signature: for each of `numHashes` seeds, the
    * lexicographic min of md5(seed || '|' || shingle) — a string-min
    * is a valid minhash and is engine-portable (no 128-bit ints).
    * All mins are computed in ONE aggregation over the shingle rows
    * (wide agg, map-side partial) instead of exploding a seed
    * dimension — an 8× row blowup plus an extra shuffle at scale. */
  def minhashSignature(shingles: DataFrame, idCol: String, numHashes: Int): DataFrame =
    shingles.groupBy(col(idCol))
      .agg(
        min(md5(concat(lit("0|"), col("shingle")))).as("mh0"),
        (1 until numHashes).map(s =>
          min(md5(concat(lit(s + "|"), col("shingle")))).as(s"mh$s")): _*)

  /** LSH bands of 2 rows each: band b's key is the concatenation of
    * minhashes 2b and 2b+1 — a pure projection + explode over the
    * signature, no shuffle. Docs sharing any (band, key) are
    * candidates; the candidate join shuffles on the band key, never
    * all-pairs. */
  def lshBands(signature: DataFrame, idCol: String, numHashes: Int): DataFrame = {
    val bandStructs = (0 until numHashes / 2).map(b =>
      struct(lit(b.toLong).as("band"),
        concat(col(s"mh${2 * b}"), col(s"mh${2 * b + 1}")).as("bkey")))
    signature
      .select(col(idCol), explode(array(bandStructs: _*)).as("__b"))
      .select(col(idCol), col("__b.band").as("band"), col("__b.bkey").as("bkey"))
  }

  /** Candidate pairs from banded signatures. Pairing is quadratic
    * WITHIN a bucket — the same hazard [[boundBlocks]] guards for
    * metadata blocking: one viral boilerplate doc repeated 10⁶ times
    * puts 10⁶ rows in one (band, bkey) bucket and 5·10¹¹ pairs come
    * out of it alone. `maxBucketSize` applies the same cap-and-audit
    * policy to LSH buckets (default unlimited — small corpora and the
    * oracle gate are unaffected): oversize buckets drop from PAIRWISE
    * generation and must be handled by representative-based
    * clustering instead — a bucket that hot means its members are
    * near-identical, so they form one cluster without any pairwise
    * verification (the [[graft.ext.Similarity]] single-bucket
    * membership shape). Use [[oversizeBuckets]] to report the drops. */
  def lshCandidates(bands: DataFrame, idCol: String,
                    maxBucketSize: Int = Int.MaxValue): DataFrame = {
    val limited =
      if (maxBucketSize == Int.MaxValue) bands
      else {
        val small = bands.groupBy("band", "bkey")
          .agg(count(lit(1)).as("__bn"))
          .filter(col("__bn") <= maxBucketSize)
          .select("band", "bkey")
        bands.join(small, Seq("band", "bkey"), "left_semi")
      }
    val a = limited.select(col(idCol).as("doc_a"), col("band"), col("bkey"))
    val b = limited.select(col(idCol).as("doc_b"), col("band"), col("bkey"))
    a.join(b, Seq("band", "bkey"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
  }

  /** The LSH buckets [[lshCandidates]] would drop at `maxBucketSize`:
    * (band, bkey, bucket_size). The audit face — same contract as
    * [[oversizeBlocks]] for metadata blocking. */
  def oversizeBuckets(bands: DataFrame, maxBucketSize: Int): DataFrame =
    bands.groupBy("band", "bkey")
      .agg(count(lit(1)).as("bucket_size"))
      .filter(col("bucket_size") > maxBucketSize)

  /** Restrict a corpus to blocking groups of at most `maxBlockSize`
    * members. Blocking-based candidate generation is quadratic WITHIN
    * a block — fine when blocks are small, but one hot key (e.g. a
    * dominant (source, n_chars) pair at 100 TB) silently turns the
    * block self-join into an all-pairs explosion. This guard counts
    * members per block (one map-side-combinable agg) and drops
    * oversize blocks from pairing; use [[oversizeBlocks]] to report
    * what was dropped — at scale those keys need a finer blocking
    * scheme (extra key column), not a bigger cap. */
  def boundBlocks(df: DataFrame, blockCols: Seq[String],
                  maxBlockSize: Int): DataFrame = {
    require(blockCols.nonEmpty, "boundBlocks needs at least one blocking column")
    val small = df.groupBy(blockCols.map(col): _*)
      .agg(count(lit(1)).as("__bn"))
      .filter(col("__bn") <= maxBlockSize)
      .select(blockCols.zipWithIndex.map { case (c, i) => col(c).as(s"__bk$i") }: _*)
    // null-SAFE semi join: groupBy above puts NULL-keyed rows in their
    // own (counted, cappable) block, and <=> keeps them — a plain
    // equi-join would silently drop every row with a NULL blocking
    // column regardless of block size, with no audit trail
    val cond = blockCols.zipWithIndex
      .map { case (c, i) => col(c) <=> col(s"__bk$i") }.reduce(_ && _)
    df.join(small, cond, "left_semi")
  }

  /** The blocks [[boundBlocks]] would drop: (blockCols…, block_size).
    * Callers log/audit this instead of silently losing recall. */
  def oversizeBlocks(df: DataFrame, blockCols: Seq[String],
                     maxBlockSize: Int): DataFrame =
    df.groupBy(blockCols.map(col): _*)
      .agg(count(lit(1)).as("block_size"))
      .filter(col("block_size") > maxBlockSize)

  /** Benchmark DECONTAMINATION — the eval-leakage sweep every
    * training corpus needs: report each document sharing at least
    * `minOverlap` distinct word n-gram shingles with ANY benchmark
    * document. The benchmark shingle set rides a broadcast (eval sets
    * are small next to a training corpus), so the corpus is scanned
    * once with a broadcast hash semi-join per shingle row — no
    * shuffle of the corpus, no all-pairs anything; cost is one
    * shingle projection over each side. Downstream policy (drop vs
    * flag) stays with the caller; this operator only makes the
    * contamination observable, same policy as the audits. */
  def decontaminate(docs: DataFrame, benchmark: DataFrame, idCol: String,
                    textCol: String, n: Int = 5,
                    minOverlap: Long = 1): DataFrame = {
    val d = shingleRows(docs, idCol, textCol, n)
    val b = broadcast(
      shingleRows(benchmark, idCol, textCol, n).select("shingle").distinct())
    d.join(b, Seq("shingle"))
      .groupBy(idCol).agg(count(lit(1)).as("n_overlap"))
      .filter(col("n_overlap") >= minOverlap)
  }

  /** Exact Jaccard on a bounded candidate-pair set (from LSH bands or
    * blocking): |A∩B| via a shingle equi-join restricted to the
    * candidates, |A∪B| from per-doc sizes. */
  def jaccardOnCandidates(candidates: DataFrame, shingles: DataFrame,
                          idCol: String): DataFrame = {
    val sa = shingles.select(col(idCol).as("doc_a"), col("shingle"))
    val sb = shingles.select(col(idCol).as("doc_b"), col("shingle"))
    val inter = candidates
      .join(sa, Seq("doc_a")).join(sb, Seq("doc_b", "shingle"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
    val sizes = shingles.groupBy(col(idCol)).agg(count(lit(1)).as("n"))
    inter
      .join(sizes.select(col(idCol).as("doc_a"), col("n").as("na")), Seq("doc_a"))
      .join(sizes.select(col(idCol).as("doc_b"), col("n").as("nb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
          .as("jaccard"))
  }

  /** Exact Jaccard on candidate pairs via per-doc distinct shingle
    * ARRAYS: |A∩B| is a per-row hash-set intersect (O(|A|+|B|) inside
    * codegen), not an explode + equi-join + count shuffle. Wins when
    * candidate documents are small enough for their shingle set to
    * ride in a row (short/medium documents); [[jaccardOnCandidates]]
    * remains the shape for huge documents where a per-row array would
    * blow row size. The two intersect calls compile to one — they are
    * identical subexpressions in a single projection, and ProjectExec
    * codegen CSEs them (this is NOT the lambda-CSE trap: no
    * higher-order function boundary here). */
  def jaccardOnCandidatesArr(candidates: DataFrame, shingleArrays: DataFrame,
                             idCol: String, arrCol: String): DataFrame = {
    val inter = size(array_intersect(col("__sha"), col("__shb")))
    val union = size(col("__sha")) + size(col("__shb")) - inter
    candidates
      .join(shingleArrays.select(col(idCol).as("doc_a"), col(arrCol).as("__sha")),
        Seq("doc_a"))
      .join(shingleArrays.select(col(idCol).as("doc_b"), col(arrCol).as("__shb")),
        Seq("doc_b"))
      // Two empty shingle sets would give 0/0 = NaN, and Spark sorts
      // NaN ABOVE all doubles so `jaccard >= t` would KEEP the pair;
      // emit NULL instead so threshold filters drop it.
      .select(col("doc_a"), col("doc_b"),
        when(union > 0, inter.cast("double") / union).as("jaccard"))
  }

  /** Full MinHash-LSH near-dup pipeline, native fast path: per-doc
    * distinct shingle ARRAYS (no explode, no distinct shuffle) feed
    * the one-pass MinHashSig expression — the whole signature/banding
    * stage is a projection; the only shuffles left are the band-key
    * candidate join and the exact-Jaccard verification, which explodes
    * shingles for CANDIDATE docs only. */
  def nearDupPairs(df: DataFrame, idCol: String, textCol: String,
                   shingleN: Int = 3, numHashes: Int = 8,
                   minJaccard: Double = 0.5,
                   maxBucketSize: Int = Int.MaxValue): DataFrame = {
    graft.catalyst.MinHashSig.register(df.sparkSession)
    // ONE scalar call per document covers tokenize->shingle->hash->min:
    // building a shingle-array column first looks equivalent, but
    // CollapseProject inlines such a transform(...) into every
    // downstream reference, re-running the tokenizing split per
    // element (measured 4x slower than the composed path; this shape
    // beats the composed path instead)
    val sig = df.select(col(idCol),
      call_function("minhash_sig", tokens(col(textCol)),
        lit(shingleN), lit(numHashes)).as("__sig"))
    // Explode FIRST, index after: the Generate node is a collapse
    // barrier, so the signature array materializes once and the
    // per-band keys just index it. A NULL signature (doc with fewer
    // than shingleN tokens) flows to a NULL bkey, which the equi-join
    // drops -- same semantics as filtering, without re-evaluating the
    // call in a pushed-down predicate. The repartition is the
    // deliberate exchange the band self-join reuses for both sides,
    // except over a one-partition checkpoint: graft.catalyst
    // .SinglePartitionScan plans that input as SinglePartition, which
    // already satisfies the join's distribution, so the exchange would
    // only re-fan the batch to spark.sql.shuffle.partitions and make
    // every step after it shuffle.
    val banded = sig
      .select(col(idCol), col("__sig"),
        explode(sequence(lit(0), lit(numHashes / 2 - 1))).as("band"))
      .select(col(idCol), col("band"),
        expr("concat(__sig[CAST(band * 2 AS INT)], __sig[CAST(band * 2 + 1 AS INT)])")
          .as("bkey"))
    val bands =
      if (TextOps.onOnePartitionCheckpoint(df)) banded
      else banded.repartition(col("band"), col("bkey"))
    val cand = lshCandidates(bands, idCol, maxBucketSize)
    // verification shingles via the Generate-protected explode path —
    // its distinct doubles as the exchange all three jaccard consumers
    // reuse. (An array-intersect variant was measured here and LOST:
    // the per-consumer recompute of the candidate semi-join outweighs
    // the avoided explode when the shingle rows are shared; see
    // jaccardOnCandidatesArr for where the array form wins.)
    val sh = shingleRows(df, idCol, textCol, shingleN)
    jaccardOnCandidates(cand, sh, idCol).filter(col("jaccard") >= minJaccard)
  }

  /** LSH band keys via the native one-call `minhash_sig` path
    * (see [[nearDupPairs]]'s comment for why the composed
    * shingle-array form loses): (idCol, band, bkey), one row per
    * (doc, band), NULL bkey for docs shorter than the shingle width
    * (equi-joins drop them). A pure projection + explode — works
    * unchanged on a STREAMING DataFrame, which is what
    * [[graft.streaming.StreamingOps.streamNearDupCandidates]] feeds
    * into a stream-static join. */
  def nativeBands(rawDf: DataFrame, idCol: String, textCol: String,
                  shingleN: Int = 3, numHashes: Int = 8): DataFrame = {
    val df = TextOps.rebalance(rawDf) // signature pass parallelism
    graft.catalyst.MinHashSig.register(df.sparkSession)
    df.select(col(idCol),
      call_function("minhash_sig", tokens(col(textCol)),
        lit(shingleN), lit(numHashes)).as("__sig"))
      .select(col(idCol), col("__sig"),
        explode(sequence(lit(0), lit(numHashes / 2 - 1))).as("band"))
      .select(col(idCol), col("band"),
        expr("concat(__sig[CAST(band * 2 AS INT)], __sig[CAST(band * 2 + 1 AS INT)])")
          .as("bkey"))
  }

  /** MinHash estimator accuracy audit: for every LSH candidate pair,
    * the number of agreeing signature components (the estimator's
    * numerator — E[n_match/numHashes] = true Jaccard) NEXT TO the
    * exact shingle intersection/union counts. The audit face of the
    * approximation itself, complementing the recall audits
    * ([[oversizeBuckets]]/[[oversizeBlocks]] report what banding
    * DROPPED; this reports how well the signature estimates what it
    * KEPT): a systematic gap between est_jaccard and jaccard on a
    * corpus sample means numHashes is under-sized for the threshold
    * in play, and the counts are integers so the check is exact, not
    * a float-tolerance judgment.
    *
    * Scale shape: identical to [[nearDupPairs]] (banded candidates,
    * never all-pairs) plus one signature equi-join on the candidate
    * ids — the signature frame is numHashes strings per doc, and the
    * component comparison is a codegen'd projection. Run it over a
    * corpus SAMPLE at 100 TB: the estimator's error is a property of
    * numHashes, not of corpus size. */
  def minhashAccuracy(df: DataFrame, idCol: String, textCol: String,
                      shingleN: Int = 3, numHashes: Int = 8): DataFrame = {
    // native one-call signatures (spec-pinned equal to the composed
    // md5 pipeline, so the DuckDB oracle is unchanged); component
    // agreement is an in-array zip over the two signature arrays —
    // one codegen'd projection, not numHashes column comparisons
    graft.catalyst.MinHashSig.register(df.sparkSession)
    // signatures and candidate pairs are each consumed by multiple
    // downstream joins — checkpoint both so the native-signature pass
    // and the band self-join run once, not once per consumer
    val sig = df.select(col(idCol),
      call_function("minhash_sig", tokens(col(textCol)),
        lit(shingleN), lit(numHashes)).as("__sig"))
      .localCheckpoint()
    val bands = sig
      .select(col(idCol), col("__sig"),
        explode(sequence(lit(0), lit(numHashes / 2 - 1))).as("band"))
      .select(col(idCol), col("band"),
        expr("concat(__sig[CAST(band * 2 AS INT)], __sig[CAST(band * 2 + 1 AS INT)])")
          .as("bkey"))
    val cand = lshCandidates(bands, idCol).localCheckpoint()
    val nMatch = size(filter(
      zip_with(col("__siga"), col("__sigb"), (x, y) => x === y),
      b => b)).cast("long")
    val est = cand
      .join(sig.select(col(idCol).as("doc_a"), col("__sig").as("__siga")),
        Seq("doc_a"))
      .join(sig.select(col(idCol).as("doc_b"), col("__sig").as("__sigb")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), nMatch.as("n_match"))
    // exact counts only for docs that appear in a candidate pair —
    // the ngramJaccard prune rule: at scale banding prunes most of
    // the corpus and the shingle explode must not run over everything.
    // Intersections are in-row array_intersect on the candidate pairs
    // (the prefixFilterPairs restructure): only pairs shuffle.
    val candDocs = cand.select(col("doc_a").as(idCol))
      .unionByName(cand.select(col("doc_b").as(idCol))).distinct()
    val docSets = shingleRows(df.join(candDocs, Seq(idCol), "left_semi"),
        idCol, textCol, shingleN)
      .groupBy(col(idCol)).agg(collect_list(col("shingle")).as("__set"))
    val inter = size(array_intersect(col("__seta"), col("__setb")))
      .cast("long")
    val uni = (size(col("__seta")) + size(col("__setb"))).cast("long") - inter
    est
      .join(docSets.select(col(idCol).as("doc_a"), col("__set").as("__seta")),
        Seq("doc_a"))
      .join(docSets.select(col(idCol).as("doc_b"), col("__set").as("__setb")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("n_match"), inter.as("inter"),
        uni.as("n_union"),
        (col("n_match").cast("double") / numHashes).as("est_jaccard"),
        (inter.cast("double") / uni).as("jaccard"))
  }

  /** Incremental near-dup check of an incoming batch against an
    * existing corpus — the daily-ingest shape at 100 TB: the corpus
    * is NEVER re-paired against itself; only (incoming × index) band
    * collisions become candidates, so a day's batch costs
    * O(batch + collisions), not O(corpus²) or even O(corpus · log).
    * In steady state the index side's band keys are computed once at
    * ingest and persisted (they are a pure projection of each doc —
    * recomputed here from text so the operator is self-contained; the
    * persisted-index variant just replaces `bandsOf(index)` with a
    * table scan).
    *
    * Verification stays exact and bounded: only index docs that
    * actually collide with the batch are shingled (left-semi prune —
    * the second index scan reads just those partitions' texts), the
    * incoming batch is small by definition, and `maxBucketSize` caps
    * the INDEX side's hot buckets (a viral boilerplate bucket would
    * otherwise pair with every matching batch doc; the cap is the
    * same audited policy as [[lshCandidates]] — report drops with
    * [[oversizeBuckets]]).
    *
    * Returns (new_id, index_id, jaccard ≥ minJaccard): the batch rows
    * that near-duplicate existing corpus content. Policy (drop,
    * cluster, version) stays with the caller. Id spaces of the two
    * inputs must be disjoint for the output to be unambiguous. */
  def incrementalNearDups(index: DataFrame, incoming: DataFrame,
                          idCol: String, textCol: String,
                          shingleN: Int = 3, numHashes: Int = 8,
                          minJaccard: Double = 0.5,
                          maxBucketSize: Int = Int.MaxValue): DataFrame = {
    def bandsOf(df: DataFrame, outId: String): DataFrame =
      nativeBands(df, idCol, textCol, shingleN, numHashes)
        .withColumnRenamed(idCol, outId)
    val bIdx = bandsOf(index, "index_id")
    val limitedIdx =
      if (maxBucketSize == Int.MaxValue) bIdx
      else {
        val small = bIdx.groupBy("band", "bkey")
          .agg(count(lit(1)).as("__bn"))
          .filter(col("__bn") <= maxBucketSize)
          .select("band", "bkey")
        bIdx.join(small, Seq("band", "bkey"), "left_semi")
      }
    // candidate pairs feed two consumers (the verification join and
    // the index-doc prune) — checkpoint so the band join runs once
    val cand = bandsOf(incoming, "new_id")
      .join(limitedIdx, Seq("band", "bkey"))
      .select("new_id", "index_id").distinct()
      .localCheckpoint()
    // in-row verification (the prefixFilterPairs restructure): each
    // side's distinct shingles ride ONE array, only pairs shuffle;
    // the index side still shingles CANDIDATE docs only
    val setsNew = shingleRows(incoming, idCol, textCol, shingleN)
      .groupBy(col(idCol))
      .agg(collect_list(col("shingle")).as("__seta"))
      .select(col(idCol).as("new_id"), col("__seta"))
    val candIdx = cand.select(col("index_id").as(idCol)).distinct()
    val setsIdx = shingleRows(index.join(candIdx, Seq(idCol), "left_semi"),
        idCol, textCol, shingleN)
      .groupBy(col(idCol))
      .agg(collect_list(col("shingle")).as("__setb"))
      .select(col(idCol).as("index_id"), col("__setb"))
    val inter = size(array_intersect(col("__seta"), col("__setb")))
    val union = size(col("__seta")) + size(col("__setb")) - inter
    cand.join(setsNew, Seq("new_id")).join(setsIdx, Seq("index_id"))
      .select(col("new_id"), col("index_id"),
        (inter.cast("double") / union).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** Connected components over an undirected candidate-pair edge set —
    * the step that turns near-dup PAIRS into dedup CLUSTERS. Pairwise
    * removal alone mishandles chains (A~B, B~C, A≁C): dropping the
    * higher id of every pair can drop B and C when keeping A+C was
    * valid. Transitive closure fixes the policy: one keeper (min id)
    * per component.
    *
    * Min-label propagation PLUS pointer halving, to fixpoint:
    * label(v) ← min over {label(v), neighbor labels, label(label(v))}
    * — the last term follows the candidate label ONE hop through the
    * label table itself. Plain min-label pays a round per hop of
    * component diameter, which is fine for dup cliques/stars
    * (diameter ≤ 2) but linear-in-length on CHAIN-shaped near-dup
    * graphs (doc i ≈ doc i+1 — shingled/versioned corpora produce
    * them), where a 100-link chain would blow the round budget. The
    * halving hop doubles the propagation horizon per round (if labels
    * hold the min within distance d, one round reaches 2d+1), so
    * rounds are O(log diameter) — the q_cc_chain gate query runs
    * 50-link chains through exactly this loop, and the ScaleBench
    * chain fixtures measure the round count staying logarithmic while
    * diameter grows with the corpus. Each iteration is one edge join,
    * one min-aggregation, and one label-table self-join, all
    * shuffling on the vertex id — never materializing paths. Lineage
    * is cut per round with an eager localCheckpoint so plans stay
    * constant-size; convergence is a changed-row existence check (a
    * scalar action, no data collected). Correctness is unchanged from
    * plain min-label: every label is always the id of a node KNOWN
    * reachable (neighbor labels and the label's own label both are),
    * values only decrease, and any fixpoint is label-constant across
    * every edge — i.e. the component minimum.
    *
    * Returns (id, component) where component = min id reachable. */
  def connectedComponents(edges: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 25): DataFrame = {
    val sym = edges.select(col(aCol).as("src"), col(bCol).as("dst"))
      .unionByName(edges.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct()
      .localCheckpoint()
    var labels = sym.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("component"))
      .localCheckpoint()
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val nbrMin = sym
        .join(labels.select(col("id").as("dst"), col("component").as("__nc")),
          Seq("dst"))
        .groupBy("src").agg(min(col("__nc")).as("__nbc"))
        .select(col("src").as("id"), col("__nbc"))
      val stepped = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("component"),
          least(col("component"), coalesce(col("__nbc"), col("component")))
            .as("__n1"))
      // pointer halving: __n1 is a node id (labels are), so its own
      // current component is one more join away — the hop that turns
      // diameter-many rounds into log-many on chains
      val merged = stepped.join(
          labels.select(col("id").as("__n1"), col("component").as("__pc")),
          Seq("__n1"), "left")
        .select(col("id"), col("component"),
          least(col("__n1"), coalesce(col("__pc"), col("__n1"))).as("__next"))
        .localCheckpoint()
      converged = merged.filter(col("__next") < col("component")).isEmpty
      labels = merged.select(col("id"), col("__next").as("component"))
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter iterations " +
          "(component diameter exceeds maxIter)")
    // the round count IS the scale evidence: iterations track component
    // diameter (≈1-2 for dup cliques), not corpus size — logged so a
    // ScaleBench run shows the loop staying flat while data grows 100×
    System.err.println(s"[graft.Dedup] connectedComponents converged " +
      s"in $iter iteration(s)")
    labels
  }

  /** Cluster-representative selection — the step a dedup pipeline runs
    * AFTER clustering: from each near-dup cluster keep the
    * highest-quality member (ties broken by smallest id, so the pick
    * is total-order deterministic), reporting the representative, its
    * quality, and the cluster size.
    *
    * The argmax is a struct-max aggregate, not a window: `max(struct(
    * quality, -id))` compares fields left-to-right, so one groupBy
    * gives the best member AND the count in a single map-side-
    * combinable shuffle. A `row_number` window over the cluster would
    * need a full per-key sort and cannot partial-aggregate — at 100 TB
    * the struct-max form ships one struct per (partition, cluster)
    * into the shuffle instead of every member row.
    *
    * `labels` is `connectedComponents` output (id, component);
    * `quality` carries (idCol, qCol). Members without a quality row
    * are dropped (inner join) — quality is expected total. */
  def clusterRepresentatives(labels: DataFrame, quality: DataFrame,
                             idCol: String, qCol: String): DataFrame = {
    labels
      .join(quality.select(col(idCol).as("id"), col(qCol).as("__q")),
        Seq("id"))
      .groupBy(col("component").as("cluster_id"))
      .agg(
        count(lit(1)).as("cluster_size"),
        max(struct(col("__q").as("q"), (-col("id")).as("negid"))).as("__best"))
      .select(col("cluster_id"),
        (-col("__best.negid")).as("rep_id"),
        col("__best.q").as("rep_quality"),
        col("cluster_size"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): SEMANTIC
    * deduplication over an embedding column — k-means-cluster the
    * corpus ([[KMeans.fit]] with one full-width subspace), compare
    * vectors ONLY within a cluster, connect pairs whose cosine clears
    * `minCosine`, and keep the min-id representative per component.
    * The cluster step is the paper's own scale trick and the
    * embedding-space analogue of an LSH band: all-pairs cosine is
    * O(N²), but pairs across k-means cells are overwhelmingly below
    * any dedup threshold, so the pairwise stage runs per cell at
    * O(Σ cell²). Size `k ≈ N / targetCellSize` to bound the in-cell
    * quadratic exactly like `maxBucketSize` bounds the LSH path — and
    * monitor cell occupancy with the same audit posture
    * (`Similarity.ivfCellStats` reads any centroid frame).
    *
    * Output: one row per input vector —
    * `(idCol, cell, component, is_rep)` with `component` the min-id
    * closure label (a vector with no qualifying pair is its own
    * component) and `is_rep` the keep decision. Deterministic end to
    * end: the fit is integer-domain Lloyd, assignment ties go to the
    * smallest cid, and the closure label is a min. Pairing uses the
    * full-precision DOUBLE cosine on the original vectors (the fit's
    * integer quantization only shapes the CELLS, never the scores). */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    dim: Int, k: Int, iters: Int,
                    minCosine: Double): DataFrame = {
    val fitted = KMeans.fit(df, idCol, vecCol, k = k, numSub = 1,
      subDim = dim, iters = iters)
    val cells = KMeans.assignTo(df, idCol, vecCol, fitted,
      numSub = 1, subDim = dim)
      .select(col(idCol), col("cid").as("cell"))
    val v = df
      .select(col(idCol), Similarity.toDouble(col(vecCol)).as("__v"))
      .join(cells, Seq(idCol))
      .localCheckpoint() // 2 pair sides + final output off one scan
    val a = v.select(col(idCol).as("__a"), col("__v").as("__va"), col("cell"))
    val b = v.select(col(idCol).as("__b"), col("__v").as("__vb"), col("cell"))
    // a vector lives in exactly one cell, so a pair surfaces at most
    // once — no distinct; the join shuffles by cell only
    val pairs = a.join(b, Seq("cell"))
      .filter(col("__a") < col("__b"))
      .filter(Similarity.nativeCosine(df)(col("__va"), col("__vb"))
        >= minCosine)
      .select(col("__a"), col("__b"))
    val comp = connectedComponents(pairs, "__a", "__b")
      .select(col("id").as(idCol), col("component"))
    v.select(col(idCol), col("cell"))
      .join(comp, Seq(idCol), "left")
      .select(col(idCol), col("cell"),
        coalesce(col("component"), col(idCol)).as("component"))
      .withColumn("is_rep", col("component") === col(idCol))
  }

  /** Composed reference pipeline (explode → wide sort-aggregate),
    * kept to pin the native path's equivalence in ExtSpec. */
  def nearDupPairsComposed(df: DataFrame, idCol: String, textCol: String,
                           shingleN: Int = 3, numHashes: Int = 8,
                           minJaccard: Double = 0.5): DataFrame = {
    val sh = shingleRows(df, idCol, textCol, shingleN)
    val cand = lshCandidates(
      lshBands(minhashSignature(sh, idCol, numHashes), idCol, numHashes), idCol)
    jaccardOnCandidates(cand, sh, idCol).filter(col("jaccard") >= minJaccard)
  }

  /** Blocked edit-distance (Levenshtein) near-dup: candidate pairs come
    * from an EXACT blocking key — (lang, first `prefixLen` chars) —
    * then the quadratic-cost distance runs only inside blocks, on a
    * `compareLen`-char prefix so per-pair cost is bounded at
    * O(compareLen²) regardless of document length. Strong prefix
    * blocking is what keeps this shape alive at 100 TB: blocks stay
    * near-singleton for natural text (max 7 in the fixture corpus), and
    * a hot block would be capped the same way boundBlocks caps the
    * n-gram blocker. Recall trade-off is explicit: an edit inside the
    * first `prefixLen` chars moves a doc to a different block — pair
    * this with the MinHash/SimHash paths when prefix stability can't be
    * assumed. */
  def editDistancePairs(docs: DataFrame, idCol: String, textCol: String,
                        langCol: String, prefixLen: Int = 8,
                        compareLen: Int = 120, maxDist: Int = 25,
                        maxBlockSize: Int = 64): DataFrame = {
    // plain concat, not concat_ws: a NULL lang (or NULL text) must
    // NULL the whole key — null-keyed rows then pair with nothing,
    // exactly like the oracle's `lang || '|' || prefix` — where
    // concat_ws would silently degrade the key to the prefix alone
    val blk = concat(col(langCol), lit("|"), substring(col(textCol), 1, prefixLen))
    // hot-block cap, same policy as the n-gram blocker: a dominant
    // (lang, prefix) key — boilerplate headers, templated docs — turns
    // the block self-join quadratic; oversize blocks drop from pairing
    // (audit via oversizeBlocks on the same key) and need a finer
    // blocking key, not a bigger cap. 10x-scale evidence: uncapped,
    // the ScaleBench near-dup corpus turns every block into a
    // 10-clique and pair count grows ~100x.
    val d = boundBlocks(
      docs.select(col(idCol), col(textCol), blk.as("blk")),
      Seq("blk"), maxBlockSize)
    val a = d.select(col(idCol).as("doc_a"), col(textCol).as("text_a"), col("blk"))
    val b = d.select(col(idCol).as("doc_b"), col(textCol).as("text_b"), col("blk"))
    val wa = substring(col("text_a"), 1, compareLen)
    val wb = substring(col("text_b"), 1, compareLen)
    a.join(b, Seq("blk"))
      .where(col("doc_a") < col("doc_b"))
      // length gap > maxDist already implies dist > maxDist: skip the
      // DP entirely for those pairs (the classic pre-filter)
      .where(abs(length(wa) - length(wb)) <= maxDist)
      .select(col("doc_a"), col("doc_b"),
        // banded DP: O(maxDist·n) per pair instead of O(n²), returns
        // -1 above the threshold; long matches DuckDB's BIGINT
        levenshtein(wa, wb, maxDist).cast("long").as("dist"))
      .where(col("dist").between(0, maxDist))
  }

  /** 16-bit SimHash over token unigrams: each token votes ±1 on the 16
    * bits of its md5-derived hash; the fingerprint sets bit b iff the
    * vote sum is positive. 16 bits keeps the oracle SQL tractable while
    * exercising the full mechanism; widening is a constant change. */
  /** Fast path: the native one-pass expression — a pure projection
    * (no explode, no shuffle). */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    graft.catalyst.SimHash16.register(df.sparkSession)
    df.select(col(idCol),
      call_function("simhash16", tokens(col(textCol))).as("simhash"))
  }

  /** SimHash near-dup PAIRS: band the 16-bit fingerprint into 2 bytes
    * — two docs within hamming distance 1 differ in at most 1 bit, so
    * one byte is untouched (pigeonhole) and the banded candidate join
    * has FULL recall at the threshold; pairing work stays bucket-local,
    * never all-pairs (the same scale shape as the MinHash bands). Exact
    * hamming on candidates via bit_count(xor). A 16-bit fingerprint is
    * coarse — at hamming 3 it pairs a third of a random corpus, which
    * is why the threshold defaults TIGHT; [[simhashPairs64]] is the
    * production-width path (64 bits, 4 bands, recall to hamming 3). */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 1): DataFrame = {
    require(maxHamming <= 1, "2 byte bands guarantee recall only to hamming 1")
    val fp = simhash(docs, idCol, textCol)
    val bands = fp.select(col(idCol), col("simhash"),
      posexplode(array((0 until 2).map { k =>
        shiftright(col("simhash"), 8 * k).bitwiseAND(lit(255L))
      }: _*)).as(Seq("band", "nib")))
    val a = bands.select(col(idCol).as("doc_a"), col("simhash").as("sa"),
      col("band"), col("nib"))
    val b = bands.select(col(idCol).as("doc_b"), col("simhash").as("sb"),
      col("band"), col("nib"))
    a.join(b, Seq("band", "nib"))
      .where(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b", "sa", "sb").distinct()
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sa").bitwiseXOR(col("sb"))).cast("long").as("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  /** 64-bit SimHash fingerprint — the production width (see
    * [[graft.catalyst.SimHash64]] for why 16 bits doesn't scale). A
    * pure projection: no explode, no shuffle. */
  def simhash64(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    graft.catalyst.SimHash64.register(df.sparkSession)
    df.select(col(idCol),
      call_function("simhash64", tokens(col(textCol))).as("simhash"))
  }

  /** The fingerprint split into its 4×16-bit band keys (b0 = bits
    * 0-15 … b3 = bits 48-63) — the oracle-friendly shape: every value
    * fits in [0, 65535], so no engine has to agree on signed 64-bit
    * hex parsing. */
  def simhash64Bands(df: DataFrame, idCol: String, textCol: String): DataFrame =
    simhash64(df, idCol, textCol).select(
      col(idCol) +: (0 until 4).map(k =>
        shiftrightunsigned(col("simhash"), 16 * k)
          .bitwiseAND(lit(0xffffL)).as(s"b$k")): _*)

  /** 64-bit SimHash near-dup PAIRS: band the fingerprint into 4×16-bit
    * keys — two docs within hamming distance 3 differ in ≤3 bits, so
    * at least one band is untouched (pigeonhole) and the banded
    * candidate join has FULL recall to hamming 3, at 65536 bucket
    * values per band (vs 256 for the 16-bit path — the difference
    * between ~N/65536 and ~N/256 docs per bucket on a 10⁹-doc corpus).
    * Exact hamming on candidates via bit_count(xor); work stays
    * bucket-local, never all-pairs. */
  def simhashPairs64(docs: DataFrame, idCol: String, textCol: String,
                     maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "4 x 16-bit bands guarantee recall only to hamming 3")
    val fp = simhash64(docs, idCol, textCol)
    val bands = fp.select(col(idCol), col("simhash"),
      posexplode(array((0 until 4).map { k =>
        shiftrightunsigned(col("simhash"), 16 * k).bitwiseAND(lit(0xffffL))
      }: _*)).as(Seq("band", "bkey")))
    val a = bands.select(col(idCol).as("doc_a"), col("simhash").as("sa"),
      col("band"), col("bkey"))
    val b = bands.select(col(idCol).as("doc_b"), col("simhash").as("sb"),
      col("band"), col("bkey"))
    a.join(b, Seq("band", "bkey"))
      .where(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b", "sa", "sb").distinct()
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sa").bitwiseXOR(col("sb"))).cast("long").as("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  /** Reference composition path for the 64-bit fingerprint (explode ×
    * bits → two aggregations), kept to pin the native expression
    * bit-for-bit in SimHash64Spec. The hash is assembled from two
    * 32-bit hex halves so no step needs an unsigned 64-bit parse. */
  def simhash64Composed(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tokRows = df
      .select(col(idCol), explode(tokens(col(textCol))).as("__tok"))
      .select(col(idCol),
        conv(substring(md5(col("__tok")), 1, 8), 16, 10).cast("long").as("hhi"),
        conv(substring(md5(col("__tok")), 9, 8), 16, 10).cast("long").as("hlo"))
    val votes = tokRows
      .select(col(idCol), col("hhi"), col("hlo"),
        explode(sequence(lit(0), lit(63))).as("b"))
      .select(col(idCol), col("b"),
        (when(col("b") < 32, expr("shiftright(hlo, CAST(b AS INT)) & 1"))
          .otherwise(expr("shiftright(hhi, CAST(b AS INT) - 32) & 1"))
          * 2 - 1).as("vote"))
      .groupBy(idCol, "b").agg(sum(col("vote")).as("s"))
    // shiftleft(1L, 63) wraps to Long.MinValue (Java semantics), so
    // the signed sum reassembles the same two's-complement value the
    // native expression produces.
    votes.groupBy(idCol)
      .agg(sum(when(col("s") > 0,
          expr("shiftleft(CAST(1 AS BIGINT), CAST(b AS INT))"))
        .otherwise(0L)).as("simhash"))
  }

  /** EXACT set-similarity self-join via prefix filtering — the
    * SSJoin/PPJoin family (Chaudhuri et al. ICDE'06; Xiao et al.
    * WWW'08), the exact counterpart to the approximate MinHash-LSH
    * path: every pair of documents whose distinct word-`shingleN`-gram
    * sets have Jaccard ≥ `tauPct`/100, with NO false negatives (LSH
    * trades recall for speed; this trades a frequency-ordered prefix
    * index for completeness).
    *
    * How it stays off all-pairs at 100 TB:
    *  1. shingles get a GLOBAL document-frequency order (rarest
    *     first) — one map-side-combinable count agg;
    *  2. each doc only indexes its PREFIX under that order:
    *     L = |s| − ⌈τ·|s|⌉ + 1 rows (≈ (1−τ)·|s| + 1, e.g. 41% of
    *     shingles at τ=0.6) — and because the order puts RARE
    *     shingles in prefixes, hot boilerplate shingles land in
    *     suffixes and never key a candidate bucket;
    *  3. candidates come from the prefix-token equi-join (shuffle on
    *     the shingle key, same shape as the LSH band join), pruned by
    *     the LENGTH filter (τ·|B| ≤ |A| is necessary for J ≥ τ) and
    *     PPJoin's POSITIONAL filter: a shared token at 1-based rank
    *     p_a/p_b bounds the overlap by 1 + min(|A|−p_a, |B|−p_b),
    *     which must reach α = ⌈τ(|A|+|B|)/(1+τ)⌉ — valid for the
    *     first shared token of any qualifying pair (elements before
    *     it are disjoint), and the prefix lemma guarantees that token
    *     sits in BOTH prefixes, so the surviving row set is a
    *     candidate superset: exactness holds;
    *  4. exact intersection counts run on candidates only.
    *
    * No cap knob on purpose: a cap would break the operator's one
    * contract (exactness). The adversarial input — millions of
    * IDENTICAL documents sharing a rare prefix shingle — is the
    * regime [[exactDedup]] removes in one groupBy; run it first, as
    * every production pipeline does. Emits integer-exact columns
    * (inter, na, nb); Jaccard itself is the caller's division.
    *
    * Ref: reference builds no similarity join; this generalizes its
    * duplicate-handling beyond equality (classes.py:components). */
  def prefixFilterPairs(df: DataFrame, idCol: String, textCol: String,
                        shingleN: Int = 3, tauPct: Int = 60): DataFrame = {
    require(tauPct > 0 && tauPct <= 100, s"tauPct in (0,100], got $tauPct")
    val sh = shingleRows(df, idCol, textCol, shingleN).localCheckpoint()
    prefixFilterPairsFrom(sh, prefixTableOf(sh, idCol, tauPct),
      idCol, tauPct)
  }

  /** The positional prefix table the whole exact family ranks by:
    * (idCol, shingle, __df, __p, __sz) for exactly the rows inside
    * the prefix rule. Shared (guide §1.3) between the pre-flight,
    * the single-pass join, and the sharded passes so the routed
    * dispatch derives the rarity windows ONCE — before, the
    * preflight and the chosen branch each rebuilt freq + windows
    * from their own shingle checkpoints.
    *
    * (__df, shingle) is a TOTAL order — ties on frequency break by
    * the shingle string, so both sides of any pair rank identically.
    * Prefix length L = sz − ⌈τ·sz⌉ + 1; ceil via floor((a+99)/100).
    * Spark's `/` is double division, so this is floor-of-double:
    * exact (and oracle-bit-equal) while the numerator stays under
    * 2^53 — sz is a per-doc shingle count, so the bound is
    * unreachable by ~8 orders of magnitude for any real document. */
  private def prefixTableOf(sh: DataFrame, idCol: String,
                            tauPct: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val freq = sh.groupBy("shingle").agg(count(lit(1)).as("__df"))
    val byRarity = Window.partitionBy(col(idCol))
      .orderBy(col("__df").asc, col("shingle").asc)
    sh.join(freq, Seq("shingle"))
      .select(col(idCol), col("shingle"), col("__df"),
        row_number().over(byRarity).as("__p"),
        count(lit(1)).over(Window.partitionBy(col(idCol))).as("__sz"))
      .filter(col("__p") <=
        col("__sz") - floor((col("__sz") * tauPct + 99) / 100) + 1)
  }

  private def prefixFilterPairsFrom(sh: DataFrame, prefix: DataFrame,
                                    idCol: String, tauPct: Int): DataFrame = {
    val a = prefix.select(col(idCol).as("doc_a"), col("shingle"),
      col("__p").as("__pa"), col("__sz").as("__sa"))
    val b = prefix.select(col(idCol).as("doc_b"), col("shingle"),
      col("__p").as("__pb"), col("__sz").as("__sb"))
    val alpha = floor((lit(tauPct) * (col("__sa") + col("__sb"))
      + (99 + tauPct)) / (100 + tauPct))
    val cand = a.join(b, Seq("shingle"))
      .filter(col("doc_a") < col("doc_b") &&
        col("__sa") * 100 >= col("__sb") * tauPct &&
        col("__sb") * 100 >= col("__sa") * tauPct &&
        lit(1) + least(col("__sa") - col("__pa"),
          col("__sb") - col("__pb")) >= alpha)
      .select("doc_a", "doc_b").distinct()
    // exact intersections on candidates only, computed IN-ROW: each
    // doc's distinct shingles ride as ONE array, so the two joins
    // move only the candidate PAIRS plus one corpus-sized pass of
    // docSets per side — the previous shape shuffled candidate ×
    // shingle rows through a groupBy (~|shingles/doc|× more rows;
    // measured 2× end-to-end on the clique corpus at sf0.1). Set
    // sizes come free as the array lengths.
    val docSets = sh.groupBy(col(idCol))
      .agg(collect_list(col("shingle")).as("__set"))
    cand
      .join(docSets.select(col(idCol).as("doc_a"), col("__set").as("__seta")),
        Seq("doc_a"))
      .join(docSets.select(col(idCol).as("doc_b"), col("__set").as("__setb")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("__seta"), col("__setb")))
          .cast("long").as("inter"),
        size(col("__seta")).cast("long").as("na"),
        size(col("__setb")).cast("long").as("nb"))
      // J ≥ τ ⟺ 100·I ≥ τ·(na+nb−I), all BIGINT
      .filter(col("inter") * 100 >= lit(tauPct) * (col("na") + col("nb") - col("inter")))
  }

  /** SHARDED exact Jaccard self-join — [[prefixFilterPairs]]' answer
    * with the candidate join's one failure mode removed: instead of a
    * single join whose pre-filter output (Σ C(pdf,2) over prefix
    * shingles — the quantity [[pairMassPreflight]] prices, and the
    * measured 100× ENOSPC) materializes at once, the prefix table is
    * hash-partitioned into `shards` disjoint shingle families
    * (`pmod(xxhash64(shingle), shards)`) and the SAME candidate join
    * runs once per family, SEQUENTIALLY — each pass's shuffle and
    * spill footprint is ~1/shards of the whole, each pass's survivors
    * are checkpointed (and logged) before the next pass starts, so
    * peak scratch disk is bounded by one pass, not the corpus.
    *
    * Exactly-once across shards without any global distinct: a
    * qualifying pair is emitted ONLY from the shard of its FIRST
    * shared shingle in the global rarity order (df asc, shingle asc —
    * the same order that ranks prefixes). That shingle is provably in
    * both prefixes (any rarer shared shingle would sit at a smaller
    * rank, hence inside both prefixes too), and at that shingle the
    * PPJoin positional bound cannot prune a qualifying pair (every
    * other shared shingle ranks after it in BOTH documents, so
    * 1 + min(remaining_a, remaining_b) ≥ inter ≥ α): the designated
    * shard always re-derives the pair, and every other shard's copy
    * is dropped by a per-row filter — the overlapJoin first-bin trick
    * (operators/AsOfJoin.scala) applied to shingle families. The
    * first shared shingle is computed per verified pair from the two
    * docs' prefix sets, carried as arrays of fixed-width
    * `zero-padded(df) ⊕ shingle` keys whose binary string order IS
    * the rarity order.
    *
    * shards = 1 degenerates to the unsharded join (one pass, a
    * vacuous emit filter). Output contract identical to
    * [[prefixFilterPairs]]: (doc_a, doc_b, inter, na, nb), integer
    * columns, J ≥ τ exact — no false negatives at ANY shard count.
    * Skew note: one globally hot shingle's C(pdf,2) mass lands in a
    * single shard — sharding bounds the SUM per pass, not one key's
    * contribution; the preflight's estimate is what sizes `shards`
    * (see [[exactOrCappedPairs]] onOverBudget="shard"). */
  def prefixFilterPairsSharded(df: DataFrame, idCol: String, textCol: String,
                               shingleN: Int = 3, tauPct: Int = 60,
                               shards: Int = 8): DataFrame = {
    require(tauPct > 0 && tauPct <= 100, s"tauPct in (0,100], got $tauPct")
    require(shards >= 1, s"shards must be >= 1, got $shards")
    val sh = shingleRows(df, idCol, textCol, shingleN).localCheckpoint()
    // prefix table checkpointed once — every pass re-reads it, none
    // rebuilds it (the shard key is a per-pass projection over it)
    prefixFilterPairsShardedFrom(sh,
      prefixTableOf(sh, idCol, tauPct).localCheckpoint(),
      idCol, tauPct, shards)
  }

  private def prefixFilterPairsShardedFrom(sh: DataFrame, prefix: DataFrame,
                                           idCol: String, tauPct: Int,
                                           shards: Int): DataFrame = {
    // per-doc verification payload, ONE frame: the full shingle set
    // (verification) plus the rarity-encoded prefix keys (first-
    // shared-shingle dedup): 19 zero-padded df digits + 1 separator +
    // the shingle — binary string order equals (df, shingle), and the
    // shingle extracts by fixed offset 21. Combined so every pass
    // attaches both with TWO id-keyed joins instead of four; the
    // inner combine is lossless — every doc with >= 1 shingle has a
    // prefix of length >= 1 (L = sz − ⌈τ·sz⌉ + 1 >= 1).
    val docSets = sh.groupBy(col(idCol))
      .agg(collect_list(col("shingle")).as("__set"))
    val docPrefs = prefix
      .select(col(idCol), concat(lpad(col("__df").cast("string"), 19, "0"),
        lit("\u0001"), col("shingle")).as("__key"))
      .groupBy(col(idCol)).agg(collect_list(col("__key")).as("__pref"))
    val docBoth = docSets.join(docPrefs, Seq(idCol)).localCheckpoint()
    val sc = sh.sparkSession.sparkContext
    val passes = (0 until shards).map { s =>
      // scrub the pass's shuffle files before the next pass writes its
      // own: without eager cleanup 100×'s per-pass spill accumulates
      // right back into the single-join ENOSPC this operator exists to
      // avoid. ShuffleScrub runs the ContextCleaner's own shuffle
      // removal on exactly the ids this pass registered — the targeted
      // replacement for the System.gc() nudge (a full GC on the 48 g
      // harness heap was a measured multi-second pause per pass); the
      // pass's checkpointed survivors never re-read those shuffles.
      org.apache.spark.graft.ShuffleScrub.scoped(sc) {
        val p = prefix.filter(
          pmod(xxhash64(col("shingle")), lit(shards.toLong)) === s)
        val a = p.select(col(idCol).as("doc_a"), col("shingle"),
          col("__p").as("__pa"), col("__sz").as("__sa"))
        val b = p.select(col(idCol).as("doc_b"), col("shingle"),
          col("__p").as("__pb"), col("__sz").as("__sb"))
        val alpha = floor((lit(tauPct) * (col("__sa") + col("__sb"))
          + (99 + tauPct)) / (100 + tauPct))
        val cand = a.join(b, Seq("shingle"))
          .filter(col("doc_a") < col("doc_b") &&
            col("__sa") * 100 >= col("__sb") * tauPct &&
            col("__sb") * 100 >= col("__sa") * tauPct &&
            lit(1) + least(col("__sa") - col("__pa"),
              col("__sb") - col("__pb")) >= alpha)
          .select("doc_a", "doc_b").distinct()
        val first = array_min(array_intersect(col("__prefa"), col("__prefb")))
        val kept = cand
          .join(docBoth.select(col(idCol).as("doc_a"),
            col("__set").as("__seta"), col("__pref").as("__prefa")),
            Seq("doc_a"))
          // explicit numbered repartition on the second join's key:
          // the doc_b join reuses it, and AQE cannot coalesce a
          // user-numbered repartition — so the CPU-heavy set-intersect
          // verification stage keeps full width instead of the
          // post-AQE handful of tasks (measured 6 tasks / 1.3-1.8 s
          // per pass on 32 cores)
          .repartition(sh.sparkSession.sparkContext.defaultParallelism,
            col("doc_b"))
          .join(docBoth.select(col(idCol).as("doc_b"),
            col("__set").as("__setb"), col("__pref").as("__prefb")),
            Seq("doc_b"))
          .filter(pmod(xxhash64(first.substr(lit(21), length(first))),
            lit(shards.toLong)) === s)
          .select(col("doc_a"), col("doc_b"),
            size(array_intersect(col("__seta"), col("__setb")))
              .cast("long").as("inter"),
            size(col("__seta")).cast("long").as("na"),
            size(col("__setb")).cast("long").as("nb"))
          .filter(col("inter") * 100 >=
            lit(tauPct) * (col("na") + col("nb") - col("inter")))
          // eager: materializes THIS pass before the next starts —
          // sequential passes are the whole point (bounded peak disk)
          .localCheckpoint()
        System.err.println(s"[graft.Dedup] sharded exact pass ${s + 1}/$shards: " +
          s"${kept.count()} qualifying pairs")
        kept
      }
    }
    passes.reduce(_ unionByName _)
  }

  /** PRE-FLIGHT pair-mass estimate for the exact similarity family —
    * the linear-cost audit a production engine runs BEFORE
    * [[prefixFilterPairs]] commits to its candidate join. The exact
    * path's one failure mode is OUTPUT-BOUND: on clique-heavy corpora
    * the qualifying-pair set itself explodes (the measured 100×
    * ENOSPC — the no-false-negatives contract's price), and by the
    * time the shuffle dies the cluster has already paid for it. This
    * operator predicts that volume from the same prefix table the
    * join would build: per prefix shingle with document frequency
    * pdf, the candidate equi-join emits exactly C(pdf, 2) pair rows
    * (before the length/positional prunes and the distinct), so
    * `est_candidate_pairs` = Σ pdf·(pdf−1)/2 is an EXACT count of the
    * join's pre-filter output — the quantity that fills the disk —
    * computed with one window pass and two aggregations, never a
    * pair join.
    *
    * One row per entry in `budgets` (all-integer; the even product
    * halves by shiftright so there is no double division anywhere):
    * (budget_pairs, n_docs, n_shingle_rows, n_prefix_rows,
    * est_candidate_pairs, within_budget). [[exactOrCappedPairs]] is
    * the routed dispatch built on the single-budget form. */
  def pairMassPreflight(df: DataFrame, idCol: String, textCol: String,
                        shingleN: Int = 3, tauPct: Int = 60,
                        budgets: Seq[Long] = Seq(10000000L)): DataFrame = {
    require(tauPct > 0 && tauPct <= 100, s"tauPct in (0,100], got $tauPct")
    require(budgets.nonEmpty, "at least one budget row")
    val sh = shingleRows(df, idCol, textCol, shingleN).localCheckpoint()
    // identical prefix rule to prefixFilterPairs — the estimate is
    // about THE join that would run, not a lookalike
    pairMassPreflightFrom(sh, prefixTableOf(sh, idCol, tauPct),
      idCol, budgets)
  }

  private def pairMassPreflightFrom(sh: DataFrame, prefix: DataFrame,
                                    idCol: String,
                                    budgets: Seq[Long]): DataFrame = {
    val pdf = prefix.groupBy("shingle").agg(count(lit(1)).as("__pdf"))
    val stats = sh
      .agg(countDistinct(col(idCol)).as("n_docs"),
        count(lit(1)).as("n_shingle_rows"))
      .crossJoin(pdf.agg(
        sum(col("__pdf")).as("n_prefix_rows"),
        sum(shiftright(col("__pdf") * (col("__pdf") - 1), 1))
          .as("est_candidate_pairs")))
    stats
      .select(explode(typedLit(budgets)).as("budget_pairs"),
        col("n_docs"), col("n_shingle_rows"), col("n_prefix_rows"),
        col("est_candidate_pairs"))
      .withColumn("within_budget",
        col("est_candidate_pairs") <= col("budget_pairs"))
  }

  /** Budget-routed exact/approximate dispatch — what a production
    * pipeline actually runs where a human would otherwise choose
    * between [[prefixFilterPairs]] (exact, output-bound) and the
    * capped LSH path (bounded, audited recall): [[pairMassPreflight]]
    * prices the exact join first, and only a corpus whose pre-filter
    * candidate mass fits `budgetPairs` gets it; anything hotter
    * routes to [[nearDupPairs]] under `maxBucketSize` — refusing the
    * measured ENOSPC death instead of dying mid-shuffle. The
    * preflight row is ONE collected row (driver-side bounded by
    * construction, the bloom-bitmap pattern). Output is the common
    * pair schema (doc_a, doc_b, route) so downstream clustering reads
    * any branch unchanged.
    *
    * `onOverBudget` names the above-budget policy — the caller's
    * CONTRACT, not a silent downgrade:
    *  - "shard": keep the exact no-false-negatives answer, paid for in
    *    ⌈est/budget⌉ sequential passes of ~budget pre-filter pairs
    *    each ([[prefixFilterPairsSharded]]; capped at `maxShards`) —
    *    route = 'exact_sharded';
    *  - "lsh": the bounded approximate answer under `maxBucketSize`
    *    (route = 'lsh_capped') — recall loss is the audited bucket
    *    drops, and the route column is the only flag, so callers who
    *    need exactness must NOT pick this;
    *  - "fail": refuse — for pipelines where an approximate answer is
    *    worse than no answer. */
  def exactOrCappedPairs(df: DataFrame, idCol: String, textCol: String,
                         shingleN: Int = 3, tauPct: Int = 60,
                         budgetPairs: Long = 10000000L,
                         maxBucketSize: Int = 64,
                         onOverBudget: String = "lsh",
                         maxShards: Int = 256): DataFrame = {
    require(Set("lsh", "shard", "fail")(onOverBudget),
      s"onOverBudget in {lsh, shard, fail}, got $onOverBudget")
    // ONE shingle checkpoint feeds the preflight AND the exact/sharded
    // branch (guide §1.3): before, the chosen branch re-tokenized the
    // corpus from scratch. The prefix table stays LAZY here — the
    // within-budget join pipelines it into its one big plan (a
    // checkpoint was measured to serialize that plan into a
    // low-parallelism read); the shard branch checkpoints it itself
    // because its passes re-read it.
    val sh = shingleRows(df, idCol, textCol, shingleN).localCheckpoint()
    val prefix = prefixTableOf(sh, idCol, tauPct)
    val flight = pairMassPreflightFrom(sh, prefix, idCol,
      Seq(budgetPairs)).collect().head
    val within = flight.getAs[Boolean]("within_budget")
    val est = flight.getAs[Long]("est_candidate_pairs")
    System.err.println(s"[graft.Dedup] pairMassPreflight: est " +
      s"$est candidate pairs vs budget $budgetPairs -> " +
      (if (within) "exact" else onOverBudget))
    if (within)
      prefixFilterPairsFrom(sh, prefix, idCol, tauPct)
        .select(col("doc_a"), col("doc_b"), lit("exact").as("route"))
    else onOverBudget match {
      case "shard" =>
        val shards = math.min(maxShards.toLong,
          (est + budgetPairs - 1) / budgetPairs).toInt
        System.err.println(s"[graft.Dedup] exact route sharded into " +
          s"$shards sequential passes (~$budgetPairs pre-filter pairs each)")
        prefixFilterPairsShardedFrom(sh, prefix.localCheckpoint(),
            idCol, tauPct, shards)
          .select(col("doc_a"), col("doc_b"), lit("exact_sharded").as("route"))
      case "fail" =>
        throw new IllegalStateException(
          s"exact similarity join refused: est $est pre-filter candidate " +
            s"pairs exceeds budget $budgetPairs (onOverBudget=fail); raise " +
            "the budget, pass onOverBudget=shard, or accept lsh")
      case _ =>
        nearDupPairs(df, idCol, textCol, maxBucketSize = maxBucketSize)
          .select(col("doc_a"), col("doc_b"), lit("lsh_capped").as("route"))
    }
  }

  /** The TWO-CORPUS exact similarity join — [[prefixFilterPairs]]'
    * R×S form and the no-false-negatives sibling of
    * [[incrementalNearDups]]: every (index doc, incoming doc) pair
    * with Jaccard ≥ τ, nothing missed. The daily-ingest shape: only
    * incoming×index prefix collisions become candidates; neither
    * corpus is ever paired against itself.
    *
    * Exactness across two corpora needs ONE detail beyond the
    * self-join: the rarity order must be a SINGLE total order both
    * sides share — frequencies are counted over the UNION of both
    * shingle tables (one combined map-side agg), so the prefix lemma
    * and PPJoin positional bound apply unchanged to cross pairs. At
    * production scale the index side's positional prefix table is
    * persistable between ingests ONLY while the rarity order is
    * frozen: the order is computed over the union of both corpora,
    * so an ingest's frequency refresh can reorder prefixes and
    * invalidate a stored index-side table — persist the frequency
    * snapshot with the table and re-derive prefixes when it moves
    * (or accept the recall of a stale order until the next rebuild).
    * Output: (index_id, new_id, inter, n_index, n_new) — integer
    * columns, same contract as the self-join. Caller guarantees the
    * two id spaces are disjoint (same contract as
    * [[incrementalNearDups]]). */
  def prefixFilterJoinAB(index: DataFrame, incoming: DataFrame,
                         idCol: String, textCol: String,
                         shingleN: Int = 3, tauPct: Int = 60): DataFrame = {
    require(tauPct > 0 && tauPct <= 100, s"tauPct in (0,100], got $tauPct")
    val shI = shingleRows(index, idCol, textCol, shingleN).localCheckpoint()
    val shN = shingleRows(incoming, idCol, textCol, shingleN).localCheckpoint()
    val (prefI, prefN) = prefixTablesABOf(shI, shN, idCol, tauPct)
    prefixFilterJoinABFrom(shI, shN, prefI, prefN, idCol, tauPct)
  }

  /** The two sides' positional prefix tables under the SHARED union
    * rarity order — [[prefixTableOf]]'s R×S form, shared (guide §1.3)
    * between the AB pre-flight and whichever AB join the dispatch
    * picks. Both results are LAZY; callers that reuse them across
    * actions checkpoint them. */
  private def prefixTablesABOf(shI: DataFrame, shN: DataFrame,
                               idCol: String, tauPct: Int)
      : (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val freq = shI.unionByName(shN)
      .groupBy("shingle").agg(count(lit(1)).as("__df"))
    def prefixOf(sh: DataFrame): DataFrame = {
      val byRarity = Window.partitionBy(col(idCol))
        .orderBy(col("__df").asc, col("shingle").asc)
      sh.join(freq, Seq("shingle"))
        .select(col(idCol), col("shingle"), col("__df"),
          row_number().over(byRarity).as("__p"),
          count(lit(1)).over(Window.partitionBy(col(idCol))).as("__sz"))
        .filter(col("__p") <=
          col("__sz") - floor((col("__sz") * tauPct + 99) / 100) + 1)
    }
    (prefixOf(shI), prefixOf(shN))
  }

  private def prefixFilterJoinABFrom(shI: DataFrame, shN: DataFrame,
                                     prefI: DataFrame, prefN: DataFrame,
                                     idCol: String, tauPct: Int): DataFrame = {
    val a = prefI.select(col(idCol).as("index_id"), col("shingle"),
      col("__p").as("__pa"), col("__sz").as("__sa"))
    val b = prefN.select(col(idCol).as("new_id"), col("shingle"),
      col("__p").as("__pb"), col("__sz").as("__sb"))
    val alpha = floor((lit(tauPct) * (col("__sa") + col("__sb"))
      + (99 + tauPct)) / (100 + tauPct))
    val cand = a.join(b, Seq("shingle"))
      .filter(col("__sa") * 100 >= col("__sb") * tauPct &&
        col("__sb") * 100 >= col("__sa") * tauPct &&
        lit(1) + least(col("__sa") - col("__pa"),
          col("__sb") - col("__pb")) >= alpha)
      .select("index_id", "new_id").distinct()
    // in-row intersections on candidates, same restructure as the
    // self-join (see prefixFilterPairs): only pairs shuffle, each
    // corpus's shingle-set table is touched once
    val setsI = shI.groupBy(col(idCol))
      .agg(collect_list(col("shingle")).as("__seta"))
    val setsN = shN.groupBy(col(idCol))
      .agg(collect_list(col("shingle")).as("__setb"))
    cand
      .join(setsI.select(col(idCol).as("index_id"), col("__seta")),
        Seq("index_id"))
      .join(setsN.select(col(idCol).as("new_id"), col("__setb")),
        Seq("new_id"))
      .select(col("index_id"), col("new_id"),
        size(array_intersect(col("__seta"), col("__setb")))
          .cast("long").as("inter"),
        size(col("__seta")).cast("long").as("n_index"),
        size(col("__setb")).cast("long").as("n_new"))
      .filter(col("inter") * 100 >=
        lit(tauPct) * (col("n_index") + col("n_new") - col("inter")))
  }

  /** PRE-FLIGHT pair-mass estimate for the TWO-CORPUS exact join —
    * [[pairMassPreflight]]'s R×S form: per shingle appearing in BOTH
    * sides' prefixes (under the shared union rarity order the AB join
    * uses), the candidate equi-join emits exactly pdfI·pdfN pair rows
    * before any prune, so `est_candidate_pairs` = Σ pdfI·pdfN is an
    * EXACT count of [[prefixFilterJoinAB]]'s pre-filter output — the
    * disk-filling quantity — priced with two window passes and one
    * shingle-key join of two COUNT tables (never a pair join). One
    * row per entry in `budgets`, all-integer. */
  def pairMassPreflightAB(index: DataFrame, incoming: DataFrame,
                          idCol: String, textCol: String,
                          shingleN: Int = 3, tauPct: Int = 60,
                          budgets: Seq[Long] = Seq(10000000L)): DataFrame = {
    require(tauPct > 0 && tauPct <= 100, s"tauPct in (0,100], got $tauPct")
    require(budgets.nonEmpty, "at least one budget row")
    val shI = shingleRows(index, idCol, textCol, shingleN).localCheckpoint()
    val shN = shingleRows(incoming, idCol, textCol, shingleN).localCheckpoint()
    // the UNION frequency — the single total order both sides' prefix
    // rules rank by (identical to prefixFilterJoinAB, so the estimate
    // prices THE join that would run)
    val (prefI, prefN) = prefixTablesABOf(shI, shN, idCol, tauPct)
    pairMassPreflightABFrom(shI, shN, prefI, prefN, idCol, budgets)
  }

  private def pairMassPreflightABFrom(shI: DataFrame, shN: DataFrame,
                                      prefI: DataFrame, prefN: DataFrame,
                                      idCol: String,
                                      budgets: Seq[Long]): DataFrame = {
    val pdfI = prefI.groupBy("shingle").agg(count(lit(1)).as("__pi"))
    val pdfN = prefN.groupBy("shingle").agg(count(lit(1)).as("__pn"))
    val mass = pdfI.join(pdfN, Seq("shingle"))
      .agg(coalesce(sum(col("__pi") * col("__pn")), lit(0L))
        .as("est_candidate_pairs"))
    val stats = shI.agg(countDistinct(col(idCol)).as("n_index"))
      .crossJoin(shN.agg(countDistinct(col(idCol)).as("n_incoming")))
      .crossJoin(mass)
    stats
      .select(explode(typedLit(budgets)).as("budget_pairs"),
        col("n_index"), col("n_incoming"), col("est_candidate_pairs"))
      .withColumn("within_budget",
        col("est_candidate_pairs") <= col("budget_pairs"))
  }

  /** SHARDED two-corpus exact join — [[prefixFilterJoinAB]]'s answer
    * with the candidate join decomposed into `shards` sequential
    * shingle-family passes, exactly the treatment
    * [[prefixFilterPairsSharded]] gives the self-join: each pass's
    * shuffle/spill footprint is ~1/shards of the single join's, each
    * pass's survivors are checkpointed (and logged) before the next
    * starts, and the pass's shuffle files are scrubbed eagerly, so
    * peak scratch disk is bounded by one pass.
    *
    * Exactly-once across shards re-uses the first-shared-shingle rule
    * unchanged, because both sides rank prefixes under the SAME union
    * rarity order (df asc, shingle asc over shI ∪ shN): a qualifying
    * cross pair's rarest shared shingle sits inside BOTH prefixes
    * (any rarer shared shingle would rank earlier in both documents),
    * and at that shingle the positional bound cannot prune the pair —
    * so the shard owning that shingle always re-derives it, and every
    * other shard's copy is dropped by the per-row emit filter.
    * PrefixJoinProps pins AB-sharded ≡ brute force for any corpora,
    * threshold, and shard count. Output contract identical to
    * [[prefixFilterJoinAB]]: (index_id, new_id, inter, n_index,
    * n_new); shards = 1 degenerates to the single-pass join. */
  def prefixFilterJoinABSharded(index: DataFrame, incoming: DataFrame,
                                idCol: String, textCol: String,
                                shingleN: Int = 3, tauPct: Int = 60,
                                shards: Int = 8): DataFrame = {
    require(tauPct > 0 && tauPct <= 100, s"tauPct in (0,100], got $tauPct")
    require(shards >= 1, s"shards must be >= 1, got $shards")
    val shI = shingleRows(index, idCol, textCol, shingleN).localCheckpoint()
    val shN = shingleRows(incoming, idCol, textCol, shingleN).localCheckpoint()
    val (prefI, prefN) = prefixTablesABOf(shI, shN, idCol, tauPct)
    // prefix tables checkpointed once — every pass re-reads them
    prefixFilterJoinABShardedFrom(shI, shN,
      prefI.localCheckpoint(), prefN.localCheckpoint(),
      idCol, tauPct, shards)
  }

  private def prefixFilterJoinABShardedFrom(shI: DataFrame, shN: DataFrame,
                                            prefI: DataFrame,
                                            prefN: DataFrame,
                                            idCol: String, tauPct: Int,
                                            shards: Int): DataFrame = {
    // per-side combined verification payload — the full shingle set
    // plus the rarity-encoded prefix keys (19 zero-padded df digits +
    // U+0001 + shingle — binary string order equals (df, shingle)) in
    // ONE frame, so every pass attaches both with TWO id-keyed joins
    // instead of four; the inner combine is lossless (every doc with
    // >= 1 shingle has a prefix of length >= 1), shared across passes
    def bothOf(sh: DataFrame, pref: DataFrame, outId: String): DataFrame = {
      val sets = sh.groupBy(col(idCol))
        .agg(collect_list(col("shingle")).as("__set"))
      val keys = pref
        .select(col(idCol), concat(lpad(col("__df").cast("string"), 19, "0"),
          lit("\u0001"), col("shingle")).as("__key"))
        .groupBy(col(idCol)).agg(collect_list(col("__key")).as("__pref"))
      sets.join(keys, Seq(idCol))
        .select(col(idCol).as(outId), col("__set"), col("__pref"))
        .localCheckpoint()
    }
    val bothI = bothOf(shI, prefI, "index_id")
    val bothN = bothOf(shN, prefN, "new_id")
    val sc = shI.sparkSession.sparkContext
    val passes = (0 until shards).map { s =>
      org.apache.spark.graft.ShuffleScrub.scoped(sc) {
        val a = prefI.filter(
            pmod(xxhash64(col("shingle")), lit(shards.toLong)) === s)
          .select(col(idCol).as("index_id"), col("shingle"),
            col("__p").as("__pa"), col("__sz").as("__sa"))
        val b = prefN.filter(
            pmod(xxhash64(col("shingle")), lit(shards.toLong)) === s)
          .select(col(idCol).as("new_id"), col("shingle"),
            col("__p").as("__pb"), col("__sz").as("__sb"))
        val alpha = floor((lit(tauPct) * (col("__sa") + col("__sb"))
          + (99 + tauPct)) / (100 + tauPct))
        val cand = a.join(b, Seq("shingle"))
          .filter(col("__sa") * 100 >= col("__sb") * tauPct &&
            col("__sb") * 100 >= col("__sa") * tauPct &&
            lit(1) + least(col("__sa") - col("__pa"),
              col("__sb") - col("__pb")) >= alpha)
          .select("index_id", "new_id").distinct()
        val first = array_min(array_intersect(col("__prefa"), col("__prefb")))
        val kept = cand
          .join(bothI.select(col("index_id"),
            col("__set").as("__seta"), col("__pref").as("__prefa")),
            Seq("index_id"))
          // NO forced repartition here (unlike the self-join variant):
          // bothN is the batch side — small enough that this join
          // broadcasts, so a keyed repartition would ADD an exchange
          // where none exists (measured +2-3 s across the AB gates)
          .join(bothN.select(col("new_id"),
            col("__set").as("__setb"), col("__pref").as("__prefb")),
            Seq("new_id"))
          .filter(pmod(xxhash64(first.substr(lit(21), length(first))),
            lit(shards.toLong)) === s)
          .select(col("index_id"), col("new_id"),
            size(array_intersect(col("__seta"), col("__setb")))
              .cast("long").as("inter"),
            size(col("__seta")).cast("long").as("n_index"),
            size(col("__setb")).cast("long").as("n_new"))
          .filter(col("inter") * 100 >=
            lit(tauPct) * (col("n_index") + col("n_new") - col("inter")))
          .localCheckpoint()
        System.err.println(s"[graft.Dedup] sharded AB pass ${s + 1}/$shards: " +
          s"${kept.count()} qualifying pairs")
        kept
      }
    }
    passes.reduce(_ unionByName _)
  }

  /** Budget-routed TWO-CORPUS dispatch — [[exactOrCappedPairs]]'
    * ingest-shaped sibling: [[pairMassPreflightAB]] prices the exact
    * cross join first; within budget runs [[prefixFilterJoinAB]], and
    * `onOverBudget` names the above-budget CONTRACT:
    *  - "shard": the exact no-false-negatives answer in ⌈est/budget⌉
    *    sequential passes ([[prefixFilterJoinABSharded]], capped at
    *    `maxShards`) — route = 'exact_sharded';
    *  - "lsh": the bounded approximate answer
    *    ([[incrementalNearDups]] under `maxBucketSize`) —
    *    route = 'lsh_capped', recall loss = the audited bucket drops;
    *  - "fail": refuse.
    * Output is the common (index_id, new_id, route) schema so the
    * ingest policy downstream reads any branch unchanged. */
  def exactOrCappedPairsAB(index: DataFrame, incoming: DataFrame,
                           idCol: String, textCol: String,
                           shingleN: Int = 3, tauPct: Int = 60,
                           budgetPairs: Long = 10000000L,
                           maxBucketSize: Int = 64,
                           onOverBudget: String = "lsh",
                           maxShards: Int = 256): DataFrame = {
    require(Set("lsh", "shard", "fail")(onOverBudget),
      s"onOverBudget in {lsh, shard, fail}, got $onOverBudget")
    // shared shingle checkpoints feed the preflight AND the chosen
    // exact branch (guide §1.3) — same reuse as exactOrCappedPairs;
    // prefix tables stay lazy (the shard branch checkpoints them)
    val shI = shingleRows(index, idCol, textCol, shingleN).localCheckpoint()
    val shN = shingleRows(incoming, idCol, textCol, shingleN).localCheckpoint()
    val (prefI, prefN) = prefixTablesABOf(shI, shN, idCol, tauPct)
    val flight = pairMassPreflightABFrom(shI, shN, prefI, prefN, idCol,
      Seq(budgetPairs)).collect().head
    val within = flight.getAs[Boolean]("within_budget")
    val est = flight.getAs[Long]("est_candidate_pairs")
    System.err.println(s"[graft.Dedup] pairMassPreflightAB: est " +
      s"$est candidate pairs vs budget $budgetPairs -> " +
      (if (within) "exact" else onOverBudget))
    if (within)
      prefixFilterJoinABFrom(shI, shN, prefI, prefN, idCol, tauPct)
        .select(col("index_id"), col("new_id"), lit("exact").as("route"))
    else onOverBudget match {
      case "shard" =>
        val shards = math.min(maxShards.toLong,
          (est + budgetPairs - 1) / budgetPairs).toInt
        System.err.println(s"[graft.Dedup] exact AB route sharded into " +
          s"$shards sequential passes (~$budgetPairs pre-filter pairs each)")
        prefixFilterJoinABShardedFrom(shI, shN,
            prefI.localCheckpoint(), prefN.localCheckpoint(),
            idCol, tauPct, shards)
          .select(col("index_id"), col("new_id"),
            lit("exact_sharded").as("route"))
      case "fail" =>
        throw new IllegalStateException(
          s"exact AB similarity join refused: est $est pre-filter " +
            s"candidate pairs exceeds budget $budgetPairs " +
            "(onOverBudget=fail); raise the budget, pass " +
            "onOverBudget=shard, or accept lsh")
      case _ =>
        incrementalNearDups(index, incoming, idCol, textCol,
            shingleN, maxBucketSize = maxBucketSize)
          .select(col("index_id"), col("new_id"),
            lit("lsh_capped").as("route"))
    }
  }

  /** Asymmetric CONTAINMENT pairs (Broder's containment c(A,B) =
    * |A∩B|/|A|): the quote/subsumption detector Jaccard-based dedup
    * is blind to — an excerpt inside a long document has high
    * containment but low Jaccard, so MinHash-LSH (which indexes
    * Jaccard) misses it by design; candidates here come from a
    * df-capped SHINGLE equi-join instead, which catches any pair
    * sharing >= minInter rare shingles regardless of the size ratio.
    *
    * Output is integer-only house style: (doc_a, doc_b, inter, na,
    * nb) with na/nb the distinct-shingle set sizes — c(A,B) = inter/
    * na and c(B,A) = inter/nb stay with the reader. Shingles held by
    * more than `maxDf` documents are dropped before pairing (the
    * same hot-bucket guard as winnowOverlap: a boilerplate shingle
    * identifies nothing and inflates the join quadratically; the cap
    * is observable by re-running with it lifted). Scale shape: one
    * shingle-key equi-join bounded per key by maxDf², map-side pair
    * count, two broadcast-able size joins — never all-pairs. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       n: Int = 3, minInter: Long = 2,
                       maxDf: Int = 50): DataFrame = {
    // one tokenize pass: the shingle table feeds the df filter, BOTH
    // sides of the pair join, and the size table — un-checkpointed,
    // each consumer re-ran the explode + distinct chain (guide §1.3)
    val sh = shingleRows(df, idCol, textCol, n).localCheckpoint()
    val rare = sh.groupBy("shingle").agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxDf)
    val kept = sh.join(rare.select("shingle"), Seq("shingle"))
    val inter = kept.select(col("shingle"), col(idCol).as("doc_a"))
      .join(kept.select(col("shingle"), col(idCol).as("doc_b")),
        Seq("shingle"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
      .filter(col("inter") >= minInter)
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("__n"))
    inter
      .join(sizes.select(col(idCol).as("doc_a"), col("__n").as("na")),
        Seq("doc_a"))
      .join(sizes.select(col(idCol).as("doc_b"), col("__n").as("nb")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("inter"),
        col("na"), col("nb"))
  }

  /** Reference composition path (explode × bits → two aggregations),
    * kept to pin the native expression bit-for-bit in DedupSpec. */
  def simhashComposed(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tokRows = df
      .select(col(idCol), explode(tokens(col(textCol))).as("__tok"))
      .select(col(idCol),
        conv(substring(md5(col("__tok")), 1, 4), 16, 10).cast("long").as("h"))
    val votes = tokRows
      .select(col(idCol), col("h"), explode(sequence(lit(0), lit(15))).as("b"))
      .select(col(idCol), col("b"),
        (expr("shiftright(h, CAST(b AS INT)) & 1") * 2 - 1).as("vote"))
      .groupBy(idCol, "b").agg(sum(col("vote")).as("s"))
    votes.groupBy(idCol)
      .agg(sum(when(col("s") > 0,
          expr("shiftleft(CAST(1 AS BIGINT), CAST(b AS INT))"))
        .otherwise(0L)).as("simhash"))
  }
}
