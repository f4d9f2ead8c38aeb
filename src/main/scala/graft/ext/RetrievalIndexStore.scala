package graft.ext

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Persisted BM25 inverted index — the lexical sibling of
  * [[SignatureStore]] (near-dup) and [[VectorIndexStore]] (ANN),
  * completing the persisted-derived-state family: a retrieval batch
  * pays for ITS OWN vocabulary's postings, never a corpus rebuild.
  *
  * [[Retrieval.bm25TopK]] re-tokenizes the corpus, re-counts df, and
  * re-derives the (N, T) totals on every call — the right shape for a
  * one-shot audit, pure waste for the decontamination / corpus-probe
  * lookups a pipeline runs daily against an index that didn't change.
  * The store persists:
  *
  *   <path>/postings.parquet  (doc_id, tok, tf, dl) PARTITIONED BY
  *                            tok_bucket = pmod(xxhash64(tok), B) —
  *                            optionally statically PRUNED to each
  *                            token's top-N impact postings (see
  *                            [[build]])
  *   <path>/df.parquet        (tok, df, tok_bucket) — per-token DELTA
  *                            rows; readers SUM. Persisted separately
  *                            from the postings so pruning never
  *                            touches idf
  *   <path>/stats.parquet     (n_docs, total_dl) — one DELTA row per
  *                            build/append; readers SUM (doc sets are
  *                            disjoint across writes, so N and T are
  *                            exactly additive)
  *   <path>/params.parquet    (tok_buckets) — the bucket fn config,
  *                            read by append/query so every write and
  *                            probe agrees on the layout
  *
  * The layout IS the probe structure: every posting of a token lives
  * in that token's bucket directory, so [[query]] plans the batch's
  * probed buckets first — on the driver, from the query batch it
  * collects once (the bounded-collect class) — and Spark's file index
  * prunes every other directory at planning time. A batch whose
  * vocabulary hits b of B buckets scans ~b/B of the corpus postings —
  * the inverted-file promise kept at the file level, pinned by the spec
  * on the executed scan's numFiles metric. Within scanned buckets, the query terms
  * broadcast to the scan, so non-query tokens sharing a bucket drop
  * in the first (shuffle-free) join; df and the score join then run
  * over candidate postings only — bounded by Σ_t df(t), the classic
  * inverted-index cost, never corpus×queries.
  *
  * Exactness: df(t) counts postings of token t, which ALL live in t's
  * bucket — a pruned scan is complete for every query token; (N, T)
  * come from the summed delta rows. Every input to the scoring stage
  * is therefore identical to the direct route's over the same logical
  * corpus, and the scores are integer, so [[query]] ==
  * `Retrieval.bm25TopK` bit-for-bit, including across an [[append]]
  * (spec-pinned; the q_bm25_stored gate reuses q_bm25_topk's DuckDB
  * oracle verbatim — the store must be invisible in the answer).
  *
  * Caller contract (same as the sibling stores): appended doc ids are
  * new — the store has no dedup of its own.
  *
  * Reference behavior context: the reference re-reads its full corpus
  * per run (eager pandas, no persisted derived state); this store is
  * the artifact a 100 TB deployment adds, not a translation. */
object RetrievalIndexStore {

  private def postingsOf(df: DataFrame, idCol: String, textCol: String,
                         tokBuckets: Int): DataFrame =
    Retrieval.postings(df, idCol, textCol)
      .select(col(idCol).cast("long").as("doc_id"), col("tok"),
        col("tf"), col("dl"))
      .withColumn("tok_bucket",
        pmod(xxhash64(col("tok")), lit(tokBuckets.toLong)))

  /** ONE tokenize pass for a POSITIONAL write batch (guide §1.3 —
    * stop recomputing): the positional rows carry dl, so the scored
    * postings aggregate FROM them instead of re-tokenizing the corpus
    * (previously [[postingsOf]] and [[positionsOf]] were two
    * independent full passes). Output: (doc_id, dl, pos, tok,
    * tok_bucket) — [[positionsFrom]]/[[postingsFromPositions]] slice
    * the two artifacts out of it. */
  private def positionsWithDl(df: DataFrame, idCol: String,
                              textCol: String, tokBuckets: Int): DataFrame =
    df.select(col(idCol).cast("long").as("doc_id"),
        graft.ext.TextOps.tokens(col(textCol)).as("__toks"))
      .select(col("doc_id"), size(col("__toks")).cast("long").as("dl"),
        posexplode(col("__toks")).as(Seq("pos", "tok")))
      .withColumn("tok_bucket",
        pmod(xxhash64(col("tok")), lit(tokBuckets.toLong)))

  private def positionsFrom(posFull: DataFrame): DataFrame =
    posFull.select("doc_id", "pos", "tok", "tok_bucket")

  /** Value-identical to [[postingsOf]] (same groupBy(doc, tok) count
    * and max(dl); tok_bucket is functionally dependent on tok). */
  private def postingsFromPositions(posFull: DataFrame): DataFrame =
    posFull.groupBy(col("doc_id"), col("tok"), col("tok_bucket"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
      .select(col("doc_id"), col("tok"), col("tf"), col("dl"),
        col("tok_bucket"))

  /** The write batch's derivations: checkpointed scored postings plus,
    * on a positional store, the positions frame sharing the SAME
    * tokenize pass. */
  private def derive(df: DataFrame, idCol: String, textCol: String,
                     tokBuckets: Int, positional: Boolean)
      : (DataFrame, Option[DataFrame]) =
    if (!positional)
      (postingsOf(df, idCol, textCol, tokBuckets).localCheckpoint(), None)
    else {
      val posFull = positionsWithDl(df, idCol, textCol, tokBuckets)
        .localCheckpoint()
      (postingsFromPositions(posFull).localCheckpoint(),
        Some(positionsFrom(posFull)))
    }

  /** The batch's (N, T) contribution, from its postings frame —
    * max(dl) per doc (dl is functionally dependent on the doc), then
    * one bounded row. */
  private def statsOf(post: DataFrame): DataFrame =
    post.groupBy("doc_id").agg(max("dl").as("__dl"))
      .agg(count(lit(1)).as("n_docs"), sum("__dl").as("total_dl"))

  /** Per-token document frequencies from a postings frame — the df
    * SOURCE OF TRUTH the store persists separately so static pruning
    * can drop postings without touching idf: (tok, df, tok_bucket),
    * bucket-partitioned like the postings so a probe prunes both
    * scans the same way. Delta rows per build/append; readers SUM
    * (doc sets are disjoint across writes). */
  private def dfOf(post: DataFrame): DataFrame =
    post.groupBy("tok", "tok_bucket").agg(count(lit(1)).as("df"))

  /** Build (or rebuild — overwrite) the index from the corpus. One
    * tokenize+count pass (checkpointed so the four artifact writes
    * share it) — the same aggregation the direct route pays PER QUERY
    * BATCH.
    *
    * `maxPostingsPerToken` is STATIC INDEX PRUNING (the Carmel et al.
    * technique every production engine ships): keep only each
    * token's `cap` highest-impact postings — rank by (tf desc,
    * dl asc, doc_id asc), the deterministic form of "high term
    * frequency in a short document scores highest" — while df (and
    * therefore idf) stays EXACT from the separately-persisted df
    * table, and (N, T) stay exact from the full corpus. The trade is
    * recall on documents that would have accumulated their score
    * from many weak term hits; the win is a per-token bound on what
    * any future query scans — the flat-at-any-scale serving index.
    * Default MaxValue = no pruning = bit-equal to the direct chain.
    * Ends by publishing entry 0 of the store log (a rebuild restarts
    * it). */
  def build(corpus: DataFrame, idCol: String, textCol: String,
            path: String, tokBuckets: Int = 256,
            maxPostingsPerToken: Int = Int.MaxValue,
            positional: Boolean = false): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val (post, positions) = derive(corpus, idCol, textCol, tokBuckets,
      positional)
    val kept =
      if (maxPostingsPerToken == Int.MaxValue) post
      else {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("tok")
          .orderBy(col("tf").desc, col("dl").asc, col("doc_id").asc)
        post.withColumn("__pr", row_number().over(w))
          .filter(col("__pr") <= maxPostingsPerToken).drop("__pr")
      }
    // bucket-keyed repartition before every partitionBy write: a
    // partitionBy off the upstream partitioning mints up to
    // (input partitions × buckets) files — ~25M on a 100 TB scan —
    // while clustering on the bucket key bounds output at one file
    // per (bucket, owning task): ≤ tok_buckets files total, the
    // layout knob a deployment sizes buckets with in the first place
    // the artifacts all derive from the shared checkpointed postings
    // (or the corpus) independently — overlap their writes (Par doc)
    Par.run(
      () => bucketed(kept).write.partitionBy("tok_bucket")
        .mode(SaveMode.Overwrite).parquet(s"$path/postings.parquet"),
      () => bucketed(dfOf(post)).write.partitionBy("tok_bucket")
        .mode(SaveMode.Overwrite).parquet(s"$path/df.parquet"),
      () => statsOf(post).coalesce(1)
        .write.mode(SaveMode.Overwrite).parquet(s"$path/stats.parquet"),
      () => positions.foreach(p => bucketed(p)
        .write.partitionBy("tok_bucket")
        .mode(SaveMode.Overwrite).parquet(s"$path/positions.parquet")),
      () => Seq(tokBuckets).toDF("tok_buckets").coalesce(1)
        .write.mode(SaveMode.Overwrite).parquet(s"$path/params.parquet"))
    StoreSnapshots.start("retrieval", path)
  }

  // Positional postings artifact: (doc_id, pos, tok, tok_bucket) —
  // upgrades the stored index from term to phrase retrieval; NEVER
  // pruned (phrase matching needs every occurrence position). Derived
  // by [[positionsWithDl]]/[[positionsFrom]] from the batch's single
  // tokenize pass.

  /** Cluster a bucket-partitioned artifact's rows on their bucket
    * before the partitionBy write (see the [[build]] comment). */
  private def bucketed(df: DataFrame): DataFrame =
    df.repartition(col("tok_bucket"))

  private def hasPositions(path: String): Boolean =
    java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$path/positions.parquet"))

  /** Declared schema of the frozen `params.parquet` seed. */
  private[ext] val ParamsSchema: StructType =
    StructType(Seq(StructField("tok_buckets", IntegerType)))

  /** The store's layout config — 1 row, driver-side (bounded-collect
    * class: one int). */
  def params(spark: SparkSession, path: String): Int =
    paramsAt(StoreSnapshots.pin(spark, path), path)

  private def paramsAt(p: StoreSnapshots.Pin, path: String): Int =
    p.seed(s"$path/params.parquet", ParamsSchema)(
      _.head().getAs[Int]("tok_buckets"))

  /** The distinct query tokens as a local relation (`tok`) and their
    * sorted buckets — evaluated over the local relation, so the hash
    * is Spark's own and no job runs. */
  private def probe(spark: SparkSession, toks: Seq[String],
                    tokBuckets: Int): (DataFrame, Array[Long]) = {
    val qtoks = spark.createDataFrame(toks.distinct.map(Row(_)).asJava,
      StructType(Seq(StructField("tok", StringType))))
    val buckets = qtoks
      .select(pmod(xxhash64(col("tok")), lit(tokBuckets.toLong)))
      .collect().map(_.getLong(0)).distinct.sorted
    (qtoks, buckets)
  }

  /** Fold a new document batch into the index (append-only; the
    * batch's postings land under the STORE's bucket fn, its df
    * contribution appends as per-token delta rows, its (N, T)
    * contribution as one stats row). Postings are per-doc facts, so
    * batch-local derivation is exact — no cross-doc state to
    * reconcile. On a PRUNED store, appended postings are NOT
    * re-truncated against the resident top-N (that would mean
    * rewriting resident buckets per batch); the cap re-applies at the
    * next rebuild — the same snapshot-until-rebuild posture as the
    * vector index's frozen geometry. df stays exact either way.
    *
    * The one append route (see [[SignatureStore.append]]): postings,
    * df deltas, the stats row and — on a positional store — positions
    * land in their artifacts ([[StoreGenerations.land]]), then ONE
    * conditional create of the store log publishes exactly those files
    * ([[StoreSnapshots.commitLanded]]). A reader can never score the
    * batch's postings against document frequencies that don't include
    * them (all-old or all-new, however many writers race), and a
    * failed append's leftovers are never published — a plain retry
    * converges. `batch = Some((batchId, runTag))` is the replay-safe
    * streaming form (see [[SignatureStore.append]]). Returns the store
    * log generation that carries the batch. */
  def append(incoming: DataFrame, idCol: String, textCol: String,
             path: String,
             autoMaintain: Option[StoreMaintenance.AutoMaintain] = None,
             batch: Option[(Long, String)] = None): Long = {
    val spark = incoming.sparkSession
    val tokBuckets = params(spark, path)
    // a positional store stays positional: the batch's positions land
    // under the same bucket fn, so tomorrow's phrase probe sees the
    // appended docs exactly as built ones (per-doc facts — no
    // cross-doc state to reconcile, same as the scored postings); the
    // positions and postings share ONE tokenize pass (derive).
    val (post, positions) = derive(incoming, idCol, textCol, tokBuckets,
      hasPositions(path))
    def landIn(artifact: String, df: DataFrame, bucketCol: Option[String]) =
      () => s"$path/$artifact" ->
        StoreGenerations.land(df, s"$path/$artifact", bucketCol, batch.isDefined)
    val tb = Some("tok_bucket")
    // the artifact landings are independent — overlap them (guide
    // §2.6); the one commit follows once every file has landed
    val landed = Par.map(Seq(
      landIn("postings.parquet", post, tb),
      landIn("df.parquet", dfOf(post), tb),
      landIn("stats.parquet", statsOf(post).coalesce(1), None)) ++
      positions.map(landIn("positions.parquet", _, tb))).toMap
    val gen = StoreSnapshots.commitLanded(path, landed, batch)
    // in-band lifecycle knob — see SignatureStore.append
    autoMaintain.foreach(am =>
      StoreMaintenance.maintainIfNeeded(spark, "retrieval", path, am))
    gen
  }

  /** Exact-phrase top-k against the STORED positional index (build
    * with `positional = true`): plan the two-term batch's probed
    * buckets on the driver (from the batch collected once, as in
    * [[query]]), scan ONLY those partitions of positions.parquet, drop
    * non-query tokens via a broadcast join at the scan, then run
    * [[Retrieval.phraseFromPostings]] — the adjacency join + ranking
    * stage the direct route uses, over a pruned scan complete for
    * every query term (every occurrence of a token lives in its
    * bucket). Output identical to `Retrieval.phraseTopK` on the same
    * logical corpus: (query_id, doc_id, rank, phrase_tf) —
    * spec-pinned, including across an [[append]]. Without this face a
    * stored-index user issuing a quoted query would pay the full
    * corpus re-index the store exists to avoid. */
  def phraseQuery(spark: SparkSession, path: String, queries: DataFrame,
                  queryIdCol: String, t1Col: String, t2Col: String,
                  k: Int): DataFrame = {
    require(hasPositions(path),
      s"$path has no positional face; build(positional = true)")
    // resolve FIRST — seed verification before any scan (see query)
    val p = StoreSnapshots.pin(spark, path)
    val batch = queries.select(col(queryIdCol).as("query_id"),
      col(t1Col).as("__t1"), col(t2Col).as("__t2"))
    val rows = batch.collect().toSeq
    val q = spark.createDataFrame(rows.asJava, batch.schema)
    val (qtoks, buckets) = probe(spark,
      rows.flatMap(r => Seq(r.getString(1), r.getString(2))),
      paramsAt(p, path))
    val post = p.read(s"$path/positions.parquet")
      .filter(col("tok_bucket").isin(buckets: _*))
      .join(broadcast(qtoks), Seq("tok"))
      .select(col("doc_id"), col("pos"), col("tok"))
    Retrieval.phraseFromPostings(q, "query_id", "__t1", "__t2",
      post, "doc_id", k)
  }

  /** BM25 top-k against the stored index: plan the batch's probed
    * buckets (the query vocabulary's hash buckets) on the driver, scan
    * ONLY those partitions, drop non-query tokens via a broadcast join
    * at the scan, then run [[Retrieval.bm25FromPostings]] — the
    * scoring stage the direct route uses, over inputs exact for every
    * query token. Output identical to `Retrieval.bm25TopK` on the same
    * logical corpus: (query_id, doc_id, rank, score_q).
    *
    * The query batch (bounded class, like an ingest batch) is
    * collected ONCE — a local relation collects with no job — and its
    * distinct (query_id, term) pairs, tokens and buckets are built on
    * the driver as local relations; the layout config resolves through
    * the [[SeedMemo]]. With a warm memo this returns its lazy frame
    * without firing a job; the final action scans and scores. */
  def query(spark: SparkSession, path: String, queries: DataFrame,
            queryIdCol: String, termsCol: String, k: Int,
            asOf: Option[Long] = None): DataFrame = {
    // resolve FIRST: the pin verifies the frozen seeds (params)
    // loudly before any scan plans. `asOf` = store-
    // level time travel: answer from snapshot `asOf`'s mutually-
    // consistent artifact generations (historical postings scored
    // with the HISTORICAL df and (N, T)) — within the vacuum keep
    // window, loud outside it
    val p = asOf.fold(StoreSnapshots.pin(spark, path))(
      StoreSnapshots.pinAt(spark, path, _))
    // the batch's distinct (query_id, tok) pairs — explode + distinct
    // on the driver (NULL term arrays yield no row, as explode does)
    val batch = queries.select(col(queryIdCol).as("query_id"), col(termsCol))
    val pairs = batch.collect().toSeq.flatMap { r =>
      Option(r.getSeq[String](1)).toSeq.flatten.map(t => Row(r.get(0), t))
    }.distinct
    val qterms = spark.createDataFrame(pairs.asJava, StructType(Seq(
      batch.schema("query_id"), StructField("tok", StringType))))
    val (qtoks, buckets) = probe(spark, pairs.map(_.getString(1)),
      paramsAt(p, path))
    // reads through ONE pin: postings/df/stats all resolve from the
    // SAME snapshot — a batch's new postings are never scored against
    // the previous generation's df/(N,T) however the reader
    // interleaves with an in-flight append (bucket-dir pruning kept
    // via basePath). Candidate postings = probed buckets ∩ query tokens
    val post = p.read(s"$path/postings.parquet")
      .filter(col("tok_bucket").isin(buckets: _*))
      .join(broadcast(qtoks), Seq("tok"))
      .select(col("tok"), col("doc_id"), col("tf"), col("dl"))
    // df from the persisted table (summed deltas), NOT from counting
    // the scan: on a pruned store the scan undercounts by design;
    // on an unpruned store the two are identical (spec-pinned)
    val dfreq = p.read(s"$path/df.parquet")
      .filter(col("tok_bucket").isin(buckets: _*))
      .join(broadcast(qtoks), Seq("tok"))
      .groupBy("tok").agg(sum("df").as("__df"))
    val tot = p.read(s"$path/stats.parquet")
      .agg(sum("n_docs").as("__n"), sum("total_dl").as("__t"))
    Retrieval.bm25FromPostings(qterms, post, dfreq, tot, "doc_id", k)
  }
}
