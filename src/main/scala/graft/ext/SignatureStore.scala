package graft.ext

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Persisted MinHash signature store — the artifact that makes the
  * daily incremental near-dup check O(batch), not O(corpus).
  *
  * [[Dedup.incrementalNearDups]] recomputes the INDEX side's band
  * table on every ingest run: at production scale the index is the
  * whole corpus, so the daily check re-shingles and re-hashes 100 TB
  * to answer a question about a few GB of new documents — pure waste,
  * since MinHash signatures are content-deterministic. The store
  * persists what the index contributes to the check, once:
  *
  *   <path>/bands.parquet   (doc_id, band, bkey)     - LSH probe table
  *   <path>/sets.parquet    (doc_id, shingles)       - verification sets
  *   <path>/params.parquet  (shingle_n, num_hashes)  - the signature
  *                          config, so every later reader/appender
  *                          derives THE SAME bands (a mismatched
  *                          probe joins nothing and silently loses
  *                          recall -- ingest/append therefore read the
  *                          config from the store, never from args)
  *
  * Ingest-time scale shape (the reason this exists): the batch's band
  * keys are BROADCAST to the store scan, so the store-side band table
  * is scanned once and never shuffled; bucket-cap sizing counts only
  * PROBED buckets (identical to the direct route's per-bucket counts
  * on those buckets — unprobed buckets cannot produce candidates);
  * the verification sets are semi-joined to the candidate index ids
  * (broadcast again) so sets.parquet is scanned, never shuffled. Every
  * shuffle in the plan is proportional to the batch's collisions, not
  * the corpus. With the direct route, the same ingest pays two full
  * index shuffles (signature agg + set agg) before the first
  * candidate appears.
  *
  * Same output contract as [[Dedup.incrementalNearDups]]:
  * (new_id, index_id, jaccard), jaccard >= minJaccard, exact shingle
  * verification. IncrStoredSpec pins store-route == direct-route on
  * the same inputs, including under a bucket cap and across an
  * append. Caller contract (unchanged from the direct route): id
  * spaces are disjoint; [[append]] is how a verified batch becomes
  * part of tomorrow's index.
  *
  * Reference behavior context: the reference re-reads its full corpus
  * per run (eager pandas, no persisted derived state) — this store is
  * the piece a 100 TB deployment adds, not a translation. */
object SignatureStore {

  private def bandsOf(df: DataFrame, idCol: String, textCol: String,
                      shingleN: Int, numHashes: Int): DataFrame =
    Dedup.nativeBands(df, idCol, textCol, shingleN, numHashes)
      .select(col(idCol).cast("long").as("doc_id"), col("band"), col("bkey"))

  /** Per-doc DISTINCT shingle sets, assembled IN-ROW (guide §2.4 —
    * remove shuffles outright): one narrow projection via
    * [[TextOps.wordShingleSet]] instead of the
    * explode → distinct → groupBy(doc).collect_list chain, which paid
    * a second tokenize pass plus TWO corpus-sized shuffles per
    * build/append/ingest just to reassemble per-doc arrays. The set
    * CONTENT is identical (array_distinct over the same shingles);
    * array ORDER differs, which no consumer observes — the sets only
    * feed size/array_intersect (order-free) in the jaccard
    * verification. Docs shorter than the shingle width now carry an
    * EMPTY array row instead of no row; such docs can never surface
    * as candidates (their band keys are NULL — equi-joins drop them),
    * so the extra rows are dead weight in the artifact, never in an
    * answer. */
  private def setsOf(df: DataFrame, idCol: String, textCol: String,
                     shingleN: Int): DataFrame =
    TextOps.rebalance(df) // shingling is the CPU-heavy stage
      .select(col(idCol).cast("long").as("doc_id"),
        TextOps.wordShingleSet(col(textCol), shingleN).as("shingles"))

  /** Build (or rebuild — overwrite) the store from the current index.
    * One signature pass and one shingle-set pass over the corpus; both
    * are the same aggregations the direct route pays PER RUN. Ends by
    * publishing entry 0 of the store log (a rebuild restarts it). */
  def build(index: DataFrame, idCol: String, textCol: String, path: String,
            shingleN: Int = 3, numHashes: Int = 8): Unit = {
    writeArtifacts(index, idCol, textCol, path, shingleN, numHashes)
    StoreSnapshots.start("sig", path)
  }

  /** [[build]]'s artifact writes alone — the release store builds its
    * `sig/` member through this, under the release's own log. */
  private[ext] def writeArtifacts(index: DataFrame, idCol: String,
                                  textCol: String, path: String,
                                  shingleN: Int = 3, numHashes: Int = 8)
      : Unit = {
    val spark = index.sparkSession
    import spark.implicits._
    // the three artifacts are independent derivations — overlap their
    // writes so each one's stage tail back-fills the others (Par doc)
    Par.run(
      () => bandsOf(index, idCol, textCol, shingleN, numHashes)
        .write.mode(SaveMode.Overwrite).parquet(s"$path/bands.parquet"),
      () => setsOf(index, idCol, textCol, shingleN)
        .write.mode(SaveMode.Overwrite).parquet(s"$path/sets.parquet"),
      () => Seq((shingleN, numHashes)).toDF("shingle_n", "num_hashes")
        .coalesce(1)
        .write.mode(SaveMode.Overwrite).parquet(s"$path/params.parquet"))
  }

  /** Declared schema of the frozen `params.parquet` seed. */
  private[ext] val ParamsSchema: StructType = StructType(Seq(
    StructField("shingle_n", IntegerType), StructField("num_hashes", IntegerType)))

  /** The store's signature config — 1 row, driver-side (the
    * bounded-collect class: two ints). */
  def params(spark: SparkSession, path: String): (Int, Int) =
    paramsAt(StoreSnapshots.pin(spark, path), path)

  /** The config of the signature index at `path` through a pin of the
    * store that inventories it — the index's own store, or the release
    * store whose `sig/` member it is. */
  private[ext] def paramsAt(p: StoreSnapshots.Pin, path: String): (Int, Int) =
    p.seed(s"$path/params.parquet", ParamsSchema) { df =>
      val row = df.head()
      (row.getAs[Int]("shingle_n"), row.getAs[Int]("num_hashes"))
    }

  /** Fold a verified batch into the store (append-only; the batch's
    * bands/sets are derived under the STORE's config, so an appended
    * doc is probe-able tomorrow exactly as a built doc is). Caller
    * guarantees the batch's ids are new — the store has no dedup of
    * its own (same contract as the direct route's id-disjointness).
    *
    * The one append route: the batch's bands and sets land in both
    * artifacts ([[land]]), then ONE conditional create of the store
    * log names exactly those files across both ([[StoreSnapshots
    * .commitLanded]]) — a reader pins the whole batch or none of it
    * (bands always with their verification sets), and nothing the
    * append did not land is ever published. Any number of writers may
    * append at once: a lost race re-bases on the winner's entry.
    *
    * `batch = Some((batchId, runTag))` is the replay-safe STREAMING
    * form: the commit records the run's `t` line, so a replayed
    * micro-batch publishes nothing, and flat artifacts land as one
    * file per batch ([[StoreGenerations.land]]). `autoMaintain` is
    * the in-band lifecycle knob (the store-side mirror of the merge
    * sink's `maintainEvery`): consult the filesystem-metadata trigger
    * after the commit and compact+vacuum exactly the artifacts whose
    * file count crossed the ratio. Returns the store log generation
    * that carries the batch. */
  def append(incoming: DataFrame, idCol: String, textCol: String,
             path: String,
             autoMaintain: Option[StoreMaintenance.AutoMaintain] = None,
             batch: Option[(Long, String)] = None): Long = {
    val gen = StoreSnapshots.commitLanded(path,
      land(incoming, idCol, textCol, path, params(incoming.sparkSession, path),
        batch.isDefined), batch)
    autoMaintain.foreach(am => StoreMaintenance.maintainIfNeeded(
      incoming.sparkSession, "sig", path, am))
    gen
  }

  /** [[append]]'s landing alone — bands and sets land (their two
    * independent writes overlap, guide §2.6), nothing is committed.
    * The release store's fold lands its `sig/` member through this and
    * commits it together with its own artifacts. Returns artifact
    * directory → landed files. */
  private[ext] def land(incoming: DataFrame, idCol: String,
                        textCol: String, path: String,
                        params: (Int, Int), stream: Boolean)
      : Map[String, Seq[String]] = {
    val (shingleN, numHashes) = params
    val Seq(bands, sets) = Par.map(Seq(
      () => StoreGenerations.land(
        bandsOf(incoming, idCol, textCol, shingleN, numHashes),
        s"$path/bands.parquet", None, stream),
      () => StoreGenerations.land(
        setsOf(incoming, idCol, textCol, shingleN),
        s"$path/sets.parquet", None, stream)))
    Map(s"$path/bands.parquet" -> bands, s"$path/sets.parquet" -> sets)
  }

  /** The daily check: near-dups of `incoming` against the STORE
    * (never the raw index). Output (new_id, index_id, jaccard) —
    * bit-identical to [[Dedup.incrementalNearDups]] over the same
    * logical index, spec-pinned.
    *
    * `broadcastBatch` is on by default — an ingest batch is small by
    * definition; a deployment whose batch outgrows the driver flips
    * it off and pays a shuffle join instead (the store still scans
    * once either way). */
  def ingest(spark: SparkSession, path: String, incoming: DataFrame,
             idCol: String, textCol: String,
             minJaccard: Double = 0.5,
             maxBucketSize: Int = Int.MaxValue,
             broadcastBatch: Boolean = true,
             resolve: Option[StoreSnapshots.Pin] = None): DataFrame = {
    // resolve FIRST: the pin verifies the frozen seeds (params)
    // loudly before any scan plans
    val pin = resolve.getOrElse(StoreSnapshots.pin(spark, path))
    val rd = pin.read _
    val (shingleN, numHashes) = paramsAt(pin, path)
    val mark = if (broadcastBatch) (df: DataFrame) => broadcast(df)
               else identity[DataFrame] _
    val bN = bandsOf(incoming, idCol, textCol, shingleN, numHashes)
      .withColumnRenamed("doc_id", "new_id")
    // the probe resolves a pinned file list, so maintenance can
    // compact concurrently. ONE resolver for bands AND sets: both
    // come from the same snapshot (a candidate id surfaced by the band
    // probe always has its verification set — mixed generations
    // could silently drop a pair). `resolve` lets a composed caller
    // (the release loop) thread ITS store-level pin through.
    val bI = rd(s"$path/bands.parquet")
    // store rows inside probed buckets only: the broadcast join keeps
    // every index row of every bucket the batch touches, so counting
    // THESE rows per (band, bkey) reproduces the direct route's index
    // bucket sizes exactly where it matters (unprobed buckets cannot
    // produce candidates, so their sizes are unobservable either way).
    // mark() applies AT the use sites -- a broadcast hint does not
    // survive the distinct() aggregation boundary
    val probed = bI.join(mark(bN.select("band", "bkey").distinct()),
      Seq("band", "bkey")).localCheckpoint()
    val inCap =
      if (maxBucketSize == Int.MaxValue) probed
      else {
        val small = probed.groupBy("band", "bkey")
          .agg(count(lit(1)).as("__bn"))
          .filter(col("__bn") <= maxBucketSize)
          .select("band", "bkey")
        probed.join(small, Seq("band", "bkey"), "left_semi")
      }
    // candidates feed the verification join and the set semi-join --
    // checkpoint so the band join runs once (same policy as the
    // direct route)
    val cand = inCap.join(mark(bN), Seq("band", "bkey"))
      .select(col("new_id"), col("doc_id").as("index_id")).distinct()
      .localCheckpoint()
    val setsN = setsOf(incoming, idCol, textCol, shingleN)
      .select(col("doc_id").as("new_id"), col("shingles").as("__seta"))
    val candIdx = mark(cand.select(col("index_id").as("doc_id")).distinct())
    val setsI = rd(s"$path/sets.parquet")
      .join(candIdx, Seq("doc_id"), "left_semi")
      .select(col("doc_id").as("index_id"), col("shingles").as("__setb"))
    val inter = size(array_intersect(col("__seta"), col("__setb")))
    val union = size(col("__seta")) + size(col("__setb")) - inter
    cand.join(setsN, Seq("new_id")).join(setsI, Seq("index_id"))
      .select(col("new_id"), col("index_id"),
        (inter.cast("double") / union).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }
}
