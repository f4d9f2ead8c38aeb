package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Maintenance for the persisted stores ([[SignatureStore]],
  * [[VectorIndexStore]], [[RetrievalIndexStore]], [[ReleaseStore]]):
  * rewrite the parquet files their append-only ingest accretes back
  * into a fresh-build layout, verify bounded invariants, and retire the
  * superseded bytes — the compact-then-vacuum lifecycle of the
  * manifest table ([[graft.streaming.StreamingOps.compactManifest]],
  * [[graft.streaming.StreamingOps.vacuumManifests]]) applied to the
  * stores a daily-ingest deployment touches every day.
  *
  * Why it exists: every `append` writes its own parquet files, so a
  * year of daily batches turns each store scan into a 365-file
  * small-files problem and the bucket-pruned query faces quietly decay
  * (a probe still prunes to its buckets, but every bucket is now N
  * files of open/footer overhead). Compaction is PHYSICAL only — the
  * store's answers are bit-identical before and after (spec-pinned
  * through every store's query face), and the one SEMANTIC fold
  * (summing the BM25 store's df/stats delta rows) preserves the sums
  * readers take. Per artifact directory, flat artifacts rewrite into
  * [[flatFiles]] files; bucket-partitioned ones into ONE file per
  * bucket directory via the hash inverse
  * ([[graft.sources.Layout.hashInverse]]), keeping the layout
  * probe-time pruning depends on (one file per bucket is the
  * fresh-build bound: the bucket-count knob is how a deployment sizes
  * buckets to begin with).
  *
  * A compaction is an ORDINARY WRITER of the store log
  * ([[StoreSnapshots]]): it reads the files one pinned entry names,
  * lands its verified output under writer-unique names, and publishes
  * current − the exact files it read + its output ([[commitRewrites]]).
  * An append that commits meanwhile stays in the entry; a rival
  * compaction that already rewrote the same inputs makes it fail
  * loudly, leaving only unreferenced files — a plain re-run converges.
  * Superseded bytes retire only when [[vacuumStore]]'s keep window
  * passes them.
  *
  * Reference behavior context: the reference re-reads its corpus per
  * run (no persisted derived state to maintain); this lifecycle is
  * what a 100 TB deployment adds, not a translation. */
object StoreMaintenance {

  /** One artifact's compaction outcome — bounded, driver-side. */
  final case class ArtifactReport(artifact: String, filesBefore: Long,
                                  filesAfter: Long, rowsBefore: Long,
                                  rowsAfter: Long)

  /** One artifact's maintenance recipe: where it lives; its bucket
    * column, when the directory is `partitionBy(c)` laid out and MUST
    * stay that way (probe-time pruning); its declared schema
    * ([[schemaOf]]); the semantic fold applied during the rewrite
    * (identity for row-preserving artifacts, delta-summing for the
    * BM25 df and stats tables); and the invariant, aggregate columns
    * whose values must be equal before and after (row count by
    * default, which is only correct for identity folds — folding
    * artifacts pin the sums their readers take). */
  final case class ArtifactSpec(dir: String, bucketCol: Option[String],
                                schema: StructType,
                                fold: DataFrame => DataFrame,
                                invariant: Seq[Column])

  /** Every accreting artifact's DECLARED schema, by artifact directory
    * name (one vocabulary across the four stores: the release store's
    * `sig/` bands and sets are the signature store's). It is exactly
    * what `spark.read.parquet(dir).schema` infers from the writers —
    * every column nullable, the bucket partition column last and typed
    * int, as partition discovery types it — and StoreSchemasSpec pins
    * that after build, append and compaction, so a writer change that
    * drifts a type fails there instead of silently retyping reads.
    * Every store read passes it to `spark.read.schema` (the
    * [[graft.sources.F1Tables]] contract), which skips the footer-
    * inference job a schemaless parquet read fires. The frozen seeds
    * declare theirs beside their writers (their `params.parquet`
    * names differ per store). */
  private val declared: Map[String, StructType] = {
    def s(fields: (String, DataType)*) =
      StructType(fields.map { case (n, t) => StructField(n, t) })
    Map(
      "bands.parquet" -> s("doc_id" -> LongType, "band" -> IntegerType,
        "bkey" -> StringType),
      "sets.parquet" -> s("doc_id" -> LongType,
        "shingles" -> ArrayType(StringType)),
      "urls.parquet" -> s("norm_url" -> StringType),
      "hashes.parquet" -> s("h" -> StringType),
      "postings.parquet" -> s("doc_id" -> LongType, "tok" -> StringType,
        "tf" -> LongType, "dl" -> LongType, "tok_bucket" -> IntegerType),
      "df.parquet" -> s("tok" -> StringType, "df" -> LongType,
        "tok_bucket" -> IntegerType),
      "stats.parquet" -> s("n_docs" -> LongType, "total_dl" -> LongType),
      "positions.parquet" -> s("doc_id" -> LongType, "pos" -> IntegerType,
        "tok" -> StringType, "tok_bucket" -> IntegerType),
      "codes.parquet" -> s("neighbor_id" -> LongType, "cell" -> LongType,
        "codes" -> ArrayType(s("sub_id" -> LongType, "code" -> LongType)),
        "cell_bucket" -> IntegerType))
  }

  /** The declared schema of the artifact directory `dir`, if it is one
    * of the stores' accreting artifacts (None: infer, e.g. a bare
    * chain a spec builds). */
  private[ext] def schemaOf(dir: String): Option[StructType] =
    declared.get(java.nio.file.Paths.get(dir).getFileName.toString)

  /** Audit-triggered in-band maintenance config (the store-side
    * mirror of the merge sink's `maintainEvery`): after an append, any
    * artifact whose live file count exceeds `ratio` × its fresh-build
    * ideal (one file per populated bucket; [[flatFiles]] for flat
    * artifacts) compacts in-band, and the store vacuums beyond
    * `keepGens` log entries ([[maintainIfNeeded]]). */
  final case class AutoMaintain(ratio: Double = 3.0,
                                targetBytes: Long = 128L << 20,
                                keepGens: Int = 2) {
    require(ratio >= 1.0, s"ratio must be >= 1, got $ratio")
    require(targetBytes > 0, s"targetBytes must be positive")
    require(keepGens >= 1, s"keepGens must be >= 1")
  }

  private def spec(dir: String, bucketCol: Option[String] = None,
                   fold: DataFrame => DataFrame = identity,
                   invariant: Seq[Column] = Seq(count(lit(1)))): ArtifactSpec =
    ArtifactSpec(dir, bucketCol, schemaOf(dir).get, fold, invariant)

  /** The fresh-build file count of a flat artifact holding `files`:
    * ceil(total file length / targetBytes), at least 1. File lengths,
    * not footers: sizing reads no data and runs no job. */
  private def flatFiles(files: Seq[String], targetBytes: Long): Int = {
    val bytes = files.map(p => java.nio.file.Files.size(
      java.nio.file.Paths.get(p))).sum
    math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
  }

  /** The fresh-build file count of an artifact holding `files`: one
    * file per POPULATED bucket directory, or [[flatFiles]] files. */
  private def idealFiles(s: ArtifactSpec, files: Seq[String],
                         targetBytes: Long): Int = s.bucketCol match {
    case Some(_) => math.max(1,
      files.map(p => p.substring(0, p.lastIndexOf('/'))).distinct.length)
    case None => flatFiles(files, targetBytes)
  }

  /** One pass over `df`: its row count and the spec's invariant. */
  private def measure(df: DataFrame, s: ArtifactSpec): (Long, Seq[Any]) = {
    val r = df.agg(count(lit(1)), s.invariant: _*).head()
    (r.getLong(0), r.toSeq.tail)
  }

  /** Rewrite one artifact as `pin` names it — fold, one file per
    * bucket (or [[flatFiles]] files), landed but NOT committed, the
    * invariant verified on the landed output. Returns the report, the
    * files read and the files landed. */
  private[ext] def rewrite(spark: SparkSession, pin: StoreSnapshots.Pin,
                      s: ArtifactSpec, targetBytes: Long)
      : (ArtifactReport, Seq[String], Seq[String]) = {
    val srcFiles = pin.files(s.dir)
    val src = pin.read(s.dir)
    val (rowsBefore, before) = measure(src, s)
    val folded = s.fold(src)
    val out = s.bucketCol match {
      case Some(c) =>
        // bucket values from the DIRECTORY NAMES (control-plane, zero
        // data read) — the same values probe-time pruning keys on
        val rx = (java.util.regex.Pattern.quote(s"$c=") + "(-?\\d+)/").r
        val vals = srcFiles
          .flatMap(p => rx.findFirstMatchIn(p).map(_.group(1).toLong))
          .distinct.sorted
        // partition == bucket: each bucket's rows land alone in one
        // task, so partitionBy emits exactly one file per bucket
        val inv = graft.sources.Layout.hashInverse(vals.length)
        val pidMap = map(vals.zipWithIndex.flatMap { case (v, i) =>
          Seq(lit(v), lit(inv(i))) }: _*)
        StoreGenerations.landWritten(folded
          .withColumn("__pid", element_at(pidMap, col(c).cast("long")))
          .repartition(vals.length, col("__pid"))
          .drop("__pid"), s.dir, Some(c))
      case None =>
        StoreGenerations.landWritten(
          folded.repartition(flatFiles(srcFiles, targetBytes)), s.dir, None)
    }
    val (rowsAfter, after) = measure(StoreSnapshots.scan(spark, s.dir, out), s)
    require(before == after,
      s"invariant mismatch compacting ${s.dir}: $before -> $after; " +
        "output NOT committed — the live artifact is untouched")
    (ArtifactReport(s.dir, srcFiles.length.toLong, out.length.toLong,
      rowsBefore, rowsAfter), srcFiles, out)
  }

  /** Rewrite, concurrently (each directory is its own unit — overlapped
    * via Par, guide §2.6) and from ONE pinned entry, those of `specs`
    * holding more files than their fresh-build layout ([[idealFiles]]),
    * then publish all of them in one commit ([[commitRewrites]]).
    * Returns what compacted; with nothing due it publishes no entry. */
  private def compactAll(spark: SparkSession, path: String,
                         specs: Seq[ArtifactSpec], targetBytes: Long)
      : Seq[ArtifactReport] = {
    val pin = StoreSnapshots.pin(spark, path)
    val due = specs.filter { s =>
      val files = pin.files(s.dir)
      files.length > idealFiles(s, files, targetBytes)
    }
    if (due.isEmpty) Nil
    else {
      val done = Par.map(due.map(s => () => rewrite(spark, pin, s, targetBytes)))
      commitRewrites(path, done)
      done.map(_._1)
    }
  }

  /** The compaction commit: current − the files each rewrite read +
    * its output, re-based onto whatever committed since its pin. Fails
    * loudly when a rival compaction already removed any input. */
  private[ext] def commitRewrites(path: String,
      done: Seq[(ArtifactReport, Seq[String], Seq[String])]): Long =
    StoreSnapshots.commit(path) { e =>
      e.copy(parts = e.parts ++ done.map { case (r, in, out) =>
        val a = StoreSnapshots.rel(path, r.artifact)
        val live = e.parts.getOrElse(a, Set.empty[String])
        val read = in.map(StoreSnapshots.rel(r.artifact, _)).toSet
        if (!read.subsetOf(live)) throw new IllegalStateException(
          s"compaction of ${r.artifact} lost to a concurrent compaction: " +
            s"${(read -- live).size} of the ${read.size} files it read are " +
            "gone; its output stays unreferenced (the vacuum sweeps it) — " +
            "re-run the compaction")
        a -> (live -- read ++ out.map(StoreSnapshots.rel(r.artifact, _)))
      })
    }

  /** Footer-only health audit — the number that tells a deployment
    * WHEN to compact, at footer-read cost (zero data scanned): one
    * row per artifact directory with its file/byte/row inventory and
    * bytes-per-file — the LIVE inventory (the current entry's files
    * when a store log names the artifact; retired-but-unvacuumed
    * bytes are not small-files decay, they are the keep window). A
    * store whose n_files grows daily while bytes_per_file shrinks is
    * accreting the decay the compaction path reverses; a deployment
    * alerts on n_files / max(1, bytes div targetBytes). */
  def auditArtifacts(spark: SparkSession, dirs: Seq[String]): DataFrame = {
    import spark.implicits._
    dirs.map { d =>
      val files =
        if (!StoreGenerations.exists(d)) Seq.empty
        else StoreGenerations.currentFiles(d)
          .getOrElse(graft.sources.Layout.listParquet(d))
      if (files.isEmpty) (d, 0L, 0L, 0L, 0L)
      else {
        val r = graft.sources.Layout.parquetFileStatsFiles(spark, files)
          .agg(sum("file_bytes").as("b"), sum("n_rows").as("r")).head()
        (d, files.length.toLong, r.getLong(0), r.getLong(1),
          r.getLong(0) / files.length)
      }
    }.toDF("artifact", "n_files", "bytes", "rows", "bytes_per_file")
  }

  /** The in-band maintenance tick ([[AutoMaintain]]) for the store at
    * `path` (`kind` ∈ sig | vector | retrieval | release): compact, in
    * one commit, exactly the artifacts whose live file count crossed
    * ratio × ideal, then vacuum beyond `keepGens` — exclusive, so the
    * tick belongs to a single-writer loop. Returns what compacted
    * (usually nothing); the trigger reads one log entry and file
    * lengths, so a quiet tick launches zero Spark jobs. */
  def maintainIfNeeded(spark: SparkSession, kind: String, path: String,
                       am: AutoMaintain): Seq[ArtifactReport] = {
    val log = StoreSnapshots.latest(path)._2
    val due = artifactsOf(kind, path).filter { s =>
      val files = log.files(path, s.dir)
      files.length > am.ratio * idealFiles(s, files, am.targetBytes)
    }
    if (due.isEmpty) Nil
    else {
      val reports = compactAll(spark, path, due, am.targetBytes)
      StoreSnapshots.vacuum(kind, path, am.keepGens)
      reports
    }
  }

  /** Adopt a store directory written without a log
    * ([[StoreSnapshots.enable]]) — a no-op on any store a `build`
    * wrote, since every build starts its log. */
  def enableStoreGenerations(kind: String, path: String): Unit =
    StoreSnapshots.enable(kind, path)

  /** The store vacuum ([[StoreSnapshots.vacuum]]): keep the newest
    * `keepGens` log entries and every file they name; returns (files
    * deleted, entries deleted). */
  def vacuumStore(kind: String, path: String, keepGens: Int): (Int, Int) =
    StoreSnapshots.vacuum(kind, path, keepGens)

  private[graft] def artifactsOf(kind: String, path: String)
      : Seq[ArtifactSpec] = kind match {
    case "sig"       => sigArtifacts(path)
    case "vector"    => vectorArtifacts(path)
    case "retrieval" => retrievalArtifacts(path)
    case "release"   => releaseArtifacts(path)
    case other => sys.error(s"unknown store kind: $other")
  }

  /** [[SignatureStore]] artifacts: bands + sets (flat, row-
    * preserving; params is one immutable file and never accretes). */
  private def sigArtifacts(path: String): Seq[ArtifactSpec] = Seq(
    spec(s"$path/bands.parquet"), spec(s"$path/sets.parquet"))

  def compactSignatureStore(spark: SparkSession, path: String,
                            targetBytes: Long = 128L << 20)
      : Seq[ArtifactReport] =
    compactAll(spark, path, sigArtifacts(path), targetBytes)

  /** [[VectorIndexStore]] artifacts: codes (cell-bucketed, row-
    * preserving — the layout probe-time pruning keys on is preserved
    * bucket-for-bucket; centroids/codebook/params are build-frozen
    * and never accrete). */
  private def vectorArtifacts(path: String): Seq[ArtifactSpec] = Seq(
    spec(s"$path/codes.parquet", Some("cell_bucket")))

  def compactVectorIndexStore(spark: SparkSession, path: String)
      : Seq[ArtifactReport] =
    compactAll(spark, path, vectorArtifacts(path), 128L << 20)

  /** [[ReleaseStore]] artifacts: the three the daily loop APPENDS
    * to — the signature index (bands/sets) plus the seen-url /
    * seen-hash identity filters. The identity filters fold to
    * DISTINCT: every batch appends ALL its urls/hashes (including ones
    * the release had already seen — the filters track input history),
    * so re-crawled urls accumulate duplicate rows that a membership
    * probe never needed; the fold drops them while the invariant pins
    * the only thing probes consume — the distinct member count. The
    * frozen quality models (lm/lm_tot/profiles) are build-time
    * artifacts and never accrete. */
  private def releaseArtifacts(path: String): Seq[ArtifactSpec] =
    sigArtifacts(s"$path/sig") ++ Seq(
      spec(s"$path/urls.parquet", fold = _.distinct(),
        invariant = Seq(countDistinct("norm_url"))),
      spec(s"$path/hashes.parquet", fold = _.distinct(),
        invariant = Seq(countDistinct("h"))))

  def compactReleaseStore(spark: SparkSession, path: String)
      : Seq[ArtifactReport] =
    compactAll(spark, path, releaseArtifacts(path), 128L << 20)

  /** [[RetrievalIndexStore]] artifacts: postings (token-bucketed,
    * row-preserving), df (token-bucketed, delta rows SUMMED into one
    * row per token — readers sum, so the fold is the read), stats
    * (delta rows summed into one row), and — when the store carries
    * the positional face — positions (token-bucketed, row-
    * preserving). The invariants pin exactly what scoring consumes:
    * Σdf and the distinct token count for df; ΣN and ΣT for stats.
    * A crash before the one commit leaves only unreferenced output;
    * re-running compacts from the live entry. */
  private def retrievalArtifacts(path: String): Seq[ArtifactSpec] = {
    val base = Seq(
      spec(s"$path/postings.parquet", Some("tok_bucket")),
      spec(s"$path/df.parquet", Some("tok_bucket"),
        fold = d => d.groupBy("tok", "tok_bucket")
          .agg(sum("df").as("df"))
          .select("tok", "df", "tok_bucket"),
        invariant = Seq(sum("df"), countDistinct("tok"))),
      spec(s"$path/stats.parquet",
        fold = d => d.agg(sum("n_docs").as("n_docs"),
          sum("total_dl").as("total_dl")),
        invariant = Seq(sum("n_docs"), sum("total_dl"))))
    if (StoreGenerations.exists(s"$path/positions.parquet"))
      base :+ spec(s"$path/positions.parquet", Some("tok_bucket"))
    else base
  }

  def compactRetrievalIndexStore(spark: SparkSession, path: String)
      : Seq[ArtifactReport] =
    compactAll(spark, path, retrievalArtifacts(path), 128L << 20)
}
