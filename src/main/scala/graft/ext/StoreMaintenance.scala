package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Maintenance for the persisted stores ([[SignatureStore]],
  * [[VectorIndexStore]], [[RetrievalIndexStore]], [[ReleaseStore]]),
  * all of which run in the one snapshotted mode: fold the parquet
  * files their append-only ingest accretes back into a fresh-build
  * layout, verify from footers + bounded invariants, and retire the
  * superseded bytes — the same compact-then-vacuum lifecycle the
  * manifest table got in [[graft.streaming.StreamingOps
  * .compactManifest]]/[[graft.streaming.StreamingOps.vacuumManifests]],
  * applied to the stores a daily-ingest deployment touches every day.
  *
  * Why it exists: every `append` writes its own parquet files, so a
  * year of daily batches turns each store scan into a 365-file
  * small-files problem and the bucket-pruned query faces quietly decay
  * (a probe still prunes to its buckets, but every bucket is now N
  * files of open/footer overhead). Compaction is PHYSICAL only — the store's
  * answers are bit-identical before and after (spec-pinned through
  * every store's query face), because rewriting rows never changes the
  * relational content, and the one SEMANTIC fold (summing the BM25
  * store's df/stats delta rows) preserves the sums readers take.
  *
  * The unit of work is one artifact DIRECTORY:
  *
  *  - flat artifacts (bands/sets/stats) rewrite into
  *    ceil(bytes/targetBytes) files (footer arithmetic sizes the
  *    output — no data read to plan);
  *  - bucket-partitioned artifacts (codes/postings/df) rewrite into
  *    ONE file per bucket directory via the hash-inverse probe
  *    (partition == bucket, the [[graft.sources.Layout
  *    .compactGroupsFiles]] trick), preserving the directory layout
  *    the probe-time partition pruning depends on. One file per bucket
  *    is the fresh-build bound because the store's bucket-count knob
  *    (cell_buckets / tok_buckets) is how a deployment sizes buckets
  *    to begin with.
  *
  * PROMOTION is ONLINE: the compacted copy builds in
  * `<dir>.__compact`, is verified (footer inventory + the artifact's
  * bounded invariant), then its files move INTO the artifact
  * directory under deterministic generation-stamped names and
  * generation N+1 of the artifact's [[StoreGenerations]] chain
  * publishes their list (no-clobber); the store-level compaction
  * calls then commit one [[StoreSnapshots]] snapshot pinning the
  * compacted generations. Nothing a live reader references moves or
  * dies: a reader holding a pinned snapshot completes correctly
  * THROUGH the compaction, and the superseded bytes retire only when
  * [[vacuumStore]]'s keep window passes them. A crash anywhere leaves
  * only unreferenced files (re-running overwrites its own dead
  * output; the vacuum sweeps whatever remains) — no recovery step.
  *
  * Reference behavior context: the reference re-reads its corpus per
  * run (no persisted derived state to maintain); this lifecycle is
  * what a 100 TB deployment adds, not a translation. */
object StoreMaintenance {

  /** One artifact's compaction outcome — bounded, driver-side. */
  final case class ArtifactReport(artifact: String, filesBefore: Long,
                                  filesAfter: Long, rowsBefore: Long,
                                  rowsAfter: Long)

  /** One artifact's maintenance recipe: where it lives, whether its
    * layout is bucket-partitioned (and must stay that way), its
    * declared schema ([[schemaOf]]), the semantic fold (identity for
    * row-preserving artifacts), and the bounded invariant that gates
    * promotion. */
  final case class ArtifactSpec(dir: String, bucketCol: Option[String],
                                schema: StructType,
                                fold: DataFrame => DataFrame,
                                invariant: DataFrame => DataFrame)

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
    * mirror of the merge sink's `maintainEvery`): after an ingest
    * fold, any artifact whose live file count exceeds `ratio` × its
    * fresh-build ideal (one file per populated bucket; bytes /
    * `targetBytes` for flat artifacts) compacts in-band, and the
    * store vacuums beyond `keepGens` snapshots. The
    * trigger reads filesystem metadata only (file names + sizes):
    * zero data, zero footers, so a no-op tick costs microseconds. */
  final case class AutoMaintain(ratio: Double = 3.0,
                                targetBytes: Long = 128L << 20,
                                keepGens: Int = 2) {
    require(ratio >= 1.0, s"ratio must be >= 1, got $ratio")
    require(targetBytes > 0, s"targetBytes must be positive")
    require(keepGens >= 1, s"keepGens must be >= 1")
  }

  private def rowIdentity(df: DataFrame): DataFrame = df

  private def countInvariant(df: DataFrame): DataFrame =
    df.agg(count(lit(1)).as("n_rows"))

  private def spec(dir: String, bucketCol: Option[String] = None,
                   fold: DataFrame => DataFrame = rowIdentity,
                   invariant: DataFrame => DataFrame = countInvariant)
      : ArtifactSpec = ArtifactSpec(dir, bucketCol, schemaOf(dir).getOrElse(
    sys.error(s"no declared schema for store artifact $dir")), fold, invariant)

  private def scratchOf(dir: String) = s"$dir.__compact"

  import StoreGenerations.{deleteTree, exists}

  /** Compact one artifact directory in place (see class doc).
    *
    * `bucketCol` — Some(c): the directory is `partitionBy(c)` laid out
    * and MUST stay that way (probe-time pruning); rewrite = one file
    * per bucket. None: flat; rewrite = ceil(bytes/targetBytes) files.
    *
    * `fold` — the semantic fold applied during the rewrite (identity
    * for row-preserving artifacts; delta-summing for the BM25 df and
    * stats tables). `invariant` — a ONE-ROW aggregate that must be
    * equal on the artifact before and after (defaults to row count,
    * which is only correct for identity folds; folding callers pass
    * the sums their readers take).
    *
    * Publishes the artifact's next generation only; the store-level
    * calls below commit the snapshot that makes it visible. Run it
    * through them: they fold and commit the store first, which
    * retires the `d` lines of the appends this compaction rewrites. */
  def compactArtifact(spark: SparkSession, dir: String,
                      bucketCol: Option[String],
                      fold: DataFrame => DataFrame = rowIdentity,
                      invariant: DataFrame => DataFrame = countInvariant,
                      targetBytes: Long = 128L << 20): ArtifactReport = {
    val scratch = scratchOf(dir)
    deleteTree(scratch) // a dead attempt's unverified output
    val srcFiles = StoreGenerations.currentFiles(dir)
      .getOrElse(throw StoreGenerations.noChain(dir))
    val src = StoreGenerations.read(spark, dir)
    val before = invariant(src).collect().toSeq
    val rowsBefore = graft.sources.Layout
      .parquetFileStatsFiles(spark, srcFiles)
      .agg(sum("n_rows")).collect()(0).getLong(0)
    val folded = fold(src)
    bucketCol match {
      case Some(c) =>
        // bucket values from the DIRECTORY NAMES (control-plane, zero
        // data read) — the same values probe-time pruning keys on
        val rx = (java.util.regex.Pattern.quote(s"$c=") + "(-?\\d+)/").r
        val vals = srcFiles
          .flatMap(p => rx.findFirstMatchIn(p).map(_.group(1).toLong))
          .distinct.sorted
        require(vals.nonEmpty, s"no $c= partition dirs under $dir")
        val nV = vals.length
        // partition == bucket via the hash-inverse probe (the
        // compactGroupsFiles trick): each bucket's rows land alone in
        // one task, so partitionBy emits exactly one file per bucket.
        // The value→pid map is bucket-count-sized (the store's layout
        // knob, thousands at most — bounded-collect class).
        val inv: Map[Long, Long] = spark.range(nV * 64L)
          .select(col("id"),
            pmod(hash(col("id")), lit(nV)).cast("long").as("b"))
          .groupBy("b").agg(min("id").as("pid"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        require(inv.size == nV,
          s"hash-inverse probe found ${inv.size} of $nV partitions")
        val pidMap = map(vals.zipWithIndex.flatMap { case (v, i) =>
          Seq(lit(v), lit(inv(i.toLong))) }: _*)
        folded
          .withColumn("__pid", element_at(pidMap, col(c).cast("long")))
          .repartition(nV, col("__pid"))
          .drop("__pid")
          .write.mode("overwrite").partitionBy(c).parquet(scratch)
      case None =>
        val bytes = graft.sources.Layout
          .parquetFileStatsFiles(spark, srcFiles)
          .agg(sum("file_bytes")).collect()(0).getLong(0)
        val nOut = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
        folded.repartition(nOut)
          .write.mode("overwrite").parquet(scratch)
    }
    val after = invariant(schemaOf(dir).fold(spark.read)(spark.read.schema)
      .parquet(scratch)).collect().toSeq
    require(before == after,
      s"invariant mismatch compacting $dir: $before -> $after; " +
        "scratch NOT promoted — the live artifact is untouched")
    val outFiles = graft.sources.Layout.listParquet(scratch)
    val rowsAfter = graft.sources.Layout
      .parquetFileStatsFiles(spark, outFiles)
      .agg(sum("n_rows")).collect()(0).getLong(0)
    // move the verified scratch files INTO the live directory under
    // deterministic generation-stamped names (REPLACE_EXISTING
    // overwrites only this compaction's own dead prior attempt — the
    // names embed the target generation, and nothing references them
    // until the publish below), then publish their list as the next
    // generation. Readers pinned to any surviving generation are
    // untouched; old bytes retire at the next vacuum.
    val gen = StoreGenerations.currentGen(dir).get + 1
    val rxb = bucketCol.map(c =>
      (java.util.regex.Pattern.quote(s"$c=") + "(-?\\d+)/").r)
    val moved = outFiles.sorted.zipWithIndex.map { case (p, i) =>
      val tgt = rxb.flatMap(_.findFirstMatchIn(p)) match {
        case Some(m) =>
          s"$dir/${bucketCol.get}=${m.group(1)}/gen$gen-c.parquet"
        case None => s"$dir/gen$gen-p$i.parquet"
      }
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(tgt).getParent)
      java.nio.file.Files.move(java.nio.file.Paths.get(p),
        java.nio.file.Paths.get(tgt),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      tgt
    }
    StoreGenerations.publish(dir, gen, moved)
    deleteTree(scratch)
    ArtifactReport(dir, srcFiles.length.toLong, outFiles.length.toLong,
      rowsBefore, rowsAfter)
  }

  private def compact(spark: SparkSession, s: ArtifactSpec,
                      targetBytes: Long = 128L << 20): ArtifactReport =
    compactArtifact(spark, s.dir, s.bucketCol, s.fold, s.invariant,
      targetBytes)

  /** Footer-only health audit — the number that tells a deployment
    * WHEN to compact, at footer-read cost (zero data scanned): one
    * row per artifact directory with its file/byte/row inventory and
    * bytes-per-file — the LIVE inventory (the current generation's
    * files when the artifact carries a chain; retired-but-unvacuumed
    * bytes are not small-files decay, they are the keep window). A
    * store whose n_files grows daily while bytes_per_file shrinks is
    * accreting the decay the compaction path reverses; a deployment
    * alerts on n_files / max(1, bytes div targetBytes). */
  def auditArtifacts(spark: SparkSession, dirs: Seq[String]): DataFrame = {
    import spark.implicits._
    dirs.map { d =>
      val files =
        if (!exists(d)) Seq.empty
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

  /** The in-band maintenance tick ([[AutoMaintain]]) for the store
    * at `path` (`kind` ∈ sig | vector | retrieval | release): adopt
    * pending file-level commits ([[StoreSnapshots.fold]]), compact
    * exactly the artifacts whose live file count crossed ratio ×
    * ideal, then — when anything compacted — commit ONE snapshot
    * pinning the post-compaction generations and vacuum
    * snapshot-aware beyond `keepGens`. Returns the reports of what
    * actually compacted (usually empty — that is the point of a
    * threshold). The trigger is pure filesystem metadata; sizing the
    * flat ideal uses file lengths, not footers, so a quiet tick
    * launches zero Spark jobs. */
  def maintainIfNeeded(spark: SparkSession, kind: String, path: String,
                       am: AutoMaintain): Seq[ArtifactReport] = {
    // fold FIRST: the trigger below counts chain files, and
    // compaction rewrites chain files — an append a dead writer never
    // adopted would be invisible to both, and the fold's commit
    // retires the d-entries the chains already cover (maintenance
    // runs exclusively, so nothing lands while this folds)
    StoreSnapshots.fold(kind, path)
    val reports = artifactsOf(kind, path).flatMap { s =>
      val files = StoreGenerations.currentFiles(s.dir)
        .getOrElse(throw StoreGenerations.noChain(s.dir))
      val ideal = s.bucketCol match {
        case Some(_) =>
          // fresh-build bound: one file per POPULATED bucket dir
          math.max(1L,
            files.map(p => p.substring(0, p.lastIndexOf('/')))
              .distinct.length.toLong)
        case None =>
          val bytes = files.map(p => java.nio.file.Files.size(
            java.nio.file.Paths.get(p))).sum
          math.max(1L, (bytes + am.targetBytes - 1) / am.targetBytes)
      }
      if (files.length <= am.ratio * ideal) None
      else Some(compact(spark, s, am.targetBytes))
    }
    if (reports.nonEmpty) {
      StoreSnapshots.commit(kind, path)
      StoreSnapshots.vacuum(kind, path, am.keepGens)
    }
    reports
  }

  /** Adopt a store directory written without a chain
    * ([[StoreSnapshots.enable]]) — a no-op on any store a `build`
    * wrote, since every build starts its chain. */
  def enableStoreGenerations(kind: String, path: String): Unit =
    StoreSnapshots.enable(kind, path)

  /** Snapshot-aware vacuum of the store ([[StoreSnapshots.vacuum]]):
    * keep the newest `keepGens` snapshots and every artifact
    * generation they pin; returns (files deleted, manifests deleted)
    * summed. */
  def vacuumStore(kind: String, path: String, keepGens: Int): (Int, Int) =
    StoreSnapshots.vacuum(kind, path, keepGens)

  /** Compact every artifact of the store at `path` and commit the
    * snapshot that publishes the result: pending file-level commits
    * fold first, the artifacts compact concurrently and
    * independently (each directory is its own unit — overlapped via
    * Par, guide §2.6), and ONE snapshot then pins every compacted
    * generation. A crash before the commit leaves the previous
    * snapshot live (compacted generations published but unpinned);
    * re-running resumes (already-compacted artifacts fold to
    * themselves). */
  private def compactStore(spark: SparkSession, kind: String, path: String,
                           targetBytes: Long = 128L << 20)
      : Seq[ArtifactReport] = {
    StoreSnapshots.fold(kind, path)
    val reports = Par.map(artifactsOf(kind, path).map(s =>
      () => compact(spark, s, targetBytes)))
    StoreSnapshots.commit(kind, path)
    reports
  }

  private[graft] def artifactsOf(kind: String, path: String)
      : Seq[ArtifactSpec] = kind match {
    case "sig"       => sigArtifacts(path)
    case "vector"    => vectorArtifacts(path)
    case "retrieval" => retrievalArtifacts(path)
    case "release"   => releaseArtifacts(path)
    case other => sys.error(s"unknown store kind: $other")
  }

  /** Reports as a frame, for specs/gates that want to assert on the
    * arithmetic relationally. */
  def reportDF(spark: SparkSession, reports: Seq[ArtifactReport])
      : DataFrame = {
    import spark.implicits._
    reports.toDF()
  }

  /** [[SignatureStore]] artifacts: bands + sets (flat, row-
    * preserving; params is one immutable file and never accretes). */
  private def sigArtifacts(path: String): Seq[ArtifactSpec] = Seq(
    spec(s"$path/bands.parquet"), spec(s"$path/sets.parquet"))

  def compactSignatureStore(spark: SparkSession, path: String,
                            targetBytes: Long = 128L << 20)
      : Seq[ArtifactReport] =
    compactStore(spark, "sig", path, targetBytes)

  /** [[VectorIndexStore]] artifacts: codes (cell-bucketed, row-
    * preserving — the layout probe-time pruning keys on is preserved
    * bucket-for-bucket; centroids/codebook/params are build-frozen
    * and never accrete). */
  private def vectorArtifacts(path: String): Seq[ArtifactSpec] = Seq(
    spec(s"$path/codes.parquet", Some("cell_bucket")))

  def compactVectorIndexStore(spark: SparkSession, path: String)
      : Seq[ArtifactReport] =
    compactStore(spark, "vector", path)

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
        invariant = _.agg(countDistinct("norm_url").as("n_urls"))),
      spec(s"$path/hashes.parquet", fold = _.distinct(),
        invariant = _.agg(countDistinct("h").as("n_hashes"))))

  def compactReleaseStore(spark: SparkSession, path: String)
      : Seq[ArtifactReport] =
    compactStore(spark, "release", path)

  /** [[RetrievalIndexStore]] artifacts: postings (token-bucketed,
    * row-preserving), df (token-bucketed, delta rows SUMMED into one
    * row per token — readers sum, so the fold is the read), stats
    * (delta rows summed into one row), and — when the store carries
    * the positional face — positions (token-bucketed, row-
    * preserving). The invariants pin exactly what scoring consumes:
    * Σdf and the distinct token count for df; ΣN and ΣT for stats.
    *
    * The store's 3–4 artifacts compact CONCURRENTLY and
    * INDEPENDENTLY: a crash mid-way leaves some artifacts with an
    * unpinned compacted generation and the previous snapshot live —
    * harmless (compaction is physical-only per artifact, and the fold
    * preserves what readers consume), and re-running the store-level
    * call resumes: already-compacted artifacts fold to themselves
    * (idempotent), an interrupted one overwrites its dead scratch,
    * the rest compact fresh. */
  private def retrievalArtifacts(path: String): Seq[ArtifactSpec] = {
    val base = Seq(
      spec(s"$path/postings.parquet", Some("tok_bucket")),
      spec(s"$path/df.parquet", Some("tok_bucket"),
        fold = d => d.groupBy("tok", "tok_bucket")
          .agg(sum("df").as("df"))
          .select("tok", "df", "tok_bucket"),
        invariant = d => d.agg(sum("df").as("sum_df"),
          countDistinct("tok").as("n_tok"))),
      spec(s"$path/stats.parquet",
        fold = d => d.agg(sum("n_docs").as("n_docs"),
          sum("total_dl").as("total_dl")),
        invariant = d => d.agg(sum("n_docs").as("n"),
          sum("total_dl").as("t"))))
    if (exists(s"$path/positions.parquet"))
      base :+ spec(s"$path/positions.parquet", Some("tok_bucket"))
    else base
  }

  def compactRetrievalIndexStore(spark: SparkSession, path: String)
      : Seq[ArtifactReport] =
    compactStore(spark, "retrieval", path)
}
