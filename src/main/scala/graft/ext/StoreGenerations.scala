package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}

/** GENERATION CHAIN for a persisted store's artifact directories —
  * the layer under [[StoreSnapshots]] that makes every store write
  * ONLINE: readers resolve a pinned generation's file list while an
  * append or a compaction publishes the next one, and bytes retire
  * only when [[vacuum]]'s keep window passes them.
  *
  * This is the manifest-chain machinery the streaming merge-sink
  * table already ships ([[graft.streaming.StreamingOps]]: `tableAt` /
  * `publishManifest` / `vacuumManifests`), applied to each accreting
  * artifact of the four stores. Every store's `build` starts the
  * chain of each artifact at generation 0 (through
  * [[StoreSnapshots]]); appends publish N+1 = N + the landed files,
  * compactions publish N+1 = the compacted files. Nothing a live
  * reader references moves or dies until the vacuum retires
  * generations beyond the keep window.
  *
  * Layout: `<artifactDir>/_manifests/gen=<N>` is a text file listing
  * the parquet paths that constitute the artifact at generation N
  * (absolute paths, same format as the merge-sink table's). The
  * underscore prefix keeps the chain invisible to Spark's file
  * listing. An artifact without a chain is not a store this code
  * built: [[read]] and every commit fail loudly on it
  * (`StoreMaintain enable` adopts such a directory).
  *
  * Contracts:
  *  - SINGLE WRITER: appends and compactions on one artifact
  *    serialize (the store contract); a lost race surfaces loudly
  *    through the no-clobber generation publish, never as silent
  *    last-writer-wins (the merge sink's guarded publish — an atomic
  *    conditional create via [[graft.sources.ManifestIO]]: `link(2)`
  *    on POSIX, a conditional PUT on an object store; the chain
  *    protocol assumes nothing POSIX-specific).
  *  - READERS ARE FREE: any number, any time; a reader holds the
  *    file list of the generation it resolved, which survives every
  *    compaction and every vacuum within the keep window.
  *  - A store rebuild overwrites the directory and then restarts
  *    the chain at generation 0 ([[restart]]).
  *
  * Reference behavior context: the reference re-reads its corpus per
  * run (no persisted derived state); generation-pinned store reads
  * are what a 100 TB deployment adds so maintenance never blocks
  * serving. */
object StoreGenerations {

  /** Basename pattern of files a compaction minted —
    * [[commitAppend]] must not adopt a crashed compaction's
    * unpublished output as "appended rows" (they duplicate rows the
    * live generation already carries). */
  private[ext] val CompactName = "^gen\\d+-".r

  private def manifestsDir(dir: String) = s"$dir/_manifests"

  // all manifest IO rides the storage seam: POSIX by default, the
  // object-store transport when the path is registered against one —
  // the chain protocol itself assumes nothing beyond list / read /
  // conditional-create (see graft.sources.ManifestIO)
  private def io(dir: String): graft.sources.ManifestIO =
    graft.sources.ManifestIO.forPath(dir)

  private def gens(dir: String): Seq[Long] =
    io(dir).list(manifestsDir(dir))
      .flatMap(n => "^gen=(\\d+)$".r.findFirstMatchIn(n)
        .map(_.group(1).toLong))
      .sorted

  private def readManifest(dir: String, gen: Long): Seq[String] =
    io(dir).read(s"${manifestsDir(dir)}/gen=$gen")
      .getOrElse(throw new IllegalStateException(
        s"manifest gen=$gen under $dir vanished mid-read"))
      .split("\n", -1).toSeq.filter(_.nonEmpty)

  /** The newest published generation number, if any. */
  def currentGen(dir: String): Option[Long] = gens(dir).lastOption

  /** The artifact's VISIBLE parquet inventory — [[graft.sources
    * .Layout.listParquet]] minus any file under a path segment
    * starting with `_` or `.` (Spark's hidden-path convention,
    * mirroring what `spark.read.parquet(dir)` ignores). [[enable]]
    * and [[commitAppend]] inventory through this, never the raw
    * listing: a crashed `SaveMode.Append` leaves task-attempt
    * part files under `_temporary/`, which Spark's own directory
    * reader hides — adopting them as "freshly appended" would
    * publish duplicated/partial rows into the chain. */
  private def visibleParquet(dir: String): Seq[String] = {
    val base = java.nio.file.Paths.get(dir).toAbsolutePath.normalize
    graft.sources.Layout.listParquet(dir).filterNot { p =>
      val rel = base.relativize(
        java.nio.file.Paths.get(p).toAbsolutePath.normalize).toString
      rel.split('/').exists(s => s.startsWith("_") || s.startsWith("."))
    }
  }

  /** The artifact's file list AT a generation — the largest published
    * generation <= `gen`, or None if none that old survives (same
    * time-travel contract as the merge-sink table's `filesAt`). */
  def filesAt(dir: String, gen: Long): Option[Seq[String]] =
    gens(dir).filter(_ <= gen).lastOption.map(g => readManifest(dir, g))

  /** The CURRENT generation's file list (None = no chain). */
  def currentFiles(dir: String): Option[Seq[String]] =
    gens(dir).lastOption.map(g => readManifest(dir, g))

  /** Publish generation `gen` — no-clobber (`link(2)` + read-back,
    * via the merge sink's guarded publish): a second writer racing
    * onto the same generation RAISES instead of corrupting the
    * chain. */
  private[ext] def publish(dir: String, gen: Long,
                           files: Seq[String]): Unit = {
    // never publish an empty manifest: a store artifact is never
    // logically empty (enable requires files, commits only add), and
    // an empty generation would read as a schemaless frame downstream
    require(files.nonEmpty,
      s"refusing to publish empty generation $gen under $dir")
    graft.streaming.StreamingOps.publishManifest(dir, gen,
      files.sorted, replace = false)
  }

  /** Start the chain: generation 0 = the directory's current parquet
    * inventory. Idempotent (an already-chained artifact keeps
    * its chain). Returns the current generation. */
  def enable(dir: String): Long = currentGen(dir).getOrElse {
    val files = visibleParquet(dir)
    require(files.nonEmpty, s"nothing to version under $dir")
    publish(dir, 0L, files)
    0L
  }

  /** [[enable]] after dropping every older generation — a store
    * rebuild's step: the rebuild replaced every file they name. */
  private[ext] def restart(dir: String): Long = {
    gens(dir).foreach(g => io(dir).delete(s"${manifestsDir(dir)}/gen=$g"))
    enable(dir)
  }

  private def canon(s: String): String =
    java.nio.file.Paths.get(s).toAbsolutePath.normalize.toString

  /** Every file any surviving manifest references (canonicalized). */
  private def referenced(dir: String): Set[String] =
    gens(dir).flatMap(g => readManifest(dir, g)).map(canon).toSet

  private def load(spark: SparkSession, dir: String,
                   files: Seq[String]): DataFrame = {
    // publish refuses empty lists, so an empty generation means a
    // corrupted chain
    require(files.nonEmpty, s"empty manifest under $dir — corrupted chain")
    spark.read.option("basePath", dir).parquet(files: _*)
  }

  private[ext] def noChain(dir: String) = new IllegalStateException(
    s"$dir has no generation chain — every store build starts one; " +
      "adopt a store written without one with `StoreMaintain enable`")

  /** Read the artifact at its current generation (with `basePath`
    * so bucket-partition directories keep yielding their partition
    * column and partition pruning). Fails loudly on an artifact
    * without a chain. */
  def read(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, currentFiles(dir).getOrElse(throw noChain(dir)))

  /** Generation-pinned read with the vacuum contract enforced LOUDLY
    * (the store face of the merge-sink table's `tableAt`): a pin
    * inside the keep window resolves the exact artifact state it
    * names; a pin the vacuum has passed fails here with a clear
    * error, never a partial read of surviving files. */
  def readAt(spark: SparkSession, dir: String, gen: Long): DataFrame =
    load(spark, dir, filesAt(dir, gen).getOrElse(
      throw new IllegalStateException(
        s"no generation <= $gen survives under $dir: the pin is " +
          "outside the vacuum keep window (or the artifact has no " +
          "chain) — re-pin to a kept generation")))

  /** Fold a completed append's files into the chain: publish
    * generation N+1 = generation N's list + every parquet file on
    * disk no surviving manifest references (the files the append
    * just wrote), EXCLUDING [[CompactName]]-stamped files (a crashed
    * compaction's unpublished output duplicates live rows; the
    * vacuum retires it). When nothing unreferenced is found — an
    * empty batch, or a REPLAYED batch whose canonical files the
    * chain already adopted — no generation is published (the commit
    * is already on the chain; this is what makes a replayed
    * streaming append a no-op rather than generation churn).
    * Returns the current generation. */
  def commitAppend(dir: String): Long = {
    val cur = currentGen(dir).getOrElse(throw noChain(dir))
    val ref = referenced(dir)
    val fresh = visibleParquet(dir)
      .filterNot(p => ref.contains(canon(p)))
      .filterNot { p =>
        val name = p.substring(p.lastIndexOf('/') + 1)
        CompactName.findFirstIn(name).isDefined ||
          OwnName.findFirstIn(name).isDefined
      }
    if (fresh.isEmpty) cur
    else {
      publish(dir, cur + 1, currentFiles(dir).get ++ fresh)
      cur + 1
    }
  }

  /** Basename pattern of files a CONCURRENT writer landed via
    * [[landOwn]]/[[landOwnBucketed]] — owned by exactly one
    * [[commitOwn]] call. The adopt-everything [[commitAppend]] path
    * must never fold them in: between a concurrent writer's land and
    * its commit they are in-flight private state, and adopting half
    * of another writer's batch is exactly the torn visibility the
    * exact-file-set commit exists to rule out. */
  private[ext] val OwnName = "^w[A-Za-z0-9]*-u[0-9a-f]{8}\\.parquet$".r

  /** OPTIMISTIC-CONCURRENCY commit of an EXACT file set — the
    * multi-writer append primitive (the Iceberg commit model applied
    * to an artifact chain): publish generation N+1 = the current
    * list + precisely `files` (this writer's fully-landed data
    * files), and when the conditional create loses the race to
    * another writer, RE-BASE on the winner's generation and retry —
    * each surviving generation then differs from its parent by
    * exactly one writer's whole batch, so no reader ever observes a
    * torn batch and no file is adopted twice (already-referenced
    * files are filtered on every attempt, which also makes a replay
    * of the same commit a no-op).
    *
    * This lifts the single-WRITER bound to single-accreting-artifact
    * stores (the vector store's codes chain, the merge-sink table):
    * any number of appenders land privately ([[landOwn]]) and race
    * their commits here. Multi-ARTIFACT appends (sig bands+sets,
    * BM25 postings+df+stats) keep the single-writer contract — their
    * consistency unit spans chains, and interleaved per-chain commits
    * could pin a torn cross-artifact state however each chain
    * commits. MAINTENANCE stays exclusive as documented ([[vacuum]]
    * deletes unreferenced files, which a landed-uncommitted batch
    * is; the store maintenance cadence already serializes against
    * writers). */
  def commitOwn(dir: String, files: Seq[String],
                maxAttempts: Int = 16): Long = {
    require(files.nonEmpty, s"commitOwn with no files under $dir")
    val mine = files.map(canon)
    val base = canon(dir)
    mine.foreach { p =>
      require(p.startsWith(base + "/"),
        s"commitOwn file outside the artifact: $p is not under $dir")
      require(java.nio.file.Files.exists(java.nio.file.Paths.get(p)),
        s"commitOwn file does not exist (land before committing): $p")
    }
    var attempt = 0
    while (true) {
      val cur = currentGen(dir).getOrElse(throw noChain(dir))
      val fresh = mine.filterNot(referenced(dir))
      if (fresh.isEmpty) return cur // replay: the whole batch is on the chain
      require(fresh.length == mine.length,
        s"commitOwn batch under $dir is PARTIALLY referenced " +
          s"(${mine.length - fresh.length}/${mine.length} files already " +
          "on the chain) — a foreign commit adopted part of this batch; " +
          "mixing commitAppend-path writers with commitOwn writers on " +
          "one artifact breaks the exact-batch contract")
      try {
        publish(dir, cur + 1, currentFiles(dir).get ++ fresh)
        return cur + 1
      } catch {
        case e: graft.sources.LostPublishRace =>
          attempt += 1
          if (attempt >= maxAttempts) throw e
      }
    }
    sys.error("unreachable")
  }

  /** Land a concurrent writer's batch as private files in a FLAT
    * artifact: write to a writer-scoped scratch, move in under
    * `w<tag>-u<uuid8>` names (no-replace — the names are unique, and
    * [[commitAppend]] ignores the `w…-u…` pattern), return the landed
    * paths for [[commitOwn]]. Until that commit the files are
    * unreferenced: invisible to every chain reader, swept by a vacuum
    * (which maintenance runs exclusively) if the writer dies. */
  def landOwn(df: DataFrame, dir: String, writerTag: String): Seq[String] = {
    require(writerTag.matches("[A-Za-z0-9]+"),
      s"writer tag must be alphanumeric, got '$writerTag'")
    val scratch = s"$dir.__own_$writerTag${uuid8()}"
    df.write.mode("overwrite").parquet(scratch)
    val landed = graft.sources.Layout.listParquet(scratch).map { p =>
      val tgt = java.nio.file.Paths.get(
        s"$dir/w$writerTag-u${uuid8()}.parquet")
      java.nio.file.Files.move(java.nio.file.Paths.get(p), tgt)
      tgt.toString
    }
    deleteTree(scratch)
    landed
  }

  /** [[landOwn]] for a BUCKET-PARTITIONED artifact: the batch lands
    * as one private file per POPULATED bucket directory (the
    * bucket-clustered repartition guarantees one scratch file per
    * bucket — enforced), preserving the partition keys probe-time
    * pruning needs. Same private-until-commit contract. */
  def landOwnBucketed(df: DataFrame, dir: String, bucketCol: String,
                      writerTag: String): Seq[String] = {
    require(writerTag.matches("[A-Za-z0-9]+"),
      s"writer tag must be alphanumeric, got '$writerTag'")
    val scratch = s"$dir.__own_$writerTag${uuid8()}"
    df.repartition(org.apache.spark.sql.functions.col(bucketCol))
      .write.partitionBy(bucketCol).mode("overwrite").parquet(scratch)
    val rx = (java.util.regex.Pattern.quote(s"$bucketCol=") +
      "(-?\\d+)/").r
    val landed = graft.sources.Layout.listParquet(scratch)
      .flatMap(p => rx.findFirstMatchIn(p).map(m => (m.group(1), p)))
      .groupBy(_._1)
      .map { case (bucket, files) =>
        require(files.length == 1,
          s"bucket $bucket holds ${files.length} scratch files; the " +
            "bucket-clustered write guarantees one — not renaming")
        val tgt = java.nio.file.Paths.get(
          s"$dir/$bucketCol=$bucket/w$writerTag-u${uuid8()}.parquet")
        java.nio.file.Files.createDirectories(tgt.getParent)
        java.nio.file.Files.move(
          java.nio.file.Paths.get(files.head._2), tgt)
        tgt.toString
      }.toSeq
    deleteTree(scratch)
    landed
  }

  private def uuid8(): String =
    java.util.UUID.randomUUID().toString.replace("-", "").take(8)

  /** The canonical base name of a landed batch's file:
    * `gb<batchId>` when no run tag is supplied, `r<tag>-gb<batchId>`
    * otherwise. The run tag exists because REPLACE_EXISTING assumes
    * the name identifies ONE logical batch forever: a SECOND stream
    * (fresh checkpoint — batch ids restart at 0) ingesting into the
    * same store would silently overwrite the first run's committed
    * `gb0` under the live generation. The ingest sinks derive the tag
    * from the checkpoint path, so a genuine replay (same checkpoint)
    * still overwrites its own bytes while a different run lands under
    * names of its own and accumulates correctly. */
  private[graft] def canonicalName(batchId: Long, runTag: String): String = {
    require(runTag.matches("[A-Za-z0-9]*"),
      s"run tag must be alphanumeric, got '$runTag'")
    if (runTag.isEmpty) s"gb$batchId" else s"r$runTag-gb$batchId"
  }

  /** Land a micro-batch's rows as ONE canonical file in a FLAT
    * artifact (`<dir>/[r<tag>-]gb<batchId>.parquet`, see
    * [[canonicalName]]) and commit — the replay-safe streaming-append
    * primitive: a replayed batch overwrites its own file
    * (REPLACE_EXISTING; nothing else ever carries its name — batch id
    * AND run tag pin the identity) and its commit finds nothing
    * unreferenced, so the chain — and every pinned reader — is
    * untouched. A mid-batch crash leaves only an unreferenced file the
    * replay overwrites. Micro-batches are small by definition, so one
    * file per batch IS the fresh-build landing (the auto-maintenance
    * ratio still bounds the long-run count). Returns the chain
    * generation. */
  def landCanonical(df: DataFrame, dir: String, batchId: Long,
                    runTag: String = ""): Long = {
    stageCanonical(df, dir, batchId, runTag)
    commitAppend(dir)
  }

  /** [[landCanonical]]'s WRITE phase alone (land the canonical file,
    * commit nothing) — multi-artifact canonical appends overlap the
    * per-artifact stage writes from a small driver pool (guide §2.6)
    * and then run the chain commits sequentially in their documented
    * order. Same replay contract: a replayed batch overwrites its own
    * canonical file. */
  private[ext] def stageCanonical(df: DataFrame, dir: String,
                                  batchId: Long, runTag: String): Unit = {
    val scratch = s"$dir.__append_b$batchId"
    df.coalesce(1).write.mode("overwrite").parquet(scratch)
    val files = graft.sources.Layout.listParquet(scratch)
    require(files.length <= 1,
      s"coalesce(1) landed ${files.length} files under $scratch")
    files.foreach { p =>
      java.nio.file.Files.move(java.nio.file.Paths.get(p),
        java.nio.file.Paths.get(
          s"$dir/${canonicalName(batchId, runTag)}.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    deleteTree(scratch)
  }

  /** [[landCanonical]] for a BUCKET-PARTITIONED artifact: the batch
    * lands as one canonical `[r<tag>-]gb<batchId>.parquet` per
    * POPULATED bucket directory (the bucket-clustered repartition
    * guarantees one scratch file per bucket — enforced), preserving
    * the layout probe-time partition pruning keys on. Same
    * replay/crash/run-tag contract as the flat form. */
  def landCanonicalBucketed(df: DataFrame, dir: String,
                            bucketCol: String, batchId: Long,
                            runTag: String = ""): Long = {
    stageCanonicalBucketed(df, dir, bucketCol, batchId, runTag)
    commitAppend(dir)
  }

  /** [[stageCanonical]] for a bucket-partitioned artifact. */
  private[ext] def stageCanonicalBucketed(df: DataFrame, dir: String,
                                          bucketCol: String, batchId: Long,
                                          runTag: String): Unit = {
    val scratch = s"$dir.__append_b$batchId"
    df.repartition(org.apache.spark.sql.functions.col(bucketCol))
      .write.partitionBy(bucketCol).mode("overwrite").parquet(scratch)
    val rx = (java.util.regex.Pattern.quote(s"$bucketCol=") +
      "(-?\\d+)/").r
    graft.sources.Layout.listParquet(scratch)
      .flatMap(p => rx.findFirstMatchIn(p).map(m => (m.group(1), p)))
      .groupBy(_._1)
      .foreach { case (bucket, files) =>
        require(files.length == 1,
          s"bucket $bucket holds ${files.length} scratch files; the " +
            "bucket-clustered write guarantees one — not renaming")
        val tgt = java.nio.file.Paths.get(
          s"$dir/$bucketCol=$bucket/${canonicalName(batchId, runTag)}.parquet")
        java.nio.file.Files.createDirectories(tgt.getParent)
        java.nio.file.Files.move(
          java.nio.file.Paths.get(files.head._2), tgt,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    deleteTree(scratch)
  }

  private def deleteTree(p: String): Unit = {
    val root = java.nio.file.Paths.get(p)
    if (java.nio.file.Files.exists(root)) {
      val it = java.nio.file.Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        it.iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.delete)
      } finally it.close()
    }
  }

  /** Retire generations beyond the newest `keepGens` and every
    * parquet file under the artifact no kept manifest references —
    * including dead compaction scratch output. Keeps at least one
    * generation; returns (files deleted, manifests deleted). Same
    * single-writer cadence as the merge-sink vacuum: run it from the
    * maintenance path, not concurrently with a reader pinned older
    * than the kept window. */
  def vacuum(dir: String, keepGens: Int): (Int, Int) =
    vacuumKeeping(dir, keepLatest = keepGens, alsoKeep = Set.empty)

  /** [[vacuum]] with an EXTERNAL pin set: keep the newest `keepLatest`
    * generations PLUS every generation in `alsoKeep`, and never delete
    * a file in `alsoKeepFiles` — the hooks [[StoreSnapshots]] uses so
    * a store-level manifest's pinned artifact generations AND its
    * file-level commit entries (a concurrent writer's batch the chain
    * has not folded in yet) survive any per-artifact vacuum cadence. */
  private[ext] def vacuumKeeping(dir: String, keepLatest: Int,
                                 alsoKeep: Set[Long],
                                 alsoKeepFiles: Set[String] = Set.empty)
      : (Int, Int) = {
    require(keepLatest >= 1, "must keep at least one generation")
    val all = gens(dir)
    if (all.isEmpty) return (0, 0)
    val latest = all.takeRight(keepLatest).toSet
    val keep = all.filter(g => latest.contains(g) || alsoKeep.contains(g))
    val drop = all.filterNot(keep.contains)
    val kept = keep.flatMap(g => readManifest(dir, g)).map(canon).toSet ++
      alsoKeepFiles.map(canon)
    val dead = graft.sources.Layout.listParquet(dir)
      .filterNot(p => kept.contains(canon(p)))
    dead.foreach(p =>
      java.nio.file.Files.delete(java.nio.file.Paths.get(p)))
    drop.foreach(g => io(dir).delete(s"${manifestsDir(dir)}/gen=$g"))
    (dead.length, drop.length)
  }
}
