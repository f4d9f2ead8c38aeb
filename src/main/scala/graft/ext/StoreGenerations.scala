package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}

/** GENERATION CHAIN for a persisted store's artifact directories —
  * the layer under [[StoreSnapshots]] that makes every store write
  * ONLINE: readers resolve a pinned generation's file list while an
  * append or a compaction publishes the next one, and bytes retire
  * only when the store vacuum's keep window ([[StoreSnapshots
  * .vacuum]]) passes them.
  *
  * This is the manifest-chain machinery the streaming merge-sink
  * table already ships ([[graft.streaming.StreamingOps]]: `tableAt` /
  * `publishManifest` / `vacuumManifests`), applied to each accreting
  * artifact of the four stores. Every store's `build` starts the
  * chain of each artifact at generation 0 (through
  * [[StoreSnapshots]]); appends publish N+1 = N + exactly the files
  * the append landed, compactions publish N+1 = the compacted files.
  * Nothing a live reader references moves or dies until the vacuum
  * retires generations beyond the keep window.
  *
  * Appends land their files with ONE helper, [[land]]
  * (writer-unique or batch-canonical names, nothing committed), and
  * commit them by name ([[commitOwn]], under the store snapshot's
  * [[StoreSnapshots.commitLanded]]). No commit adopts files by
  * scanning the directory, so a crashed append's leftovers are never
  * published — they stay unreferenced until the vacuum sweeps them.
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
  *  - WRITERS: any number of appenders; each commit names its exact
  *    file set and re-bases on a lost race ([[commitOwn]]). The
  *    generation publish is no-clobber — an atomic conditional create
  *    via [[graft.sources.ManifestIO]] (`link(2)` on POSIX, a
  *    conditional PUT on an object store; the chain protocol assumes
  *    nothing POSIX-specific) — so a race is never silent
  *    last-writer-wins. Compaction and vacuum stay exclusive.
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
    * and the snapshots' frozen-seed inventory list through this,
    * never the raw listing: a crashed write leaves task-attempt part
    * files under `_temporary/`, which Spark's own directory reader
    * hides. */
  private[ext] def visibleParquet(dir: String): Seq[String] = {
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

  private[ext] def canon(s: String): String =
    java.nio.file.Paths.get(s).toAbsolutePath.normalize.toString

  /** Every file any surviving generation up to `upTo` references
    * (canonicalized) — the files the chain has ADOPTED by then. A
    * compaction rewrites an adopted file's rows under a new name, so
    * membership in the current list alone cannot tell adopted from
    * not-yet-adopted; the generation that adopted it can. */
  private[ext] def referenced(dir: String,
                              upTo: Long = Long.MaxValue): Set[String] =
    gens(dir).filter(_ <= upTo).flatMap(g => readManifest(dir, g))
      .map(canon).toSet

  private def load(spark: SparkSession, dir: String,
                   files: Seq[String]): DataFrame = {
    // publish refuses empty lists, so an empty generation means a
    // corrupted chain
    require(files.nonEmpty, s"empty manifest under $dir — corrupted chain")
    scan(spark, dir, files)
  }

  /** One scan of an explicit file list of the artifact at `dir`, under
    * its declared schema ([[StoreMaintenance.schemaOf]] — no footer-
    * inference job) and with `basePath`, so bucket-partition
    * directories keep yielding their partition column and partition
    * pruning. Chain reads and [[StoreSnapshots.Pin]] reads both resolve
    * through it. */
  private[ext] def scan(spark: SparkSession, dir: String,
                        files: Seq[String]): DataFrame =
    StoreMaintenance.schemaOf(dir).fold(spark.read)(spark.read.schema)
      .option("basePath", dir).parquet(files: _*)

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

  /** OPTIMISTIC-CONCURRENCY commit of an EXACT file set (the Iceberg
    * commit model applied to an artifact chain): publish generation
    * N+1 = the current list + precisely `files` (fully-landed data
    * files), and when the conditional create loses the race to
    * another writer, RE-BASE on the winner's generation and retry —
    * each surviving generation then differs from its parent by
    * exactly one commit's whole file set, and no file is adopted
    * twice (already-referenced files are filtered on every attempt,
    * which also makes a replay of the same commit a no-op).
    *
    * Every store append ends here: [[StoreSnapshots.commitLanded]]
    * publishes the writer's landed files in one store snapshot, then
    * adopts them into each artifact's chain through this call, so
    * [[read]]/[[currentFiles]] see the batch at once. A commit names
    * its files, so nothing it did not land is ever adopted: a crashed
    * append's leftovers stay unreferenced until the vacuum sweeps
    * them. MAINTENANCE stays exclusive ([[vacuumKeeping]] deletes
    * unreferenced files, which a landed-uncommitted batch is). */
  def commitOwn(dir: String, files: Seq[String],
                maxAttempts: Int = 16): Long = {
    require(files.nonEmpty, s"commitOwn with no files under $dir")
    val mine = files.map(canon)
    val base = canon(dir)
    mine.foreach { p =>
      require(p.startsWith(base + "/"),
        s"commitOwn file outside the artifact: $p is not under $dir")
      require(exists(p),
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
          "one landed batch must be committed by exactly one commit")
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

  private def uuid(): String =
    java.util.UUID.randomUUID().toString.replace("-", "")

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

  /** LAND a batch in an artifact directory without committing it —
    * the first step of every store append (land → one conditional
    * snapshot create → adopt, [[StoreSnapshots.commitLanded]]). The
    * batch writes to a scratch directory beside the artifact, then
    * each file moves in:
    *  - `batch = None`: under a writer-unique `u<uuid>` name
    *    (no-replace — no other writer can hold it);
    *  - `batch = Some((batchId, runTag))`: under the canonical
    *    `[r<tag>-]gb<batchId>` name ([[canonicalName]]) with
    *    REPLACE_EXISTING — the replay-safe streaming landing: a
    *    replayed micro-batch overwrites its own bytes and its commit
    *    finds them already published. One file per populated bucket
    *    (enforced), or one `coalesce(1)` file for a flat artifact.
    * `bucketCol = Some(c)`: the artifact is `partitionBy(c)` laid out;
    * the batch clusters on `c` first, so every bucket directory gets
    * one file and probe-time partition pruning keeps working.
    * Returns the landed paths. Until a commit names them the files
    * are invisible to every reader: a crashed append leaves only
    * unreferenced files, which no later commit adopts and the vacuum
    * sweeps. */
  def land(df: DataFrame, dir: String, bucketCol: Option[String],
           batch: Option[(Long, String)]): Seq[String] = {
    val name = batch.map { case (b, tag) => canonicalName(b, tag) }
    val scratch = s"$dir.__land_${name.getOrElse(uuid())}"
    val clustered = bucketCol match {
      case Some(c) => df.repartition(org.apache.spark.sql.functions.col(c))
      case None => if (name.isDefined) df.coalesce(1) else df
    }
    bucketCol.fold(clustered.write)(clustered.write.partitionBy(_))
      .mode("overwrite").parquet(scratch)
    val root = java.nio.file.Paths.get(scratch)
    // group by the file's directory under the scratch: "" for a flat
    // artifact, "<bucketCol>=<v>/" per bucket
    val landed = graft.sources.Layout.listParquet(scratch)
      .groupBy(p => Option(root.relativize(java.nio.file.Paths.get(p))
        .getParent).fold("")(_.toString + "/"))
      .toSeq.flatMap { case (sub, files) =>
        name match {
          case Some(n) =>
            require(files.length == 1,
              s"${files.length} scratch files under $scratch/$sub; a " +
                "canonical landing writes one — not renaming")
            Seq(moveIn(files.head, s"$dir/$sub$n.parquet", replace = true))
          case None =>
            files.map(p =>
              moveIn(p, s"$dir/${sub}u${uuid()}.parquet", replace = false))
        }
      }
    deleteTree(scratch)
    landed.sorted
  }

  private def moveIn(from: String, to: String, replace: Boolean): String = {
    val tgt = java.nio.file.Paths.get(to)
    java.nio.file.Files.createDirectories(tgt.getParent)
    if (replace)
      java.nio.file.Files.move(java.nio.file.Paths.get(from), tgt,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    else java.nio.file.Files.move(java.nio.file.Paths.get(from), tgt)
    tgt.toString
  }

  private[ext] def exists(p: String): Boolean =
    java.nio.file.Files.exists(java.nio.file.Paths.get(p))

  private[ext] def deleteTree(p: String): Unit = {
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

  /** Retire generations beyond the newest `keepLatest` — except every
    * generation in `alsoKeep` — and every parquet file under the
    * artifact that no kept manifest references and `alsoKeepFiles`
    * does not name: dead compaction output, a crashed append's
    * leftovers. Keeps at least one generation; returns (files
    * deleted, manifests deleted). Only [[StoreSnapshots.vacuum]] calls
    * this, passing what its surviving snapshots pin: right after an
    * append a store snapshot pins the artifact's PREVIOUS generation
    * plus the append's `d` files, so a vacuum blind to the snapshots
    * would break the current pin. Maintenance cadence: run it
    * exclusively, like the merge-sink vacuum. */
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
