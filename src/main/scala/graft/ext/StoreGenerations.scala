package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-artifact views over the store log ([[StoreSnapshots]]) and the
  * one LANDING helper of every store writer. An artifact directory has
  * no manifest of its own: its live files are the `p` lines of its
  * store's current entry, found from the directory alone ([[storeOf]]).
  * [[land]] writes files under writer-unique names and publishes
  * nothing; only a commit naming them makes them visible, so a crashed
  * writer's leftovers are never adopted — the vacuum sweeps them. */
object StoreGenerations {

  /** The store whose log names the artifact at `dir`: the nearest
    * ancestor holding a log (the release log for its `sig/` member). */
  private[ext] def storeOf(dir: String): Option[String] =
    Iterator.iterate(java.nio.file.Paths.get(canon(dir)).getParent)(_.getParent)
      .takeWhile(_ != null).map(_.toString)
      .find(p => StoreSnapshots.currentGen(p).isDefined)

  /** The artifact's files in its store's CURRENT entry (None = no
    * store log owns `dir`). */
  def currentFiles(dir: String): Option[Seq[String]] =
    storeOf(dir).map(s => StoreSnapshots.latest(s)._2.files(s, dir))

  /** Read the artifact as its store's current entry names it. Fails
    * loudly when no store log owns `dir`. */
  def read(spark: SparkSession, dir: String): DataFrame =
    StoreSnapshots.pin(spark, storeOf(dir)
      .getOrElse(throw StoreSnapshots.noChain(dir))).read(dir)

  private[ext] def canon(s: String): String =
    java.nio.file.Paths.get(s).toAbsolutePath.normalize.toString

  /** The artifact's VISIBLE parquet inventory — [[graft.sources
    * .Layout.listParquet]] minus any file under a path segment
    * starting with `_` or `.` (Spark's hidden-path convention,
    * mirroring what `spark.read.parquet(dir)` ignores). Entry 0 and
    * the frozen-seed inventory list through this, never the raw
    * listing: a crashed write leaves task-attempt part files under
    * `_temporary/`, which Spark's own directory reader hides. */
  private[ext] def visibleParquet(dir: String): Seq[String] =
    graft.sources.Layout.listParquet(dir).filterNot(p => StoreSnapshots.rel(dir, p)
      .split('/').exists(s => s.startsWith("_") || s.startsWith(".")))

  private def uuid(): String = java.util.UUID.randomUUID().toString.replace("-", "")

  /** LAND a batch in an artifact directory without committing it: the
    * frame is written to a scratch directory beside the artifact
    * (`<dir>.__land_<uuid>`), then each file moves in under a
    * writer-unique `u<uuid>` name, keeping its bucket directory.
    * `bucketCol = Some(c)`: the artifact is `partitionBy(c)` laid out;
    * the batch clusters on `c` first, so every bucket directory gets
    * one file and probe-time partition pruning keeps working.
    * `stream = true`: a flat artifact lands as one `coalesce(1)` file —
    * the layout of a streaming micro-batch. Returns the landed paths,
    * which no reader sees until a commit names them. */
  def land(df: DataFrame, dir: String, bucketCol: Option[String],
           stream: Boolean = false): Seq[String] =
    landWritten(bucketCol match {
      case Some(c) => df.repartition(org.apache.spark.sql.functions.col(c))
      case None => if (stream) df.coalesce(1) else df
    }, dir, bucketCol)

  /** [[land]] of a frame already partitioned as its files should be. */
  private[ext] def landWritten(df: DataFrame, dir: String,
                               bucketCol: Option[String]): Seq[String] = {
    val scratch = s"$dir.__land_${uuid()}"
    bucketCol.fold(df.write)(df.write.partitionBy(_))
      .mode("overwrite").parquet(scratch)
    val root = java.nio.file.Paths.get(canon(scratch))
    val landed = graft.sources.Layout.listParquet(scratch).map { p =>
      val sub = Option(root.relativize(java.nio.file.Paths.get(canon(p))).getParent)
        .fold("")(_.toString + "/")
      val tgt = java.nio.file.Paths.get(s"$dir/${sub}u${uuid()}.parquet")
      java.nio.file.Files.createDirectories(tgt.getParent)
      java.nio.file.Files.move(java.nio.file.Paths.get(p), tgt)
      tgt.toString
    }
    deleteTree(scratch)
    landed.sorted
  }

  private[ext] def exists(p: String): Boolean =
    java.nio.file.Files.exists(java.nio.file.Paths.get(p))

  private[ext] def deleteTree(p: String): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(p))
}
