package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Outcome of one operation's output check. */
final case class Checked(ok: Boolean, digest: String, error: String = "")

/** A workload: set-up into a fresh directory, then a stream of
  * closed-loop operations. `next()` runs one operation's calls into
  * the engine and returns a check to run after the timer stops, so
  * verification never counts as latency. */
trait Workload {
  def setup(dir: Path): Unit
  def hasNext: Boolean
  /** True when the next operation starts a new group (an analyst cycle,
    * an ingest round): the measured window ends only on a boundary, so
    * every run measures whole groups with the same operation mix. */
  def boundary: Boolean = true
  def next(): (String, String, () => Checked)
  def summary(): Map[String, Any] = Map.empty
  def close(): Unit = ()
}

/** Runs one workload in one process with `local[nproc]` and a single
  * closed-loop client, and writes the raw measurements as one JSON file
  * for the runner (`perfbench/run.py`) to turn into metrics.
  *
  * Usage: Harness <workload> <inputsDir> <workDir> <seconds> <trace 0|1>
  *                <setupReps> <warmOps> <outFile> [record]
  *
  * Untraced (trace 0): set up `setupReps` times (each into a fresh
  * directory; the last is kept), run `warmOps` untimed operations, then
  * measure for `seconds`. Traced (trace 1): the same, but the measured
  * window is split — its first half untraced, its second half with
  * spans and listeners on — so the tracing overhead is measured in the
  * same process. `record` runs every distinct operation of the
  * default seed once, untimed, to produce the expected digests. */
object Harness {
  def main(args: Array[String]): Unit = {
    val Array(workload, inputs, work, secondsS, traceS, repsS, warmS, out) =
      args.take(8)
    val record = args.length > 8 && args(8) == "record"
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    val rec = new Recorder
    val t0 = System.nanoTime()
    val cpus = Runtime.getRuntime.availableProcessors
    val workDir = Paths.get(work).toAbsolutePath
    val spark = GraftSession.builder(s"local[$cpus]", cpus)
      .config("spark.local.dir", workDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", workDir.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val inputDir = Paths.get(inputs).toAbsolutePath
    val w: Workload = workload match {
      case "f1_dashboard" => new F1Workload(spark, rec, inputDir, record)
      case "store_ingest" => new StoreWorkload(spark, rec, inputDir)
      case other => sys.error(s"unknown workload $other")
    }
    try {
      val setups = (1 to repsS.toInt).map { i =>
        val d = workDir.resolve(s"setup$i")
        val s0 = System.nanoTime()
        w.setup(d)
        (System.nanoTime() - s0) / 1e9
      }
      val warm0 = System.nanoTime()
      var warmFailures = 0
      var warmed = 0
      while (w.hasNext && (warmed < warmS.toInt || !w.boundary)) {
        warmed += 1
        val (_, _, check) = w.next()
        if (!check().ok) warmFailures += 1
      }
      val warmS_ = (System.nanoTime() - warm0) / 1e9

      def loop(budgetS: Double, withTrace: Option[Trace]): Double = {
        val start = System.nanoTime()
        while (w.hasNext && (record || !w.boundary ||
            (System.nanoTime() - start) / 1e9 < budgetS)) {
          val id = rec.ops.length
          rec.currentOp = id
          val a = System.nanoTime()
          val result =
            try {
              val (kind, key, check) = rec.span("op")(w.next())
              val ms = (System.nanoTime() - a) / 1e6
              // the check's own jobs are not the operation's work
              withTrace.foreach(_.pause())
              val c = try check() catch {
                case NonFatal(e) => Checked(ok = false, "", s"check: $e")
              } finally withTrace.foreach(_.resume())
              OpRecord(id, kind, key, ms, c.ok, c.digest, c.error,
                withTrace.nonEmpty)
            } catch {
              case NonFatal(e) =>
                withTrace.foreach(_.drain())
                OpRecord(id, "error", "", (System.nanoTime() - a) / 1e6,
                  ok = false, "", e.toString.take(400), withTrace.nonEmpty)
            }
          rec.ops += result
        }
        (System.nanoTime() - start) / 1e9
      }

      val live = workDir.resolve("setup" + repsS)
      var trace: Option[Trace] = None
      val (untracedS, tracedS) =
        if (!traced) (loop(seconds, None), 0.0)
        else {
          val u = loop(seconds / 2, None)
          val t = new Trace(spark, rec, live.resolve("inputs").toString,
            live.resolve("stores").toString)
          trace = Some(t)
          t.start()
          rec.tracing = true
          val tt = loop(seconds / 2, Some(t))
          rec.tracing = false
          t.stop()
          (u, tt)
        }
      val result = Map(
        "workload" -> workload,
        "cpus" -> cpus,
        "session_start_s" -> sessionS,
        "setup_s" -> setups,
        "warm_s" -> warmS_,
        "warm_failures" -> warmFailures,
        "untraced_s" -> untracedS,
        "traced_s" -> tracedS,
        "peak_rss_mb" -> peakRssMb(),
        "summary" -> w.summary(),
        "ops" -> rec.ops.map(o => Map("id" -> o.id, "kind" -> o.kind,
          "key" -> o.key, "ms" -> o.ms, "ok" -> o.ok, "digest" -> o.digest,
          "error" -> o.error, "traced" -> o.traced)),
        "spans" -> rec.spans.map(s => Map("id" -> s.id, "name" -> s.name,
          "start_ms" -> s.startMs, "end_ms" -> s.endMs, "parent" -> s.parent,
          "op" -> s.op)),
        "trace" -> trace.map(_.toJson))
      Files.writeString(Paths.get(out), Json.render(result))
    } finally {
      try w.close() finally spark.stop()
    }
  }

  /** The process's resident-set high-water mark (Linux VmHWM). */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  /** Bytes of every regular file under `p`. */
  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  /** Data files (parquet, not checksums or manifests) under `p`. */
  def parquetFilesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(f => Files.isRegularFile(f) &&
          f.getFileName.toString.endsWith(".parquet")).count()
      finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
      finally s.close()
    }

  /** Reads one generated JSON-lines table with an explicit schema. */
  def readJsonl(spark: SparkSession, path: Path,
                schema: org.apache.spark.sql.types.StructType) =
    spark.read.schema(schema)
      .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSX")
      .option("mode", "FAILFAST")
      .json(path.toString)
}
