package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark jobs as child spans: the listener's own wall times, the
  * operation that was running, and the engine module of the first
  * `graft.*` frame on the job's call site (empty when the job was
  * forced by the harness itself). */
final case class JobRecord(id: Int, op: Int, startMs: Double, endMs: Double,
                           module: String, site: String)

/** The traced run's observers, all registered from outside the engine
  * through Spark's public listener interfaces: a SparkListener (jobs,
  * stages, tasks), a QueryExecutionListener (planning phases, physical
  * operator metrics, scans, cache reads) and a StreamingQueryListener
  * (micro-batch durations). Everything lands in memory; the runner
  * turns it into per-layer metrics. `inputRoot`/`storeRoot` split file
  * scans into user inputs (sources) and store artifacts (stores). */
final class Trace(spark: SparkSession, rec: Recorder, inputRoot: String,
                  storeRoot: String) extends AdaptiveSparkPlanHelper {

  val counters: mutable.Map[String, Double] =
    mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
  val jobs = mutable.ArrayBuffer.empty[JobRecord]
  /** op id -> an executed plan of that op read a cached relation */
  val cacheHitOps = mutable.Set.empty[Int]
  /** op id -> store files scanned by that op */
  val storeFilesByOp = mutable.Map.empty[Int, Double].withDefaultValue(0.0)
  private val jobStarts = mutable.Map.empty[Int, (Double, Int, String, String)]
  private val execModules = mutable.Map.empty[Long, String]

  private def add(k: String, v: Double): Unit = counters(k) += v

  private val sparkListener = new SparkListener {
    override def onJobStart(js: SparkListenerJobStart): Unit = if (!paused) synchronized {
      val props = Option(js.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      // the call site travels as the result stage's name (short form) and
      // details (stack); jobs an SQL execution submits from its own thread
      // pool carry the execution id instead, whose start event holds the
      // action's stack
      val result = js.stageInfos.maxByOption(_.stageId)
      val long = result.map(_.details).getOrElse("")
      val short = result.map(_.name).getOrElse("")
      val module = Some(Trace.moduleOf(long)).filter(_.nonEmpty)
        .orElse(prop("spark.sql.execution.id").flatMap(id => execModules.get(id.toLong)))
        .getOrElse("")
      jobStarts(js.jobId) = (js.time.toDouble, rec.currentOp, module, short)
      add("spark.jobs", 1)
      if (short.startsWith("localCheckpoint") || short.startsWith("checkpoint"))
        add("planning.local_checkpoints", 1)
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit = if (!paused) synchronized {
      jobStarts.remove(je.jobId).foreach { case (t0, op, module, short) =>
        jobs += JobRecord(je.jobId, op, t0, je.time.toDouble, module, short)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart if !paused => synchronized {
        execModules(x.executionId) = Trace.moduleOf(x.details)
      }
      case _ =>
    }
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
      if (!paused) add("spark.stages", 1)
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = if (!paused) {
      val info = te.taskInfo
      val m = te.taskMetrics
      add("spark.tasks", 1)
      if (info.duration < 50) add("spark.tasks_under_50ms", 1)
      if (m != null) {
        add("spark.executor_run_ms", m.executorRunTime.toDouble)
        add("spark.executor_cpu_ms", m.executorCpuTime / 1e6)
        add("spark.scheduler_delay_ms", math.max(0L, info.duration -
          m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - info.gettingResultTime).toDouble)
        add("spark.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1048576.0)
        add("spark.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1048576.0)
        add("spark.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1048576.0)
        counters("spark.peak_exec_mem_mb") = math.max(
          counters("spark.peak_exec_mem_mb"), m.peakExecutionMemory / 1048576.0)
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit = observe(qe)
    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit = observe(qe)
  }

  private def observe(qe: QueryExecution): Unit = if (!paused) synchronized {
    val op = rec.currentOp
    add("planning.sql_executions", 1)
    val phases = qe.tracker.phases
    def phase(name: String) = phases.get(name).map(_.durationMs.toDouble).getOrElse(0.0)
    add("planning.analysis_ms", phase("analysis"))
    add("planning.optimization_ms", phase("optimization"))
    add("planning.physical_ms", phase("planning"))
    val nodes: Seq[SparkPlan] = collectWithSubqueries(qe.executedPlan) { case p => p }
    nodes.foreach { p =>
      def metric(n: String): Double = p.metrics.get(n).map(_.value.toDouble).getOrElse(0.0)
      p.nodeName match {
        case "Sort" => add("physical.sort_ms", metric("sortTime"))
        case n if n.contains("HashAggregate") => add("physical.agg_build_ms", metric("aggTime"))
        case "BroadcastExchange" => add("physical.broadcast_build_ms", metric("buildTime"))
        case _ =>
      }
      p match {
        case _: InMemoryTableScanExec => cacheHitOps += op
        case f: FileSourceScanExec =>
          val files = metric("numFiles")
          val mb = metric("filesSize") / 1048576.0
          val roots = f.relation.location.rootPaths.map(_.toString)
          if (roots.exists(_.contains(inputRoot))) {
            add("sources.files_read", files); add("sources.input_mb", mb)
          } else if (roots.exists(_.contains(storeRoot))) {
            storeFilesByOp(op) += files
          }
        case _ =>
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (!paused) Trace.this.synchronized {
        val d = e.progress.durationMs.asScala
        if (e.progress.numInputRows > 0 || d.contains("addBatch")) {
          add("streaming.batches", 1)
          add("streaming.trigger_ms", d.get("triggerExecution").map(_.toDouble).getOrElse(0.0))
          add("streaming.add_batch_ms", d.get("addBatch").map(_.toDouble).getOrElse(0.0))
          add("streaming.query_planning_ms", d.get("queryPlanning").map(_.toDouble).getOrElse(0.0))
          add("streaming.wal_commit_ms", d.get("walCommit").map(_.toDouble).getOrElse(0.0))
        }
      }
  }

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  private var gc0 = 0L

  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
    gc0 = gcBeans.map(_.getCollectionTime).sum
    heapPools.foreach(_.resetPeakUsage())
  }

  /** Blocks until every event of the operation that just finished has
    * been delivered (the listener bus is asynchronous). */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  @volatile private var paused = false

  /** Stops counting (after delivering the operation's events) while the
    * harness checks an operation's output. */
  def pause(): Unit = { drain(); paused = true }
  def resume(): Unit = { drain(); paused = false }

  def stop(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
    counters("jvm.gc_ms") = (gcBeans.map(_.getCollectionTime).sum - gc0).toDouble
    counters("jvm.heap_peak_mb") =
      heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
  }

  def toJson: Map[String, Any] = synchronized {
    Map(
      "counters" -> counters.toMap,
      "jobs" -> jobs.map(j => Map("id" -> j.id, "op" -> j.op,
        "start_ms" -> j.startMs, "end_ms" -> j.endMs, "module" -> j.module,
        "site" -> j.site)),
      "cache_hit_ops" -> cacheHitOps.toSeq.sorted,
      "store_files_by_op" -> storeFilesByOp.map { case (k, v) => k.toString -> v })
  }
}

object Trace {
  private val Frame = """\bgraft\.(?:[a-z0-9_]+\.)*([A-Z][A-Za-z0-9_]*)""".r

  /** Engine module of the first `graft.*` frame on a call site. */
  def moduleOf(callSite: String): String =
    callSite.split('\n').iterator
      .flatMap(line => Frame.findFirstMatchIn(line).map(_.group(1)))
      .map(Modules.of).find(_.nonEmpty).getOrElse("")
}

/** Engine class -> the layer/module name the per-layer metrics use. */
object Modules {
  private val table: Map[String, String] = Map(
    "Dedup" -> "ext.dedup", "TextOps" -> "ext.textops",
    "Similarity" -> "ext.similarity", "GraphOps" -> "ext.graphops",
    "CorpusRelease" -> "ext.corpus_release",
    "ReleaseStore" -> "ext.release_store",
    "SignatureStore" -> "stores", "RetrievalIndexStore" -> "stores",
    "VectorIndexStore" -> "stores", "StoreGenerations" -> "stores",
    "StoreSnapshots" -> "stores", "StoreMaintenance" -> "stores",
    "StreamingOps" -> "streaming",
    "F1Session" -> "f1", "F1Pipelines" -> "f1", "F1Dashboard" -> "f1",
    "ChartSink" -> "f1",
    "F1Tables" -> "sources", "Tables" -> "sources", "ManifestIO" -> "sources",
    "JsonlCorpus" -> "sources", "Layout" -> "sources",
    "AsOfJoin" -> "operators", "Ranking" -> "operators")

  /** `""` for frames that only pass work through (Par's thread pool)
    * so the search continues to the caller that owns the work. */
  def of(cls: String): String = {
    val base = cls.takeWhile(_ != '$')
    if (base == "Par") "" else table.getOrElse(base, "ext.other")
  }
}
