package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Test-only: the Spark jobs a block fires, by short call site
  * ("parquet at StoreSnapshots.scala:123", the result stage's name). Jobs queued before the
  * block are drained first, so they are not counted. */
object SparkJobs {
  def fired[T](spark: SparkSession)(f: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    org.apache.spark.graft.TestBus.drain(sc)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      // a job's result stage is its newest, named by the call site
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(e.stageInfos.maxByOption(_.stageId).fold("")(_.name))
    }
    sc.addSparkListener(listener)
    try {
      val r = f
      org.apache.spark.graft.TestBus.drain(sc)
      (r, seen.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}
