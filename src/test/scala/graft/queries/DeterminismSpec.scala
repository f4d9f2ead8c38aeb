package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.Ranking

/** The engine's determinism claim (SURVEY.md §7.4.3): results must be
  * identical under any physical partitioning — rankings carry
  * explicit tie-break keys, sums run in the decimal domain. A plan
  * whose output depends on partition layout would flake the oracle
  * hash at any scale.
  */
class DeterminismSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // ties on purpose: equal times within and across groups
  private lazy val laps = Seq(
    (1, 10.0, "2024-01-01 10:00:00", "a"), (1, 10.0, "2024-01-01 09:00:00", "b"),
    (1, 12.0, "2024-01-01 08:00:00", "c"), (2, 10.0, "2024-01-01 07:00:00", "d"),
    (2, 11.0, "2024-01-01 06:00:00", "e"), (3, 11.0, "2024-01-01 05:00:00", "f"))
    .toDF("g", "t", "d", "tag")
    .withColumn("d", col("d").cast("timestamp"))

  private def argmin(df: DataFrame): Seq[(Int, String)] =
    Ranking.argminRow(df, Seq("g"), Seq("t", "d"))
      .select("g", "tag").collect().map(r => (r.getInt(0), r.getString(1)))
      .sortBy(_._1).toSeq

  test("argmin rows are identical across partition layouts") {
    val layouts = Seq(laps.repartition(1), laps.repartition(7),
      laps.repartition(3, col("tag")), laps.coalesce(2))
    val results = layouts.map(argmin)
    assert(results.distinct.size === 1, s"diverged: $results")
  }

  test("decimal-domain sums are identical across partition layouts") {
    def total(df: DataFrame): Double = df
      .groupBy("g")
      .agg(sum(col("t").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
        .cast("double").as("s"))
      .collect().map(_.getDouble(1)).sum
    val a = total(laps.repartition(1))
    val b = total(laps.repartition(13, col("d")))
    assert(a === b)
  }

  test("keepFirst is stable when the tie-break fully orders the group") {
    def run(df: DataFrame) = Ranking.keepFirst(df, Seq("g"),
        Seq(col("t").asc, col("d").asc, col("tag").asc))
      .select("g", "tag").collect().map(r => (r.getInt(0), r.getString(1))).sortBy(_._1).toSeq
    assert(run(laps.repartition(1)) === run(laps.repartition(5, col("tag"))))
  }

  test("EVERY batch gate query is shuffle-fan-out invariant at sf0.001") {
    // the whole-registry form of the determinism claim: a query whose
    // values shift with the shuffle partition count would flake the
    // driver's hash gate on any executor-count change at 100 TB.
    // (Streaming gate queries run real streams — their determinism is
    // pinned by their own oracles and StreamingSpec instead.)
    val sfDir = "/root/testdata/sf0.001"
    val batch = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot { case (n, _) => graft.SparkEntry.streamingQueries(n) }
    // one session per fan-out, each with its own SQLConf: the shared
    // TestSpark session's conf is never touched, so suites running
    // alongside this sweep keep the fan-out they were written against
    def session(fanOut: String): SparkSession = {
      val s = spark.newSession()
      s.conf.set("spark.sql.shuffle.partitions", fanOut)
      s
    }
    val (s3, s11) = (session("3"), session("11"))
    def snapshot(fn: (SparkSession, String) => DataFrame,
                 s: SparkSession): Seq[String] = {
      val prevActive = SparkSession.getActiveSession
      SparkSession.setActiveSession(s)
      try fn(s, sfDir).collect().map(_.toString).sorted.toSeq
      finally prevActive.fold(SparkSession.clearActiveSession())(
        SparkSession.setActiveSession)
    }
    val diverged = batch.flatMap { case (name, fn) =>
      val a = snapshot(fn, s3)
      val b = snapshot(fn, s11)
      if (a == b) None else Some(name)
    }
    assert(diverged.isEmpty, s"fan-out-dependent results: $diverged")
  }
}
