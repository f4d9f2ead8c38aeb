package graft.catalyst

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.UnknownPartitioning
import org.apache.spark.sql.execution.{LogicalRDD, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_COL, ShuffleExchangeExec}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.ext.Dedup

/** [[SinglePartitionScan]]: a one-partition checkpoint plans without
  * exchanges downstream and answers exactly like the frame it was
  * taken from; checkpoints with zero or several partitions, and the
  * wide side of a join with one, plan as before. */
class SinglePartitionScanSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = TestSpark.spark

  /** 400 six-word documents in one small parquet file: one input split. */
  private lazy val docsPath: String = {
    val p = "/tmp/graft_single_partition_docs"
    spark.range(0, 400).select(col("id").as("doc_id"),
        concat_ws(" ", Seq(7, 11, 13, 17, 19, 23).map(m =>
          concat(lit("w"), (col("id") % m).cast("string"))): _*).as("text"),
        (col("id") % 3).cast("string").as("lang"),
        (col("id") % 5).cast("string").as("source"))
      .coalesce(1).write.mode("overwrite").parquet(p)
    p
  }

  private def docs: DataFrame = spark.read.parquet(docsPath)

  /** The frame's checkpoint, asserting what the rule keys on: an
    * unknown partitioning over `parts` partitions. */
  private def checkpointed(df: DataFrame, parts: Int): DataFrame = {
    val c = df.localCheckpoint()
    val r = c.queryExecution.analyzed.collectFirst { case r: LogicalRDD => r }.get
    assert(r.outputPartitioning.isInstanceOf[UnknownPartitioning])
    assert(r.rdd.getNumPartitions == parts)
    c
  }

  /** The shuffles of a frame's physical plan as planned (AQE's initial
    * plan: what EnsureRequirements inserted). */
  private def shuffles(df: DataFrame): Seq[ShuffleExchangeExec] =
    collect(df.queryExecution.executedPlan) { case e: ShuffleExchangeExec => e }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  private val queries: Seq[(String, (DataFrame, DataFrame) => DataFrame)] = Seq(
    "groupBy" -> ((d, _) => d.groupBy("lang").agg(count(lit(1)).as("n"),
      max("doc_id").as("m"))),
    "window" -> ((d, _) => d.withColumn("r", row_number().over(
      Window.partitionBy("source").orderBy("doc_id")))),
    "distinct" -> ((d, _) => d.select("lang", "source").distinct()),
    "join" -> ((d, o) => d.join(o.select(col("doc_id"),
      length(col("text")).as("len")), Seq("doc_id"))))

  test("over a one-partition checkpoint: no exchange, same rows") {
    val other = docs.filter(col("doc_id") % 3 === 0)
    val c = checkpointed(docs, 1)
    val o = checkpointed(other, 1)
    queries.foreach { case (name, q) =>
      val df = q(c, o)
      assert(rows(df) == rows(q(docs, other)), name)
      assert(shuffles(df).isEmpty, s"$name:\n${df.queryExecution.executedPlan}")
    }
  }

  test("two-partition and empty checkpoints still shuffle") {
    val two = checkpointed(docs.repartition(2), 2)
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], docs.schema)
    assert(empty.rdd.getNumPartitions == 0)
    queries.filter(_._1 != "join").foreach { case (name, q) =>
      assert(shuffles(q(two, two)).nonEmpty, s"two partitions, $name")
      assert(shuffles(q(empty, empty)).nonEmpty, s"empty, $name")
      assert(rows(q(two, two)) == rows(q(docs, docs)), name)
      assert(rows(q(empty, empty)).isEmpty, name)
    }
  }

  test("a join with a wide scan does not collapse the wide side") {
    val wideDir = "/tmp/graft_single_partition_wide"
    docs.select(col("doc_id"), length(col("text")).as("len"))
      .repartition(3).write.mode("overwrite").parquet(wideDir)
    val wide = spark.read.parquet(wideDir)
    assert(wide.rdd.getNumPartitions == 3)
    val c = checkpointed(docs, 1)
    val df = c.join(wide.hint("shuffle_merge"), Seq("doc_id"))
    // both sides hash-shuffle to the session's fan-out, as without the rule
    val sides = shuffles(df)
    assert(sides.length == 2, df.queryExecution.executedPlan)
    sides.foreach(e => assert(e.outputPartitioning.numPartitions ==
      spark.sessionState.conf.numShufflePartitions, e))
    assert(rows(df) == rows(docs.join(wide, Seq("doc_id"))))
  }

  test("nearDupPairs: band exchange on multi-partition input only, same pairs") {
    val clones = docs.filter(col("doc_id") % 9 === 0)
      .select((col("doc_id") + 100000).as("doc_id"),
        concat(col("text"), lit(" graftclone end")).as("text"))
    val input = docs.select("doc_id", "text").unionByName(clones)
    def bandShuffles(df: DataFrame): Seq[SparkPlan] =
      shuffles(df).filter(_.shuffleOrigin == REPARTITION_BY_COL)
    val one = Dedup.nearDupPairs(checkpointed(input.repartition(1), 1),
      "doc_id", "text")
    val many = Dedup.nearDupPairs(checkpointed(input.repartition(3), 3),
      "doc_id", "text")
    assert(bandShuffles(many).nonEmpty, many.queryExecution.executedPlan)
    assert(shuffles(one).isEmpty, one.queryExecution.executedPlan)
    val pairs = rows(one.select("doc_a", "doc_b"))
    assert(pairs.nonEmpty && pairs == rows(many.select("doc_a", "doc_b")))
  }
}
