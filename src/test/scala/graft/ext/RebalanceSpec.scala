package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Pins the one spread rule (TextOps.rebalance): spread round-robin to
  * the session parallelism iff the frame is not checkpoint-rooted and
  * its logical plan estimates fewer partitions than that. Leaves read
  * their real layout, narrow nodes inherit, `Union` sums, a broadcast
  * join inherits its streamed side, and every shuffle output is wide
  * and never re-spread (re-spreading those was the r15 regression
  * cluster). Also pins the band-exchange question the rule shares,
  * TextOps.onOnePartitionCheckpoint.
  */
class RebalanceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val p = spark.sparkContext.defaultParallelism

  /** True iff rebalance spread `df`; a spread always lands on `p`. */
  private def spreads(df: DataFrame): Boolean = {
    val out = TextOps.rebalance(df)
    if (out eq df) false
    else { assert(out.rdd.getNumPartitions == p); true }
  }

  /** Local relation of `n` (id: long) rows. */
  private def local(n: Int): DataFrame = {
    val s = spark
    import s.implicits._
    Seq.tabulate(n)(_.toLong).toDF("id")
  }

  /** One small parquet file: one input split. */
  private lazy val oneFilePath: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-rebalance")
      .resolve("scan").toString
    spark.range(20).toDF("id").coalesce(1).write.parquet(dir)
    dir
  }
  private def scan: DataFrame = spark.read.parquet(oneFilePath)

  private def checkpoint(parts: Int): DataFrame = {
    val c = spark.range(50).toDF("id").repartition(parts).localCheckpoint()
    assert(c.rdd.getNumPartitions == parts)
    c
  }

  test("a checkpoint is never re-spread, at one partition or at three") {
    assert(3 < p)
    for (c <- Seq(checkpoint(1), checkpoint(3))) {
      assert(!spreads(c))
      assert(!spreads(c.select(col("id") + 1).filter(col("id") > 2)))
      assert(!spreads(c.join(broadcast(checkpoint(1)), "id")))
    }
  }

  test("small local/leaf inputs under parallelism still rebalance") {
    // a narrow chain over a one-file scan or a local relation spreads to p
    assert(spreads(scan))
    assert(spreads(scan.select((col("id") * 2).as("x")).filter(col("x") > 3)))
    assert(spreads(local(3)))
    assert(spreads(local(3).select(col("id") + 1)))
    assert(!spreads(local(p))) // min(rows, p) partitions: already p wide
  }

  test("union sums children; non-broadcast join estimates shuffle-wide") {
    assert(spreads(scan.unionByName(scan))) // 1 + 1 < p
    assert(spreads(local(p - 1)))
    assert(!spreads(scan.unionByName(local(p - 1)))) // 1 + (p - 1) = p
    // without a broadcast side the join is a shuffle: wide
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val a = s.read.parquet(oneFilePath)
    assert(!spreads(a.join(a.withColumn("v", lit(1)), "id")))
  }

  test("broadcast-joined frame inherits the streamed side's estimate") {
    val small = local(1).withColumn("v", lit("a"))
    assert(spreads(scan.join(broadcast(small), "id")))
    assert(!spreads(local(p).join(broadcast(small), "id")))
  }

  test("aggregate and window outputs estimate shuffle-wide (no re-shuffle)") {
    // and so do distinct, repartition, global sort and limit outputs
    val tiny = local(3)
    assert(spreads(tiny))
    assert(!spreads(tiny.groupBy(col("id") % 2).count()))
    assert(!spreads(tiny.distinct()))
    assert(!spreads(tiny.withColumn("r",
      row_number().over(Window.partitionBy(col("id") % 2).orderBy("id")))))
    assert(!spreads(tiny.repartition(2)))
    assert(!spreads(tiny.orderBy("id")))
    // (a limit over a local relation folds into a smaller local
    // relation, so the limit runs over the scan)
    assert(!spreads(scan.limit(2)))
    assert(!spreads(spark.range(3).toDF("id"))) // unknown leaf: wide
  }

  test("localCheckpoint leaf reads its real RDD partition count") {
    // the band-exchange skip: only a narrow chain over a one-partition
    // checkpoint runs as one partition
    assert(TextOps.onOnePartitionCheckpoint(checkpoint(1)))
    assert(TextOps.onOnePartitionCheckpoint(
      checkpoint(1).select(col("id") * 2).filter(col("id") > 1)))
    assert(!TextOps.onOnePartitionCheckpoint(checkpoint(3)))
    assert(!TextOps.onOnePartitionCheckpoint(
      checkpoint(1).unionByName(checkpoint(1))))
    assert(!TextOps.onOnePartitionCheckpoint(
      checkpoint(1).groupBy(col("id") % 2).count()))
    assert(!TextOps.onOnePartitionCheckpoint(local(1)))
    assert(!TextOps.onOnePartitionCheckpoint(scan))
  }
}
