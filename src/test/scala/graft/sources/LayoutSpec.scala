package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The layout helpers must actually change the plans: partitioned
  * writes prune directories, and same-bucketed tables join with no
  * shuffle exchange.
  */
class LayoutSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("bucketed tables sort-merge-join without a shuffle exchange") {
    val left = (1 to 1000).map(i => (i.toLong % 50, i.toLong, i * 1.0))
      .toDF("k", "id", "v")
    val right = (1 to 200).map(i => (i.toLong % 50, s"tag$i")).toDF("k", "tag")
    Layout.writeBucketed(left, "bucketed_l", Seq("k"), 8, Seq("k"))
    Layout.writeBucketed(right, "bucketed_r", Seq("k"), 8, Seq("k"))
    // plain plan (no AQE re-writes), no broadcast: a bucket-aligned
    // SMJ must need zero ShuffleExchange nodes. The flags go on a
    // session of its own, never on the shared TestSpark session.
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val prevActive = SparkSession.getActiveSession
    SparkSession.setActiveSession(s)
    try {
      val joined = s.table("bucketed_l").join(s.table("bucketed_r"), "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"))
      assert(!plan.contains("ShuffleExchange") && !plan.contains("Exchange hashpartitioning"),
        s"bucket-aligned join must not shuffle:\n$plan")
      assert(joined.count() ===
        left.join(right, "k").count())
    } finally {
      prevActive.fold(SparkSession.clearActiveSession())(
        SparkSession.setActiveSession)
      spark.sql("DROP TABLE IF EXISTS bucketed_l")
      spark.sql("DROP TABLE IF EXISTS bucketed_r")
    }
  }

  test("z-order write clusters BOTH dimensions into narrow per-file ranges") {
    // 64k rows over a 256×256 key grid, written as 16 z-range files:
    // the top 4 z bits are y7,x7,y6,x6, so files split y into 4 bands
    // and x into 4 bands — every file must cover a small rectangle,
    // not a full-width stripe (what a plain sort on one key produces).
    val dir = java.nio.file.Files.createTempDirectory("graft-zorder").toString
    val df = (0 until 65536).map(i => (i % 256L, i / 256L)).toDF("x", "y")
    Layout.writeZOrdered(df, dir, "x", "y", bits = 8, numFiles = 16)
    val spans = spark.read.parquet(dir)
      .groupBy(input_file_name().as("f"))
      .agg((max("x") - min("x")).as("xspan"), (max("y") - min("y")).as("yspan"))
      .collect()
    assert(spans.length === 16)
    info("spans: " + spans.map(r => (r.getLong(1), r.getLong(2))).mkString(", "))
    // range boundaries come from sampling, so a file straddling a
    // high-bit flip of the Morton curve can span wide in one
    // dimension; the LAYOUT claim is statistical: most files are
    // narrow rectangles, where a plain one-column sort pins every
    // file's other dimension at full width (255).
    def narrow(v: Seq[Long]) = v.count(_ <= 128)
    assert(narrow(spans.map(_.getLong(1))) >= 12,
      s"too few x-narrow files: ${spans.map(_.getLong(1)).mkString(",")}")
    assert(narrow(spans.map(_.getLong(2))) >= 12,
      s"too few y-narrow files: ${spans.map(_.getLong(2)).mkString(",")}")
    // round trip loses nothing and the z column does not leak
    val back = spark.read.parquet(dir)
    assert(back.columns.toSeq.sorted === Seq("x", "y"))
    assert(back.count() === 65536L)
  }

  test("zorderValue2 interleaves bits with y in the high positions") {
    val out = Seq((3L, 0L), (0L, 3L), (2L, 1L), (255L, 255L))
      .toDF("x", "y")
      .select(Layout.zorderValue2(col("x"), col("y"), bits = 8).as("z"))
      .collect().map(_.getLong(0))
    assert(out(0) === 5L)     // x=0b11  -> bits 0,2
    assert(out(1) === 10L)    // y=0b11  -> bits 1,3
    assert(out(2) === 6L)     // x=0b10 -> bit 2; y=0b1 -> bit 1
    assert(out(3) === 65535L) // all 16 low bits set
  }

  test("zorderExtentAudit buckets match a brute-force replay and are narrow") {
    // 32×32 grid: quantization is identity-scaled, buckets must tile
    // the z space into narrow rectangles with every row accounted for
    val df = (0 until 1024).map(i => (i % 32L, i / 32L)).toDF("x", "y")
    val audit = Layout.zorderExtentAudit(df, "x", "y", bits = 8, buckets = 16)
      .collect()
    assert(audit.map(_.getLong(1)).sum === 1024L)
    // every bucket's rectangle is at most a quarter of each axis: the
    // fixed-width z ranges cut the top 4 Morton bits (y7x7y6x6 of the
    // scaled coords) so no bucket spans more than 1/4 of x or y
    audit.foreach { r =>
      assert(r.getLong(3) - r.getLong(2) <= 8,
        s"x span too wide in bucket ${r.getLong(0)}: $r")
      assert(r.getLong(5) - r.getLong(4) <= 8,
        s"y span too wide in bucket ${r.getLong(0)}: $r")
    }
    // deterministic: a re-run (different partitioning) is identical
    val again = Layout.zorderExtentAudit(df.repartition(7), "x", "y",
      bits = 8, buckets = 16).collect()
    assert(audit.map(_.toSeq).toSet === again.map(_.toSeq).toSet)
  }

  test("parquetColumnStats reads per-row-group min/max; rgPruneAudit prices a range scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft-rgstats").toString
    // 4 files of 2 row groups each: id-sorted, so footer ranges tile
    (0 until 4).foreach { f =>
      val part = (f * 1000 until (f + 1) * 1000).map(_.toLong).toDF("id")
        .coalesce(1).sortWithinPartitions("id")
      part.write.option("parquet.block.size", "4096")
        .mode("overwrite").parquet(s"$dir/f$f")
    }
    val stats = Layout.parquetColumnStats(spark, dir, "id").collect()
    assert(stats.length >= 4, s"expected >=4 row groups, got ${stats.length}")
    // footer bounds cover exactly the written ids, disjointly
    assert(stats.map(_.getLong(2)).sum === 4000L)
    stats.foreach { r =>
      assert(!r.isNullAt(3) && !r.isNullAt(4))
      assert(r.getLong(3) <= r.getLong(4))
    }
    assert(stats.map(_.getLong(3)).min === 0L)
    assert(stats.map(_.getLong(4)).max === 3999L)
    // a scan for id ∈ [1200, 1300] must skip every row group whose
    // footer interval misses the range, and scan the rest
    val audit = Layout.rgPruneAudit(spark, dir, "id", 1200L, 1300L)
    val byFile = audit.collect().map(r =>
      r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val totalRows = byFile.map(t => t._2._3 + t._2._4).sum
    assert(totalRows === 4000L)
    val scanned = byFile.map(_._2._3).sum
    assert(scanned < 4000L, "pruning must skip something")
    // the scanned row groups are exactly those overlapping the range
    val overlapRows = stats.filter(r =>
      r.getLong(4) >= 1200L && r.getLong(3) <= 1300L).map(_.getLong(2)).sum
    assert(scanned === overlapRows)
  }

  test("codecAudit rolls up per-column codec and byte totals from footers") {
    val dir = java.nio.file.Files.createTempDirectory("graft-codec").toString
    (1 to 5000).map(i => (i.toLong, s"text-$i-${"pad" * 20}"))
      .toDF("id", "txt").write.mode("overwrite").parquet(dir)
    val audit = Layout.codecAudit(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getLong(3), r.getLong(4),
        r.getLong(5))).toMap
    assert(audit.keySet === Set("id", "txt"))
    audit.values.foreach { case (codec, comp, raw, pct) =>
      assert(codec.nonEmpty && comp > 0 && raw > 0)
      assert(pct === comp * 100 / math.max(raw, 1))
    }
    // the highly repetitive txt column must actually compress
    assert(audit("txt")._4 < 100, s"txt should compress: ${audit("txt")}")
  }

  test("schemaAudit reports retypes, drops, and additions across generations") {
    val dir = java.nio.file.Files.createTempDirectory("graft-drift").toString
    Seq((1L, "a", 10L)).toDF("id", "txt", "old_col")
      .repartition(1).write.mode("overwrite").parquet(s"$dir/g1")
    Seq((2, "b", 1.5)).toDF("id", "txt", "new_col")
      .repartition(1).write.mode("overwrite").parquet(s"$dir/g2")
    val got = Layout.schemaAudit(spark, dir).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
      .toMap
    assert(got("id") === ((2L, 0L, 2L, "INT32,INT64")))
    assert(got("txt") === ((2L, 0L, 1L, "BYTE_ARRAY")))
    assert(got("old_col") === ((1L, 1L, 1L, "INT64")))
    assert(got("new_col") === ((1L, 1L, 1L, "DOUBLE")))
  }

  test("schemaAudit names nested leaves by their full dotted path") {
    // two structs may share a leaf name — the dotted path is the
    // identity. (The q_schema_drift gate fixture stays FLAT because
    // DuckDB's parquet_schema reports bare leaf names; this spec is
    // the nested-naming pin.)
    val dir = java.nio.file.Files.createTempDirectory("graft-nest").toString
    Seq((1L, "x")).toDF("id", "v")
      .select(col("id"),
        struct(col("id").as("a"), col("v").as("b")).as("props"),
        struct(col("id").as("a")).as("meta"))
      .repartition(1).write.mode("overwrite").parquet(s"$dir/g1")
    val names = Layout.schemaAudit(spark, dir)
      .collect().map(_.getString(0)).toSet
    assert(names === Set("id", "props.a", "props.b", "meta.a"))
  }

  test("partitioned write prunes directories for equality predicates") {
    val dir = java.nio.file.Files.createTempDirectory("graft-layout").toString
    val df = (1 to 100).map(i => (i % 4, i.toLong)).toDF("part", "id")
    Layout.writePartitioned(df, dir, Seq("part"))
    val pruned = spark.read.parquet(dir).filter(col("part") === 2)
    val scan = pruned.queryExecution.executedPlan.toString
    assert(pruned.count() === 25)
    // the file listing itself is restricted to one partition directory
    assert(scan.contains("PartitionFilters: [isnotnull(part"),
      s"expected partition filters in:\n$scan")
  }

  test("the driver-side hash inverse equals Spark's own hash-partitioning " +
      "probe for n in 1..512") {
    // the probe the inverse replaces: over ids 0 until n*64, the
    // smallest id per pmod(hash(id), n) — one job for every n at once
    val probe = spark.range(1, 513).select(col("id").cast("int").as("n"))
      .select(col("n"), explode(sequence(lit(0L), col("n").cast("long") * 64 - 1)).as("id"))
      .groupBy(col("n"), pmod(hash(col("id")), col("n")).as("b"))
      .agg(min("id").as("pid"))
      .collect().groupBy(_.getInt(0)).map { case (n, rs) =>
        n -> rs.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq
      }
    assert(probe.keySet == (1 to 512).toSet)
    (1 to 512).foreach { n =>
      assert(probe(n).length == n, s"n=$n: the probe missed a partition")
      assert(Layout.hashInverse(n).toSeq == probe(n), s"n=$n")
    }
  }
}
