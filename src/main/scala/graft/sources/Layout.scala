package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Physical-layout helpers for the 100 TB posture (SURVEY.md §4.2):
  * partition fact tables by coarse keys (session/date) for partition
  * pruning, bucket join-heavy tables by their join key so co-located
  * joins skip the shuffle entirely, and sort within buckets on the
  * as-of key so ordered windows skip their sort.
  */
object Layout {

  /** The HASH INVERSE for `repartition(n, col)` over a long column:
    * element b is the smallest id >= 0 that Spark's hash partitioning
    * places in partition b (`pmod(murmur3(id, 42), n)` — the
    * `HashPartitioning` expression, evaluated with Spark's own
    * `Murmur3_x86_32` on the driver, no job). Feeding each group
    * through its inverse as the repartition key makes partition ==
    * group, so a partitioned write emits exactly one file per group.
    * Searches the first n·64 ids, as the Spark-side probe did. */
  def hashInverse(n: Int): Array[Long] = {
    require(n >= 1, s"hash inverse needs n >= 1, got $n")
    val inv = Array.fill(n)(-1L)
    var found = 0
    var id = 0L
    while (found < n && id < n * 64L) {
      val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashLong(id, 42)
      val b = ((h % n) + n) % n
      if (inv(b) < 0) { inv(b) = id; found += 1 }
      id += 1
    }
    require(found == n, s"hash-inverse probe found $found of $n partitions")
    inv
  }

  /** Directory-partitioned parquet: scans with equality/range
    * predicates on `partitionCols` prune whole directories. */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)

  /** Bucketed + sorted managed table: two tables bucketed the same way
    * on the join key sort-merge-join with NO exchange — at 100 TB this
    * converts every laps⋈stints / laps⋈telemetry join from a full
    * shuffle into a per-bucket local merge. */
  def writeBucketed(df: DataFrame, table: String, bucketCols: Seq[String],
                    numBuckets: Int, sortCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
    val sorted = if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w
    sorted.format("parquet").saveAsTable(table)
  }

  /** Morton (Z-order) interleave of two pre-quantized non-negative
    * columns: x occupies even bits, y odd bits — so y's top bit is the
    * most significant. Pure builtin bit math, codegen-friendly. */
  def zorderValue2(x: Column, y: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(call_function("shiftleft",
          shiftright(x, i).bitwiseAND(lit(1L)), lit(2 * i)))
        .bitwiseOR(call_function("shiftleft",
          shiftright(y, i).bitwiseAND(lit(1L)), lit(2 * i + 1)))
    }
  }

  /** Z-order-clustered parquet write: quantize both columns to `bits`
    * over their observed [min, max] (one bounded 4-value agg collect —
    * the same control-plane stats pass a table OPTIMIZE does),
    * interleave into a Morton value, range-partition into `numFiles`
    * and sort within each. Every output file then covers a narrow
    * rectangle in (xCol, yCol) space, so min/max file- and row-group
    * stats prune scans filtered on EITHER column — the layout that
    * keeps multi-dimension point/range lookups off a 100 TB full scan
    * when directory partitioning can only serve one key. */
  def writeZOrdered(df: DataFrame, path: String, xCol: String, yCol: String,
                    bits: Int = 16, numFiles: Int = 8): Unit = {
    val Array(stats) = df.agg(
      min(col(xCol)).cast("double").as("xmin"),
      max(col(xCol)).cast("double").as("xmax"),
      min(col(yCol)).cast("double").as("ymin"),
      max(col(yCol)).cast("double").as("ymax")).collect()
    if (stats.anyNull) { // empty or all-NULL keys: nothing to cluster
      df.write.mode("overwrite").parquet(path)
      return
    }
    val (xmin, xmax) = (stats.getDouble(0), stats.getDouble(1))
    val (ymin, ymax) = (stats.getDouble(2), stats.getDouble(3))
    val scale = (1L << bits) - 1
    def quant(c: Column, lo: Double, hi: Double): Column =
      if (hi <= lo) lit(0L)
      else least(lit(scale), greatest(lit(0L),
        floor((c.cast("double") - lit(lo)) / lit(hi - lo) * lit(scale.toDouble))
          .cast("long")))
    val z = zorderValue2(
      quant(col(xCol), xmin, xmax), quant(col(yCol), ymin, ymax), bits)
    // File assignment is a FIXED-WIDTH z-range bucket, not
    // repartitionByRange: range partitioning samples its boundaries,
    // so the row→file map would shift with the upstream partition
    // layout — the fan-out dependence DeterminismSpec forbids for
    // anything a gate reads (rgPruneAudit reports per-file stats over
    // this write). The trade is file-size balance: fixed widths skew
    // when z is non-uniform; a production write that prefers balanced
    // bytes over reproducible assignment flips back to sampled ranges
    // (same trade zorderExtentAudit documents for its buckets).
    val width = math.max(1L, (1L << (2 * bits)) / numFiles)
    // repartition(n, key) places a row at pmod(murmur3(key), n), so
    // raw buckets would COLLIDE into shared files (two disjoint
    // z-ranges in one file = wide min/max = no pruning). Feeding the
    // bucket through its hash inverse ([[hashInverse]], driver-side)
    // makes partition == bucket, so every file carries exactly one
    // contiguous z-range.
    val pidMap = map(hashInverse(numFiles).toSeq.zipWithIndex
      .flatMap { case (p, b) => Seq(lit(b.toLong), lit(p)) }: _*)
    // the sort suffixes every payload column so equal-z rows can't
    // permute with the input layout either (row-group stats must not
    // depend on which partition a tie arrived from)
    val tieBreak = df.columns.map(col).toSeq
    df.withColumn("__z", z)
      .withColumn("__zf", least(lit(numFiles - 1L),
        expr(s"__z DIV $width")))
      .withColumn("__pid", element_at(pidMap, col("__zf")))
      .repartition(numFiles, col("__pid"))
      .sortWithinPartitions(col("__z") +: tieBreak: _*)
      .drop("__z", "__zf", "__pid")
      .write.mode("overwrite").parquet(path)
  }

  /** Z-order clustering AUDIT — the driver-checkable face of
    * [[writeZOrdered]]: quantize both (integer) columns to `bits` over
    * their observed [min, max] with ALL-INTEGER arithmetic
    * (q = (x−lo)·scale div max(hi−lo,1) — exactly reproducible in any
    * engine, no float rounding seam), Morton-interleave, assign each
    * row to a fixed-width z-range bucket (bucket = z div (2^2bits /
    * buckets)), and roll up per bucket: row count plus the x/y
    * extents the bucket's file would carry as min/max stats. Tight
    * per-bucket rectangles are the whole point of the layout — this
    * query makes that tightness a gate number. The min/max pass is a
    * 4-value agg cross-joined back in-plan (broadcast, no collect);
    * the rollup is one map-side-combinable agg. Fixed-width z ranges
    * (not repartitionByRange's sampled quantiles) keep the bucket
    * rule deterministic; a production write balances FILE SIZES with
    * range partitioning instead, at the cost of sampled boundaries. */
  def zorderExtentAudit(df: DataFrame, xCol: String, yCol: String,
                        bits: Int = 8, buckets: Int = 16): DataFrame = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val stats = df.agg(
      min(col(xCol)).cast("long").as("__xlo"),
      max(col(xCol)).cast("long").as("__xhi"),
      min(col(yCol)).cast("long").as("__ylo"),
      max(col(yCol)).cast("long").as("__yhi"))
    val scale = (1L << bits) - 1
    // integer DIV (not Column./, which is double division): exact at
    // any magnitude and identical to DuckDB's `//`
    def quant(c: String, lo: String, hi: String): Column = expr(
      s"((CAST($c AS BIGINT) - $lo) * $scale) DIV greatest($hi - $lo, 1)")
    val width = java.lang.Math.max((1L << (2 * bits)) / buckets, 1L)
    df.crossJoin(broadcast(stats))
      .withColumn("__z", zorderValue2(
        quant(xCol, "__xlo", "__xhi"),
        quant(yCol, "__ylo", "__yhi"), bits))
      .groupBy(expr(s"__z DIV $width").cast("long").as("bucket_id"))
      .agg(count(lit(1)).as("n_rows"),
        min(col(xCol)).cast("long").as("x_min"),
        max(col(xCol)).cast("long").as("x_max"),
        min(col(yCol)).cast("long").as("y_min"),
        max(col(yCol)).cast("long").as("y_max"))
  }

  /** Parquet footer inventory — the layout-observability face of the
    * module: one row per (file, row group) with its row count and
    * leaf-column-chunk count, read straight from the footers. At
    * 100 TB this manifest job is how a pipeline audits its own
    * layout (row groups per file, rows per row group — the knobs
    * `maxPartitionBytes` and partition pruning actually see) without
    * scanning a byte of data. Footer reads DISTRIBUTE: the file list
    * is a Dataset and each task opens only its own footers — a
    * driver-side loop over a million files is the anti-pattern this
    * shape avoids. Accepts a single parquet file or a directory of
    * part files. */
  def parquetLayout(spark: org.apache.spark.sql.SparkSession,
                    path: String): DataFrame = {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    spark.createDataset(listParquet(path))
      .repartition(math.min(listParquet(path).size,
        spark.sparkContext.defaultParallelism))
      .flatMap { p =>
        val conf = new org.apache.hadoop.conf.Configuration()
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(new org.apache.hadoop.fs.Path(p), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          r.getFooter.getBlocks.asScala.toSeq.zipWithIndex.map {
            case (b, i) =>
              (p.substring(p.lastIndexOf('/') + 1), i.toLong,
                b.getRowCount, b.getColumns.size.toLong)
          }
        } finally r.close()
      }
      .toDF("file_name", "row_group_id", "n_rows", "n_columns")
  }

  /** Parquet leaf files under `path`: a plain file is itself; a
    * directory expands recursively (directory-shaped tables like
    * `documents.parquet/part-*.parquet` flatten to their parts,
    * non-parquet siblings like _SUCCESS are skipped). */
  private[graft] def listParquet(path: String): Seq[String] = {
    def expand(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        f.listFiles().toSeq
          .filter(x => x.isDirectory || x.getName.endsWith(".parquet"))
          .flatMap(expand)
      else Seq(f)
    expand(new java.io.File(path)).map(_.getAbsolutePath).sorted
  }

  /** Per-row-group MIN/MAX footer statistics for one integer column —
    * the exact numbers a scan's row-group pruning reads. One row per
    * (file, row group) with the group's row count and the column
    * chunk's min/max (null when the footer carries no stats).
    * Distributed footer reads like [[parquetLayout]]; zero data
    * scanned. At 100 TB this is the observability half of every
    * layout decision: [[writeZOrdered]] exists to make these ranges
    * narrow, and [[rgPruneAudit]] turns them into a skip ratio. */
  def parquetColumnStats(spark: org.apache.spark.sql.SparkSession,
                         path: String, column: String): DataFrame =
    parquetColumnStatsFiles(spark, listParquet(path), column)

  /** [[parquetColumnStats]] over an explicit file list (the
    * manifest-table form [[Merge.mergeFiles]] plans from). */
  def parquetColumnStatsFiles(spark: org.apache.spark.sql.SparkSession,
                              files: Seq[String], column: String)
      : DataFrame = {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    spark.createDataset(files)
      .repartition(math.min(math.max(files.size, 1),
        spark.sparkContext.defaultParallelism))
      .flatMap { p =>
        val conf = new org.apache.hadoop.conf.Configuration()
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(new org.apache.hadoop.fs.Path(p), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          r.getFooter.getBlocks.asScala.toSeq.zipWithIndex.map {
            case (b, i) =>
              val chunk = b.getColumns.asScala
                .find(_.getPath.toDotString == column)
              val st = chunk.map(_.getStatistics).orNull
              def bound(v: => Any): Option[Long] =
                if (st == null || st.isEmpty || !st.hasNonNullValue) None
                else Some(v.asInstanceOf[Number].longValue)
              (p.substring(p.lastIndexOf('/') + 1), i.toLong,
                b.getRowCount,
                bound(st.genericGetMin), bound(st.genericGetMax))
          }
        } finally r.close()
      }
      .toDF("file_name", "row_group_id", "n_rows", "col_min", "col_max")
  }

  /** Row-group PRUNING audit for a range predicate `column ∈ [lo,hi]`:
    * per file, how many row groups (and rows) a min/max-stats-driven
    * scan skips without reading a byte of data — the measured answer
    * to "did the layout work?". A row group is prunable exactly when
    * its footer interval misses [lo, hi]; groups with absent stats
    * count as scanned (a reader must). This is the same decide-from-
    * data posture as the skew/dedup audits: at 100 TB the difference
    * between a clustered and an unclustered table IS this ratio, and
    * it comes from footers alone. */
  def rgPruneAudit(spark: org.apache.spark.sql.SparkSession,
                   path: String, column: String,
                   lo: Long, hi: Long): DataFrame = {
    require(lo <= hi, s"lo must be <= hi, got [$lo, $hi]")
    val prunable = col("col_max") < lo || col("col_min") > hi
    parquetColumnStats(spark, path, column)
      .groupBy(col("file_name"))
      .agg(count(lit(1)).as("n_row_groups"),
        sum(when(prunable, 1L).otherwise(0L)).as("n_pruned"),
        sum(when(prunable, lit(0L)).otherwise(col("n_rows")))
          .as("rows_scanned"),
        sum(when(prunable, col("n_rows")).otherwise(lit(0L)))
          .as("rows_skipped"))
  }

  /** Per-FILE footer stats — the [[parquetLayout]] pass rolled up to
    * one row per file, adding `file_bytes` = Σ row-group compressed
    * bytes (the footer's own Σ column-chunk total_compressed_size —
    * the comparable byte metric DuckDB's parquet_metadata exposes).
    * Distributed footer reads, zero data scanned. */
  def parquetFileStats(spark: org.apache.spark.sql.SparkSession,
                       path: String): DataFrame =
    parquetFileStatsFiles(spark, listParquet(path))

  /** [[parquetFileStats]] over an explicit file list (the
    * manifest-table form). */
  def parquetFileStatsFiles(spark: org.apache.spark.sql.SparkSession,
                            files: Seq[String]): DataFrame = {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    spark.createDataset(files)
      .repartition(math.min(math.max(files.size, 1),
        spark.sparkContext.defaultParallelism))
      .map { p =>
        val conf = new org.apache.hadoop.conf.Configuration()
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(new org.apache.hadoop.fs.Path(p), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          val blocks = r.getFooter.getBlocks.asScala.toSeq
          (p.substring(p.lastIndexOf('/') + 1), blocks.size.toLong,
            blocks.map(_.getRowCount).sum,
            blocks.map(_.getCompressedSize).sum)
        } finally r.close()
      }
      .toDF("file_name", "n_row_groups", "n_rows", "file_bytes")
  }

  /** Per-column COMPRESSION audit from footers alone: codec,
    * chunk count, compressed/uncompressed byte totals, and the
    * integer compression ratio (pct, DIV — engine-exact). The codec
    * decision at 100 TB (zstd vs snappy vs none per column) is a
    * measured trade, and this query is the measurement: distributed
    * footer reads, zero data scanned, same posture as the
    * layout/compaction audits. */
  def codecAudit(spark: org.apache.spark.sql.SparkSession,
                 path: String): DataFrame = {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    spark.createDataset(listParquet(path))
      .repartition(math.min(listParquet(path).size,
        spark.sparkContext.defaultParallelism))
      .flatMap { p =>
        val conf = new org.apache.hadoop.conf.Configuration()
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(new org.apache.hadoop.fs.Path(p), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          r.getFooter.getBlocks.asScala.toSeq.flatMap { b =>
            b.getColumns.asScala.toSeq.map { c =>
              (c.getPath.toDotString, c.getCodec.name,
                c.getTotalSize, c.getTotalUncompressedSize)
            }
          }
        } finally r.close()
      }
      .toDF("column_name", "codec", "__comp", "__raw")
      .groupBy("column_name", "codec")
      .agg(count(lit(1)).as("n_chunks"),
        sum("__comp").as("bytes_comp"),
        sum("__raw").as("bytes_raw"))
      .withColumn("ratio_pct",
        expr("(bytes_comp * 100) DIV greatest(bytes_raw, 1)"))
  }

  /** Schema-DRIFT audit over a parquet directory tree — the ingest
    * guard a long-lived 100 TB corpus needs before every scan-wide
    * job: upstream producers add columns, retype ids (INT32 vs
    * INT64), or drop fields, and a reader that infers schema from one
    * file silently nulls or crashes on the rest. Pure footer
    * metadata, distributed like [[codecAudit]] (each task opens only
    * its own files' footers; zero data pages read). One row per leaf
    * column path: how many files carry it, how many MISS it, how many
    * distinct physical types it appears as, and the sorted type list
    * — `n_missing > 0` or `n_types > 1` is the drift flag a pipeline
    * gates on. The file manifest is the one driver-side piece (same
    * bounded listing every query here starts from). */
  def schemaAudit(spark: org.apache.spark.sql.SparkSession,
                  path: String): DataFrame = {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val files = listParquet(path)
    val total = files.size.toLong
    spark.createDataset(files)
      .repartition(math.min(files.size,
        spark.sparkContext.defaultParallelism))
      .flatMap { p =>
        val conf = new org.apache.hadoop.conf.Configuration()
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(new org.apache.hadoop.fs.Path(p), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          r.getFooter.getFileMetaData.getSchema.getColumns.asScala.toSeq
            .map { cd =>
              // parquet-mr's enum says BINARY where the format spec
              // (and every other reader) says BYTE_ARRAY — emit the
              // spec name so reports line up across engines
              val raw = cd.getPrimitiveType.getPrimitiveTypeName.name
              val spec = if (raw == "BINARY") "BYTE_ARRAY" else raw
              (p, cd.getPath.mkString("."), spec)
            }
        } finally r.close()
      }
      .toDF("__file", "column_name", "ptype")
      .groupBy("column_name")
      .agg(countDistinct("__file").as("n_files"),
        countDistinct("ptype").as("n_types"),
        array_join(array_sort(collect_set(col("ptype"))), ",").as("types"))
      .select(col("column_name"), col("n_files"),
        (lit(total) - col("n_files")).as("n_missing"),
        col("n_types"), col("types"))
  }

  /** Small-file COMPACTION plan — the maintenance job every long-run
    * ingest needs at 100 TB (streaming sinks and per-partition writes
    * strand thousands of KB-scale files; scans then pay a task and a
    * footer round-trip per file): group files into merge jobs of
    * ≈`targetBytes` each. Deterministic rule, exactly reproducible in
    * SQL: files sort by name, concatenate virtually, and each file
    * joins the group its START offset falls in —
    * group_id = floor(cum_bytes_before / targetBytes) — so groups
    * meet the target to within one file, no bin-packing heuristics.
    * The plan is pure FOOTER metadata (distributed reads via
    * [[parquetFileStats]]); the global byte-offset cumsum decomposes
    * by a sort-key-prefix bucket (per-bucket window + broadcast
    * bucket offsets — the epoch-shuffle pattern), so even a
    * million-file manifest never funnels through one window task.
    * Output: one row per file with its group assignment plus the
    * group's rolled-up bytes/file-count, ready to drive a
    * per-group coalesce-rewrite. */
  def compactionPlan(spark: org.apache.spark.sql.SparkSession,
                     path: String, targetBytes: Long): DataFrame =
    compactionPlanFiles(spark, listParquet(path), targetBytes)

  /** [[compactionPlan]] over an explicit file list (the
    * manifest-table form). */
  def compactionPlanFiles(spark: org.apache.spark.sql.SparkSession,
                          files: Seq[String], targetBytes: Long)
      : DataFrame = {
    require(targetBytes > 0, s"targetBytes > 0, got $targetBytes")
    import org.apache.spark.sql.expressions.Window
    val stats = parquetFileStatsFiles(spark, files)
    // global cumsum DECOMPOSED by a sort-key-prefix bucket (the
    // epoch-shuffle pattern): a per-bucket window (parallel) plus
    // broadcast cumulative bucket byte-offsets — because the bucket
    // (leading file_name character) is a prefix of the ordering key,
    // bucket-local cumsum + bucket offset equals the global cumsum,
    // and no WindowExec ever funnels the whole list through one task
    val bkt = substring(col("file_name"), 1, 1)
    val wLocal = Window.partitionBy("__bkt").orderBy("file_name")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = stats.withColumn("__bkt", bkt)
      .withColumn("__cumLocal",
        sum(col("file_bytes")).over(wLocal) - col("file_bytes"))
    val counts = local.groupBy("__bkt")
      .agg(sum(col("file_bytes")).as("__bb"))
    val lower = broadcast(counts
      .select(col("__bkt").as("__lb"), col("__bb").as("__lc")))
    val offsets = counts.join(lower, col("__lb") < col("__bkt"), "left")
      .groupBy("__bkt")
      .agg(coalesce(sum("__lc"), lit(0L)).as("__off"))
    val wg = Window.partitionBy("group_id")
    local.join(broadcast(offsets), Seq("__bkt"))
      .withColumn("__cum0", col("__off") + col("__cumLocal"))
      .withColumn("group_id",
        expr(s"CAST(__cum0 DIV $targetBytes AS BIGINT)"))
      .withColumn("group_bytes", sum(col("file_bytes")).over(wg))
      .withColumn("n_files_in_group", count(lit(1)).over(wg))
      .select("group_id", "file_name", "file_bytes", "n_row_groups",
        "n_rows", "group_bytes", "n_files_in_group")
  }

  /** Small-file compaction EXECUTOR — runs [[compactionPlan]]'s groups:
    * every source file's rows are read once, routed to their group's
    * task, and each group writes exactly ONE file under
    * `outPath/group_id=N/`. Source files are left in place for the
    * caller to retire after verification (the two-phase commit every
    * production compactor uses — never delete before the re-inventory
    * agrees).
    *
    * Execution is ONE distributed job, not a driver loop of
    * per-group reads: the scan carries `input_file_name()`, a
    * broadcast file→group map routes rows, and the hash-inverse probe
    * (the [[writeZOrdered]] trick) makes partition == group so
    * `partitionBy` emits one file per group directory. The file
    * manifest and plan ride the driver (bounded — the same
    * control-plane listing every footer op here starts from); the
    * DATA never funnels through it.
    *
    * Returns the verification frame the caller gates retirement on —
    * one row per group, plan arithmetic vs re-inventoried output
    * footers: (group_id, n_files_in, plan_rows, out_files, out_rows,
    * rows_match). `rows_match` false anywhere = keep the sources and
    * investigate. Idempotence: re-planning the compacted output at
    * the same target yields only >= targetBytes singleton groups —
    * nothing left to merge (CompactionPlanSpec pins it). */
  def compactGroups(spark: org.apache.spark.sql.SparkSession,
                    srcPath: String, outPath: String,
                    targetBytes: Long): DataFrame =
    compactGroupsFiles(spark, listParquet(srcPath), outPath, targetBytes)

  /** [[compactGroups]] over an explicit file list (the manifest-table
    * form — [[graft.streaming.StreamingOps.compactManifest]] feeds it
    * the current generation's paths). */
  def compactGroupsFiles(spark: org.apache.spark.sql.SparkSession,
                         srcFiles: Seq[String], outPath: String,
                         targetBytes: Long): DataFrame = {
    val plan = compactionPlanFiles(spark, srcFiles, targetBytes)
      .localCheckpoint()
    val byBase = srcFiles
      .map(p => p.substring(p.lastIndexOf('/') + 1) -> p).toMap
    val assign = plan.select("file_name", "group_id").collect()
      .map(r => r.getString(0) -> r.getLong(1))
    require(assign.map(_._1).toSet == byBase.keySet,
      "plan manifest and source listing diverged")
    val groups = assign.map(_._2).distinct.sorted
    val nG = groups.length
    // bucket index per group (contiguous 0..nG-1 even when group ids
    // skip — a file larger than targetBytes advances the id by >1)
    val gIdx = groups.zipWithIndex.toMap
    // partition == bucket via the hash inverse (writeZOrdered)
    val inv = hashInverse(nG)
    val fileToPid = assign.map { case (f, g) => f -> inv(gIdx(g)) }
    val pidMap = map(fileToPid.toSeq
      .flatMap { case (f, p) => Seq(lit(f), lit(p)) }: _*)
    val fileToGroup = map(assign.toSeq
      .flatMap { case (f, g) => Seq(lit(f), lit(g)) }: _*)
    val src = spark.read.parquet(assign.map(f => byBase(f._1)): _*)
    require(!src.columns.contains("group_id"),
      "source already carries a group_id column")
    val base = regexp_extract(input_file_name(), "[^/]+$", 0)
    src
      .withColumn("group_id", element_at(fileToGroup, base))
      .withColumn("__pid", element_at(pidMap, base))
      .repartition(nG, col("__pid"))
      .drop("__pid")
      .write.mode("overwrite").partitionBy("group_id").parquet(outPath)
    // re-inventory the written footers (distributed, zero data read)
    // against the plan's own arithmetic — per group, rows must agree
    // exactly; out_files must be 1 by construction
    import spark.implicits._
    val outFiles = listParquet(outPath).map { p =>
      val g = "group_id=(\\d+)".r.findFirstMatchIn(p)
      (g.map(_.group(1).toLong).getOrElse(-1L), p)
    }
    val outStats = spark.createDataset(outFiles)
      .repartition(math.min(math.max(outFiles.size, 1),
        spark.sparkContext.defaultParallelism))
      .map { case (g, p) =>
        val conf = new org.apache.hadoop.conf.Configuration()
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(new org.apache.hadoop.fs.Path(p), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          import scala.jdk.CollectionConverters._
          (g, r.getFooter.getBlocks.asScala.map(_.getRowCount).sum)
        } finally r.close()
      }
      .toDF("group_id", "__rows")
      .groupBy("group_id")
      .agg(count(lit(1)).as("out_files"), sum("__rows").as("out_rows"))
    plan.groupBy("group_id")
      .agg(count(lit(1)).as("n_files_in"), sum("n_rows").as("plan_rows"))
      .join(outStats, Seq("group_id"), "full")
      .select(col("group_id"),
        coalesce(col("n_files_in"), lit(0L)).as("n_files_in"),
        coalesce(col("plan_rows"), lit(0L)).as("plan_rows"),
        coalesce(col("out_files"), lit(0L)).as("out_files"),
        coalesce(col("out_rows"), lit(0L)).as("out_rows"))
      .withColumn("rows_match", col("plan_rows") === col("out_rows"))
  }
}
