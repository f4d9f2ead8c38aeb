package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Copy-on-write MERGE (upsert + delete) at FILE granularity — the
  * mutation half of the 100 TB table-maintenance story beside
  * [[Layout.compactGroups]]'s compaction half.
  *
  * A corpus table is mostly immutable: a daily merge touches the few
  * files whose key ranges intersect the batch, and nothing else. The
  * executor prices exactly that:
  *
  *   1. PLAN from footers — per source file, the key column's
  *      min/max/rows (zero data scanned, [[Layout.parquetColumnStats]]).
  *      A file is TOUCHED iff some batch key lands in its [min, max]
  *      (files with absent stats count as touched — a reader must).
  *   2. REWRITE touched files only — one distributed job: scan the
  *      touched files, anti-join the batch's keys (broadcast — an
  *      update batch is small by definition), route each surviving
  *      row back to its source file's rewrite unit via the
  *      hash-inverse partition trick, so every unit emits exactly ONE
  *      file under `outPath/unit=<i>/` (unit 0 holds the batch's
  *      surviving rows — replacements + inserts; unit i >= 1 is
  *      touched file i's carried remainder).
  *   3. VERIFY from footers — the returned manifest re-inventories
  *      the written files and carries the retirement arithmetic:
  *      per rewrite, rows_before − rows_after = the file's matched
  *      keys. Untouched files appear as `carry` rows and are never
  *      opened.
  *
  * Sources are left in place for the caller to retire after the
  * manifest agrees (the two-phase commit every production COW table
  * uses); the post-merge table is `untouched sources + outPath`,
  * which [[mergedView]] assembles from the manifest.
  *
  * Contract: `keyCol` is an integer column, non-null, unique per row
  * in BOTH the table and the batch (one update row per key — the
  * standard MERGE multiple-match precondition); `updates` carries the
  * full table schema plus the boolean `deleteCol` (true = delete the
  * key, false = upsert the row). Matched keys are replaced, unmatched
  * non-deleted rows insert, deletes of absent keys are no-ops.
  *
  * Scale shape: the plan and manifest are footer/control-plane work;
  * the one data job reads touched files only, shuffles them once on
  * the routing key, and never funnels data through the driver. A
  * batch touching t of F files costs O(t·filesize + batch) regardless
  * of table size — the claim the spec pins by asserting untouched
  * files produce no output unit. */
object Merge {

  /** Run the merge; returns the retirement-gate manifest, one row per
    * source file plus one for the batch: (file_name, action
    * carry|rewrite|insert, rows_before, rows_after) — rewrite/insert
    * rows_after re-inventoried from the WRITTEN footers ('__new__' is
    * the batch's file_name). */
  def mergeInto(spark: SparkSession, tablePath: String, outPath: String,
                updates: DataFrame, keyCol: String,
                deleteCol: String = "_deleted"): DataFrame =
    mergeFiles(spark, Layout.listParquet(tablePath), outPath, updates,
      keyCol, deleteCol)

  /** [[mergeInto]] over an EXPLICIT file set — the manifest-table
    * form: a table that is a list of files (not a directory) merges
    * without ever listing or touching a directory tree, which is how
    * the streaming sink chains generations (each batch's table = the
    * previous manifest's paths). Same semantics, same manifest. */
  def mergeFiles(spark: SparkSession, files: Seq[String], outPath: String,
                 updates: DataFrame, keyCol: String,
                 deleteCol: String = "_deleted"): DataFrame = {
    import spark.implicits._
    val byBase = files.map(p => p.substring(p.lastIndexOf('/') + 1) -> p).toMap
    require(byBase.size == files.size, "duplicate source base names")
    // an EMPTY table (a manifest generation whose last batch deleted
    // every key) is legal: everything in the batch is an insert
    val tableCols =
      if (files.isEmpty) updates.columns.toSet - deleteCol
      else spark.read.parquet(files: _*).columns.toSet
    require(updates.columns.toSet == tableCols + deleteCol,
      s"updates must carry the table schema plus $deleteCol; got " +
        updates.columns.mkString(", "))
    // footer plan: per file, the key range + row count; absent stats
    // on any row group force the touch (a reader must open it)
    val fstats = Layout.parquetColumnStatsFiles(spark, files, keyCol)
      .groupBy("file_name")
      .agg(min("col_min").as("__kmin"), max("col_max").as("__kmax"),
        sum("n_rows").as("rows_before"),
        max(when(col("col_min").isNull || col("col_max").isNull, 1)
          .otherwise(0)).as("__nostats"))
      .localCheckpoint()
    val ukeys = updates.select(col(keyCol).cast("long").as("__k")).distinct()
    val touched = fstats
      .join(broadcast(ukeys),
        col("__nostats") === 1 ||
          (col("__k") >= col("__kmin") && col("__k") <= col("__kmax")),
        "left_semi")
      .select("file_name").collect().map(_.getString(0)).sorted
    val carrySet = (byBase.keySet -- touched).toSeq.sorted
    // rewrite units: 0 = the batch ('__new__'), i >= 1 = touched file
    // i−1. One output file per unit via the hash inverse
    // (partition == unit — [[Layout.hashInverse]]).
    val units = "__new__" +: touched
    val nU = units.length
    val inv = Layout.hashInverse(nU)
    val unitOf = units.zipWithIndex.map { case (u, i) => u -> i.toLong }.toMap
    val unitMap = map(unitOf.toSeq
      .flatMap { case (u, i) => Seq(lit(u), lit(i)) }: _*)
    val pidMap = map(unitOf.toSeq
      .flatMap { case (u, i) => Seq(lit(i), lit(inv(i.toInt))) }: _*)
    val survivors = updates.filter(!col(deleteCol)).drop(deleteCol)
      .withColumn("unit", lit(0L))
    val carried =
      if (touched.isEmpty) survivors.limit(0)
      else {
        val base = regexp_extract(input_file_name(), "[^/]+$", 0)
        spark.read.parquet(touched.map(byBase): _*)
          .withColumn("unit", element_at(unitMap, base))
          .join(broadcast(ukeys),
            col(keyCol).cast("long") === col("__k"), "left_anti")
      }
    carried.unionByName(survivors)
      .withColumn("__pid", element_at(pidMap, col("unit")))
      .repartition(nU, col("__pid"))
      .drop("__pid")
      .write.mode("overwrite").partitionBy("unit").parquet(outPath)
    // manifest: footer re-inventory of the written units (distributed,
    // zero data read) + carry arithmetic from the source footers
    val outFiles = Layout.listParquet(outPath).flatMap { p =>
      "unit=(\\d+)/".r.findFirstMatchIn(p).map(m => (m.group(1).toLong, p))
    }
    val outStats =
      if (outFiles.isEmpty)
        Seq.empty[(Long, Long)].toDF("__unit", "rows_after")
      else Layout.parquetFileStatsFiles(spark, outFiles.map(_._2))
        .join(outFiles.map { case (u, p) =>
            (p.substring(p.lastIndexOf('/') + 1), u)
          }.toDF("file_name", "__unit"), Seq("file_name"))
        .groupBy("__unit").agg(sum("n_rows").as("rows_after"))
    val unitRows = units.zipWithIndex.map { case (u, i) =>
      (u, i.toLong, if (i == 0) "insert" else "rewrite")
    } ++ carrySet.map(f => (f, -1L, "carry"))
    unitRows.toSeq.toDF("file_name", "__unit", "action")
      .join(fstats.select("file_name", "rows_before"), Seq("file_name"), "left")
      .join(outStats, Seq("__unit"), "left")
      .select(col("file_name"), col("action"),
        coalesce(col("rows_before"), lit(0L)).as("rows_before"),
        when(col("action") === "carry", coalesce(col("rows_before"), lit(0L)))
          .otherwise(coalesce(col("rows_after"), lit(0L))).as("rows_after"))
  }

  /** The post-merge table as a FILE LIST — the manifest's carry
    * paths plus everything the merge wrote. What a manifest-table
    * ([[graft.streaming.StreamingOps.runMergeSink]]) publishes as its
    * next generation; sources never move, retirement is a later
    * vacuum of paths no manifest references. */
  def mergedFiles(files: Seq[String], outPath: String,
                  manifest: DataFrame): Seq[String] = {
    val byBase = files.map(p => p.substring(p.lastIndexOf('/') + 1) -> p).toMap
    val carry = manifest.filter(col("action") === "carry")
      .select("file_name").collect().map(r => byBase(r.getString(0)))
    (carry.toSeq ++ Layout.listParquet(outPath)).sorted
  }

  /** The post-merge table: untouched sources (the manifest's `carry`
    * rows) + everything the merge wrote. Control-plane listing only;
    * the caller points tomorrow's readers here until the sources are
    * retired. */
  def mergedView(spark: SparkSession, tablePath: String, outPath: String,
                 manifest: DataFrame): DataFrame = {
    val all = mergedFiles(Layout.listParquet(tablePath), outPath, manifest)
    // leaf-file reads never infer the unit partition column, so this
    // is the table schema exactly; a merge that emptied the table
    // (all keys deleted, no survivors) has no files and no schema
    if (all.isEmpty) spark.emptyDataFrame
    else spark.read.parquet(all: _*)
  }
}
