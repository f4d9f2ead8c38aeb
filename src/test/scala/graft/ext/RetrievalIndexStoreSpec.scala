package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The persisted BM25 index must be invisible in the answer (query ==
  * Retrieval.bm25TopK over the same logical corpus, bit-for-bit,
  * including across an append and under a changed delta layout) AND
  * visible in the scan (a probe reads strictly fewer posting files
  * than the store holds — the partition-pruning claim, checked on the
  * executed scan's numFiles metric, not asserted from plan text). */
class RetrievalIndexStoreSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def docs: DataFrame =
    graft.sources.Tables.documents(spark, dir).select("doc_id", "text")
  private def corpus: DataFrame = docs.filter(col("doc_id") >= 20)
  private def queries: DataFrame =
    docs.filter(col("doc_id") < 20)
      .select(col("doc_id").as("query_id"),
        slice(TextOps.tokens(col("text")), 1, 3).as("terms"))

  private def rows(df: DataFrame): Set[(Long, Long, Int, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getInt(2), r.getLong(3))).toSet

  private def direct(k: Int): Set[(Long, Long, Int, Long)] =
    rows(Retrieval.bm25TopK(queries, "query_id", "terms",
      corpus, "doc_id", "text", k))

  test("stored query equals the direct BM25 chain bit-for-bit") {
    val path = "/tmp/graft_ristore_spec1"
    RetrievalIndexStore.build(corpus, "doc_id", "text", path)
    val stored = rows(RetrievalIndexStore.query(spark, path, queries,
      "query_id", "terms", k = 5))
    assert(stored == direct(5))
    assert(stored.nonEmpty)
  }

  test("appended docs score identically to built docs (N/T/df fold)") {
    val path = "/tmp/graft_ristore_spec2"
    RetrievalIndexStore.build(corpus.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", path)
    RetrievalIndexStore.append(corpus.filter(col("doc_id") % 2 === 1),
      "doc_id", "text", path)
    val stored = rows(RetrievalIndexStore.query(spark, path, queries,
      "query_id", "terms", k = 5))
    // the append changes EVERY score's inputs (N, T, and any shared
    // token's df), so equality here pins the delta-row stats fold and
    // the cross-write df count, not just the new docs' presence
    assert(stored == direct(5))
  }

  test("a probe scans strictly fewer posting files than the store holds") {
    val path = "/tmp/graft_ristore_spec3"
    RetrievalIndexStore.build(corpus, "doc_id", "text", path,
      tokBuckets = 64)
    val all = spark.read.parquet(s"$path/postings.parquet")
      .inputFiles.length
    val probe = RetrievalIndexStore.query(spark, path,
      queries.limit(1), "query_id", "terms", k = 3)
    probe.collect() // the metric below is an EXECUTION count
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def flat(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => flat(a.executedPlan)
      case s: QueryStageExec => flat(s.plan)
      case o => o +: o.children.flatMap(flat)
    }
    // the probe's own executed postings scan (the df scan is the other
    // file scan of the plan)
    val scanned = flat(probe.queryExecution.executedPlan).collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.relation.location.rootPaths.exists(
            _.toString.contains("graft_ristore_spec3/postings.parquet")) =>
        s.metrics("numFiles").value
    }
    assert(scanned.nonEmpty, "no postings scan found in the executed plan")
    assert(scanned.head < all, s"probe scanned ${scanned.head}/$all files")
    assert(scanned.head > 0)
    assert(rows(probe).nonEmpty)
  }

  test("static pruning bounds physical postings while df stays exact") {
    val path = "/tmp/graft_ristore_spec5"
    RetrievalIndexStore.build(corpus, "doc_id", "text", path,
      maxPostingsPerToken = 3)
    val kept = spark.read.parquet(s"$path/postings.parquet")
      .groupBy("tok").count().agg(max("count")).head().getLong(0)
    assert(kept <= 3L, s"a token kept $kept postings under cap 3")
    // df is persisted from the UNpruned counts: every token's stored
    // df equals the direct posting count
    val storedDf = spark.read.parquet(s"$path/df.parquet")
      .groupBy("tok").agg(sum("df").as("df")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val directDf = Retrieval.postings(corpus, "doc_id", "text")
      .groupBy("tok").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(storedDf == directDf)
    // and a non-binding cap (>= every df) scores bit-identically
    val cap = directDf.values.max.toInt
    val path2 = "/tmp/graft_ristore_spec5b"
    RetrievalIndexStore.build(corpus, "doc_id", "text", path2,
      maxPostingsPerToken = cap)
    val capped = rows(RetrievalIndexStore.query(spark, path2, queries,
      "query_id", "terms", k = 5))
    assert(capped == direct(5))
  }

  test("append and query derive the bucket fn from the store, not the caller") {
    val path = "/tmp/graft_ristore_spec4"
    RetrievalIndexStore.build(corpus, "doc_id", "text", path,
      tokBuckets = 7)
    assert(RetrievalIndexStore.params(spark, path) == 7)
    // a probe under the 7-bucket layout still answers exactly
    val stored = rows(RetrievalIndexStore.query(spark, path, queries,
      "query_id", "terms", k = 5))
    assert(stored == direct(5))
  }
}
