package graft.ext

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkJobs, TestSpark}

/** Store reads plan on the driver: with a warm seed memo and a local
  * query batch, building a read's frame fires no Spark job, and its
  * final action fires only the scan-and-score jobs (no schema
  * inference, no params `head`). The seed memo is correct by
  * construction: a rebuild is served its new seeds, a deleted or
  * resized seed fails the next read while the memo is warm, appends
  * are visible to the next read, and concurrent reads next to an
  * append return the single-threaded answers. */
class StoreReadsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def docs: DataFrame =
    StoreFixtures.docs(spark).select("doc_id", "text")
  private def corpus: DataFrame = docs.filter(col("doc_id") >= 20)
  private def emb: DataFrame = StoreFixtures.embeddings(spark)
  private def cands: DataFrame = emb.filter(col("vec_id") >= 20)

  /** `df` collected and rebuilt as a local relation — a caller's batch. */
  private def local(df: DataFrame): DataFrame =
    spark.createDataFrame(df.collect().toSeq.asJava, df.schema)

  private lazy val termQueries = local(docs.filter(col("doc_id") < 8)
    .select(col("doc_id").as("query_id"),
      slice(TextOps.tokens(col("text")), 1, 3).as("terms")))
  private lazy val phraseQueries = local(docs.filter(col("doc_id") < 8)
    .select(col("doc_id").as("query_id"),
      element_at(TextOps.tokens(col("text")), 1).as("t1"),
      element_at(TextOps.tokens(col("text")), 2).as("t2")))
  private lazy val vecQueries = local(emb.filter(col("vec_id") < 5))

  private def cents(mod: Int): DataFrame = cands.filter(col("vec_id") % mod === 0)
  private def codebook(c: DataFrame): DataFrame = {
    val res = Similarity.ivfResiduals(cands, c, "vec_id", "embedding")
      .select(col("neighbor_id").as("vec_id"), col("__rv").as("embedding"))
    KMeans.codebook(KMeans.fit(res, "vec_id", "embedding",
        k = 4, numSub = 4, subDim = 2, iters = 2))
      .select(col("cid").as("vec_id"), col("vector").as("embedding"))
      .localCheckpoint()
  }

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  private def bm25(path: String): DataFrame = RetrievalIndexStore.query(
    spark, path, termQueries, "query_id", "terms", k = 5)
  private def phrase(path: String): DataFrame = RetrievalIndexStore
    .phraseQuery(spark, path, phraseQueries, "query_id", "t1", "t2", k = 5)
  private def ann(path: String): DataFrame = VectorIndexStore.query(
    spark, path, vecQueries, "vec_id", "embedding", k = 3, nprobe = 2)

  private def directBm25(c: DataFrame): Set[Seq[Any]] = rows(
    Retrieval.bm25TopK(termQueries, "query_id", "terms", c, "doc_id",
      "text", 5))
  private def directAnn(c: DataFrame, cb: DataFrame): Set[Seq[Any]] = rows(
    Similarity.ivfPqTopK(vecQueries, cands, c, cb, "vec_id", "embedding",
      k = 3, nprobe = 2, numSub = 4, subDim = 2))

  private def retrievalStore(path: String, tokBuckets: Int): Unit = {
    RetrievalIndexStore.build(corpus.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", path, tokBuckets = tokBuckets, positional = true)
    RetrievalIndexStore.append(corpus.filter(col("doc_id") % 2 === 1),
      "doc_id", "text", path)
  }

  test("with a warm seed memo a read fires no job until its final action, " +
    "and the final action runs no metadata job") {
    val ret = "/tmp/graft_storereads_jobs_ret"
    val vec = "/tmp/graft_storereads_jobs_vec"
    retrievalStore(ret, tokBuckets = 8)
    val c = cents(37)
    val cb = codebook(c)
    VectorIndexStore.build(cands, "vec_id", "embedding", vec, c, cb,
      numSub = 4, subDim = 2, cellBuckets = 4)
    // final-action job counts of these plans on these inputs (all of
    // them AQE query stages of the scan and the score); the prelude a
    // read planned with Spark jobs (schema inference, params head, the
    // query-term and probed-cell plans) fired 22 (BM25) and 17 (ANN)
    // jobs per read in all
    val faces = Seq[(String, () => DataFrame, Set[Seq[Any]], Int)](
      ("bm25", () => bm25(ret), directBm25(corpus), 9),
      ("phrase", () => phrase(ret), rows(Retrieval.phraseTopK(phraseQueries,
        "query_id", "t1", "t2", corpus, "doc_id", "text", 5)), 8),
      ("ann", () => ann(vec), directAnn(c, cb), 6))
    faces.foreach { case (name, read, want, finalJobs) =>
      read().collect() // warms the seed memo
      val (df, planJobs) = SparkJobs.fired(spark)(read())
      assert(planJobs.isEmpty, s"$name: building the read fired $planJobs")
      val (got, actionJobs) = SparkJobs.fired(spark)(rows(df))
      assert(want.nonEmpty && got == want, name)
      assert(!actionJobs.exists(j => j.startsWith("parquet at") ||
        j.startsWith("head at")), s"$name: $actionJobs")
      assert(actionJobs.length == finalJobs, s"$name: $actionJobs")
    }
  }

  test("a rebuild is served its new seeds on the next read") {
    val ret = "/tmp/graft_storereads_rebuild_ret"
    retrievalStore(ret, tokBuckets = 8)
    assert(rows(bm25(ret)) == directBm25(corpus))
    assert(RetrievalIndexStore.params(spark, ret) == 8)
    retrievalStore(ret, tokBuckets = 16)
    assert(RetrievalIndexStore.params(spark, ret) == 16)
    assert(rows(bm25(ret)) == directBm25(corpus))

    val vec = "/tmp/graft_storereads_rebuild_vec"
    val (c1, c2) = (cents(37), cents(29))
    val (cb1, cb2) = (codebook(c1), codebook(c2))
    VectorIndexStore.build(cands, "vec_id", "embedding", vec, c1, cb1,
      numSub = 4, subDim = 2, cellBuckets = 4)
    assert(rows(ann(vec)) == directAnn(c1, cb1))
    VectorIndexStore.build(cands, "vec_id", "embedding", vec, c2, cb2,
      numSub = 4, subDim = 2, cellBuckets = 4)
    val want = directAnn(c2, cb2)
    assert(want != directAnn(c1, cb1), "the two geometries must differ")
    assert(rows(ann(vec)) == want)
  }

  test("a deleted or resized seed fails the next read while the memo is warm") {
    val vec = "/tmp/graft_storereads_seedfail"
    def fresh(): Unit = VectorIndexStore.build(cands, "vec_id", "embedding",
      vec, cents(37), codebook(cents(37)), numSub = 4, subDim = 2,
      cellBuckets = 4)
    def seedFile(part: String) = graft.sources.Layout
      .listParquet(s"$vec/$part.parquet").head
    fresh()
    ann(vec).collect()
    java.nio.file.Files.delete(java.nio.file.Paths.get(seedFile("codebook")))
    val missing = intercept[IllegalStateException](ann(vec))
    assert(missing.getMessage.contains("seed file missing"))
    fresh()
    ann(vec).collect()
    java.nio.file.Files.write(java.nio.file.Paths.get(seedFile("params")),
      Array[Byte](0), java.nio.file.StandardOpenOption.APPEND)
    val resized = intercept[IllegalStateException](ann(vec))
    assert(resized.getMessage.contains("seed file modified"))
  }

  test("an append between two reads is visible to the second read, and " +
    "concurrent reads next to an append return the single-threaded answers") {
    val ret = "/tmp/graft_storereads_append_ret"
    val vec = "/tmp/graft_storereads_append_vec"
    val base = corpus.filter(col("doc_id") % 3 =!= 0)
    RetrievalIndexStore.build(base, "doc_id", "text", ret, tokBuckets = 8)
    val c = cents(37)
    val cb = codebook(c)
    VectorIndexStore.build(cands, "vec_id", "embedding", vec, c, cb,
      numSub = 4, subDim = 2, cellBuckets = 4)
    val before = rows(bm25(ret))
    assert(before == directBm25(base))
    val annWant = rows(ann(vec))
    val after = directBm25(corpus)
    assert(after != before, "the batch must change the answer")
    val out = Par.map(
      (() => {
        RetrievalIndexStore.append(corpus.filter(col("doc_id") % 3 === 0),
          "doc_id", "text", ret)
        Set.empty[Seq[Any]]
      }) +: Seq.fill(3)(Seq(() => rows(bm25(ret)), () => rows(ann(vec))))
        .flatten)
    out.tail.grouped(2).foreach { case Seq(b, a) =>
      assert(b == before || b == after)
      assert(a == annWant)
    }
    assert(rows(bm25(ret)) == after)
  }

  test("the seed memo is byte-bounded and evicts least recently used") {
    val memo = new SeedMemo(4096)
    def blob(n: Int) = Array.fill(n)(0L)
    memo(("s", Seq("a")))(blob(200))
    memo(("s", Seq("b")))(blob(200))
    memo(("s", Seq("a")))(sys.error("a hit must not decode"))
    memo(("s", Seq("c")))(blob(200)) // over budget: b is the LRU entry
    assert(memo.contains(("s", Seq("a"))) && memo.contains(("s", Seq("c"))))
    assert(!memo.contains(("s", Seq("b"))))
    assert(memo.heldBytes <= 4096)
    val big = memo(("s", Seq("d")))(blob(1000))
    assert(big.length == 1000 && !memo.contains(("s", Seq("d"))))
  }
}
