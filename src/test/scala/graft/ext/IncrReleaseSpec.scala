package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution,
  UnionExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkJobs, TestSpark}

/** The incremental release must (a) drop through the same gates the
  * full release would, including the index-match PROPAGATION rule (a
  * batch near-dup component containing any released match drops
  * entirely), (b) close its ledger (one disposition per batch doc,
  * manifest arithmetic input = kept + Σ dropped), (c) close the LOOP
  * (batch N's survivors are probe-able by batch N+1 through the
  * appended stores), and (d) score under the FROZEN release models
  * with the unseen-token smoothing path. */
class IncrReleaseSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def corpus: DataFrame =
    graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        concat(lit("https://s"), col("doc_id").cast("string"),
          lit(".example/p/"), col("doc_id").cast("string")).as("url"))

  private def bench: DataFrame =
    corpus.filter(col("doc_id") % 7 === 0).select("doc_id", "text")

  /** One release + store per spec path (rebuilt fresh — tests must
    * not see each other's appends). */
  private def freshStore(path: String): Unit = {
    val b = CorpusRelease.run(corpus, bench, maxBucketSize = 64)
    ReleaseStore.build(corpus, b.ledger, path)
  }

  /** A released (kept) doc: id + text, smallest kept id. */
  private def keptDoc(path: String): (Long, String) = {
    // kept ids are exactly the sig store's doc set
    val r = spark.read.parquet(s"$path/sig/sets.parquet")
      .select(min("doc_id")).head().getLong(0)
    val t = corpus.filter(col("doc_id") === r).select("text")
      .head().getString(0)
    (r, t)
  }

  private def mkBatch(rows: Seq[(Long, String, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text", "lang")
      .withColumn("source", lit("batch"))
      .withColumn("url", concat(lit("https://batch.example/x/"),
        col("doc_id").cast("string")))
  }

  private def ledgerOf(path: String, batch: DataFrame)
      : Map[Long, String] =
    ReleaseStore.incrementalRelease(spark, path, batch, bench,
      maxBucketSize = 64)
      .ledger.collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap

  test("index-match propagation: a component with one released match drops whole") {
    val path = "/tmp/graft_relstore_spec_prop"
    freshStore(path)
    val (_, t) = keptDoc(path)
    // A = released text + 2 pads (near-dups the index); B = A + nR
    // more pads, sized so jacc(B, A) > 0.5 > jacc(B, released) — B
    // can only drop through A's component, never by a direct match
    val nR = {
      import spark.implicits._
      Dedup.shingleRows(Seq((1L, t)).toDF("doc_id", "text"),
        "doc_id", "text", 3).select("shingle").distinct().count().toInt
    }
    val a = t + " pada padb"
    val b = a + " " + (1 to nR).map(i => s"padc$i").mkString(" ")
    val led = ledgerOf(path, mkBatch(Seq(
      (900001L, a, "en"), (900002L, b, "en"))))
    assert(led(900001L) == "near")
    // B must not match the index directly — its drop is propagation
    // (the sig member resolves through the release store's pin)
    val direct = SignatureStore.ingest(spark, s"$path/sig",
      mkBatch(Seq((900002L, b, "en"))).select("doc_id", "text"),
      "doc_id", "text",
      resolve = Some(StoreSnapshots.pin(spark, path))).collect()
    assert(direct.isEmpty, s"B matched the index directly: ${direct.toSeq}")
    assert(led(900002L) == "near",
      s"B should drop through A's component, got ${led(900002L)}")
  }

  test("ledger closure and manifest arithmetic over a mixed batch") {
    val path = "/tmp/graft_relstore_spec_close"
    freshStore(path)
    val (_, t) = keptDoc(path)
    val fresh = t.split(" ").reverse.mkString(" ")
    val batch = mkBatch(Seq(
      (910001L, t, "en"),                       // exact (seen hash)
      (910002L, t + " pada padb", "en"),        // near (index match)
      (910003L, fresh, corpus.filter(col("doc_id") === spark.read
        .parquet(s"$path/sig/sets.parquet").select(min("doc_id"))
        .head().getLong(0)).select("lang").head().getString(0)),
      (910004L, "the of " + (1 to 40).map(i => s"zqx$i")
        .mkString(" "), "en")))                 // frozen-LM smoothing
    val bundle = ReleaseStore.incrementalRelease(spark, path, batch,
      bench, maxBucketSize = 64)
    val led = bundle.ledger.collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(led.size == 4, s"one disposition per batch doc: $led")
    assert(led(910001L) == "exact")
    assert(led(910002L) == "near")
    // the all-unseen-token doc scores under the frozen LM's smoothing
    // path: every token costs ~log2(N+V) bits >> the 26/5 bits/token
    // review threshold
    assert(led(910004L) == "quality_review")
    val m = bundle.manifest.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(m(("0_input", "n_docs")) == 4L)
    val dropped = m(("1_url", "n_dropped")) + m(("2_exact", "n_dropped")) +
      m(("3_near", "n_dropped")) + m(("4_decon", "n_dropped")) +
      m(("5_quality", "n_drop")) + m(("5_quality", "n_review"))
    assert(dropped + m(("5_quality", "n_keep")) == 4L)
    // the quality rows state their snapshot posture
    val contracts = bundle.manifest
      .filter(col("stage") === "5_quality").select("contract")
      .distinct().collect().map(_.getString(0)).toSeq
    assert(contracts == Seq("frozen_models"))
  }

  test("the loop closes: batch N's survivors gate batch N+1") {
    val path = "/tmp/graft_relstore_spec_loop"
    freshStore(path)
    val (kid, t) = keptDoc(path)
    val lang = corpus.filter(col("doc_id") === kid)
      .select("lang").head().getString(0)
    val fresh = t.split(" ").reverse.mkString(" ")
    val led1 = ledgerOf(path, mkBatch(Seq((920001L, fresh, lang))))
    assume(led1(920001L) == "kept",
      s"loop test needs the fresh doc kept, got ${led1(920001L)}")
    // batch 2: an exact copy of batch 1's doc (seen-hash append) and
    // a near clone of it (sig append) — both must drop against what
    // batch 1 added, not against release N's original build
    val led2 = ledgerOf(path, mkBatch(Seq(
      (920002L, fresh, lang),
      (920003L, fresh + " pada padb", lang))))
    assert(led2(920002L) == "exact")
    assert(led2(920003L) == "near")
  }

  test("generational release store: the daily loop self-maintains " +
      "in-band with dispositions unchanged") {
    val plain = "/tmp/graft_relstore_spec_genp"
    val gen = "/tmp/graft_relstore_spec_geng"
    freshStore(plain); freshStore(gen)
    StoreMaintenance.enableStoreGenerations("release", gen)
    val (kid, t) = keptDoc(plain)
    val lang = corpus.filter(col("doc_id") === kid)
      .select("lang").head().getString(0)
    val fresh = t.split(" ").reverse.mkString(" ")
    val b1 = mkBatch(Seq((920001L, fresh, lang)))
    val b2 = mkBatch(Seq((920002L, fresh, lang),
      (920003L, fresh + " pada padb", lang)))
    // eager ratio so the in-band tick actually fires on the tiny
    // store (ideal = 1 file per flat artifact)
    def genLedger(b: DataFrame): Map[Long, String] =
      ReleaseStore.incrementalRelease(spark, gen, b, bench,
        maxBucketSize = 64,
        autoMaintain = Some(StoreMaintenance.AutoMaintain(ratio = 1.0)))
        .ledger.collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(genLedger(b1) == ledgerOf(plain, b1))
    assert(genLedger(b2) == ledgerOf(plain, b2))
    // the chained artifacts stayed at fresh-build file counts with
    // zero external ticks, and the chain is live (generations moved)
    val urls = s"$gen/urls.parquet"
    assert(StoreSnapshots.currentGen(gen).get > 0L)
    assert(StoreGenerations.currentFiles(urls).get.length <= 2)
  }

  test("a re-crawled url drops before its text is ever inspected") {
    val path = "/tmp/graft_relstore_spec_url"
    freshStore(path)
    val someUrl = corpus.select("url").head().getString(0)
    val led = ledgerOf(path,
      mkBatch(Seq((930001L, "completely new text here", "en")))
        .withColumn("url", lit(someUrl)))
    assert(led(930001L) == "url")
  }

  case class RelUp(doc_id: Long, text: String, lang: String,
                   source: String, url: String)

  test("composed streaming release loop: per-batch dispositions equal " +
      "the batch loop's, a replayed batch commits nothing to the store") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val streamed = "/tmp/graft_relstore_spec_stream"
    val twin = "/tmp/graft_relstore_spec_streamtwin"
    freshStore(streamed); freshStore(twin)
    StoreMaintenance.enableStoreGenerations("release", streamed)
    val (kid, t) = keptDoc(twin)
    val lang = corpus.filter(col("doc_id") === kid)
      .select("lang").head().getString(0)
    val fresh = t.split(" ").reverse.mkString(" ")
    def up(id: Long, text: String) = RelUp(id, text, lang, "batch",
      s"https://batch.example/x/$id")
    val batchA = Seq(up(940001L, fresh))
    val batchB = Seq(up(940002L, fresh),                 // exact vs A's fold
      up(940003L, fresh + " pada padb"))                 // near vs A's fold
    // the sequential BATCH loop is the truth the stream must equal
    val ledA = ledgerOf(twin, mkBatch(Seq((940001L, fresh, lang))))
    val ledB = ledgerOf(twin, mkBatch(Seq((940002L, fresh, lang),
      (940003L, fresh + " pada padb", lang))))
    assume(ledA(940001L) == "kept", s"fixture: ${ledA(940001L)}")
    assert(ledB(940002L) == "exact" && ledB(940003L) == "near",
      "batch B must be judged against batch A's fold")

    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-relsink-ck").toString
    val got = scala.collection.concurrent.TrieMap[Long, String]()
    def sink(src: DataFrame) =
      graft.streaming.StreamingOps.runReleaseSink(src, streamed, bench,
        ckpt, maxBucketSize = 64, onBatch = (bundle, _) =>
          bundle.ledger.collect().foreach(r =>
            got.put(r.getLong(0), r.getString(1))))
    val s1 = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[RelUp]
    val q1 = sink(s1.toDF())
    try { s1.addData(batchA: _*); q1.processAllAvailable() }
    finally q1.stop()
    assert(got.toMap == ledA, "batch 0's streamed ledger")
    // store state after batch 0 — the replay below must not move it
    def chainState: Map[String, (Long, Int)] =
      StoreMaintenance.artifactsOf("release", streamed).map(_.dir)
        .map(d => d -> ((StoreSnapshots.currentGen(streamed).get,
          StoreGenerations.currentFiles(d).get.length))).toMap
    val afterA = chainState
    // restart on the same checkpoint: the recovered source REPLAYS
    // batch 0 (the at-least-once path a mid-commit kill produces),
    // then batch B applies exactly once on top of A's fold
    val s2 = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[RelUp]
    s2.addData(batchA: _*)
    val q2 = sink(s2.toDF())
    try {
      q2.processAllAvailable()
      assert(chainState == afterA,
        "a replayed batch must publish no generation and land no file")
      s2.addData(batchB: _*)
      q2.processAllAvailable()
    } finally q2.stop()
    assert(got.toMap == ledA ++ ledB,
      "the streamed loop's dispositions must equal the batch loop's")
    // batch B's fold advanced every accreting artifact exactly once
    chainState.foreach { case (d, (g, _)) =>
      assert(g == afterA(d)._1 + 1, s"$d at gen $g") }
  }

  /** q_incr_release's five batch families over the spec corpus (url
    * re-crawl, near clone, exact clone, benchmark excerpt, reversed
    * text), checkpointed in one partition like a one-file micro-batch. */
  private def familyBatch: DataFrame = {
    def fresh(p: String) = concat(lit(s"https://batch.example/$p/"),
      col("doc_id").cast("string"))
    val c = corpus
    Seq(
      c.filter(col("doc_id") % 21 === 0).select(
        (col("doc_id") + 400000).as("doc_id"),
        concat(col("text"), lit(" graftrecrawl")).as("text"),
        col("lang"), col("source"), col("url")),
      c.filter(col("doc_id") % 17 === 0).select(
        (col("doc_id") + 420000).as("doc_id"),
        concat(col("text"), lit(" graftbatch end")).as("text"),
        col("lang"), col("source"), fresh("n").as("url")),
      c.filter(col("doc_id") % 23 === 0).select(
        (col("doc_id") + 410000).as("doc_id"), col("text"),
        col("lang"), col("source"), fresh("b").as("url")),
      c.filter(col("doc_id") % 37 === 0).select(
        (col("doc_id") + 430000).as("doc_id"),
        array_join(slice(TextOps.tokens(col("text")), 1, 12), " ")
          .as("text"), col("lang"), col("source"), fresh("c").as("url")),
      c.filter(col("doc_id") % 29 === 0).select(
        (col("doc_id") + 440000).as("doc_id"),
        array_join(reverse(TextOps.tokens(col("text"))), " ").as("text"),
        col("lang"), col("source"), fresh("f").as("url")))
      .reduce(_ unionByName _).coalesce(1).localCheckpoint()
  }

  test("streamed fold jobs name their own code, not the stream's start()") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val path = "/tmp/graft_relstore_spec_callsite"
    freshStore(path)
    val (kid, t) = keptDoc(path)
    val lang = corpus.filter(col("doc_id") === kid)
      .select("lang").head().getString(0)
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-relsink-cs").toString
    val src = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[RelUp]
    val q = graft.streaming.StreamingOps.runReleaseSink(src.toDF(), path,
      bench, ckpt, maxBucketSize = 64)
    val (_, jobs) = try SparkJobs.fired(spark) {
      src.addData(RelUp(950001L, t.split(" ").reverse.mkString(" "), lang,
        "batch", "https://batch.example/x/950001"))
      q.processAllAvailable()
    } finally q.stop()
    assert(jobs.nonEmpty)
    assert(!jobs.exists(_.startsWith("start at StreamingOps")),
      jobs.mkString("\n"))
    assert(jobs.exists(_.contains("ReleaseStore.scala")), jobs.mkString("\n"))
  }

  test("the fold's ledger reads only its stages' checkpoints; " +
      "its jobs and its ledger and manifest rows are pinned") {
    val path = "/tmp/graft_relstore_spec_pin"
    freshStore(path)
    val (batch, b) = (familyBatch, bench)
    // every localCheckpoint's executed plan, as its action ran it
    val ckpts = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (f == "localCheckpoint") ckpts.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val (bundle, jobs) = try SparkJobs.fired(spark)(
      ReleaseStore.incrementalRelease(spark, path, batch, b,
        maxBucketSize = 64))
    finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    // the ledger is the one checkpoint over a union of dispositions
    val ledgerPlans = ckpts.asScala.toSeq.map(_.executedPlan)
      .filter(p => p.output.map(_.name) == Seq("doc_id", "disposition") &&
        find(p)(_.isInstanceOf[UnionExec]).isDefined)
    assert(ledgerPlans.length == 1, ledgerPlans.mkString("\n"))
    assert(collect(ledgerPlans.head) { case s: FileSourceScanExec => s }
      .isEmpty, s"the ledger scanned files:\n${ledgerPlans.head}")
    // 111 jobs while the ledger re-derived its drop sets from the store
    // probes and one-partition checkpoints still shuffled; 75 or 76 now
    // (AQE's runtime join conversions inside the connected-components
    // loop vary by one stage job from run to run)
    assert(jobs.length <= 76, jobs.mkString("\n"))
    // the rows that re-derived ledger gave: 108 dispositions, manifest
    val ledger = bundle.ledger.collect()
      .map(r => s"${r.getLong(0)}:${r.getString(1)}").sorted
    assert(ledger.length == 108)
    assert(java.security.MessageDigest.getInstance("MD5")
      .digest(ledger.mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString == "a01fd4aa2d941ba8cb671621a0e50fcc")
    val manifest = bundle.manifest.collect()
      .map(r => s"${r.getString(0)}/${r.getString(1)}=${r.getLong(2)}/" +
        r.getString(3)).sorted.toSeq
    assert(manifest == Seq("0_input/n_docs=108/exact",
      "1_url/n_dropped=24/exact", "2_exact/n_dropped=22/exact",
      "3_near/n_dropped=5/lsh_capped", "4_decon/n_dropped=8/exact",
      "5_quality/n_drop=23/frozen_models", "5_quality/n_keep=1/frozen_models",
      "5_quality/n_review=25/frozen_models", "6_pack/n_packs=1/exact",
      "7_shard/n_shards=1/exact"))
  }
}
