package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
              event_type: String, value: Double)

/** Streaming semantics pinned by batch equivalence (SURVEY.md §5.6):
  * the streaming result of each operator must equal the identical
  * operator run as a batch query, watermarks must drop late data in
  * append mode, session windows must merge by gap, and streaming
  * dedup must collapse duplicate ids within the watermark.
  */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._
  private implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def ts(m: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${m / 60}%02d:${m % 60}%02d:00")

  private def runToTable(stream: MemoryStream[Ev], name: String,
                         mode: String, f: DataFrame => DataFrame,
                         batches: Seq[Seq[Ev]]): DataFrame = {
    val q = f(stream.toDF()).writeStream
      .format("memory").queryName(name).outputMode(mode).start()
    try batches.foreach { b => stream.addData(b); q.processAllAvailable() }
    finally q.stop()
    q.sparkSession.table(name)
  }

  test("streaming tumbling window (complete mode) equals the batch aggregation") {
    val events = Seq(
      Ev(1, ts(5), 1, "view", 10.0), Ev(2, ts(20), 1, "click", 5.5),
      Ev(3, ts(65), 2, "view", 2.25), Ev(4, ts(70), 2, "view", 4.0),
      Ev(5, ts(130), 1, "click", 1.0))
    val stream = MemoryStream[Ev]
    val got = runToTable(stream, "t_tumbling", "complete",
      StreamingOps.tumblingCounts(_), Seq(events.take(2), events.drop(2)))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val want = StreamingOps.tumblingCounts(events.toDF())
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got === want && got.nonEmpty)
  }

  test("streaming sliding window equals batch; events land in two windows") {
    val events = Seq(Ev(1, ts(40), 1, "view", 1.0), Ev(2, ts(50), 1, "view", 1.0))
    val stream = MemoryStream[Ev]
    val got = runToTable(stream, "t_sliding", "complete",
      StreamingOps.slidingCounts(_), Seq(events))
      .collect().map(r => (r.getTimestamp(0), r.getLong(2))).toSet
    val want = StreamingOps.slidingCounts(events.toDF())
      .collect().map(r => (r.getTimestamp(0), r.getLong(2))).toSet
    assert(got === want)
    // 0:40/0:50 fall in both the [0:00,1:00) and [0:30,1:30) windows
    assert(got === Set((ts(0), 2L), (ts(30), 2L)))
  }

  test("append mode: a late event behind the watermark is dropped") {
    val stream = MemoryStream[Ev]
    val q = StreamingOps.tumblingCounts(stream.toDF()).writeStream
      .format("memory").queryName("t_late").outputMode("append").start()
    try {
      // batch 1 advances the watermark to 1:30 - 10min = 1:20 -> the
      // [0:00,1:00) window is past the watermark and emits count 2
      stream.addData(Seq(Ev(1, ts(5), 1, "view", 1.0), Ev(2, ts(30), 1, "view", 1.0),
        Ev(3, ts(90), 1, "view", 1.0)))
      q.processAllAvailable()
      // batch 2: event at 0:10 is far behind the 1:20 watermark -> must
      // NOT resurrect the closed [0:00,1:00) window; 3:00 advances the
      // watermark past [1:00,2:00) so that window emits count 1
      stream.addData(Seq(Ev(4, ts(10), 1, "view", 99.0), Ev(5, ts(180), 1, "view", 1.0)))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("t_late")
      .collect().map(r => r.getTimestamp(0) -> r.getLong(2)).toMap
    assert(rows(ts(0)) === 2L, "late event must not be counted")
    assert(rows(ts(60)) === 1L)
  }

  test("session windows merge events within the gap and split across it") {
    val events = Seq(
      Ev(1, ts(0), 1, "view", 1.0), Ev(2, ts(5), 1, "view", 2.0),
      Ev(3, ts(8), 1, "view", 3.0),   // one session: 0:00 .. 0:18
      Ev(4, ts(60), 1, "view", 4.0),  // second session: 1:00 .. 1:10
      Ev(5, ts(240), 2, "view", 0.0)) // watermark pusher
    val stream = MemoryStream[Ev]
    val got = runToTable(stream, "t_session", "append",
      StreamingOps.sessionCounts(_), Seq(events.take(4), events.drop(4)))
      .filter(col("user_id") === 1)
      .collect().map(r => (r.getTimestamp(0), r.getTimestamp(1), r.getLong(3))).toSet
    assert(got === Set((ts(0), ts(18), 3L), (ts(60), ts(70), 1L)))
  }

  test("dropDuplicatesWithinWatermark collapses duplicate ids across batches") {
    val stream = MemoryStream[Ev]
    val got = runToTable(stream, "t_dedup", "append",
      StreamingOps.dedupWithinWatermark(_), Seq(
        Seq(Ev(1, ts(0), 1, "view", 1.0), Ev(1, ts(1), 1, "view", 1.0),
          Ev(2, ts(2), 1, "view", 1.0)),
        Seq(Ev(2, ts(3), 1, "view", 1.0), Ev(3, ts(4), 1, "view", 1.0))))
    assert(got.select("event_id").collect().map(_.getLong(0)).sorted.toSeq
      === Seq(1L, 2L, 3L))
  }

  test("flatMapGroupsWithState sessions: gap merge, watermark closure, open stays unemitted") {
    val events = Seq(
      Ev(1, ts(0), 1, "view", 1.0), Ev(2, ts(5), 1, "view", 2.0),
      Ev(3, ts(8), 1, "view", 3.0),   // session 0:00..0:18 (n=3)
      Ev(4, ts(60), 1, "view", 4.0),  // session 1:00..1:10 (n=1)
      Ev(5, ts(240), 2, "view", 0.0)) // pushes watermark to 3:50; own session open
    val stream = MemoryStream[Ev]
    val got = runToTable(stream, "t_custom_sess", "append",
      df => StreamingOps.customSessions(df).toDF(),
      Seq(events.take(4), events.drop(4)))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3))).toSet
    assert(got === Set(
      (1L, ts(0), ts(18), 3L),
      (1L, ts(60), ts(70), 1L)), "user 2's open session must not be emitted")
    // matches the session_window streaming operator on the same feed
    val stream2 = MemoryStream[Ev]
    val viaWindow = runToTable(stream2, "t_custom_sess_ref", "append",
      StreamingOps.sessionCounts(_), Seq(events.take(4), events.drop(4)))
      .filter(col("user_id") === 1)
      .collect().map(r => (r.getLong(2), r.getTimestamp(0), r.getTimestamp(1), r.getLong(3))).toSet
    assert(got === viaWindow)
  }

  test("custom sessions are order-confluent: shuffled delivery yields the same sessions") {
    val events = Seq(
      Ev(1, ts(0), 1, "view", 1.0), Ev(2, ts(5), 1, "view", 1.0),
      Ev(3, ts(8), 1, "view", 1.0), Ev(4, ts(60), 1, "view", 1.0))
    val pusher = Ev(9, ts(240), 2, "view", 0.0)
    def run(order: Seq[Ev], name: String) = {
      val s = MemoryStream[Ev]
      runToTable(s, name, "append", df => StreamingOps.customSessions(df).toDF(),
        Seq(order, Seq(pusher)))
        .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3))).toSet
    }
    // reversed delivery even bridges: event 0:05 arrives LAST, merging
    // the two fragments its neighbors formed
    assert(run(events, "t_conf_a") === run(events.reverse, "t_conf_b"))
  }

  test("an event exactly one gap after the last starts a NEW session (session_window parity)") {
    val events = Seq(
      Ev(1, ts(0), 1, "view", 1.0), Ev(2, ts(10), 1, "view", 1.0), // 0:10 = exactly gap
      Ev(3, ts(240), 2, "view", 0.0))
    val stream = MemoryStream[Ev]
    val got = runToTable(stream, "t_gap_edge", "append",
      df => StreamingOps.customSessions(df).toDF(), Seq(events))
      .collect().map(r => (r.getTimestamp(1), r.getTimestamp(2), r.getLong(3))).toSet
    assert(got === Set((ts(0), ts(10), 1L), (ts(10), ts(20), 1L)),
      "touching [t, t+gap) windows must not merge")
  }

  test("stream-stream join matches across batches and equals the batch join") {
    val views = Seq(Ev(1, ts(10), 1, "view", 0), Ev(2, ts(100), 2, "view", 0))
    val purch = Seq(
      Ev(11, ts(30), 1, "purchase", 0),  // arrives AFTER view 1's batch
      Ev(12, ts(130), 2, "purchase", 0), // matches view 2 (30 min later)
      Ev(13, ts(200), 1, "purchase", 0)) // > 1 h after view 1: no match
    val vs = MemoryStream[Ev]
    val ps = MemoryStream[Ev]
    val q = StreamingOps.viewPurchaseJoin(vs.toDF(), ps.toDF())
      .writeStream.format("memory").queryName("t_ssjoin")
      .outputMode("append").start()
    try {
      // views land two batches before their purchases: the match must
      // come from buffered join state, not same-batch luck
      vs.addData(views); q.processAllAvailable()
      ps.addData(purch.take(1)); q.processAllAvailable()
      ps.addData(purch.drop(1)); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("t_ssjoin").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((1L, 11L), (2L, 12L)))
    // batch form of the same operator (watermark is a no-op in batch)
    val want = StreamingOps.viewPurchaseJoin(views.toDF(), purch.toDF())
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === want)
  }

  test("file-source readStream over events parquet equals the batch aggregation") {
    val dir = "/root/testdata/sf0.001"
    val batchEvents = graft.sources.Tables.events(spark, dir)
      .select("event_id", "ts", "user_id", "event_type", "value")
    // readStream needs a directory; stage the (µs-normalized) events
    val staged = java.nio.file.Files.createTempDirectory("graft-stream").toString
    batchEvents.write.mode("overwrite").parquet(staged)
    val stream = spark.readStream
      .schema(batchEvents.schema)
      .parquet(staged)
    val q = StreamingOps.tumblingCounts(stream).writeStream
      .format("memory").queryName("t_file_src").outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("t_file_src")
    val want = StreamingOps.tumblingCounts(batchEvents)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    assert(got.count() > 0)
  }

  test("restart from checkpoint resumes without loss or duplication") {
    // run 1 sees hours 0-1; the query STOPS; run 2 (a new query object,
    // same checkpoint) sees hour 2 plus a watermark-pushing closer.
    // The durable parquet sink must end up with every closed window
    // exactly once — windows spanning the restart boundary included.
    val src = java.nio.file.Files.createTempDirectory("graft-ckpt-src")
    val sink = java.nio.file.Files.createTempDirectory("graft-ckpt-sink")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt-chk")
    val schema = Seq.empty[Ev].toDF().schema
    def runOnce(): Unit = {
      val q = StreamingOps.tumblingCounts(
          spark.readStream.schema(schema).parquet(src.toString))
        .writeStream.format("parquet")
        .option("path", sink.toString)
        .option("checkpointLocation", ckpt.toString)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    val batch1 = Seq(Ev(1, ts(10), 1, "view", 1.0), Ev(2, ts(70), 1, "view", 2.0))
    val batch2 = Seq(Ev(3, ts(130), 2, "click", 3.0), Ev(4, ts(1200), 1, "view", 0.5))
    batch1.toDF().coalesce(1).write.mode("append").parquet(src.toString)
    runOnce()
    batch2.toDF().coalesce(1).write.mode("append").parquet(src.toString)
    runOnce()
    val got = spark.read.parquet(sink.toString)
    // final watermark = ts(1200) - 10 min: every window except the
    // closer's own (hour 20) is closed and must appear exactly once
    val want = StreamingOps.tumblingCounts((batch1 ++ batch2).toDF())
      .filter(col("ws") =!= lit(ts(1200)))
    assert(got.count() === want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("batch equivalence with the declared q_tumbling_window inventory query") {
    val dir = "/root/testdata/sf0.001"
    val viaStreamingOps = StreamingOps.tumblingCounts(
        graft.sources.Tables.events(spark, dir).select("event_id", "ts", "user_id", "event_type", "value"))
      .select("ws", "event_type", "n", "sum_value")
    val viaInventory = graft.queries.StarQueries.tumblingWindow(spark, dir)
      .select(col("ws"), col("event_type"), col("n"), col("sum_value"))
    assert(viaStreamingOps.exceptAll(viaInventory).isEmpty
      && viaInventory.exceptAll(viaStreamingOps).isEmpty)
  }

  test("foreachBatch upsert: latest version per key survives across batches") {
    val base = java.nio.file.Files.createTempDirectory("graft-upsert")
    val path = s"$base/target"
    val stream = MemoryStream[Ev]
    val q = StreamingOps.runUpsert(stream.toDF(), path,
      keyCol = "user_id", versionCol = "ts", checkpoint = s"$base/ckpt")
    try {
      stream.addData(Ev(1, ts(10), 1, "view", 1.0), Ev(2, ts(10), 2, "view", 2.0))
      q.processAllAvailable()
      // batch 2 updates user 1, adds user 3, and carries a STALE row
      // for user 2 that must lose to the already-written newer one
      stream.addData(Ev(3, ts(20), 1, "click", 9.0), Ev(4, ts(5), 2, "view", 7.0),
        Ev(5, ts(15), 3, "view", 3.0))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(path)
      .select("user_id", "event_type", "value").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getDouble(2)))).toMap
    assert(got === Map(
      1L -> (("click", 9.0)), // updated by batch 2
      2L -> (("view", 2.0)),  // stale batch-2 row lost
      3L -> (("view", 3.0)))) // inserted by batch 2
  }

  test("idempotent file sink: batch replay is a no-op, restart loses and duplicates nothing") {
    // foreachBatch is at-least-once: a batch that reached the sink
    // but not the checkpoint re-runs after a kill. The writer keys
    // the target by batch id and overwrites, so (1) replaying an
    // already-written batch changes nothing on disk, and (2) a new
    // query on the same checkpoint continues without loss — any
    // parquet reader sees each record exactly once.
    val base = java.nio.file.Files.createTempDirectory("graft-idem")
    val path = s"$base/target"
    val ckpt = s"$base/ckpt"
    val batchA = Seq(Ev(1, ts(10), 1, "view", 1.0),
      Ev(2, ts(20), 2, "click", 2.0))
    val batchB = Seq(Ev(3, ts(30), 1, "view", 3.0))
    val s1 = MemoryStream[Ev]
    val q1 = StreamingOps.runIdempotentAppend(s1.toDF(), path, ckpt)
    try { s1.addData(batchA); q1.processAllAvailable() } finally q1.stop()
    val afterA = spark.read.parquet(path)
      .select("event_id").as[Long].collect().sorted.toSeq
    assert(afterA == Seq(1L, 2L))
    // the mid-commit-kill replay: the SAME batch id re-delivered
    // (this is what a restarted query does for an un-checkpointed
    // batch) — on-disk content must not change
    StreamingOps.idempotentAppendBatch(batchA.toDF(), 0L, path)
    val replayed = spark.read.parquet(path)
      .select("event_id").as[Long].collect().sorted.toSeq
    assert(replayed == afterA, "batch replay duplicated rows")
    // restart: a NEW query object on the same checkpoint picks up at
    // the next batch id — batch B appends exactly once, A survives
    val s2 = MemoryStream[Ev]
    s2.addData(batchA) // the recovered source replays its history
    val q2 = StreamingOps.runIdempotentAppend(s2.toDF(), path, ckpt)
    try { s2.addData(batchB); q2.processAllAvailable() } finally q2.stop()
    val fin = spark.read.parquet(path)
      .select("event_id").as[Long].collect().sorted.toSeq
    assert(fin == Seq(1L, 2L, 3L), s"after restart: $fin")
  }

  test("upsert version ties resolve to the later batch, deterministically") {
    val base = java.nio.file.Files.createTempDirectory("graft-upsert-tie")
    val path = s"$base/target"
    val stream = MemoryStream[Ev]
    val q = StreamingOps.runUpsert(stream.toDF(), path,
      keyCol = "user_id", versionCol = "ts", checkpoint = s"$base/ckpt")
    try {
      stream.addData(Ev(1, ts(10), 1, "view", 1.0))
      q.processAllAvailable()
      // same key, SAME version: the later batch must win via the
      // persisted batch-id tiebreak, not a partition-order coin flip
      stream.addData(Ev(2, ts(10), 1, "click", 5.0))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.read.parquet(path)
    assert(rows.columns.contains(StreamingOps.UpsertBatchCol))
    val got = rows.select("user_id", "event_type", "value").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(got === Seq((1L, "click", 5.0)))
  }

  test("RocksDB state store provider yields identical results to the default") {
    // production deployments run RocksDB-backed state (bounded JVM
    // heap; state spills to native storage) — semantics must not
    // change with the provider. Same stream, same batches, both
    // providers, identical session output.
    val events = Seq(
      Ev(1, ts(5), 1, "view", 1.0), Ev(2, ts(8), 1, "view", 1.0),
      Ev(3, ts(40), 1, "view", 1.0), Ev(4, ts(6), 2, "view", 1.0),
      Ev(5, ts(300), 9, "view", 1.0)) // watermark pusher
    // each provider runs on a session of its own: the provider class
    // never touches the shared TestSpark session's conf
    def run(name: String, provider: Option[String]): Set[(Long, Timestamp, Timestamp, Long)] = {
      val s = spark.newSession()
      provider.foreach(s.conf.set("spark.sql.streaming.stateStore.providerClass", _))
      val prevActive = SparkSession.getActiveSession
      SparkSession.setActiveSession(s)
      try {
        val stream = MemoryStream[Ev](implicitly[Encoder[Ev]], s.sqlContext)
        runToTable(stream, name, "append",
          df => StreamingOps.customSessions(df.select("ts", "user_id")).toDF(),
          Seq(events.take(2), events.drop(2)))
          .collect()
          .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
          .toSet
      } finally prevActive.fold(SparkSession.clearActiveSession())(
        SparkSession.setActiveSession)
    }
    val viaDefault = run("t_ss_default", None)
    val viaRocks = run("t_ss_rocksdb", Some(
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))
    assert(viaRocks === viaDefault && viaRocks.nonEmpty)
  }

  test("streaming near-dup candidates equal the batch band join; counts are band-exact") {
    val index = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "pack my box with five dozen liquor jugs right now"),
      (3L, "completely different content with no relation at all here")
    ).toDF("doc_id", "text")
    val indexBands = graft.ext.Dedup.nativeBands(index, "doc_id", "text")
      .withColumnRenamed("doc_id", "index_id")
    val incoming = Seq(
      // identical to doc 1 -> all 4 bands agree
      (101L, "the quick brown fox jumps over the lazy dog today"),
      // unrelated -> no row
      (102L, "nothing shared with anything in the corpus index")
    )
    val stream = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingOps.streamNearDupCandidates(
        stream.toDF().toDF("doc_id", "text"), indexBands)
      .writeStream.format("memory").queryName("t_neardup")
      .outputMode("complete").start()
    try { stream.addData(incoming); q.processAllAvailable() }
    finally q.stop()
    val got = spark.table("t_neardup")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq === Seq((101L, 1L, 4L)))
    // batch equivalence: the same transform over the same data as a
    // plain batch frame yields the same rows
    val batch = graft.streaming.StreamingOps.streamNearDupCandidates(
        incoming.toDF("doc_id", "text"), indexBands)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(batch.toSeq.sorted === got.toSeq.sorted)
  }
}
