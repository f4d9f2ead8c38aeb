package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.ext._
import graft.f1.{ChartSink, F1Dashboard, F1Schemas, F1Session}
import graft.streaming.StreamingOps

object Script {
  private val mapper = new ObjectMapper()
  def lines(p: Path): IndexedSeq[JsonNode] =
    Files.readAllLines(p).asScala.filter(_.nonEmpty).map(l => mapper.readTree(l))
      .toIndexedSeq
}

/** f1_dashboard: the analyst's scripted closed loop over one generated
  * season. Telemetry and matrix operations go through one held
  * `F1Session` (its cached laps serve every operation until the script
  * switches session); catalog and drill-down operations go through
  * `F1Dashboard`, which opens and releases its own session. */
final class F1Workload(spark: SparkSession, rec: Recorder, inputs: Path,
                       record: Boolean) extends Workload {
  private val tables = Seq("meetings" -> F1Schemas.meetings,
    "sessions" -> F1Schemas.sessions, "drivers" -> F1Schemas.drivers,
    "laps" -> F1Schemas.laps, "stints" -> F1Schemas.stints,
    "car_data" -> F1Schemas.carData, "location" -> F1Schemas.location)
  private val Compounds = Seq("SOFT", "MEDIUM", "HARD", "INTERMEDIATE", "WET")
  private val script: IndexedSeq[JsonNode] = {
    val all = Script.lines(inputs.resolve("ops.jsonl"))
    if (record) all.groupBy(_.get("key").asText).values.map(_.head)
      .toIndexedSeq.sortBy(_.get("key").asText)
    else all
  }
  private var pos = 0
  private var dir: String = _
  private var held: Option[(Long, F1Session)] = None

  def setup(d: Path): Unit = {
    held.foreach(_._2.release()); held = None
    val out = d.resolve("inputs")
    tables.foreach { case (name, schema) =>
      Harness.readJsonl(spark, inputs.resolve(s"$name.jsonl"), schema)
        .coalesce(1).write.mode(SaveMode.Overwrite)
        .parquet(out.resolve(s"$name.parquet").toString)
    }
    dir = out.toString
  }

  def hasNext: Boolean = pos < script.length

  private def session(key: Long): F1Session = held match {
    case Some((k, s)) if k == key => s
    case _ =>
      held.foreach(_._2.release())
      val s = new F1Session(spark, key, dir)
      held = Some((key, s))
      switchOps += rec.currentOp
      s
  }
  private val switchOps = scala.collection.mutable.ArrayBuffer.empty[Int]

  override def summary(): Map[String, Any] = Map("switch_ops" -> switchOps.toSeq)

  private def expectCount(what: String, got: Int, want: Int, digest: String) =
    if (got == want) Checked(ok = true, digest)
    else Checked(ok = false, digest, s"$what: got $got, want $want")

  /** The script's runs of five operations alternate qualifying and race
    * sessions. The warm pass takes the first (qualifying) run, and a group
    * is the next race run plus qualifying run, so every measured window
    * holds whole groups with one run of each session type whatever the
    * host's speed. */
  override def boundary: Boolean = pos % 10 == 5

  def next(): (String, String, () => Checked) = {
    val op = script(pos)
    pos += 1
    val kind = op.get("kind").asText
    val key = op.get("key").asText
    val check: () => Checked = kind match {
      case "weekends" =>
        val rows = rec.span("f1.catalog")(
          F1Dashboard.weekends(spark, op.get("year").asInt, dir).collect())
        () => expectCount("weekends", rows.length,
          op.get("expect_rows").asInt, Digest.rows(rows.toSeq))
      case "sessions" =>
        val rows = rec.span("f1.catalog")(F1Dashboard.sessionsInWeekend(
          spark, op.get("meeting_key").asLong, dir).collect())
        () => expectCount("sessions", rows.length,
          op.get("expect_rows").asInt, Digest.rows(rows.toSeq))
      case "drilldown" =>
        val svg = rec.span("f1.drilldown")(F1Dashboard.drillDown(spark,
          op.get("year").asInt, op.get("weekend").asText,
          op.get("session_name").asText, dir))
        () => expectCount("bars", "class=\"bar\"".r.findAllIn(svg).length,
          op.get("expect_bars").asInt, Digest.sha256(svg))
      case "telemetry" =>
        val s = session(op.get("session_key").asLong)
        val svg = rec.span("f1.telemetry") {
          val frame = s.lapTelemetry(op.get("driver").asLong,
            op.get("lap").asLong)
          rec.span("f1.chart")(ChartSink.telemetrySvg(frame))
        }
        () => {
          val pts = "class=\"speed\" points=\"([^\"]*)\"".r
            .findFirstMatchIn(svg).map(_.group(1).split(' ').length)
            .getOrElse(0)
          expectCount("telemetry points", pts, op.get("expect_points").asInt,
            Digest.sha256(svg))
        }
      case "matrix" =>
        val s = session(op.get("session_key").asLong)
        val rows = rec.span("f1.matrix")(s.avgLapMatrix(Compounds).collect())
        () => expectCount("matrix rows", rows.length,
          op.get("expect_rows").asInt,
          Digest.sha256(rows.map(_.mkString("\u0001")).mkString("\n")))
    }
    (kind, key, check)
  }

  override def close(): Unit = held.foreach(_._2.release())
}


/** Document schemas of the store workload's generated inputs. */
object CorpusSchema {
  val docs: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("url", StringType), StructField("lang", StringType),
    StructField("source", StringType)))
  val withEmbedding: StructType =
    docs.add(StructField("embedding", ArrayType(DoubleType)))
  val bench: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))
}

/** store_ingest: the daily loop. Each round drops one generated batch
  * into the long-lived release stream's source directory (probe +
  * fold), appends the batch to the retrieval and vector stores, runs
  * the fixed read set against the fragmented stores, compacts and
  * vacuums them (every `maintainEvery` rounds), and runs the read set
  * again, now against the compacted stores. Set-up builds every store
  * over the base corpus into a fresh directory and starts the stream.
  *
  * Checks: the batch ledger covers every batch document once; the
  * stream's fold grew the release store's seen-url and seen-hash filters
  * by the batch's distinct urls and texts and its signature index by the
  * kept documents; the appends grew both stores by the batch; every
  * query returns k results; compaction keeps every row, lowers the live
  * file count, and leaves each query's answer unchanged. */
final class StoreWorkload(spark: SparkSession, rec: Recorder, inputs: Path)
    extends Workload {
  private val shape = new ObjectMapper().readTree(
    Files.readString(inputs.resolve("shape.json")))
  private val maintainEvery = shape.get("maintain_every").asInt
  private val batchFiles = Files.list(inputs.resolve("batches")).iterator()
    .asScala.toSeq.map(_.getFileName.toString).sorted
  private val rounds = batchFiles.length
  private val K = 5 // results per store query
  private var live: Path = _
  private var stream: Option[StreamingQuery] = None
  @volatile private var lastLedger: DataFrame = _
  private var queries: Seq[(Int, DataFrame, DataFrame)] = Nil
  private var pending = Vector.empty[() => (String, String, () => Checked)]
  private var round = 0
  private var userBytes = Files.size(inputs.resolve("base.jsonl"))
  /** Release-store row counts after the last fold (urls, hashes, sig). */
  private var releaseRows = (0L, 0L, 0L)
  /** Retrieval and vector store contents after the last append. */
  private var storeState = StoreState(0L, 0L, 0L, 0, 0)
  /** This round's answers before compaction, by read key. */
  private val answers = scala.collection.mutable.Map.empty[String, String]

  private def rel = live.resolve("stores/release").toString
  private def ret = live.resolve("stores/retrieval").toString
  private def vec = live.resolve("stores/vector").toString
  private def read(dir: String) = StoreGenerations.read(spark, dir)

  private case class StoreState(docs: Long, postings: Long, codes: Long,
                                retrievalFiles: Int, vectorFiles: Int) {
    def rows: (Long, Long, Long) = (docs, postings, codes)
  }

  private def releaseCounts(): (Long, Long, Long) = (
    read(s"$rel/urls.parquet").count(), read(s"$rel/hashes.parquet").count(),
    read(s"$rel/sig/sets.parquet").count())

  /** Indexed documents, postings rows, vector codes, and the parquet files
    * the current generations of each store reference. */
  private def storeCounts(): StoreState = {
    def files(dirs: String*) =
      dirs.map(d => StoreGenerations.currentFiles(d).map(_.size).getOrElse(0)).sum
    StoreState(
      read(s"$ret/stats.parquet").agg(sum("n_docs")).head().getLong(0),
      read(s"$ret/postings.parquet").count(), read(s"$vec/codes.parquet").count(),
      files(s"$ret/postings.parquet", s"$ret/df.parquet", s"$ret/stats.parquet"),
      files(s"$vec/codes.parquet"))
  }

  def setup(d: Path): Unit = {
    stream.foreach(_.stop()); stream = None
    val in = d.resolve("inputs")
    Harness.readJsonl(spark, inputs.resolve("base.jsonl"),
      CorpusSchema.withEmbedding)
      .write.mode(SaveMode.Overwrite).parquet(in.resolve("base.parquet").toString)
    val corpus = spark.read.parquet(in.resolve("base.parquet").toString)
    Harness.readJsonl(spark, inputs.resolve("benchmark.jsonl"), CorpusSchema.bench)
      .write.mode(SaveMode.Overwrite).parquet(in.resolve("benchmark.parquet").toString)
    val bench = spark.read.parquet(in.resolve("benchmark.parquet").toString)

    // stores are built in place: their generation manifests hold
    // absolute paths, so a copied store would still point at its source
    live = d
    // the base corpus ships as a finished release whose every document
    // was kept (the ledger a clean release of distinct documents writes)
    val ledger = corpus.select(col("doc_id"), lit("kept").as("disposition"))
    ReleaseStore.build(corpus.drop("embedding"), ledger, rel)
    StoreMaintenance.enableStoreGenerations("release", rel)
    RetrievalIndexStore.build(corpus, "doc_id", "text", ret, tokBuckets = 16)
    StoreMaintenance.enableStoreGenerations("retrieval", ret)
    val vecs = corpus.select(col("doc_id").as("vec_id"), col("embedding"))
    val stride = math.max(1L, math.sqrt(vecs.count().toDouble).toLong)
    val cents = vecs.filter(col("vec_id") % stride === 0)
    val res = Similarity.ivfResiduals(vecs, cents, "vec_id", "embedding")
      .select(col("neighbor_id").as("vec_id"), col("__rv").as("embedding"))
    val cb = KMeans.codebook(KMeans.fit(res, "vec_id", "embedding",
        k = 32, numSub = 4, subDim = 4, iters = 2))
      .select(col("cid").as("vec_id"), col("vector").as("embedding"))
    VectorIndexStore.build(vecs, "vec_id", "embedding", vec, cents, cb,
      numSub = 4, subDim = 4, cellBuckets = 8)
    StoreMaintenance.enableStoreGenerations("vector", vec)

    queries = spark.read.schema(StructType(Seq(StructField("query_id", LongType),
        StructField("terms", ArrayType(StringType)),
        StructField("embedding", ArrayType(DoubleType)))))
      .json(inputs.resolve("queries.jsonl").toString).collect().toSeq
      .sortBy(_.getLong(0)).map { r =>
        val id = r.getLong(0)
        val terms = r.getSeq[String](1)
        val emb = r.getSeq[Double](2)
        import spark.implicits._
        (id.toInt, Seq((id, terms)).toDF("query_id", "terms"),
          Seq((id, emb)).toDF("vec_id", "embedding"))
      }
    // each round drops one generated batch file into the stream's
    // source directory; the source reads the documents' columns
    val staged = d.resolve("stream_in")
    Files.createDirectories(staged)
    val src = spark.readStream.schema(CorpusSchema.docs)
      .option("maxFilesPerTrigger", "1").json(staged.toString)
    stream = Some(StreamingOps.runReleaseSink(src, rel, bench,
      d.resolve("stream_ckpt").toString, maxBucketSize = 64,
      onBatch = (b, _) => lastLedger = b.ledger))
    round = 0
    pending = Vector.empty
    // the base documents are distinct in url and text and all kept, so
    // every release member and both stores hold one row per document;
    // postings and live files are first read after an ingest
    val n = shape.get("base_docs").asLong
    releaseRows = (n, n, n)
    storeState = StoreState(n, 0L, n, 0, 0)
  }

  def hasNext: Boolean = pending.nonEmpty || round < rounds

  override def boundary: Boolean = pending.isEmpty

  private def planRound(): Unit = {
    val r = round
    round += 1
    def reads(phase: String) = queries.flatMap { case (q, terms, emb) =>
      Seq(() => queryOp(s"rq:r$r:q$q", phase, RetrievalIndexStore.query(spark,
            ret, terms, "query_id", "terms", k = K), "stores.retrieval_query"),
          () => queryOp(s"vq:r$r:q$q", phase, VectorIndexStore.query(spark,
            vec, emb, "vec_id", "embedding", k = K, nprobe = 3),
            "stores.vector_query"))
    }
    val maint =
      if ((r + 1) % maintainEvery == 0) (() => maintainOp(r)) +: reads("post")
      else Nil
    answers.clear()
    pending = pending ++ ((() => ingestOp(r)) +: reads("pre")) ++ maint
  }

  def next(): (String, String, () => Checked) = {
    if (pending.isEmpty) planRound()
    val op = pending.head
    pending = pending.tail
    op()
  }

  private def ingestOp(r: Int): (String, String, () => Checked) = {
    val src = inputs.resolve("batches").resolve(batchFiles(r))
    // land the file under a hidden name, then rename it into view, so the
    // running stream never lists a partly written file
    val staged = live.resolve("stream_in")
    val tmp = staged.resolve("." + batchFiles(r))
    Files.copy(src, tmp, StandardCopyOption.REPLACE_EXISTING)
    Files.move(tmp, staged.resolve(batchFiles(r)), StandardCopyOption.ATOMIC_MOVE)
    lastLedger = null
    rec.span("streaming.batch")(stream.get.processAllAvailable())
    val batch = Harness.readJsonl(spark, src, CorpusSchema.withEmbedding)
    rec.span("stores.retrieval_append")(RetrievalIndexStore.append(
      batch.select("doc_id", "text"), "doc_id", "text", ret))
    rec.span("stores.vector_append")(VectorIndexStore.append(
      batch.select(col("doc_id").as("vec_id"), col("embedding")),
      "vec_id", "embedding", vec))
    userBytes += Files.size(src)
    val ledger = lastLedger
    ("ingest", s"ingest:r$r", () => {
      require(ledger != null, "the stream processed no batch")
      val rows = ledger.collect()
      val digest = Digest.rows(rows.toSeq)
      val b = batch.agg(collect_set("doc_id"),
        countDistinct(UrlOps.normalize(col("url"))), countDistinct(md5(col("text"))))
        .head()
      val ids = b.getSeq[Long](0).toSet
      val got = rows.map(_.getAs[Long]("doc_id"))
      val kept = rows.count(_.getAs[String]("disposition") == "kept")
      // the fold lands every batch url and text in the seen filters and
      // the kept documents in the signature index
      val grown = (releaseRows._1 + b.getLong(1), releaseRows._2 + b.getLong(2),
        releaseRows._3 + kept)
      val before = storeState
      releaseRows = releaseCounts()
      storeState = storeCounts()
      val n = ids.size.toLong
      val errors = Seq(
        (got.length != ids.size || got.toSet != ids) ->
          s"ledger covers ${got.toSet.size}/${got.length} rows of ${ids.size} batch docs",
        (releaseRows != grown) ->
          s"release store (urls, hashes, sig) = $releaseRows, want $grown",
        (storeState.docs != before.docs + n || storeState.codes != before.codes + n) ->
          s"stores hold ${storeState.docs} docs / ${storeState.codes} codes, " +
            s"want ${before.docs + n} / ${before.codes + n}"
      ).collect { case (true, e) => e }
      Checked(errors.isEmpty, digest, errors.mkString("; "))
    })
  }

  /** A read before compaction records its answer; the same read after
    * compaction must return it unchanged. */
  private def queryOp(key: String, phase: String, result: => DataFrame,
                      spanName: String): (String, String, () => Checked) = {
    val rows = rec.span(spanName)(result.collect())
    val kind = key.take(2)
    (kind, s"$key:$phase", () => {
      val ordered = rows.sortBy(_.getAs[Int]("rank"))
      val digest = Digest.sha256(ordered.map(_.mkString("\u0001")).mkString("\n"))
      val before = answers.getOrElseUpdate(key, digest)
      if (rows.length != K)
        Checked(ok = false, digest, s"$key: ${rows.length} results, want $K")
      else if (before != digest)
        Checked(ok = false, digest, s"$key: answer changed by compaction")
      else Checked(ok = true, digest)
    })
  }

  private def maintainOp(r: Int): (String, String, () => Checked) = {
    rec.span("stores.compact") {
      StoreMaintenance.compactRetrievalIndexStore(spark, ret)
      StoreMaintenance.compactVectorIndexStore(spark, vec)
    }
    rec.span("stores.vacuum") {
      Seq("retrieval" -> ret, "vector" -> vec, "release" -> rel)
        .foreach { case (kind, p) => StoreMaintenance.vacuumStore(kind, p, 1) }
    }
    ("maintain", s"maintain:r$r", () => {
      val before = storeState
      storeState = storeCounts()
      val after = storeState
      if (after.rows != before.rows)
        Checked(ok = false, "", s"compaction changed the stores: $before -> $after")
      else if (after.retrievalFiles >= before.retrievalFiles ||
          after.vectorFiles >= before.vectorFiles)
        Checked(ok = false, "", s"compaction left the live files at $after (had $before)")
      else Checked(ok = true, "")
    })
  }

  override def summary(): Map[String, Any] = {
    val stores = live.resolve("stores")
    Map("user_bytes" -> userBytes,
      "store_bytes" -> Harness.bytesUnder(stores),
      "live_files" -> (Harness.parquetFilesUnder(stores.resolve("retrieval")) +
        Harness.parquetFilesUnder(stores.resolve("vector"))),
      "rounds" -> round)
  }

  override def close(): Unit = stream.foreach(_.stop())
}
