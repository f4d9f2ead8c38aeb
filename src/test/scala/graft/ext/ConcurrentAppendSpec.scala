package graft.ext

import scala.concurrent.{Await, Future}
import scala.concurrent.duration._
import scala.concurrent.ExecutionContext.Implicits.global

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The multi-writer protocol of the store log ([[StoreGenerations.land]]
  * + [[StoreSnapshots.commitLanded]] — land, CAS-commit the exact file
  * set, re-base on a lost race): N genuinely racing writers must each
  * get their WHOLE batch into the log exactly once, every surviving
  * generation must differ from its parent by exactly one writer's
  * batch (no torn batches, ever), pinned readers must be untouched,
  * an append must never publish a file it did not land, a compaction
  * racing an append must keep the append, a streaming replay must
  * publish nothing even after compaction and vacuum, and the stores'
  * one `append` must be invisible in the answer under concurrency
  * (== the direct chains over the same logical corpus). */
class ConcurrentAppendSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def deleteTree(p: String): Unit = {
    val root = java.nio.file.Paths.get(p)
    if (java.nio.file.Files.exists(root)) {
      val it = java.nio.file.Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        it.iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.delete)
      } finally it.close()
    }
  }

  /** A bare one-artifact store at `path`: `ids.parquet` holding
    * `baseRows`, its log at entry 0. Returns the artifact directory. */
  private def freshChain(path: String, baseRows: Seq[Long]): String = {
    import spark.implicits._
    deleteTree(path)
    val ids = s"$path/ids.parquet"
    baseRows.toDF("id").coalesce(1).write.parquet(ids)
    StoreSnapshots.publish(path, 0L, StoreSnapshots.inventory(path, Seq(ids), Nil))
    ids
  }

  private def canon(p: String): String =
    java.nio.file.Paths.get(p).toAbsolutePath.normalize.toString

  private def chainIds(ids: String): Set[Long] =
    StoreGenerations.read(spark, ids)
      .collect().map(_.getLong(0)).toSet

  private def commit(path: String, ids: String, files: Seq[String]): Long =
    StoreSnapshots.commitLanded(path, Map(ids -> files), None)

  test("racing writers each commit their whole batch exactly once, " +
    "and every generation adds exactly one writer's batch") {
    val path = "/tmp/graft_concspec_race"
    val ids0 = freshChain(path, Seq(0L))
    import spark.implicits._
    val writers = 6
    val barrier = new java.util.concurrent.CyclicBarrier(writers)
    val landed = new java.util.concurrent.ConcurrentHashMap[String, Seq[String]]()
    val futures = (1 to writers).map { w =>
      Future {
        // two rows per writer, landed as two files (two lands, one
        // commit of the combined set)
        val files =
          StoreGenerations.land(Seq(w * 100L).toDF("id").coalesce(1),
            ids0, None) ++
          StoreGenerations.land(Seq(w * 100L + 1L).toDF("id").coalesce(1),
            ids0, None)
        landed.put(s"t$w", files)
        barrier.await() // maximize genuine commit contention
        commit(path, ids0, files)
      }
    }
    Await.result(Future.sequence(futures), 5.minutes)
    // every writer's rows present exactly once
    val ids = StoreGenerations.read(spark, ids0)
      .groupBy(col("id")).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = (Seq(0L) ++
      (1 to writers).flatMap(w => Seq(w * 100L, w * 100L + 1L))).toSet
    assert(ids.keySet == expected)
    assert(ids.values.forall(_ == 1L), s"duplicated rows: $ids")
    // log shape: base gen + one generation per writer, each adding
    // exactly that writer's whole landed batch — atomic visibility
    val cur = StoreSnapshots.currentGen(path).get
    assert(cur == writers.toLong)
    import scala.jdk.CollectionConverters._
    val owner: Map[String, String] = landed.asScala.toSeq.flatMap {
      case (w, fs) => fs.map(f => canon(f) -> w)
    }.toMap
    def filesAt(g: Long) = StoreSnapshots.pinAt(spark, path, g).files(ids0).toSet
    (1L to cur).foreach { g =>
      val prev = filesAt(g - 1)
      val now = filesAt(g)
      assert(prev.subsetOf(now), s"gen $g dropped files")
      val added = (now -- prev).toSeq
      val tags = added.map(p => owner.getOrElse(canon(p),
        fail(s"gen $g adopted a file no writer landed: $p"))).distinct
      assert(tags.length == 1,
        s"gen $g mixes writers' files: $added")
      assert(added.map(canon).toSet == landed.get(tags.head).map(canon).toSet,
        s"gen $g carries a PARTIAL batch for ${tags.head}")
    }
  }

  test("a reader pinned before the race resolves its exact state") {
    val path = "/tmp/graft_concspec_pin"
    val ids = freshChain(path, Seq(1L, 2L))
    import spark.implicits._
    val before = chainIds(ids)
    val pinnedGen = StoreSnapshots.currentGen(path).get
    val futures = (1 to 3).map { w =>
      Future {
        commit(path, ids, StoreGenerations.land(Seq(w + 10L).toDF("id"), ids, None))
      }
    }
    Await.result(Future.sequence(futures), 5.minutes)
    val pinned = StoreSnapshots.pinAt(spark, path, pinnedGen).read(ids)
      .collect().map(_.getLong(0)).toSet
    assert(pinned == before)
    assert(chainIds(ids) == before ++ Set(11L, 12L, 13L))
  }

  test("re-base without a race: a commit on a stale base adopts the " +
    "interleaved writer's generation as its parent") {
    val path = "/tmp/graft_concspec_rebase"
    val ids = freshChain(path, Seq(0L))
    import spark.implicits._
    val filesA = StoreGenerations.land(Seq(100L).toDF("id"), ids, None)
    // writer B lands AND commits while A sits between land and commit
    commit(path, ids, StoreGenerations.land(Seq(200L).toDF("id"), ids, None))
    val genA = commit(path, ids, filesA)
    assert(genA == 2L)
    assert(chainIds(ids) == Set(0L, 100L, 200L))
  }

  test("replaying a commit of already-chained files is a no-op") {
    val path = "/tmp/graft_concspec_replay"
    val ids = freshChain(path, Seq(0L))
    import spark.implicits._
    val files = StoreGenerations.land(Seq(7L).toDF("id"), ids, None)
    val gen = commit(path, ids, files)
    assert(commit(path, ids, files) == gen)
    assert(StoreSnapshots.currentGen(path).get == gen)
    assert(chainIds(ids) == Set(0L, 7L))
  }

  test("a foreign partial adoption of a writer's batch fails loudly") {
    val path = "/tmp/graft_concspec_torn"
    val ids = freshChain(path, Seq(0L))
    import spark.implicits._
    val files =
      StoreGenerations.land(Seq(1L).toDF("id").coalesce(1), ids, None) ++
      StoreGenerations.land(Seq(2L).toDF("id").coalesce(1), ids, None)
    assert(files.length == 2)
    // a foreign commit adopts ONE of the writer's two files
    commit(path, ids, files.take(1))
    val e = intercept[IllegalArgumentException] {
      commit(path, ids, files)
    }
    assert(e.getMessage.contains("PARTIALLY"))
  }

  // ---- multi-artifact stores: one commit spans every artifact ----

  private def docs: DataFrame =
    graft.sources.Tables.documents(spark, dir).select("doc_id", "text")

  private def snapDocIds(path: String, artifact: String, gen: Long): Set[Long] =
    StoreSnapshots.pinAt(spark, path, gen).read(s"$path/$artifact")
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet

  private def bm25Rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  test("an append never publishes files it did not land: a crashed " +
    "append's leftovers and another writer's uncommitted files stay out") {
    val path = "/tmp/graft_concspec_strays"
    deleteTree(path)
    val corpus = docs.filter(col("doc_id") >= 20 && col("doc_id") < 300)
    val base = corpus.filter(col("doc_id") % 2 === 0)
    val batch = corpus.filter(col("doc_id") % 2 === 1)
    RetrievalIndexStore.build(base, "doc_id", "text", path, tokBuckets = 16)
    val postings = s"$path/postings.parquet"
    val stats = s"$path/stats.parquet"
    // the store's own derivation of a document set: bucketed postings
    // and the one (N, T) stats row
    def postRows(b: DataFrame): DataFrame =
      Retrieval.postings(b, "doc_id", "text")
        .select(col("doc_id").cast("long").as("doc_id"), col("tok"),
          col("tf"), col("dl"))
        .withColumn("tok_bucket", pmod(xxhash64(col("tok")), lit(16L)))
    def statsRow(post: DataFrame): DataFrame =
      post.groupBy("doc_id").agg(max("dl").as("__dl"))
        .agg(count(lit(1)).as("n_docs"), sum("__dl").as("total_dl"))
    // stray 1: a crashed append of THIS batch — its postings and stats
    // written into the artifact directories (part files under the
    // tok_bucket=* dirs, as a direct append writes them), never
    // committed. A retry must not publish the batch twice.
    val crashed = postRows(batch).localCheckpoint()
    crashed.repartition(col("tok_bucket")).write.partitionBy("tok_bucket")
      .mode("append").parquet(postings)
    statsRow(crashed).coalesce(1).write.mode("append").parquet(stats)
    // stray 2: another writer's landed-but-uncommitted batch
    val other = docs.filter(col("doc_id") >= 300 && col("doc_id") < 340)
      .select((col("doc_id") + 900000L).as("doc_id"), col("text"))
    val otherPost = postRows(other).localCheckpoint()
    val otherFiles =
      StoreGenerations.land(otherPost, postings, Some("tok_bucket")) ++
        StoreGenerations.land(statsRow(otherPost), stats, None)
    assert(otherFiles.nonEmpty)
    assert(graft.sources.Layout.listParquet(postings)
      .exists(_.contains("tok_bucket=")), "strays must sit in bucket dirs")

    RetrievalIndexStore.append(batch, "doc_id", "text", path)

    val want = base.count() + batch.count()
    def nDocs(df: DataFrame): Long =
      df.agg(sum("n_docs")).collect()(0).getLong(0)
    assert(nDocs(StoreGenerations.read(spark, stats)) == want)
    assert(nDocs(StoreSnapshots.pin(spark, path).read(stats)) == want)
    val queries = docs.filter(col("doc_id") < 10)
      .select(col("doc_id").as("query_id"),
        array(lit("dup"), lit("vector"), lit("line")).as("terms"))
    val stored = bm25Rows(RetrievalIndexStore.query(spark, path, queries,
      "query_id", "terms", k = 5))
    assert(stored.nonEmpty)
    assert(stored == bm25Rows(Retrieval.bm25TopK(queries, "query_id",
      "terms", base.unionByName(batch), "doc_id", "text", 5)))
  }

  test("racing sig-store writers commit bands and sets ATOMICALLY: " +
    "every surviving snapshot's bands cover exactly its sets") {
    val path = "/tmp/graft_concspec_sig"
    deleteTree(path)
    val base = docs.filter(col("doc_id") < 200)
    SignatureStore.build(base, "doc_id", "text", path)
    StoreSnapshots.enable("sig", path)
    val writers = 4
    val barrier = new java.util.concurrent.CyclicBarrier(writers)
    val futures = (1 to writers).map { w =>
      Future {
        val batch = docs
          .filter(col("doc_id") >= 200 && col("doc_id") % writers === w - 1)
          .select((col("doc_id") + 10000L * w).as("doc_id"), col("text"))
        barrier.await()
        SignatureStore.append(batch, "doc_id", "text", path)
      }
    }
    Await.result(Future.sequence(futures), 10.minutes)
    val cur = StoreSnapshots.currentGen(path).get
    assert(cur == writers.toLong) // one snapshot per writer, re-based
    // THE atomicity audit: at EVERY snapshot, a band-probe candidate
    // always has its verification set — doc sets identical per pin
    (0L to cur).foreach { g =>
      val bandDocs = snapDocIds(path, "bands.parquet", g)
      val setDocs = snapDocIds(path, "sets.parquet", g)
      assert(bandDocs == setDocs,
        s"snapshot $g is TORN: bands ${bandDocs.size} docs vs sets " +
          s"${setDocs.size}")
    }
    // and the final state carries every writer's whole batch
    val baseIds = base.select("doc_id").collect().map(_.getLong(0)).toSet
    val want = baseIds ++ (1 to writers).flatMap { w =>
      docs.filter(col("doc_id") >= 200 && col("doc_id") % writers === w - 1)
        .collect().map(r => r.getLong(0) + 10000L * w)
    }.toSet
    assert(snapDocIds(path, "bands.parquet", cur) == want)
  }

  test("a store pin between a writer's private lands sees NOTHING of " +
    "the batch; the file-level commit then publishes all of it") {
    val path = "/tmp/graft_concspec_sig2"
    deleteTree(path)
    val base = docs.filter(col("doc_id") < 100)
    SignatureStore.build(base, "doc_id", "text", path)
    StoreSnapshots.enable("sig", path)
    val before = snapDocIds(path, "bands.parquet",
      StoreSnapshots.currentGen(path).get)
    val batch = docs.filter(col("doc_id") >= 100 && col("doc_id") < 150)
    val (shingleN, numHashes) = SignatureStore.params(spark, path)
    // land (the writer's first half-step)…
    val bands = StoreGenerations.land(
      Dedup.nativeBands(batch, "doc_id", "text", shingleN, numHashes)
        .select(col("doc_id").cast("long").as("doc_id"),
          col("band"), col("bkey")),
      s"$path/bands.parquet", None)
    // …a reader pinning NOW sees the pre-batch store exactly
    val mid = StoreSnapshots.pin(spark, path)
    assert(mid.read(s"$path/bands.parquet")
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
      == before)
    // finish the batch and commit it as one snapshot
    val sets = StoreGenerations.land(
      Dedup.shingleRows(batch, "doc_id", "text", shingleN)
        .groupBy(col("doc_id"))
        .agg(collect_list(col("shingle")).as("shingles"))
        .select(col("doc_id").cast("long").as("doc_id"), col("shingles")),
      s"$path/sets.parquet", None)
    StoreSnapshots.commitLanded(path, Map(
      s"$path/bands.parquet" -> bands, s"$path/sets.parquet" -> sets), None)
    val cur = StoreSnapshots.currentGen(path).get
    val after = snapDocIds(path, "bands.parquet", cur)
    assert(after == before ++ batch.collect().map(_.getLong(0)))
    assert(snapDocIds(path, "sets.parquet", cur) == after)
    // the mid-flight pin STILL resolves the pre-batch store
    assert(mid.read(s"$path/bands.parquet")
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
      == before)
  }

  test("racing BM25 writers never let postings outrun df/stats: at " +
    "every snapshot, stats' N equals the postings' distinct docs") {
    val path = "/tmp/graft_concspec_bm25"
    deleteTree(path)
    val corpus = docs.filter(col("doc_id") >= 20 && col("doc_id") < 300)
    RetrievalIndexStore.build(corpus.filter(col("doc_id") % 3 === 0),
      "doc_id", "text", path)
    StoreSnapshots.enable("retrieval", path)
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val futures = Seq(1, 2).map { m =>
      Future {
        barrier.await()
        RetrievalIndexStore.append(
          corpus.filter(col("doc_id") % 3 === m),
          "doc_id", "text", path)
      }
    }
    Await.result(Future.sequence(futures), 10.minutes)
    val cur = StoreSnapshots.currentGen(path).get
    (0L to cur).foreach { g =>
      val pin = StoreSnapshots.pinAt(spark, path, g)
      val nPost = pin.read(s"$path/postings.parquet")
        .select("doc_id").distinct().count()
      val nStats = pin.read(s"$path/stats.parquet")
        .agg(sum("n_docs")).collect()(0).getLong(0)
      assert(nPost == nStats,
        s"snapshot $g TORN: $nPost posting docs vs stats N=$nStats")
    }
    assert(StoreSnapshots.pinAt(spark, path, cur)
      .read(s"$path/postings.parquet")
      .select("doc_id").distinct().count() == corpus.count())
  }

  private def bm25Queries: DataFrame =
    docs.filter(col("doc_id") < 10)
      .select(col("doc_id").as("query_id"),
        array(lit("dup"), lit("vector"), lit("line")).as("terms"))

  test("a compaction racing an append keeps the append: no row lost, " +
    "the batch published once, BM25 df/stats sums exact") {
    val path = "/tmp/graft_concspec_cptrace"
    deleteTree(path)
    val corpus = docs.filter(col("doc_id") >= 20 && col("doc_id") < 300)
    val base = corpus.filter(col("doc_id") % 3 =!= 0)
    val batch = corpus.filter(col("doc_id") % 3 === 0)
    RetrievalIndexStore.build(base.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", path, tokBuckets = 16)
    RetrievalIndexStore.append(base.filter(col("doc_id") % 2 === 1),
      "doc_id", "text", path)
    // the compaction reads one pinned entry and lands its output…
    val pin = StoreSnapshots.pin(spark, path)
    val done = StoreMaintenance.artifactsOf("retrieval", path)
      .map(StoreMaintenance.rewrite(spark, pin, _, 128L << 20))
    // …an append commits between its read and its publish…
    val appended = RetrievalIndexStore.append(batch, "doc_id", "text", path)
    // …and the compaction's commit re-bases onto it
    assert(StoreMaintenance.commitRewrites(path, done) == appended + 1)
    val now = StoreSnapshots.pin(spark, path)
    val post = Retrieval.postings(corpus, "doc_id", "text")
    assert(now.read(s"$path/stats.parquet").agg(sum("n_docs"))
      .head().getLong(0) == corpus.count())
    assert(now.read(s"$path/postings.parquet").count() == post.count())
    assert(bm25Rows(now.read(s"$path/df.parquet").groupBy("tok")
      .agg(sum("df").as("df"))) ==
      bm25Rows(post.groupBy("tok").agg(count(lit(1)).as("df"))))
    assert(bm25Rows(RetrievalIndexStore.query(spark, path, bm25Queries,
      "query_id", "terms", k = 5)) == bm25Rows(Retrieval.bm25TopK(
      bm25Queries, "query_id", "terms", corpus, "doc_id", "text", 5)))
  }

  test("two racing compactions: the loser fails loudly leaving only " +
    "unreferenced files, and a plain retry converges") {
    val path = "/tmp/graft_concspec_cptcpt"
    deleteTree(path)
    SignatureStore.build(docs.filter(col("doc_id") < 200),
      "doc_id", "text", path)
    SignatureStore.append(docs.filter(col("doc_id") >= 200 &&
      col("doc_id") < 260).select((col("doc_id") + 600000L).as("doc_id"),
      col("text")), "doc_id", "text", path)
    val probe = docs.filter(col("doc_id") >= 260 && col("doc_id") < 290)
      .select((col("doc_id") + 800000L).as("doc_id"), col("text"))
    def answers(): Set[Seq[Any]] = bm25Rows(
      SignatureStore.ingest(spark, path, probe, "doc_id", "text"))
    val before = answers()
    val specs = StoreMaintenance.artifactsOf("sig", path)
    val pin = StoreSnapshots.pin(spark, path)
    val a = specs.map(StoreMaintenance.rewrite(spark, pin, _, 128L << 20))
    val b = specs.map(StoreMaintenance.rewrite(spark, pin, _, 128L << 20))
    val won = StoreMaintenance.commitRewrites(path, a)
    val e = intercept[IllegalStateException] {
      StoreMaintenance.commitRewrites(path, b)
    }
    assert(e.getMessage.contains("concurrent compaction"))
    assert(StoreSnapshots.currentGen(path).contains(won))
    // the loser's output is on disk and no entry names it
    val loser = b.flatMap(_._3).map(canon)
    val named = (0L to won).flatMap(g => specs.flatMap(s =>
      StoreSnapshots.pinAt(spark, path, g).files(s.dir))).map(canon).toSet
    assert(loser.nonEmpty && loser.forall(f =>
      java.nio.file.Files.exists(java.nio.file.Paths.get(f))))
    assert(loser.forall(f => !named.contains(f)))
    assert(answers() == before)
    // a plain retry converges, and the vacuum sweeps the loser's files
    StoreMaintenance.compactSignatureStore(spark, path)
    assert(answers() == before)
    specs.foreach(s =>
      assert(StoreGenerations.currentFiles(s.dir).get.length == 1, s.dir))
    StoreMaintenance.vacuumStore("sig", path, 1)
    assert(loser.forall(f =>
      !java.nio.file.Files.exists(java.nio.file.Paths.get(f))))
  }

  test("a streaming replay after compaction and a keep-1 vacuum " +
    "publishes nothing: row counts unchanged") {
    val path = "/tmp/graft_concspec_replaycpt"
    deleteTree(path)
    val corpus = docs.filter(col("doc_id") >= 20 && col("doc_id") < 300)
    val wave = corpus.filter(col("doc_id") % 2 === 1)
    RetrievalIndexStore.build(corpus.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", path, tokBuckets = 16)
    def counts(): (Long, Long) = {
      val p = StoreSnapshots.pin(spark, path)
      (p.read(s"$path/stats.parquet").agg(sum("n_docs")).head().getLong(0),
        p.read(s"$path/postings.parquet").count())
    }
    RetrievalIndexStore.append(wave, "doc_id", "text", path,
      batch = Some((0L, "rt")))
    val after = counts()
    assert(after._1 == corpus.count())
    StoreMaintenance.compactRetrievalIndexStore(spark, path)
    StoreMaintenance.vacuumStore("retrieval", path, 1)
    val gen = StoreSnapshots.currentGen(path).get
    // the same micro-batch again: a crash after the store commit and
    // before the stream's own commit log replays it
    RetrievalIndexStore.append(wave, "doc_id", "text", path,
      batch = Some((0L, "rt")))
    assert(counts() == after)
    assert(StoreSnapshots.currentGen(path).contains(gen))
  }

  test("a streaming canonical append and a concurrent file-level " +
    "writer coexist: both batches land, every snapshot consistent, " +
    "replay still commits nothing") {
    val path = "/tmp/graft_concspec_interplay"
    deleteTree(path)
    SignatureStore.build(docs.filter(col("doc_id") < 150),
      "doc_id", "text", path)
    StoreSnapshots.enable("sig", path)
    val canonical = docs
      .filter(col("doc_id") >= 150 && col("doc_id") < 200)
      .select((col("doc_id") + 600000L).as("doc_id"), col("text"))
      .localCheckpoint()
    val own = docs.filter(col("doc_id") >= 200 && col("doc_id") < 250)
      .select((col("doc_id") + 700000L).as("doc_id"), col("text"))
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val fCanon = Future {
      barrier.await()
      // what runSigIngestSink does per micro-batch
      SignatureStore.append(canonical, "doc_id", "text", path,
        batch = Some((0L, "ip")))
    }
    val fOwn = Future {
      barrier.await()
      SignatureStore.append(own, "doc_id", "text", path)
    }
    Await.result(Future.sequence(Seq(fCanon, fOwn)), 10.minutes)
    val cur = StoreSnapshots.currentGen(path).get
    // every surviving generation is cross-artifact consistent,
    // however the two commits interleaved
    (0L to cur).foreach { g =>
      assert(snapDocIds(path, "bands.parquet", g)
        == snapDocIds(path, "sets.parquet", g), s"snapshot $g torn")
    }
    val want = docs.filter(col("doc_id") < 150)
      .collect().map(_.getLong(0)).toSet ++
      canonical.collect().map(_.getLong(0)) ++
      own.collect().map(_.getLong(0))
    assert(snapDocIds(path, "bands.parquet", cur) == want)
    // a replayed micro-batch finds its run's `t` line and commits
    // nothing — no new generation, state unchanged
    SignatureStore.append(canonical, "doc_id", "text", path,
      batch = Some((0L, "ip")))
    assert(StoreSnapshots.currentGen(path).get == cur)
    assert(snapDocIds(path, "bands.parquet", cur) == want)
  }

  // ---- the vector store's concurrent face ----

  private val (numSub, subDim) = (4, 2)
  private def emb: DataFrame =
    graft.sources.Tables.embeddings(spark, dir).select("vec_id", "embedding")
  private def queries: DataFrame = emb.filter(col("vec_id") < 5)
  private def cands: DataFrame = emb.filter(col("vec_id") >= 20)
  private def cents: DataFrame = cands.filter(col("vec_id") % 37 === 0)
  private def codebook: DataFrame = {
    val res = Similarity.ivfResiduals(cands, cents, "vec_id", "embedding")
      .select(col("neighbor_id").as("vec_id"), col("__rv").as("embedding"))
    KMeans.codebook(
      KMeans.fit(res, "vec_id", "embedding",
        k = 4, numSub = numSub, subDim = subDim, iters = 2))
      .select(col("cid").as("vec_id"), col("vector").as("embedding"))
  }
  private def rows(df: DataFrame): Set[(Long, Long, Int, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getInt(2), r.getDouble(3))).toSet

  test("concurrent vector-store appendOwn writers == the direct " +
    "IVFADC chain, with the snapshot chain advanced consistently") {
    val path = "/tmp/graft_concspec_vec"
    deleteTree(path)
    val cb = codebook.localCheckpoint()
    val base = cands.filter(col("vec_id") % 3 === 0)
    VectorIndexStore.build(base, "vec_id", "embedding", path, cents, cb,
      numSub, subDim)
    StoreSnapshots.enable("vector", path)
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val futures = Seq(1, 2).map { m =>
      Future {
        barrier.await()
        VectorIndexStore.append(
          cands.filter(col("vec_id") % 3 === m),
          "vec_id", "embedding", path)
      }
    }
    Await.result(Future.sequence(futures), 5.minutes)
    val stored = rows(VectorIndexStore.query(spark, path, queries,
      "vec_id", "embedding", k = 3, nprobe = 2))
    val direct = rows(Similarity.ivfPqTopK(queries, cands, cents, cb,
      "vec_id", "embedding", k = 3, nprobe = 2,
      numSub = numSub, subDim = subDim))
    assert(stored == direct)
    assert(stored.nonEmpty)
    // the log caught up to a consistent current state: the pin
    // resolves exactly the codes artifact's current file set
    val codesDir = s"$path/codes.parquet"
    val pinned = StoreSnapshots.pin(spark, path).files(codesDir).map(canon)
    val current = StoreGenerations.currentFiles(codesDir).get.map(canon)
    assert(pinned.sorted == current.sorted)
  }
}
