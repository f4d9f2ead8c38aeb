package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The store log must make a multi-artifact append ATOMIC to
  * readers: a query interleaved between the per-artifact landings
  * sees the all-old store (never new postings against stale df), the
  * post-commit query sees all-new; frozen seed files verify at
  * resolve time (missing/modified fails loudly BEFORE any scan); the
  * vacuum keeps every file a surviving entry names; every build
  * publishes entry 0 (a rebuild restarts the log) and every library
  * compaction publishes its own entry; a store of the older layout
  * fails loudly; and the whole protocol runs unchanged on the
  * object-store manifest transport. */
abstract class StoreSnapshotsBehavior(tag: String, objectStore: Boolean)
    extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private lazy val objIo = new graft.sources.ObjectStoreManifestIO

  private def docs: DataFrame =
    graft.sources.Tables.documents(spark, dir).select("doc_id", "text")

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  private def canon(p: String): String =
    java.nio.file.Paths.get(p).toAbsolutePath.normalize.toString

  /** Landed files exist on disk, and the store's current pin resolves
    * none of them for `artifact`. */
  private def landedButUnpublished(path: String, artifact: String,
                                   landed: Seq[String]): Unit = {
    assert(landed.nonEmpty && landed.forall(f =>
      java.nio.file.Files.exists(java.nio.file.Paths.get(f))))
    val resolved = StoreSnapshots.pin(spark, path).read(artifact).inputFiles
      .map(f => canon(new java.net.URI(f).getPath)).toSet
    assert(landed.forall(f => !resolved.contains(canon(f))),
      "the pin must resolve none of the landed files before the commit")
  }

  private def fresh(path0: String): String = {
    val path = s"${path0}_$tag"
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p)) {
      val it = java.nio.file.Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        it.iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.delete)
      } finally it.close()
    }
    if (objectStore) graft.sources.ManifestIO.register(path, objIo)
    path
  }

  // ---- retrieval store: the judge case — postings committed, df not

  private def corpus: DataFrame = docs.filter(col("doc_id") >= 20)
  // the batch duplicates the corpus's RARE-term documents under new
  // ids: appending it changes df("dup") (so every score moves) and
  // adds rankable docs — the committed append MUST shift the answer
  // (non-vacuousness for the all-old/all-new checks). "dup" is the
  // one rare token in the synthetic vocabulary (df 25/500); the
  // others are stopword-frequent and idf-floor to 0.
  private def batchB: DataFrame =
    docs.filter(col("doc_id") >= 20 && col("text").contains("dup"))
      .select((col("doc_id") + 700000).as("doc_id"), col("text"))
  private def queries: DataFrame =
    docs.filter(col("doc_id") < 10)
      .select(col("doc_id").as("query_id"),
        array(lit("dup"), lit("vector"), lit("line")).as("terms"))

  /** The exact per-artifact derivations [[RetrievalIndexStore.append]]
    * runs, exposed stepwise so the test can READ BETWEEN THEIR
    * LANDINGS — the interleaving a crash or a slow writer produces. */
  private def postRows(b: DataFrame, tokBuckets: Int): DataFrame =
    Retrieval.postings(b, "doc_id", "text")
      .select(col("doc_id").cast("long").as("doc_id"), col("tok"),
        col("tf"), col("dl"))
      .withColumn("tok_bucket",
        pmod(xxhash64(col("tok")), lit(tokBuckets.toLong)))

  test("reader between a retrieval append's artifact commits sees the " +
      "all-old store; the snapshot commit flips it to all-new") {
    val path = fresh("/tmp/graft_snapspec_ret")
    RetrievalIndexStore.build(corpus, "doc_id", "text", path)
    StoreSnapshots.enable("retrieval", path)
    val base = rows(RetrievalIndexStore.query(spark, path, queries,
      "query_id", "terms", k = 5))
    assert(base.nonEmpty)

    // HALF-APPEND: batch postings land in their artifact — but df/stats
    // have not landed yet. Were the postings visible here, a reader
    // would score batchB's postings against corpus-only document
    // frequencies.
    val tokBuckets = RetrievalIndexStore.params(spark, path)
    val post = postRows(batchB, tokBuckets).localCheckpoint()
    val landedPost = StoreGenerations.land(post, s"$path/postings.parquet",
      Some("tok_bucket"))
    landedButUnpublished(path, s"$path/postings.parquet", landedPost)
    val interleaved = rows(RetrievalIndexStore.query(spark, path, queries,
      "query_id", "terms", k = 5))
    assert(interleaved == base,
      "a reader between artifact commits must see the ALL-OLD store")

    // finish the append: df + stats land, then the atomic point
    val landedDf = StoreGenerations.land(
      post.groupBy("tok", "tok_bucket").agg(count(lit(1)).as("df")),
      s"$path/df.parquet", Some("tok_bucket"))
    val landedStats = StoreGenerations.land(
      post.groupBy("doc_id").agg(max("dl").as("__dl"))
        .agg(count(lit(1)).as("n_docs"), sum("__dl").as("total_dl")),
      s"$path/stats.parquet", None)
    StoreSnapshots.commitLanded(path, Map(
      s"$path/postings.parquet" -> landedPost,
      s"$path/df.parquet" -> landedDf,
      s"$path/stats.parquet" -> landedStats), None)

    val after = rows(RetrievalIndexStore.query(spark, path, queries,
      "query_id", "terms", k = 5))
    val direct = rows(Retrieval.bm25TopK(queries, "query_id", "terms",
      corpus.unionByName(batchB), "doc_id", "text", 5))
    assert(after == direct,
      "post-commit the store must answer as the extended corpus")
    assert(after != base, "the batch shifts at least one ranking")
  }

  test("library compaction publishes its snapshot: after a keep-1 " +
      "vacuum readers resolve only compacted files, answers unchanged") {
    val path = fresh("/tmp/graft_snapspec_cpt")
    RetrievalIndexStore.build(corpus, "doc_id", "text", path)
    RetrievalIndexStore.append(batchB, "doc_id", "text", path)
    val before = rows(RetrievalIndexStore.query(spark, path, queries,
      "query_id", "terms", k = 5))
    assert(before.nonEmpty)
    val postings = s"$path/postings.parquet"
    def resolved(): Seq[String] = StoreSnapshots.pin(spark, path)
      .read(postings).inputFiles.toSeq.map(f => canon(new java.net.URI(f).getPath))
    val appended = resolved()
    StoreMaintenance.compactRetrievalIndexStore(spark, path)
    StoreMaintenance.vacuumStore("retrieval", path, 1)
    // the current pin names the compacted output: none of the files
    // the append left, one file per bucket dir, all of them on disk
    val files = resolved()
    assert(files.nonEmpty && files.forall(f => !appended.contains(f)),
      files.mkString(", "))
    assert(files.groupBy(f => f.substring(0, f.lastIndexOf('/')))
      .values.forall(_.length == 1))
    assert(graft.sources.Layout.listParquet(postings).map(canon).toSet ==
      files.toSet)
    assert(rows(RetrievalIndexStore.query(spark, path, queries,
      "query_id", "terms", k = 5)) == before)
  }

  test("every store kind is at snapshot 0 right after build; a rebuild " +
      "restarts the chain and asOf = 0 answers the rebuilt contents") {
    val e = graft.sources.Tables.embeddings(spark, dir)
      .select("vec_id", "embedding")
    val cands = e.filter(col("vec_id") >= 20)
    val cents = cands.filter(col("vec_id") % 7 === 0)
    val qs = e.filter(col("vec_id") < 20)
    val probe = docs.filter(col("doc_id") % 13 === 0)
      .select((col("doc_id") + 600000).as("doc_id"),
        concat(col("text"), lit(" snapend")).as("text"))
    val relDocs = graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        concat(lit("https://ex.example/d/"), col("doc_id").cast("string"))
          .as("url"))
    def half(df: DataFrame, id: String, h: Int) = df.filter(col(id) % 2 === h)
    // per kind: build over half h, one append (the chain moves past
    // 0), and the answer the store gives AS OF snapshot 0
    case class Kind(name: String, build: (String, Int) => Unit,
                    grow: String => Unit, at0: String => Set[Seq[Any]])
    val kinds = Seq(
      Kind("sig",
        (p, h) => SignatureStore.build(half(docs, "doc_id", h),
          "doc_id", "text", p),
        p => SignatureStore.append(probe, "doc_id", "text", p),
        p => rows(SignatureStore.ingest(spark, p, probe, "doc_id", "text",
          resolve = Some(StoreSnapshots.pinAt(spark, p, 0L))))),
      Kind("retrieval",
        (p, h) => RetrievalIndexStore.build(half(corpus, "doc_id", h),
          "doc_id", "text", p),
        p => RetrievalIndexStore.append(batchB, "doc_id", "text", p),
        p => rows(RetrievalIndexStore.query(spark, p, queries,
          "query_id", "terms", k = 5, asOf = Some(0L)))),
      Kind("vector",
        (p, h) => VectorIndexStore.build(half(cands, "vec_id", h),
          "vec_id", "embedding", p, cents, cents,
          numSub = 8, subDim = 8, cellBuckets = 16),
        p => VectorIndexStore.append(
          qs.select((col("vec_id") + 900000).as("vec_id"), col("embedding")),
          "vec_id", "embedding", p),
        p => rows(VectorIndexStore.query(spark, p, qs, "vec_id",
          "embedding", k = 3, nprobe = 3, asOf = Some(0L)))),
      Kind("release",
        (p, h) => {
          val d = half(relDocs, "doc_id", h)
          ReleaseStore.build(d,
            d.select(col("doc_id"), lit("kept").as("disposition")), p)
        },
        // the fold's signature step under the release's one chain
        p => StoreSnapshots.commitLanded(p,
          SignatureStore.land(probe, "doc_id", "text", s"$p/sig",
            SignatureStore.paramsAt(StoreSnapshots.pin(spark, p), s"$p/sig"),
            stream = false), None),
        p => {
          val rd = StoreSnapshots.pinAt(spark, p, 0L).read _
          rows(rd(s"$p/urls.parquet")) ++
            rows(rd(s"$p/sig/sets.parquet").select("doc_id"))
        }))
    kinds.foreach { k =>
      val path = fresh(s"/tmp/graft_snapspec_rebuild_${k.name}")
      val twin = fresh(s"/tmp/graft_snapspec_rebuild_${k.name}_twin")
      k.build(twin, 1)
      k.build(path, 0)
      // no enable call anywhere: the build itself published snapshot 0
      assert(StoreSnapshots.currentGen(path).contains(0L), k.name)
      val old = k.at0(path)
      k.grow(path)
      assert(StoreSnapshots.currentGen(path).contains(1L), k.name)
      k.build(path, 1)
      assert(StoreSnapshots.currentGen(path).contains(0L),
        s"${k.name}: a rebuild restarts the chain at 0")
      val rebuilt = k.at0(path)
      assert(rebuilt == k.at0(twin) && rebuilt.nonEmpty, k.name)
      assert(rebuilt != old,
        s"${k.name}: snapshot 0 still answers the old build")
    }
  }

  test("sig store: bands committed without sets stays invisible until " +
      "the snapshot commit; committed state equals a normal append's") {
    val path = fresh("/tmp/graft_snapspec_sig")
    val twin = fresh("/tmp/graft_snapspec_sigtwin")
    val baseDocs = docs.filter(col("doc_id") % 2 === 0)
    val wave = docs.filter(col("doc_id") % 2 === 1)
    val probe = docs.filter(col("doc_id") % 13 === 0)
      .select((col("doc_id") + 600000).as("doc_id"),
        concat(col("text"), lit(" snapend")).as("text"))
    SignatureStore.build(baseDocs, "doc_id", "text", path)
    SignatureStore.build(baseDocs, "doc_id", "text", twin)
    StoreSnapshots.enable("sig", path)
    val before = rows(SignatureStore.ingest(spark, path, probe,
      "doc_id", "text"))
    // half-append: bands only (the exact first half of append())
    val (shingleN, numHashes) = SignatureStore.params(spark, path)
    val bands = StoreGenerations.land(
      Dedup.nativeBands(wave, "doc_id", "text", shingleN, numHashes)
        .select(col("doc_id").cast("long").as("doc_id"),
          col("band"), col("bkey")),
      s"$path/bands.parquet", None)
    landedButUnpublished(path, s"$path/bands.parquet", bands)
    assert(rows(SignatureStore.ingest(spark, path, probe,
      "doc_id", "text")) == before,
      "a reader between bands and sets commits must see the all-old " +
        "store — a new band row without its verification set would " +
        "silently drop the pair instead")
    // finish: sets + the atomic commit
    val sets = StoreGenerations.land(
      Dedup.shingleRows(wave, "doc_id", "text", shingleN)
        .groupBy(col("doc_id"))
        .agg(collect_list(col("shingle")).as("shingles"))
        .select(col("doc_id").cast("long").as("doc_id"), col("shingles")),
      s"$path/sets.parquet", None)
    StoreSnapshots.commitLanded(path, Map(
      s"$path/bands.parquet" -> bands, s"$path/sets.parquet" -> sets), None)
    SignatureStore.append(wave, "doc_id", "text", twin)
    assert(rows(SignatureStore.ingest(spark, path, probe,
      "doc_id", "text")) ==
      rows(SignatureStore.ingest(spark, twin, probe, "doc_id", "text")),
      "the committed snapshot equals a normal append's store")
  }

  test("a store of the older two-layer layout fails loudly: its log is " +
      "rejected, and enable adopts nothing") {
    val path = fresh("/tmp/graft_snapspec_old")
    SignatureStore.build(docs.filter(col("doc_id") < 100), "doc_id", "text",
      path)
    val probe = docs.filter(col("doc_id") < 5)
    val io = graft.sources.ManifestIO.forPath(path)
    // an `a`/`d` snapshot, as the older layout wrote it
    io.put(s"$path/_store_manifests/gen=0",
      "a\tbands.parquet\t0\na\tsets.parquet\t0\n" +
        "d\tbands.parquet\tbands.parquet/gb0.parquet")
    val e1 = intercept[IllegalStateException] {
      SignatureStore.ingest(spark, path, probe, "doc_id", "text")
    }
    assert(e1.getMessage.contains("rebuild the store"), e1.getMessage)
    intercept[IllegalStateException](StoreSnapshots.enable("sig", path))
    // no log, but an artifact still carrying its own `_manifests` chain
    // (its un-vacuumed compaction inputs would double its rows)
    io.delete(s"$path/_store_manifests/gen=0")
    io.put(s"$path/bands.parquet/_manifests/gen=0",
      graft.sources.Layout.listParquet(s"$path/bands.parquet").mkString("\n"))
    val e2 = intercept[IllegalStateException] {
      StoreSnapshots.enable("sig", path)
    }
    assert(e2.getMessage.contains("rebuild the store"), e2.getMessage)
    assert(StoreSnapshots.currentGen(path).isEmpty, "enable adopted files")
  }

  test("frozen seeds verify at resolve time: a modified or missing " +
      "seed fails loudly naming the file, before any scan") {
    val path = fresh("/tmp/graft_snapspec_seed")
    val e = graft.sources.Tables.embeddings(spark, dir)
      .select("vec_id", "embedding")
    val cands = e.filter(col("vec_id") >= 20)
    val cents = cands.filter(col("vec_id") % 7 === 0)
    val qs = e.filter(col("vec_id") < 20)
    VectorIndexStore.build(cands, "vec_id", "embedding", path,
      cents, cents, numSub = 8, subDim = 8, cellBuckets = 16)
    StoreSnapshots.enable("vector", path)
    val ok = rows(VectorIndexStore.query(spark, path, qs,
      "vec_id", "embedding", k = 3, nprobe = 3))
    assert(ok.nonEmpty)
    val seedFile = graft.sources.Layout
      .listParquet(s"$path/centroids.parquet").head
    val orig = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(seedFile))
    // modified seed: size changes → resolve-time failure naming it
    java.nio.file.Files.write(java.nio.file.Paths.get(seedFile),
      (orig :+ 0.toByte))
    val eMod = intercept[IllegalStateException] {
      VectorIndexStore.query(spark, path, qs,
        "vec_id", "embedding", k = 3, nprobe = 3)
    }
    assert(eMod.getMessage.contains("seed file modified") &&
      eMod.getMessage.contains(seedFile))
    // missing seed
    java.nio.file.Files.delete(java.nio.file.Paths.get(seedFile))
    val eGone = intercept[IllegalStateException] {
      VectorIndexStore.query(spark, path, qs,
        "vec_id", "embedding", k = 3, nprobe = 3)
    }
    assert(eGone.getMessage.contains("seed file missing") &&
      eGone.getMessage.contains(seedFile))
    // restored: the store answers exactly as before
    java.nio.file.Files.write(
      java.nio.file.Paths.get(seedFile), orig)
    assert(rows(VectorIndexStore.query(spark, path, qs,
      "vec_id", "embedding", k = 3, nprobe = 3)) == ok)
  }

  test("snapshot-aware vacuum keeps every artifact generation a " +
      "surviving snapshot pins; dropped snapshots fail loudly") {
    val path = fresh("/tmp/graft_snapspec_vac")
    val d = docs
    SignatureStore.build(d.filter(col("doc_id") % 4 === 0),
      "doc_id", "text", path)
    StoreSnapshots.enable("sig", path)
    (1 to 3).foreach { k =>
      SignatureStore.append(d.filter(col("doc_id") % 4 === k),
        "doc_id", "text", path)
    }
    assert(StoreSnapshots.currentGen(path).contains(3L))
    val pin2 = StoreSnapshots.pinAt(spark, path, 2L)
    val n2 = pin2.read(s"$path/bands.parquet").count()
    val (files, manifests) = StoreSnapshots.vacuum("sig", path,
      keepGens = 2)
    assert(manifests >= 2, s"vacuum dropped $manifests manifests")
    // snapshots {2, 3} survive: the old pin still resolves EXACTLY,
    // through artifact generations only snapshot 2 pins
    assert(StoreSnapshots.pinAt(spark, path, 2L)
      .read(s"$path/bands.parquet").count() == n2)
    assert(pin2.read(s"$path/bands.parquet").count() == n2)
    intercept[IllegalStateException] {
      StoreSnapshots.pinAt(spark, path, 1L)
    }
    // a later cycle passing snapshot 2: its pin is gone, loudly
    SignatureStore.append(d.filter(col("doc_id") % 13 === 5)
      .select((col("doc_id") + 800000).as("doc_id"), col("text")),
      "doc_id", "text", path)
    StoreSnapshots.vacuum("sig", path, keepGens = 1)
    intercept[IllegalStateException] {
      StoreSnapshots.pinAt(spark, path, 2L)
    }
    assert(files >= 0)
  }

  test("auto-maintenance on a snapshotted store: one post-compaction " +
      "snapshot, answers unchanged, current pin always resolves") {
    val path = fresh("/tmp/graft_snapspec_auto")
    val d = docs
    val probe = d.filter(col("doc_id") % 13 === 0)
      .select((col("doc_id") + 600000).as("doc_id"),
        concat(col("text"), lit(" snapauto")).as("text"))
    SignatureStore.build(d.filter(col("doc_id") % 4 === 0),
      "doc_id", "text", path)
    StoreSnapshots.enable("sig", path)
    (1 to 2).foreach { k =>
      SignatureStore.append(d.filter(col("doc_id") % 4 === k),
        "doc_id", "text", path)
    }
    val expected = rows(SignatureStore.ingest(spark, path, probe,
      "doc_id", "text"))
    SignatureStore.append(d.filter(col("doc_id") % 4 === 3),
      "doc_id", "text", path,
      autoMaintain = Some(StoreMaintenance.AutoMaintain(ratio = 2.0)))
    val expected2 = rows(SignatureStore.ingest(spark, path, probe,
      "doc_id", "text"))
    assert(expected2.size >= expected.size)
    // the tick compacted + committed + vacuumed: the store is at a
    // bounded file count and the current snapshot resolves cleanly
    val bands = s"$path/bands.parquet"
    assert(StoreGenerations.currentFiles(bands).get.length <= 3)
    val pin = StoreSnapshots.pin(spark, path)
    assert(pin.read(bands).count() > 0)
    // a commit that changes nothing publishes nothing: no churn
    val g = StoreSnapshots.currentGen(path).get
    assert(StoreSnapshots.commit(path)(identity) == g)
  }
}

class StoreSnapshotsSpec
    extends StoreSnapshotsBehavior("posix", objectStore = false)

/** The same behavior on the object-store manifest transport (LIST /
  * GET / conditional PUT only) — store-level atomicity needs nothing
  * POSIX. */
class StoreSnapshotsObjectStoreSpec
    extends StoreSnapshotsBehavior("objstore", objectStore = true)
