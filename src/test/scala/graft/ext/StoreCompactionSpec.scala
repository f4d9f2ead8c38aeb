package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Store compaction must be INVISIBLE in every answer (physical
  * rewrite, identical relational content — including the BM25 store's
  * delta-summing folds) and must actually shrink the file inventory
  * the appends accreted; a crash between or inside artifact
  * compactions must heal on re-run. */
class StoreCompactionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def docs: DataFrame =
    graft.sources.Tables.documents(spark, dir).select("doc_id", "text")

  /** The artifact's LIVE file count (its current generation). */
  private def nFiles(d: String): Int =
    StoreGenerations.currentFiles(d).get.length

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  /** A retrieval compaction that committed its postings rewrite only —
    * the state a run killed after its first artifact would leave. */
  private def compactPostingsOnly(store: String): Unit = {
    val postings = StoreMaintenance.artifactsOf("retrieval", store)
      .filter(_.dir.endsWith("postings.parquet"))
    StoreMaintenance.commitRewrites(store, postings.map(StoreMaintenance
      .rewrite(spark, StoreSnapshots.pin(spark, store), _, 128L << 20)))
  }

  test("signature store: answers bit-identical across compaction, files shrink") {
    val store = "/tmp/graft_cptspec_sig"
    val d = docs
    SignatureStore.build(d.filter(col("doc_id") % 4 === 0),
      "doc_id", "text", store)
    (1 to 3).foreach { k =>
      SignatureStore.append(d.filter(col("doc_id") % 4 === k),
        "doc_id", "text", store)
    }
    val batch = d.filter(col("doc_id") % 13 === 0)
      .select((col("doc_id") + 600000).as("doc_id"),
        concat(col("text"), lit(" graftincr end")).as("text"))
    val before = rows(SignatureStore.ingest(spark, store, batch,
      "doc_id", "text"))
    val fBefore = nFiles(s"$store/bands.parquet")
    val reports = StoreMaintenance.compactSignatureStore(spark, store)
    val after = rows(SignatureStore.ingest(spark, store, batch,
      "doc_id", "text"))
    assert(after == before && before.nonEmpty)
    assert(nFiles(s"$store/bands.parquet") < fBefore)
    // row counts preserved (identity artifacts)
    reports.foreach(r => assert(r.rowsAfter == r.rowsBefore, r))
    // idempotent: a second compaction finds both artifacts at their
    // fresh-build layout, rewrites no file and publishes no entry
    def onDisk(a: String): Set[String] = graft.sources.Layout
      .listParquet(s"$store/$a").toSet
    val gen = StoreSnapshots.currentGen(store)
    val disk = Seq("bands.parquet", "sets.parquet").map(onDisk)
    assert(StoreMaintenance.compactSignatureStore(spark, store).isEmpty)
    assert(StoreSnapshots.currentGen(store) == gen)
    assert(Seq("bands.parquet", "sets.parquet").map(onDisk) == disk)
    assert(rows(SignatureStore.ingest(spark, store, batch,
      "doc_id", "text")) == before)
  }

  test("pruned BM25 store: df/stats folds preserve the sums scoring reads") {
    val store = "/tmp/graft_cptspec_bm25"
    val d = docs
    val corpus = d.filter(col("doc_id") >= 20)
    RetrievalIndexStore.build(corpus.filter(col("doc_id") % 3 =!= 0),
      "doc_id", "text", store, tokBuckets = 16, maxPostingsPerToken = 2)
    RetrievalIndexStore.append(corpus.filter(col("doc_id") % 3 === 0),
      "doc_id", "text", store)
    val probes = d.filter(col("doc_id") < 20)
      .select(col("doc_id").as("query_id"),
        slice(TextOps.tokens(col("text")), 1, 3).as("terms"))
    val before = rows(RetrievalIndexStore.query(spark, store, probes,
      "query_id", "terms", k = 5))
    val dfBefore = rows(StoreGenerations.read(spark, s"$store/df.parquet")
      .groupBy("tok").agg(sum("df").as("df")))
    StoreMaintenance.compactRetrievalIndexStore(spark, store)
    assert(rows(RetrievalIndexStore.query(spark, store, probes,
      "query_id", "terms", k = 5)) == before && before.nonEmpty)
    // the fold left ONE df row per token with the same sums, and one
    // stats row carrying the same (N, T)
    val dfTable = StoreGenerations.read(spark, s"$store/df.parquet")
    assert(dfTable.groupBy("tok").count()
      .filter(col("count") > 1).count() == 0)
    assert(rows(dfTable.groupBy("tok").agg(sum("df").as("df"))) == dfBefore)
    assert(StoreGenerations.read(spark, s"$store/stats.parquet")
      .count() == 1)
  }

  test("vector store: probed-cell pruning still keys on the preserved bucket layout") {
    val e = graft.sources.Tables.embeddings(spark, dir)
      .select("vec_id", "embedding")
    val cands = e.filter(col("vec_id") >= 20)
    val queries = e.filter(col("vec_id") < 20)
    val cents = cands.filter(col("vec_id") % 7 === 0)
    val res = Similarity.ivfResiduals(cands, cents, "vec_id", "embedding")
      .select(col("neighbor_id").as("vec_id"), col("__rv").as("embedding"))
    val cb = KMeans.codebook(KMeans.fit(res, "vec_id", "embedding",
        k = 16, numSub = 16, subDim = 4, iters = 2))
      .select(col("cid").as("vec_id"), col("vector").as("embedding"))
    val store = "/tmp/graft_cptspec_vec"
    VectorIndexStore.build(cands.filter(col("vec_id") % 5 =!= 2),
      "vec_id", "embedding", store, cents, cb, numSub = 16, subDim = 4,
      cellBuckets = 8)
    VectorIndexStore.append(cands.filter(col("vec_id") % 5 === 2),
      "vec_id", "embedding", store)
    val before = rows(VectorIndexStore.query(spark, store, queries,
      "vec_id", "embedding", k = 3, nprobe = 2))
    val fBefore = nFiles(s"$store/codes.parquet")
    val reports = StoreMaintenance.compactVectorIndexStore(spark, store)
    assert(rows(VectorIndexStore.query(spark, store, queries,
      "vec_id", "embedding", k = 3, nprobe = 2)) == before
      && before.nonEmpty)
    assert(reports.head.rowsAfter == reports.head.rowsBefore)
    // one live file per cell-bucket directory after compaction
    val buckets = StoreGenerations.currentFiles(s"$store/codes.parquet").get
      .flatMap("cell_bucket=(\\d+)/".r.findFirstMatchIn(_).map(_.group(1)))
    assert(buckets.distinct.length == buckets.length)
    assert(buckets.length < fBefore)
  }

  test("stored phrase face: equals the direct route, before and after compaction") {
    val store = "/tmp/graft_cptspec_pos"
    val d = docs
    val corpus = d.filter(col("doc_id") >= 20)
    RetrievalIndexStore.build(corpus.filter(col("doc_id") % 3 =!= 0),
      "doc_id", "text", store, tokBuckets = 16, positional = true)
    RetrievalIndexStore.append(corpus.filter(col("doc_id") % 3 === 0),
      "doc_id", "text", store)
    val q = d.filter(col("doc_id") < 20)
      .select(col("doc_id").as("query_id"),
        element_at(TextOps.tokens(col("text")), 1).as("t1"),
        element_at(TextOps.tokens(col("text")), 2).as("t2"))
      .filter(col("t2").isNotNull)
    val direct = rows(Retrieval.phraseTopK(q, "query_id", "t1", "t2",
      corpus, "doc_id", "text", k = 3))
    assert(rows(RetrievalIndexStore.phraseQuery(spark, store, q,
      "query_id", "t1", "t2", k = 3)) == direct && direct.nonEmpty)
    StoreMaintenance.compactRetrievalIndexStore(spark, store)
    assert(rows(RetrievalIndexStore.phraseQuery(spark, store, q,
      "query_id", "t1", "t2", k = 3)) == direct)
    // compaction covered the positional artifact too (one live file
    // per populated bucket dir)
    val posFiles = StoreGenerations
      .currentFiles(s"$store/positions.parquet").get
      .flatMap("tok_bucket=(\\d+)/".r.findFirstMatchIn(_).map(_.group(1)))
    assert(posFiles.distinct.length == posFiles.length)
  }

  test("release store: compaction between daily batches changes nothing downstream") {
    val d = graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        concat(lit("https://ex.example/d/"), col("doc_id").cast("string"))
          .as("url"))
    val ledger = d.select(col("doc_id"), lit("kept").as("disposition"))
    val bench = d.filter(col("doc_id") % 37 === 0).select("doc_id", "text")
    val a = "/tmp/graft_cptspec_rel_a"; val b = "/tmp/graft_cptspec_rel_b"
    ReleaseStore.build(d, ledger, a)
    ReleaseStore.build(d, ledger, b)
    // day 1: same batch folds into both stores (re-crawls of seen urls
    // land duplicate rows in the urls filter — the accretion the fold
    // exists for)
    // even ids re-crawl their seen url (the i1 drop + the duplicate
    // urls-filter rows); odd ids arrive behind fresh urls and flow on
    // to the hash/near-dup/quality stages
    def batch(off: Long, every: Int, marker: String) =
      d.filter(col("doc_id") % every === 0)
        .select((col("doc_id") + off).as("doc_id"),
          concat(col("text"), lit(marker)).as("text"),
          col("lang"), col("source"),
          when(col("doc_id") % 2 === 0, col("url"))
            .otherwise(concat(lit(s"https://fresh.example$marker/"),
              (col("doc_id") + off).cast("string"))).as("url"))
    Seq(a, b).foreach(p => ReleaseStore.incrementalRelease(spark, p,
      batch(50000L, 5, " graftday1"), bench))
    val urlRowsBefore =
      StoreGenerations.read(spark, s"$b/urls.parquet").count()
    val reports = StoreMaintenance.compactReleaseStore(spark, b)
    // the urls fold dropped the duplicate member rows day 1 appended
    val urls = reports.find(_.artifact.endsWith("urls.parquet")).get
    assert(urls.rowsAfter < urlRowsBefore)
    assert(StoreGenerations.read(spark, s"$b/urls.parquet").distinct()
      .count() == urls.rowsAfter)
    // day 2 (fold-free measurement face): the compacted store must
    // route every disposition exactly like the un-compacted twin
    def ledgerOf(p: String): Set[(Long, String)] =
      ReleaseStore.incrementalRelease(spark, p,
        batch(60000L, 7, " graftday2"), bench, foldBatch = false)
        .ledger.collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
    val la = ledgerOf(a)
    assert(la == ledgerOf(b) && la.nonEmpty)
  }

  test("footer audit prices the accretion and the compaction's reversal") {
    val store = "/tmp/graft_cptspec_audit"
    val d = docs
    SignatureStore.build(d.filter(col("doc_id") % 4 === 0),
      "doc_id", "text", store)
    (1 to 3).foreach(k => SignatureStore.append(
      d.filter(col("doc_id") % 4 === k), "doc_id", "text", store))
    val dirs = Seq(s"$store/bands.parquet", s"$store/sets.parquet")
    val pre = StoreMaintenance.auditArtifacts(spark, dirs)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    StoreMaintenance.compactSignatureStore(spark, store)
    val post = StoreMaintenance.auditArtifacts(spark, dirs)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3)))
    post.foreach { case (a, nf, rows) =>
      assert(nf < pre(a), s"$a: $nf !< ${pre(a)}")
      assert(rows > 0)
    }
    // empty dir: a zero row, not an error
    assert(StoreMaintenance.auditArtifacts(spark, Seq("/tmp/graft_nodir"))
      .head().getLong(1) == 0L)
  }

  test("the streaming near-dup gate's index side reads the persisted band table") {
    val bands = graft.queries.StarQueries.storedIndexBands(spark, dir, docs)
    assert(bands.inputFiles.nonEmpty)
    assert(bands.inputFiles.forall(_.contains("graft_sigstore_stream_")))
    assert(bands.inputFiles.forall(_.contains("bands.parquet")))
    assert(bands.columns.toSet == Set("index_id", "band", "bkey"))
  }

  test("retrieval store: a crash mid artifact-sequence leaves a " +
      "mixed-compaction store that answers exactly; re-running resumes") {
    val store = "/tmp/graft_cptspec_resume"
    val d = docs
    val corpus = d.filter(col("doc_id") >= 20)
    RetrievalIndexStore.build(corpus.filter(col("doc_id") % 3 =!= 0),
      "doc_id", "text", store, tokBuckets = 16)
    RetrievalIndexStore.append(corpus.filter(col("doc_id") % 3 === 0),
      "doc_id", "text", store)
    val probes = d.filter(col("doc_id") < 20)
      .select(col("doc_id").as("query_id"),
        slice(TextOps.tokens(col("text")), 1, 3).as("terms"))
    val expected = rows(RetrievalIndexStore.query(spark, store, probes,
      "query_id", "terms", k = 5))
    assert(expected.nonEmpty)
    // "crash" after artifact 1 of the sequence: only postings compacted
    compactPostingsOnly(store)
    // the mixed-compaction store is fully serviceable (each artifact
    // is independently consistent — compaction is physical per dir)
    assert(rows(RetrievalIndexStore.query(spark, store, probes,
      "query_id", "terms", k = 5)) == expected)
    // re-running the store-level call resumes: the already-compacted
    // artifact folds to itself, the rest compact fresh
    StoreMaintenance.compactRetrievalIndexStore(spark, store)
    assert(rows(RetrievalIndexStore.query(spark, store, probes,
      "query_id", "terms", k = 5)) == expected)
    assert(StoreGenerations.read(spark, s"$store/stats.parquet")
      .count() == 1)
    // once the vacuum retires the superseded generations, the disk
    // holds one df file per populated bucket dir
    StoreMaintenance.vacuumStore("retrieval", store, 1)
    val dfFiles = graft.sources.Layout.listParquet(s"$store/df.parquet")
      .flatMap("tok_bucket=(\\d+)/".r.findFirstMatchIn(_).map(_.group(1)))
    assert(dfFiles.distinct.length == dfFiles.length)
  }

  test("positional retrieval store: a kill BETWEEN artifacts plus a " +
      "kill INSIDE the next one heal on re-run to the fully-compacted " +
      "state, answers unchanged") {
    val store = "/tmp/graft_cptspec_resume2"
    val d = docs
    val corpus = d.filter(col("doc_id") >= 20)
    RetrievalIndexStore.build(corpus.filter(col("doc_id") % 3 === 1),
      "doc_id", "text", store, tokBuckets = 16, positional = true)
    RetrievalIndexStore.append(corpus.filter(col("doc_id") % 3 === 2),
      "doc_id", "text", store)
    RetrievalIndexStore.append(corpus.filter(col("doc_id") % 3 === 0),
      "doc_id", "text", store)
    val probes = d.filter(col("doc_id") < 20)
      .select(col("doc_id").as("query_id"),
        slice(TextOps.tokens(col("text")), 1, 3).as("terms"))
    val phrases = d.filter(col("doc_id") < 20)
      .select(col("doc_id").as("query_id"),
        element_at(TextOps.tokens(col("text")), 1).as("t1"),
        element_at(TextOps.tokens(col("text")), 2).as("t2"))
    val expQ = rows(RetrievalIndexStore.query(spark, store, probes,
      "query_id", "terms", k = 5))
    val expP = rows(RetrievalIndexStore.phraseQuery(spark, store,
      phrases, "query_id", "t1", "t2", k = 5))
    assert(expQ.nonEmpty && expP.nonEmpty)
    // kill #1: the sequence completed its FIRST artifact only
    compactPostingsOnly(store)
    // kill #2: the NEXT run died inside the df artifact's compaction
    // BEFORE verification — an unverified scratch directory is on
    // disk beside the artifact (the dead attempt the vacuum sweeps)
    val deadScratch = s"$store/df.parquet.__compact"
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(deadScratch))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$deadScratch/junk.parquet"),
      "not parquet".getBytes("UTF-8"))
    // the mixed + crashed store still answers exactly (artifacts are
    // independently consistent; the dead scratch is outside every dir
    // a reader lists)
    assert(rows(RetrievalIndexStore.query(spark, store, probes,
      "query_id", "terms", k = 5)) == expQ)
    // ONE re-run heals everything: the compacted artifact folds to
    // itself, the rest compact fresh
    StoreMaintenance.compactRetrievalIndexStore(spark, store)
    assert(rows(RetrievalIndexStore.query(spark, store, probes,
      "query_id", "terms", k = 5)) == expQ)
    assert(rows(RetrievalIndexStore.phraseQuery(spark, store,
      phrases, "query_id", "t1", "t2", k = 5)) == expP)
    // FULLY-compacted state: one live file per populated bucket dir
    // on every bucketed artifact and one live stats file; once the
    // vacuum retires the superseded generations the disk holds
    // exactly that, with zero crash leftovers
    Seq("postings", "df", "positions").foreach { a =>
      val per = StoreGenerations.currentFiles(s"$store/$a.parquet").get
        .groupBy(p => p.substring(0, p.lastIndexOf('/')))
      assert(per.values.forall(_.length == 1),
        s"$a not fully compacted: ${per.view.mapValues(_.length).toMap}")
    }
    assert(StoreGenerations.currentFiles(s"$store/stats.parquet")
      .get.length == 1)
    StoreMaintenance.vacuumStore("retrieval", store, 1)
    Seq("postings", "df", "positions").foreach { a =>
      val per = graft.sources.Layout.listParquet(s"$store/$a.parquet")
        .groupBy(p => p.substring(0, p.lastIndexOf('/')))
      assert(per.values.forall(_.length == 1),
        s"$a not fully compacted: ${per.view.mapValues(_.length).toMap}")
    }
    assert(graft.sources.Layout
      .listParquet(s"$store/stats.parquet").length == 1)
    Seq("postings", "df", "stats", "positions").foreach { a =>
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(
        s"$store/$a.parquet.__compact")), s"$a scratch leftover")
    }
  }
}
