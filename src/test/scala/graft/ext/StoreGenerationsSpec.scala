package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The store log must make store compaction ONLINE: a reader
  * holding a pre-compaction DataFrame completes correctly DURING a
  * compact-and-vacuum cycle, pinned reads fail loudly only beyond
  * the keep window, appends publish generations, crashed-compaction
  * leftovers are never adopted, the no-clobber publish surfaces a
  * racing writer, and the audit-triggered auto-maintenance knob
  * fires exactly at its threshold with answers unchanged.
  *
  * The behavior runs TWICE: once on the default POSIX manifest
  * transport and once with every store root registered against
  * [[graft.sources.ObjectStoreManifestIO]] — the log protocol must
  * need nothing beyond list/read/conditional-create (the object-store
  * primitive set), so the whole suite passing under both transports
  * is the portability proof. */
abstract class StoreGenerationsBehavior(tag: String, objectStore: Boolean)
    extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private lazy val objIo = new graft.sources.ObjectStoreManifestIO

  private def docs: DataFrame =
    graft.sources.Tables.documents(spark, dir).select("doc_id", "text")

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

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

  private def batch: DataFrame =
    docs.filter(col("doc_id") % 13 === 0)
      .select((col("doc_id") + 600000).as("doc_id"),
        concat(col("text"), lit(" graftincr end")).as("text"))

  test("reader holding a pre-compaction DataFrame survives a full " +
      "compact-and-vacuum cycle; pins beyond the keep window fail loudly") {
    val store = fresh("/tmp/graft_genspec_sig")
    val d = docs
    SignatureStore.build(d.filter(col("doc_id") % 3 === 0),
      "doc_id", "text", store)
    StoreMaintenance.enableStoreGenerations("sig", store)
    SignatureStore.append(d.filter(col("doc_id") % 3 === 1),
      "doc_id", "text", store)
    SignatureStore.append(d.filter(col("doc_id") % 3 === 2),
      "doc_id", "text", store)
    val bands = s"$store/bands.parquet"
    val genBefore = StoreSnapshots.currentGen(store).get
    // the reader: a probe planned over the PRE-compaction generation
    // (its file index resolves now; rows are read at collect time)
    val pinnedIngest = SignatureStore.ingest(spark, store, batch,
      "doc_id", "text")
    val expected = rows(pinnedIngest) // also the truth for later routes
    assert(expected.nonEmpty)
    val pinnedDf = StoreGenerations.read(spark, bands)
    val nRowsBefore = pinnedDf.count()
    // compact + vacuum WHILE the reader's frames are alive (keep
    // window of 2 retains the generation they resolved)
    StoreMaintenance.compactSignatureStore(spark, store)
    StoreMaintenance.vacuumStore("sig", store, keepGens = 2)
    assert(pinnedDf.count() == nRowsBefore)          // files intact
    assert(rows(pinnedIngest) == expected)           // answer intact
    // the live route answers identically from the compacted gen
    assert(rows(SignatureStore.ingest(spark, store, batch,
      "doc_id", "text")) == expected)
    // pinned read INSIDE the window resolves the named state
    assert(StoreSnapshots.pinAt(spark, store, genBefore).read(bands)
      .count() == nRowsBefore)
    // a second cycle with keepGens = 1 passes the old pin: loud fail
    StoreMaintenance.compactSignatureStore(spark, store)
    StoreMaintenance.vacuumStore("sig", store, keepGens = 1)
    val e = intercept[IllegalStateException] {
      StoreSnapshots.pinAt(spark, store, genBefore).read(bands)
    }
    assert(e.getMessage.contains("keep window"))
    // after the vacuum, disk inventory == live generation exactly
    assert(graft.sources.Layout.listParquet(bands).toSet ==
      StoreGenerations.currentFiles(bands).get.toSet)
  }

  test("bucketed artifact (vector store): generational compaction " +
      "preserves the probe layout and the answer") {
    val store = fresh("/tmp/graft_genspec_vec")
    val e = graft.sources.Tables.embeddings(spark, dir)
      .select("vec_id", "embedding")
    val cands = e.filter(col("vec_id") >= 20)
    val cents = cands.filter(col("vec_id") % 7 === 0)
    val queries = e.filter(col("vec_id") < 20)
    VectorIndexStore.build(cands.filter(col("vec_id") % 5 =!= 2),
      "vec_id", "embedding", store, cents, cents,
      numSub = 8, subDim = 8, cellBuckets = 16)
    StoreMaintenance.enableStoreGenerations("vector", store)
    val direct = rows(VectorIndexStore.query(spark, store, queries,
      "vec_id", "embedding", k = 3, nprobe = 3))
    VectorIndexStore.append(cands.filter(col("vec_id") % 5 === 2),
      "vec_id", "embedding", store)
    val appended = rows(VectorIndexStore.query(spark, store, queries,
      "vec_id", "embedding", k = 3, nprobe = 3))
    assert(appended != direct || cands.filter(col("vec_id") % 5 === 2)
      .isEmpty) // the append is visible through the chain
    val reader = VectorIndexStore.query(spark, store, queries,
      "vec_id", "embedding", k = 3, nprobe = 3)
    StoreMaintenance.compactVectorIndexStore(spark, store)
    StoreMaintenance.vacuumStore("vector", store, keepGens = 2)
    assert(rows(reader) == appended)   // pre-compaction reader fine
    val after = rows(VectorIndexStore.query(spark, store, queries,
      "vec_id", "embedding", k = 3, nprobe = 3))
    assert(after == appended)          // compaction invisible
    // fresh-build bound: one live file per populated bucket dir
    val live = StoreGenerations.currentFiles(s"$store/codes.parquet").get
    val perBucket = live.groupBy(p => p.substring(0, p.lastIndexOf('/')))
    assert(perBucket.values.forall(_.length == 1))
  }

  test("crashed-compaction leftovers are never adopted by an append " +
      "commit, and the vacuum sweeps them") {
    val store = fresh("/tmp/graft_genspec_dead")
    val d = docs
    SignatureStore.build(d.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", store)
    StoreMaintenance.enableStoreGenerations("sig", store)
    val bands = s"$store/bands.parquet"
    // simulate a compaction that died after moving output in but
    // before publishing: a generation-stamped file no manifest knows
    val seed = graft.sources.Layout.listParquet(bands).head
    val dead = s"$bands/gen99-p0.parquet"
    java.nio.file.Files.copy(java.nio.file.Paths.get(seed),
      java.nio.file.Paths.get(dead))
    val expected = rows(SignatureStore.ingest(spark, store, batch,
      "doc_id", "text")) // chain read: dead file invisible
    SignatureStore.append(d.filter(col("doc_id") % 2 === 1),
      "doc_id", "text", store)
    // the commit adopted the append's files but NOT the dead one
    assert(!StoreGenerations.currentFiles(bands).get.contains(dead))
    assert(rows(SignatureStore.ingest(spark, store,
      batch.limit(0), "doc_id", "text")).isEmpty) // sanity: runs
    StoreMaintenance.vacuumStore("sig", store, keepGens = 1)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dead)))
    // answers over the surviving generation are coherent
    assert(rows(SignatureStore.ingest(spark, store, batch,
      "doc_id", "text")).size >= expected.size)
  }

  test("no-clobber publish: a racing writer raises, the winner's " +
      "generation is intact") {
    val store = fresh("/tmp/graft_genspec_race")
    SignatureStore.build(docs.limit(50), "doc_id", "text", store)
    val cur = StoreSnapshots.latest(store)._2
    StoreSnapshots.publish(store, 1L, cur)
    val e = intercept[IllegalStateException] {
      StoreSnapshots.publish(store, 1L, cur.copy(runs = Map("x" -> 0L)))
    }
    assert(e.getMessage.contains("race"))
    assert(StoreSnapshots.latest(store)._2 == cur)
  }

  test("auto-maintenance fires exactly at its threshold; answers " +
      "unchanged; a maintained store's next tick is a no-op") {
    val store = fresh("/tmp/graft_genspec_auto")
    val d = docs
    SignatureStore.build(d.filter(col("doc_id") % 4 === 0),
      "doc_id", "text", store)
    StoreMaintenance.enableStoreGenerations("sig", store)
    (1 to 3).foreach { k =>
      SignatureStore.append(d.filter(col("doc_id") % 4 === k),
        "doc_id", "text", store)
    }
    val bands = s"$store/bands.parquet"
    val nLive = StoreGenerations.currentFiles(bands).get.length
    assert(nLive > 1) // the appends fragmented the artifact
    val expected = rows(SignatureStore.ingest(spark, store, batch,
      "doc_id", "text"))
    // ratio just above the current fragmentation: no-op
    val calm = StoreMaintenance.AutoMaintain(ratio = nLive + 1.0)
    assert(StoreMaintenance.maintainIfNeeded(spark, "sig", store,
      calm).isEmpty)
    assert(StoreGenerations.currentFiles(bands).get.length == nLive)
    // tiny-store ideal is 1 file; ratio below the fragmentation: fires
    val eager = StoreMaintenance.AutoMaintain(ratio = math.max(1.0,
      nLive - 1.0))
    val reports = StoreMaintenance.maintainIfNeeded(spark, "sig", store,
      eager)
    assert(reports.exists(_.artifact == bands))
    assert(StoreGenerations.currentFiles(bands).get.length < nLive)
    assert(rows(SignatureStore.ingest(spark, store, batch,
      "doc_id", "text")) == expected)
    // compacted to ideal: the same eager ratio is now a no-op
    assert(StoreMaintenance.maintainIfNeeded(spark, "sig", store,
      eager).isEmpty)
    // the APPEND-side knob: another wave with autoMaintain set keeps
    // the store at fresh-build file counts with zero external ticks
    SignatureStore.append(batch, "doc_id", "text", store,
      autoMaintain = Some(StoreMaintenance.AutoMaintain(ratio = 2.0)))
    val nAfter = StoreGenerations.currentFiles(bands).get.length
    assert(nAfter <= 2 * 1 + 1, s"self-maintained store at $nAfter files")
  }
}

class StoreGenerationsSpec
    extends StoreGenerationsBehavior("posix", objectStore = false)

/** The same behavior with the manifest transport swapped for the
  * object-store model — no rename, no hard links, no directories,
  * just LIST / GET / conditional PUT. */
class StoreGenerationsObjectStoreSpec
    extends StoreGenerationsBehavior("objstore", objectStore = true)
