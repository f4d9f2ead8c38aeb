package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The persisted IVFADC index must be invisible in the answer (query
  * == Similarity.ivfPqTopK over the same logical corpus, including
  * across an append under the frozen geometry) AND visible in the
  * scan (probing w of K cells reads strictly fewer code files than
  * the store holds — the partition-pruning claim, checked on
  * inputFiles, not asserted from the plan text). */
class VectorIndexStoreSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"
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

  test("stored query equals the direct IVFADC chain bit-for-bit") {
    val path = "/tmp/graft_vindex_spec1"
    val cb = codebook.localCheckpoint()
    VectorIndexStore.build(cands, "vec_id", "embedding", path, cents, cb,
      numSub, subDim)
    val stored = rows(VectorIndexStore.query(spark, path, queries,
      "vec_id", "embedding", k = 3, nprobe = 2))
    val direct = rows(Similarity.ivfPqTopK(queries, cands, cents, cb,
      "vec_id", "embedding", k = 3, nprobe = 2,
      numSub = numSub, subDim = subDim))
    assert(stored == direct)
    assert(stored.nonEmpty)
  }

  test("appended vectors are served under the frozen geometry") {
    val path = "/tmp/graft_vindex_spec2"
    val cb = codebook.localCheckpoint()
    val half1 = cands.filter(col("vec_id") % 2 === 0)
    val half2 = cands.filter(col("vec_id") % 2 === 1)
    VectorIndexStore.build(half1, "vec_id", "embedding", path, cents, cb,
      numSub, subDim)
    VectorIndexStore.append(half2, "vec_id", "embedding", path)
    val stored = rows(VectorIndexStore.query(spark, path, queries,
      "vec_id", "embedding", k = 3, nprobe = 2))
    val direct = rows(Similarity.ivfPqTopK(queries, cands, cents, cb,
      "vec_id", "embedding", k = 3, nprobe = 2,
      numSub = numSub, subDim = subDim))
    assert(stored == direct)
  }

  test("a probe scans strictly fewer code files than the store holds") {
    val path = "/tmp/graft_vindex_spec3"
    val cb = codebook.localCheckpoint()
    // cell_buckets big enough that every cell is its own directory,
    // so pruning granularity is exact at this scale
    VectorIndexStore.build(cands, "vec_id", "embedding", path, cents, cb,
      numSub, subDim, cellBuckets = 1024)
    val all = spark.read.parquet(s"$path/codes.parquet").inputFiles.length
    val probe = VectorIndexStore.query(spark, path, queries.limit(1),
      "vec_id", "embedding", k = 3, nprobe = 1)
    probe.collect() // the metric below is an EXECUTION count
    // inputFiles reports the unpruned relation; the evidence is the
    // executed scan's numFiles metric on the codes relation. AQE wraps
    // stages, so flatten adaptively before matching.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def flat(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => flat(a.executedPlan)
      case s: QueryStageExec => flat(s.plan)
      case o => o +: o.children.flatMap(flat)
    }
    val scanned = flat(probe.queryExecution.executedPlan).collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.relation.location.rootPaths.exists(
            _.toString.contains("graft_vindex_spec3/codes.parquet")) =>
        s.metrics("numFiles").value
    }
    assert(scanned.nonEmpty, "no codes scan found in the executed plan")
    assert(scanned.head < all, s"probe scanned ${scanned.head}/$all files")
    assert(scanned.head > 0)
  }

  test("query derives the index config from the store, not the caller") {
    val path = "/tmp/graft_vindex_spec4"
    VectorIndexStore.build(cands, "vec_id", "embedding", path, cents,
      codebook, numSub, subDim, cellBuckets = 7)
    assert(VectorIndexStore.params(spark, path) == ((numSub, subDim, 7)))
  }

  test("canonical streaming append: replay is a no-op (exactly-once " +
      "store state), sequential batches accumulate, crash leftovers heal") {
    val path = "/tmp/graft_vindex_spec_si"
    VectorIndexStore.build(cands.filter(col("vec_id") % 5 === 0),
      "vec_id", "embedding", path, cents, codebook.localCheckpoint(),
      numSub, subDim)
    val codesDir = s"$path/codes.parquet"
    def ask(): Set[(Long, Long, Int, Double)] =
      rows(VectorIndexStore.query(spark, path, queries,
        "vec_id", "embedding", k = 3, nprobe = 3))
    val b1 = cands.filter(col("vec_id") % 5 === 1)
    VectorIndexStore.append(b1, "vec_id", "embedding", path,
      batch = Some((0L, "")))
    val afterB1 = ask()
    val gen1 = StoreSnapshots.currentGen(path).get
    val files1 = StoreGenerations.currentFiles(codesDir).get.toSet
    // REPLAY of batch 0: the run's `t` line already holds it — the
    // log does not move and the answers do not change
    VectorIndexStore.append(b1, "vec_id", "embedding", path,
      batch = Some((0L, "")))
    assert(StoreSnapshots.currentGen(path).get == gen1)
    assert(StoreGenerations.currentFiles(codesDir).get.toSet == files1)
    assert(ask() == afterB1)
    // a mid-batch crash window: a file of batch 1 exists but was
    // never committed (simulated by planting an unreferenced file) —
    // the retry never names it and commits exactly once
    val seed = files1.head
    val dead = s"${seed.substring(0, seed.lastIndexOf('/'))}/gb1.parquet"
    java.nio.file.Files.copy(java.nio.file.Paths.get(seed),
      java.nio.file.Paths.get(dead))
    val b2 = cands.filter(col("vec_id") % 5 === 2)
    VectorIndexStore.append(b2, "vec_id", "embedding", path,
      batch = Some((1L, "")))
    val gen2 = StoreSnapshots.currentGen(path).get
    assert(gen2 == gen1 + 1)
    // batches accumulate: the store now answers like a batch append
    // of b1 ∪ b2 onto the same base
    val path2 = "/tmp/graft_vindex_spec_si2"
    VectorIndexStore.build(cands.filter(col("vec_id") % 5 === 0),
      "vec_id", "embedding", path2, cents, codebook.localCheckpoint(),
      numSub, subDim)
    VectorIndexStore.append(b1.unionByName(b2), "vec_id", "embedding",
      path2)
    assert(ask() == rows(VectorIndexStore.query(spark, path2, queries,
      "vec_id", "embedding", k = 3, nprobe = 3)))
  }

  test("rebuild equals a fresh build over base + appends, and restores " +
      "the recall the frozen geometry lost to drift") {
    val path = "/tmp/graft_vindex_spec_rb"
    val freshPath = "/tmp/graft_vindex_spec_rbf"
    def shift(df: DataFrame): DataFrame =
      df.select((col("vec_id") + 900000L).as("vec_id"),
        transform(col("embedding"),
          x => (x.cast("double") + lit(64.0)).cast("float")).as("embedding"))
    val shifted = shift(cands).localCheckpoint()
    val full = cands.unionByName(shifted).localCheckpoint()
    val qmix = queries.unionByName(shift(queries)).localCheckpoint()
    val exact = Similarity.bruteTopKL2(qmix, full,
      "vec_id", "embedding", k = 3).localCheckpoint()
    def hits(approx: DataFrame): Long =
      Similarity.recallAudit(exact, approx)
        .agg(sum("n_hit")).head().getLong(0)
    // drifted store: built on base geometry, appended under it
    VectorIndexStore.build(cands, "vec_id", "embedding", path, cents,
      codebook.localCheckpoint(), numSub, subDim)
    VectorIndexStore.append(shifted, "vec_id", "embedding", path)
    val frozenHits = hits(VectorIndexStore.query(spark, path, qmix,
      "vec_id", "embedding", k = 3, nprobe = 3))
    // the in-band monitor sees the drift WITHOUT ground truth: the
    // shifted tier's encode distortion under the frozen geometry sits
    // orders above the base tier's
    val dist = VectorIndexStore.encodeDistortion(full,
      "vec_id", "embedding", path).localCheckpoint()
    val baseMax = dist.filter(col("vec_id") < 900000L)
      .agg(max("distortion")).head().getDouble(0)
    val shiftMin = dist.filter(col("vec_id") >= 900000L)
      .agg(min("distortion")).head().getDouble(0)
    assert(shiftMin > 100 * math.max(baseMax, 1e-12),
      s"shifted distortion floor $shiftMin vs base ceiling $baseMax")
    // rebuild re-derives the geometry over base + appends
    VectorIndexStore.rebuild(full, "vec_id", "embedding", path,
      k = 4, iters = 2)
    val rebuilt = VectorIndexStore.query(spark, path, qmix,
      "vec_id", "embedding", k = 3, nprobe = 3)
    // contract: a rebuild IS a fresh build over the current corpus —
    // derive the same √N-stride centroids + residual codebook by hand
    // and the two stores must answer bit-identically
    val stride = math.max(1L,
      math.floor(math.sqrt(full.count().toDouble)).toLong)
    val fc = full.filter(col("vec_id") % stride === 0)
    val fres = Similarity.ivfResiduals(full, fc, "vec_id", "embedding")
      .select(col("neighbor_id").as("vec_id"), col("__rv").as("embedding"))
    val fcb = KMeans.codebook(
      KMeans.fit(fres, "vec_id", "embedding",
        k = 4, numSub = numSub, subDim = subDim, iters = 2))
      .select(col("cid").as("vec_id"), col("vector").as("embedding"))
    VectorIndexStore.build(full, "vec_id", "embedding", freshPath,
      fc, fcb, numSub, subDim)
    assert(rows(rebuilt) == rows(VectorIndexStore.query(spark, freshPath,
      qmix, "vec_id", "embedding", k = 3, nprobe = 3)))
    // the drift story: shifted queries under frozen geometry lose
    // recall; the rebuild restores it
    val rebuiltHits = hits(rebuilt)
    assert(frozenHits < rebuiltHits,
      s"drifted recall $frozenHits should be below rebuilt $rebuiltHits")
  }

  test("drift-triggered auto-rebuild fires EXACTLY ONCE across shifted " +
      "waves: in-distribution waves never trigger, the first shifted " +
      "wave does, the re-calibrated store absorbs the rest as appends") {
    val path = "/tmp/graft_vindex_spec_arb"
    def shift(df: DataFrame): DataFrame =
      df.select((col("vec_id") + 900000L).as("vec_id"),
        transform(col("embedding"),
          x => (x.cast("double") + lit(64.0)).cast("float")).as("embedding"))
    val baseA = cands.filter(col("vec_id") % 3 =!= 0).localCheckpoint()
    val wave0 = cands.filter(col("vec_id") % 3 === 0).localCheckpoint()
    val wave1 = shift(cands.filter(col("vec_id") % 2 === 0))
      .localCheckpoint()
    val wave2 = shift(cands.filter(col("vec_id") % 2 =!= 0))
      .localCheckpoint()
    VectorIndexStore.build(baseA, "vec_id", "embedding", path, cents,
      codebook.localCheckpoint(), numSub, subDim)
    val cal0 = VectorIndexStore.calibrate(baseA, "vec_id", "embedding",
      path)
    def ingest(wave: DataFrame, corpusSoFar: DataFrame): Boolean =
      VectorIndexStore.appendOrRebuild(wave, "vec_id", "embedding",
        path, corpusSoFar, factor = 100.0, k = 4, iters = 2)
    // wave 0 is in-distribution: one monitor projection, NO rebuild
    assert(!ingest(wave0, baseA.unionByName(wave0)),
      "an in-distribution wave must not trigger")
    assert(VectorIndexStore.calibration(spark, path) == cal0,
      "no rebuild → calibration untouched")
    // wave 1 is the shifted mode: the trigger FIRES, the store
    // rebuilds over the extended corpus and re-calibrates
    val c1 = cands.unionByName(wave1).localCheckpoint()
    assert(ingest(wave1, c1), "the first shifted wave must trigger")
    val cal1 = VectorIndexStore.calibration(spark, path)
    assert(cal1 != cal0)
    // wave 2 continues the SAME shifted stream: the new geometry
    // covers the mode, so it folds in as a plain append — exactly once
    val c2 = c1.unionByName(wave2).localCheckpoint()
    assert(!ingest(wave2, c2),
      "a continuing shifted stream must not re-trigger after rebuild")
    assert(VectorIndexStore.calibration(spark, path) == cal1)
    // the final store serves every wave: all ids reachable, and the
    // post-rebuild store answers ≥ as well as a frozen one would
    val qmix = queries.unionByName(shift(queries)).localCheckpoint()
    val exact = Similarity.bruteTopKL2(qmix, c2,
      "vec_id", "embedding", k = 3).localCheckpoint()
    def hits(approx: DataFrame): Long =
      Similarity.recallAudit(exact, approx)
        .agg(sum("n_hit")).head().getLong(0)
    val served = VectorIndexStore.query(spark, path, qmix,
      "vec_id", "embedding", k = 3, nprobe = 3)
    val frozen = "/tmp/graft_vindex_spec_arbf"
    VectorIndexStore.build(baseA, "vec_id", "embedding", frozen, cents,
      codebook.localCheckpoint(), numSub, subDim)
    Seq(wave0, wave1, wave2).foreach(w =>
      VectorIndexStore.append(w, "vec_id", "embedding", frozen))
    val frozenServed = VectorIndexStore.query(spark, frozen, qmix,
      "vec_id", "embedding", k = 3, nprobe = 3)
    assert(hits(served) > hits(frozenServed),
      "the policy's rebuild must restore recall a frozen store lost")
  }
}
