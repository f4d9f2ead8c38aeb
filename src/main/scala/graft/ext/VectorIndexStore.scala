package graft.ext

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Persisted IVFADC index — the ANN sibling of [[SignatureStore]]:
  * the trained structure AND the corpus's codes live on disk, so a
  * query batch pays probes, never training or encoding.
  *
  * [[Similarity.ivfPqTopK]] re-assigns and re-encodes the whole
  * candidate corpus on every call — the right shape for a one-shot
  * audit, pure waste for a serving index: assignment is O(N·K)
  * multiply-adds over data that didn't change. The store persists:
  *
  *   <path>/centroids.parquet  (cid, vector)  - coarse quantizer
  *   <path>/codebook.parquet   (cid, vector)  - residual PQ codebook
  *   <path>/codes.parquet      (neighbor_id, cell, codes) partitioned
  *                             by cell_bucket = cell % cell_buckets
  *   <path>/params.parquet     (num_sub, sub_dim, cell_buckets)
  *
  * The layout IS the probe structure: codes are partitioned by
  * cell-bucket, and [[query]] plans the batch's probed cells first
  * (q·K scores on the driver, against the frozen centroids the seed
  * memo holds — no job), then reads codes.parquet filtered to those
  * buckets/cells. Spark's file index prunes unprobed directories at
  * planning time, so a batch that probes w of K cells SCANS ~w/K of
  * the corpus codes — the inverted-file promise kept at the file
  * level, visible in the plan's PartitionFilters and pinned by the
  * spec on `inputFiles`.
  * `cell_buckets` bounds the directory fan-out (a √N-cell index at
  * corpus scale would otherwise mint millions of partitions); pruning
  * granularity degrades gracefully to the bucket, and the row-level
  * `cell` filter still pushes down into each scanned file.
  *
  * Vectors are stored as double (the exact widening every reader
  * applies anyway), so the store round-trip is bit-invisible:
  * [[query]] equals `Similarity.ivfPqTopK` over the same logical
  * corpus, spec-pinned, including across an [[append]].
  *
  * [[append]] encodes new vectors under the STORE's centroids and
  * codebook — an index snapshot's geometry is frozen until a rebuild,
  * the same snapshot semantics the signature store documents; the
  * recall audits (q_ann_recall family) are the drift monitor that
  * says when to rebuild. */
object VectorIndexStore {

  private def normalized(df: DataFrame, idCol: String, vecCol: String)
      : DataFrame =
    df.select(col(idCol).cast("long").as("cid"),
      Similarity.toDouble(col(vecCol)).as("vector"))

  private def encode(corpus: DataFrame, idCol: String, vecCol: String,
                     centroids: DataFrame, codebook: DataFrame,
                     numSub: Int, subDim: Int, cellBuckets: Int): DataFrame =
    encodeAssigned(
      Similarity.ivfResiduals(corpus, centroids, idCol, vecCol),
      codebook, idCol, vecCol, numSub, subDim, cellBuckets)

  /** [[encode]] from a PRE-COMPUTED residual assignment — the seam
    * that lets [[appendOrRebuild]] and [[rebuild]] run ONE
    * coarse-assignment pass where they previously re-derived it per
    * consumer (guide §1.3). `assigned` is [[Similarity.ivfResiduals]]
    * output: (neighbor_id, __cell, __rv). */
  private def encodeAssigned(assigned: DataFrame, codebook: DataFrame,
                             idCol: String, vecCol: String, numSub: Int,
                             subDim: Int, cellBuckets: Int): DataFrame =
    Similarity.encodeCodes(assigned, codebook, idCol, vecCol, numSub, subDim)
      .select(col("neighbor_id").cast("long").as("neighbor_id"),
        col("__cell").cast("long").as("cell"), col("__codes").as("codes"))
      .withColumn("cell_bucket", pmod(col("cell"), lit(cellBuckets.toLong)))

  /** Build (or rebuild — overwrite) the index from the corpus and a
    * trained structure. One assignment + one encode pass — the same
    * two passes every direct ivfPqTopK call pays per query batch. */
  def build(corpus: DataFrame, idCol: String, vecCol: String, path: String,
            centroids: DataFrame, codebook: DataFrame,
            numSub: Int, subDim: Int, cellBuckets: Int = 1024): Unit =
    buildWith(corpus, idCol, vecCol, path, centroids, codebook,
      numSub, subDim, cellBuckets, preAssigned = None)

  /** [[build]] with an optional PRE-COMPUTED residual assignment of
    * `corpus` under `centroids` (what [[rebuild]] already derived for
    * its codebook fit — guide §1.3: one assignment pass, not two). */
  private def buildWith(corpus: DataFrame, idCol: String, vecCol: String,
                        path: String, centroids: DataFrame,
                        codebook: DataFrame, numSub: Int, subDim: Int,
                        cellBuckets: Int,
                        preAssigned: Option[DataFrame]): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // bucket-keyed repartition before the partitionBy write: off the
    // encode's upstream partitioning the write would mint up to
    // (input partitions × buckets) files — millions on a 100 TB
    // corpus — while clustering on cell_bucket bounds output at one
    // file per (bucket, owning task), the layout the probe scan and
    // the compaction path both want.
    // The four artifacts are independent derivations — overlap their
    // writes so the three tiny ones ride the codes write's tail (Par)
    val cbN = normalized(codebook, idCol, vecCol).select(
      col("cid").as(idCol), col("vector").as(vecCol))
    def codesFrame: DataFrame = preAssigned match {
      case Some(assigned) => encodeAssigned(assigned, cbN,
        idCol, vecCol, numSub, subDim, cellBuckets)
      case None => encode(corpus, idCol, vecCol,
        normalized(centroids, idCol, vecCol).select(
          col("cid").as(idCol), col("vector").as(vecCol)),
        cbN, numSub, subDim, cellBuckets)
    }
    Par.run(
      () => normalized(centroids, idCol, vecCol)
        .write.mode(SaveMode.Overwrite).parquet(s"$path/centroids.parquet"),
      () => normalized(codebook, idCol, vecCol)
        .write.mode(SaveMode.Overwrite).parquet(s"$path/codebook.parquet"),
      () => Seq((numSub, subDim, cellBuckets))
        .toDF("num_sub", "sub_dim", "cell_buckets").coalesce(1)
        .write.mode(SaveMode.Overwrite).parquet(s"$path/params.parquet"),
      () => codesFrame
        .repartition(col("cell_bucket"))
        .write.partitionBy("cell_bucket").mode(SaveMode.Overwrite)
        .parquet(s"$path/codes.parquet"))
    // a (re)build restarts the store log at entry 0
    StoreSnapshots.start("vector", path)
  }

  /** Declared schemas of the frozen seeds (what their writers above
    * infer to; StoreSchemasSpec pins them). */
  private[ext] val ParamsSchema: StructType = StructType(Seq(
    StructField("num_sub", IntegerType), StructField("sub_dim", IntegerType),
    StructField("cell_buckets", IntegerType)))
  private[ext] val VectorsSchema: StructType = StructType(Seq(
    StructField("cid", LongType), StructField("vector", ArrayType(DoubleType))))

  /** The index config — 1 row, driver-side (bounded-collect class). */
  def params(spark: SparkSession, path: String): (Int, Int, Int) =
    paramsAt(StoreSnapshots.pin(spark, path), path)

  private def paramsAt(p: StoreSnapshots.Pin, path: String): (Int, Int, Int) =
    p.seed(s"$path/params.parquet", ParamsSchema) { df =>
      val row = df.head()
      (row.getAs[Int]("num_sub"), row.getAs[Int]("sub_dim"),
        row.getAs[Int]("cell_buckets"))
    }

  /** A frozen vector seed (`centroids` or `codebook`) as id-ascending
    * (id, vector) pairs — driver values through the seed memo. */
  private def vectorsAt(p: StoreSnapshots.Pin, path: String,
                        part: String): Seq[(Long, Seq[Double])] =
    p.seed(s"$path/$part.parquet", VectorsSchema) { df =>
      df.collect().toSeq.map { r =>
        require(!r.isNullAt(0) && !r.isNullAt(1) &&
          !r.getSeq[Any](1).contains(null),
          s"null id or vector element in $path/$part.parquet")
        (r.getLong(0), r.getSeq[Double](1).toVector: Seq[Double])
      }.sortBy(_._1)
    }

  /** A frozen vector seed as a local relation (idCol, vecCol). */
  private def stored(spark: SparkSession, p: StoreSnapshots.Pin,
                     path: String, part: String, idCol: String,
                     vecCol: String): DataFrame =
    spark.createDataFrame(
      vectorsAt(p, path, part).map { case (c, v) => Row(c, v) }.asJava,
      StructType(Seq(StructField(idCol, LongType),
        StructField(vecCol, ArrayType(DoubleType)))))

  /** Fold new vectors into the index under the STORE's frozen
    * geometry (snapshot semantics — see the class doc). Caller
    * guarantees new ids; the store has no dedup of its own.
    *
    * The one append route (see [[SignatureStore.append]]): the batch
    * encodes under the frozen geometry, lands one file per populated
    * cell bucket ([[StoreGenerations.land]]), and ONE conditional
    * create of the store log publishes exactly those files
    * ([[StoreSnapshots.commitLanded]]). Any number of writers may
    * append at once — every surviving entry differs from its parent
    * by exactly one writer's whole batch. `batch = Some((batchId,
    * runTag))` is the replay-safe streaming form: a replayed
    * micro-batch publishes nothing (see [[SignatureStore.append]]).
    * `autoMaintain`: the in-band lifecycle knob — see
    * [[SignatureStore.append]]. Returns the store log generation that
    * carries the batch. */
  def append(newVectors: DataFrame, idCol: String, vecCol: String,
             path: String,
             autoMaintain: Option[StoreMaintenance.AutoMaintain] = None,
             batch: Option[(Long, String)] = None): Long = {
    val spark = newVectors.sparkSession
    val p = StoreSnapshots.pin(spark, path)
    val (numSub, subDim, cellBuckets) = paramsAt(p, path)
    val gen = commitCodes(path, encode(newVectors, idCol, vecCol,
      stored(spark, p, path, "centroids", idCol, vecCol),
      stored(spark, p, path, "codebook", idCol, vecCol),
      numSub, subDim, cellBuckets), batch)
    autoMaintain.foreach(am =>
      StoreMaintenance.maintainIfNeeded(spark, "vector", path, am))
    gen
  }

  /** [[append]]'s land + commit tail over an encoded batch — shared
    * with [[appendOrRebuild]], which encodes from its own assignment
    * pass. */
  private def commitCodes(path: String, codes: DataFrame,
                          batch: Option[(Long, String)]): Long = {
    val dir = s"$path/codes.parquet"
    StoreSnapshots.commitLanded(path,
      Map(dir -> StoreGenerations.land(codes, dir, Some("cell_bucket"))), batch)
  }

  /** REBUILD: re-fit the index geometry over the CURRENT corpus and
    * re-encode — the operation the recall audits (the documented
    * drift monitor) point a deployment toward once appends from a
    * shifted distribution have degraded the frozen-geometry recall.
    * One coarse-quantizer derivation (deterministic √N stride sample
    * by id — the same policy the direct IVFADC chain uses; a
    * deployment with sparse ids derives its own centroids and calls
    * [[build]]), one residual k-means fit, one encode pass — the
    * exact cost of a fresh [[build]], which is the honest bar: a
    * rebuild IS a fresh build over base + appends, so its output is
    * bit-identical to one (spec-pinned), and the layout config
    * (num_sub, sub_dim, cell_buckets) carries over from the store.
    * Overwrites the store; like any rebuild, it restarts the store log
    * at entry 0. */
  def rebuild(corpus: DataFrame, idCol: String, vecCol: String,
              path: String, k: Int, iters: Int): Unit = {
    rebuildReturning(corpus, idCol, vecCol, path, k, iters)
    ()
  }

  /** [[rebuild]] returning its checkpointed coarse assignment and the
    * freshly-fitted codebook — the seam that lets [[appendOrRebuild]]
    * re-calibrate from the rebuild's OWN assignment pass instead of
    * re-deriving ivfResiduals over the whole corpus a second time
    * (guide §1.3). The returned frames are exactly what the store now
    * persists: `assigned` is ivfResiduals(corpus, cents) for the
    * cents the rebuild wrote, and `cb` round-trips bit-identically
    * through normalized()/stored() (long ids, double vectors). */
  private def rebuildReturning(corpus: DataFrame, idCol: String,
                               vecCol: String, path: String, k: Int,
                               iters: Int): (DataFrame, DataFrame) = {
    val spark = corpus.sparkSession
    val (numSub, subDim, cellBuckets) = params(spark, path)
    val stride = math.max(1L,
      math.floor(math.sqrt(corpus.count().toDouble)).toLong)
    val cents = corpus.filter(col(idCol) % stride === 0)
    // ONE coarse-assignment pass over the corpus (guide §1.3): the
    // codebook fit consumes the residuals and the re-encode consumes
    // the same assignment — previously ivfResiduals ran again inside
    // build's encode (and a third time via the fit's own multi-pass
    // input), each an O(N·K) argmin over data that didn't change.
    // Values are unchanged: build's encode derived the identical
    // frame from the identical (corpus, cents) inputs.
    val assigned = Similarity.ivfResiduals(corpus, cents, idCol, vecCol)
      .localCheckpoint()
    // the residual-trained codebook: fit on what it will quantize
    // (residuals cluster near the origin), same as the direct chain
    val res = assigned
      .select(col("neighbor_id").as(idCol), col("__rv").as(vecCol))
    val cb = KMeans.codebook(KMeans.fit(res, idCol, vecCol, k = k,
        numSub = numSub, subDim = subDim, iters = iters))
      .select(col("cid").as(idCol), col("vector").as(vecCol))
    buildWith(corpus, idCol, vecCol, path, cents, cb,
      numSub, subDim, cellBuckets, preAssigned = Some(assigned))
    (assigned, cb)
  }

  /** Frozen-geometry ENCODE-DISTORTION audit — the cheap IN-BAND
    * drift monitor. The recall audits are the store's documented
    * drift monitor, but they need exact ground truth (a brute-force
    * L2 pass over the corpus); this needs ONE projection over the
    * batch: each vector's total quantization error under the STORE's
    * frozen centroids + codebook — Σ over subspaces of the nearest-
    * centroid residual d2, summed in sub_id order (the ADC fold, so
    * the double is engine-exact and the gate DuckDB-replayable). A
    * distribution-shifted batch lands far from every frozen centroid
    * and its distortion profile jumps ORDERS above the build-time
    * corpus's — the signal that says "rebuild" before recall decays
    * in production, at append-time cost. Output: (id, distortion),
    * one row per vector. Zero shuffle: broadcast structure, per-row
    * fold, then an in-row ordered sum. */
  def encodeDistortion(vectors: DataFrame, idCol: String, vecCol: String,
                       path: String): DataFrame = {
    val spark = vectors.sparkSession
    val p = StoreSnapshots.pin(spark, path)
    val (numSub, subDim, _) = paramsAt(p, path)
    distortionOfAssigned(
      Similarity.ivfResiduals(vectors,
        stored(spark, p, path, "centroids", idCol, vecCol), idCol, vecCol),
      stored(spark, p, path, "codebook", idCol, vecCol),
      idCol, vecCol, numSub, subDim)
  }

  /** [[encodeDistortion]]'s scoring stage over a PRE-COMPUTED residual
    * assignment — the seam [[appendOrRebuild]] uses to share one
    * assignment pass between the monitor and the append's encode.
    * Routes through [[Similarity.distortionOf]]: the sub_id-ordered
    * d2 fold runs IN-ROW (bit-equal sum, same native argmin), so the
    * monitor costs one projection over the batch — the corpus-sized
    * explode + regroup shuffle the previous pqEncode chain paid per
    * drift check is gone (guide §2.4). */
  private def distortionOfAssigned(assigned: DataFrame, codebook: DataFrame,
                                   idCol: String, vecCol: String,
                                   numSub: Int, subDim: Int): DataFrame =
    Similarity.distortionOf(assigned, codebook, idCol, vecCol,
      numSub, subDim)

  /** Persist the drift-trigger CALIBRATION: the mean frozen-geometry
    * [[encodeDistortion]] of `reference` (normally the build corpus)
    * — the number [[appendOrRebuild]] compares every batch mean
    * against. One projection over the reference + one scalar row;
    * the fold is sub_id-ordered, so the stored double is
    * DuckDB-replayable like the monitor itself. */
  def calibrate(reference: DataFrame, idCol: String, vecCol: String,
                path: String): Double = {
    val spark = reference.sparkSession
    val m = encodeDistortion(reference, idCol, vecCol, path)
      .agg(avg("distortion")).head().getDouble(0)
    writeCalibration(spark, path, m)
    m
  }

  private def writeCalibration(spark: SparkSession, path: String,
                               m: Double): Unit = {
    import spark.implicits._
    Seq(m).toDF("mean_distortion").coalesce(1)
      .write.mode(SaveMode.Overwrite)
      .parquet(s"$path/calibration.parquet")
  }

  /** The stored calibration — 1 row, driver-side. */
  def calibration(spark: SparkSession, path: String): Double =
    spark.read.parquet(s"$path/calibration.parquet").head()
      .getAs[Double]("mean_distortion")

  /** Drift-triggered REFRESH policy — the ANN analogue of
    * [[StoreMaintenance.AutoMaintain]]: the monitor says WHEN
    * ([[encodeDistortion]]'s batch mean vs `factor ×` the stored
    * [[calibrate]]d base mean — one in-band projection, zero ground
    * truth), the rebuild says HOW ([[rebuild]] over `corpus`, the
    * caller's full raw table — the store persists codes, not
    * vectors). The batch measures under the CURRENT frozen geometry,
    * appends, and past the threshold the store rebuilds and
    * RE-CALIBRATES over the extended corpus — so a continuing stream
    * from the same shifted mode triggers exactly once: the next wave
    * measures near the new calibration and folds in as a plain
    * append. Returns true when this batch triggered the rebuild.
    * In-distribution batches cost one extra projection; the rebuild
    * costs exactly a fresh build (the honest bar, spec-pinned). */
  def appendOrRebuild(newVectors: DataFrame, idCol: String, vecCol: String,
                      path: String, corpus: DataFrame, factor: Double,
                      k: Int, iters: Int): Boolean = {
    require(factor >= 1.0, s"trigger factor must be >= 1, got $factor")
    val spark = newVectors.sparkSession
    val p = StoreSnapshots.pin(spark, path)
    val (numSub, subDim, cellBuckets) = paramsAt(p, path)
    val codebook = stored(spark, p, path, "codebook", idCol, vecCol)
    // ONE frozen-geometry assignment pass (guide §1.3): the monitor's
    // distortion and the append's encode both consume the batch's
    // residuals under the store's centroids — previously each ran its
    // own ivfResiduals (the O(N·K) argmin) over the same batch. The
    // checkpoint also pins the pre-append store state, so the encode
    // below cannot observe its own append. Values unchanged: this is
    // exactly encodeDistortion + append's derivation, shared.
    val assigned = Similarity.ivfResiduals(newVectors,
        stored(spark, p, path, "centroids", idCol, vecCol), idCol, vecCol)
      .localCheckpoint()
    val batchMean = distortionOfAssigned(assigned, codebook,
        idCol, vecCol, numSub, subDim)
      .agg(avg("distortion")).head().getDouble(0)
    val cal = calibration(spark, path)
    // the same effect as append(newVectors, ...) minus its re-derived
    // assignment: encode from the shared residuals, then append's
    // land + commit tail
    commitCodes(path, encodeAssigned(assigned, codebook, idCol, vecCol,
      numSub, subDim, cellBuckets), None)
    if (batchMean > factor * cal) {
      // re-calibrate from the rebuild's OWN checkpointed assignment —
      // value-identical to calibrate(corpus, ...) over the rebuilt
      // store (same derivation: the stored centroids/codebook ARE the
      // rebuild's cents/cb through the exact double round-trip), with
      // the second full O(N·K) ivfResiduals pass removed (guide §1.3)
      val (assignedAll, cbNew) =
        rebuildReturning(corpus, idCol, vecCol, path, k, iters)
      val m = distortionOfAssigned(assignedAll, cbNew,
          idCol, vecCol, numSub, subDim)
        .agg(avg("distortion")).head().getDouble(0)
      writeCalibration(spark, path, m)
      true
    } else false
  }

  /** ADC top-k against the stored index: plan the batch's probed
    * cells on the driver, scan ONLY their partitions, score. Output
    * identical to `Similarity.ivfPqTopK` on the same logical corpus:
    * (query_id, neighbor_id, rank, adc_dist2).
    *
    * The query batch (bounded class, like an ingest batch) is
    * collected ONCE — a local relation collects with no job — and
    * everything before the scan is planned from it on the driver: the
    * probed cells ([[probedCells]]) and the one-row centroid/codebook
    * relations the scoring stage broadcasts, built from the frozen
    * seeds the pin resolves through the [[SeedMemo]]. With a warm memo
    * this returns its lazy frame without firing a job; the final
    * action scans and scores. */
  def query(spark: SparkSession, path: String, queries: DataFrame,
            idCol: String, vecCol: String, k: Int, nprobe: Int,
            asOf: Option[Long] = None): DataFrame = {
    // resolve FIRST: the pin verifies the frozen seeds
    // (centroids/codebook/params) loudly before any scan plans.
    // `asOf` = store-level time travel (StoreSnapshots.pinAt): the
    // codes resolve at the generation snapshot `asOf` pinned — the
    // index as it stood at that commit, frozen geometry verified
    val p = asOf.fold(StoreSnapshots.pin(spark, path))(
      StoreSnapshots.pinAt(spark, path, _))
    val (numSub, subDim, cellBuckets) = paramsAt(p, path)
    val cents = vectorsAt(p, path, "centroids")
    val batch = queries.select(col(idCol), col(vecCol))
    val qs = spark.createDataFrame(batch.collect().toSeq.asJava, batch.schema)
    val cells = probedCells(qs, cents, idCol, vecCol, nprobe)
    val buckets = cells.map(_ % cellBuckets).distinct
    // the probe resolves a pinned file list (bucket-dir partition
    // pruning preserved via basePath), so compaction never blocks
    // queries
    val codes = p.read(s"$path/codes.parquet")
      .filter(col("cell_bucket").isin(buckets: _*) &&
        col("cell").isin(cells: _*))
      .select(col("neighbor_id"), col("cell").as("__cell"),
        col("codes").as("__codes"))
    Similarity.adcFromRows(codes, qs, Similarity.centroidRowOf(spark, cents),
      Similarity.pqCodebookOf(spark, vectorsAt(p, path, "codebook")),
      idCol, vecCol, k, nprobe, numSub, subDim)
  }

  /** The batch's probed cells, sorted: per query id, the `nprobe`
    * nearest centroids by (dist2, cell) — the very pick the scoring
    * stage's probe window repeats (same left-to-right double sum, NULL
    * distances first, ids grouped as its window partitions them) —
    * unioned. A SUPERSET per query, which the scoring stage's own probe
    * join narrows to exactly nprobe. `qs` is a local relation, so the
    * double projection collects with no job. */
  private def probedCells(qs: DataFrame, cents: Seq[(Long, Seq[Double])],
                          idCol: String, vecCol: String,
                          nprobe: Int): Array[Long] = {
    // zip_with pads a shorter array with NULLs, and a NULL term makes
    // the whole sum NULL
    def dist2(q: Seq[Any], c: Seq[Double]): Option[Double] =
      if (q == null || q.length != c.length || q.contains(null)) None
      else Some(q.iterator.zip(c.iterator).foldLeft(0.0) {
        case (acc, (x, y)) =>
          val d = x.asInstanceOf[Double] - y
          acc + d * d
      })
    // Spark's double order: NaN last, 0.0 == -0.0
    val byDist: Ordering[(Option[Double], Long)] = Ordering.Tuple2(
      Ordering.Option(Ordering.fromLessThan[Double]((a, b) =>
        a != b && java.lang.Double.compare(a, b) < 0)),
      Ordering.Long)
    qs.select(col(idCol), Similarity.toDouble(col(vecCol))).collect()
      .groupBy(r => Option(r.get(0))).values
      .flatMap(_.flatMap(r => cents.map { case (cell, cv) =>
          (dist2(if (r.isNullAt(1)) null else r.getSeq[Any](1), cv), cell)
        }).sorted(byDist).take(nprobe).map(_._2))
      .toArray.distinct.sorted
  }
}
