package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Embedding similarity operators (brief §ext): exact cosine, brute
  * top-k (broadcast query set), and sign-bucket LSH for near-dup
  * candidate generation.
  *
  * Float policy: element-wise products and the running sum happen in
  * double, strictly left-to-right (`aggregate` HOF) — the identical
  * sequential reduction DuckDB's list_sum/list_dot_product performs,
  * so scores are bit-equal across engines. sqrt/division are IEEE
  * correctly-rounded, hence also stable.
  *
  * Scale posture: brute top-k broadcasts the (small) query set and
  * never shuffles the candidate corpus; the LSH path buckets by a
  * hyperplane sign-signature key, so candidate pairing shuffles on the
  * bucket key and exact cosine runs on same-bucket pairs only.
  */
object Similarity {

  /** Element-wise double view of a float-array embedding column. */
  def toDouble(a: Column): Column = transform(a, x => x.cast("double"))

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Reference (builtin-composition) cosine — three HOF reductions.
    * Kept as the semantic reference; the operators below use the fused
    * native expression, pinned bit-identical by CosineSimilaritySpec. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Fast path: the native single-pass Catalyst expression. */
  private[ext] def nativeCosine(df: DataFrame)(a: Column, b: Column): Column = {
    graft.catalyst.CosineSimilarity.register(df.sparkSession)
    call_function("graft_cosine", a, b)
  }

  /** Exact top-k neighbors for each query vector. Queries are expected
    * to be a small set (broadcast); candidates stream map-side. */
  def bruteTopK(queries: DataFrame, candidates: DataFrame, idCol: String,
                vecCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      toDouble(col(vecCol)).as("__qv")))
    // the per-pair distance compute runs MAP-SIDE at the candidates'
    // partitioning; values are partition-invariant (full (score,
    // neighbor_id) tie order in the window)
    val c = TextOps.rebalance(candidates)
      .select(col(idCol).as("neighbor_id"),
      toDouble(col(vecCol)).as("__cv"))
    val scored = c.crossJoin(q)
      .select(col("query_id"), col("neighbor_id"),
        nativeCosine(candidates)(col("__qv"), col("__cv")).as("cosine"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "cosine")
  }

  /** Deterministic pseudo-random hyperplanes (LCG over plane×dim) in
    * [-32768, 32767]; pure integer arithmetic so any engine reproduces
    * them exactly. */
  def planeComponent(p: Int, d: Int): Long =
    (1103515245L * (p * 64 + d) + 12345L) % 65536L - 32768L

  def planes(numPlanes: Int, dim: Int): Seq[Seq[Double]] =
    (0 until numPlanes).map(p => (0 until dim).map(d => planeComponent(p, d).toDouble))

  /** Sizing rule for `numPlanes` — the knob that makes the LSH path
    * scale. `numPlanes` planes give 2^numPlanes buckets, and pairing
    * is quadratic WITHIN a bucket, so you want
    * `numPlanes >= log2(corpusSize / targetBucketSize)`: 8 planes
    * (256 buckets) is fine for the sf test corpora, but a 10^9-vector
    * corpus wants >= 20 planes to keep expected bucket size near 10^3.
    * Upper bound 62 keeps the bucket id a positive Long. Multi-probe
    * (Hamming-1) is the recall knob to pair with higher plane counts. */
  def suggestedNumPlanes(corpusSize: Long, targetBucketSize: Long = 1000L): Int = {
    require(corpusSize > 0 && targetBucketSize > 0)
    val ratio = math.max(1.0, corpusSize.toDouble / targetBucketSize)
    math.min(62, math.max(1, math.ceil(math.log(ratio) / math.log(2)).toInt))
  }

  /** Sign-bucket id: bit p set iff dot(vec, plane_p) >= 0. Similar
    * vectors land in the same bucket with high probability; identical
    * vectors always do. See [[suggestedNumPlanes]] for sizing. */
  def signBucket(vec: Column, numPlanes: Int, dim: Int): Column =
    {
      require(numPlanes >= 1 && numPlanes <= 62,
        s"numPlanes must be in [1, 62] (bucket id is a Long), got $numPlanes")
      planes(numPlanes, dim).zipWithIndex.map { case (plane, p) =>
        when(dot(vec, typedLit(plane)) >= 0, lit(1L << p)).otherwise(lit(0L))
      }.reduce(_ + _)
    }

  /** Approximate top-k: queries only score candidates in their own
    * sign bucket — the scale path next to bruteTopK's exact baseline.
    * The join shuffles on the bucket key; per-query ranking shuffles
    * on query_id only for the (small) same-bucket candidate sets. A
    * query with fewer than k bucket-mates returns fewer rows — the
    * standard ANN recall/speed trade. */
  def annTopK(queries: DataFrame, candidates: DataFrame, idCol: String,
              vecCol: String, k: Int, numPlanes: Int, dim: Int): DataFrame = {
    val q = queries
      .select(col(idCol).as("query_id"), toDouble(col(vecCol)).as("__qv"))
      .withColumn("__bucket", signBucket(col("__qv"), numPlanes, dim))
    val c = candidates
      .select(col(idCol).as("neighbor_id"), toDouble(col(vecCol)).as("__cv"))
      .withColumn("__bucket", signBucket(col("__cv"), numPlanes, dim))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    q.join(c, Seq("__bucket"))
      .select(col("query_id"), col("neighbor_id"),
        nativeCosine(candidates)(col("__qv"), col("__cv")).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "cosine")
  }

  /** Multi-probe variant: each query also probes the buckets at
    * Hamming distance 1 from its own (one flipped hyperplane bit) —
    * the classic recall/cost knob: numPlanes+1 probed buckets instead
    * of 1, still a bucket-key join, never all-pairs. A neighbor lives
    * in exactly one bucket, so no dedup is needed. */
  def annTopKMultiProbe(queries: DataFrame, candidates: DataFrame, idCol: String,
                        vecCol: String, k: Int, numPlanes: Int, dim: Int): DataFrame = {
    val q = queries
      .select(col(idCol).as("query_id"), toDouble(col(vecCol)).as("__qv"))
      .withColumn("__home", signBucket(col("__qv"), numPlanes, dim))
      .withColumn("__bucket", explode(array(
        col("__home") +:
          (0 until numPlanes).map(p =>
            col("__home").bitwiseXOR(lit(1L << p))): _*)))
    val c = candidates
      .select(col(idCol).as("neighbor_id"), toDouble(col(vecCol)).as("__cv"))
      .withColumn("__bucket", signBucket(col("__cv"), numPlanes, dim))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    q.join(c, Seq("__bucket"))
      .select(col("query_id"), col("neighbor_id"),
        nativeCosine(candidates)(col("__qv"), col("__cv")).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "cosine")
  }

  /** IVF-style ANN: a coarse quantizer of sampled centroid vectors
    * partitions the candidate corpus into cells; each query probes its
    * `nprobe` nearest cells and scores exact cosine within probed
    * cells only — the classic inverted-file trade beside the
    * sign-bucket LSH path.
    *
    * Scale posture: cell ASSIGNMENT is a shuffle-free projection — the
    * centroid set rides a single-row broadcast (the J5 scalar
    * pattern: no collect, stays in-plan) and the nearest-centroid
    * argmax is an in-row array reduction, so the full corpus is never
    * shuffled to be assigned. The probe join shuffles on the cell id
    * with ~N/K rows per cell; pick K ~ sqrt(N) (and salt a hot cell
    * like any skewed key). Ties: equal cosine resolves to the lowest
    * centroid id — `array_position` takes the FIRST index achieving
    * the max and the centroid list is in centroid-id order, which is
    * exactly `row_number() ORDER BY score DESC, cid ASC = 1`. */
  /** Symmetric per-vector int8 quantization — the standard 4× storage
    * shrink for embedding corpora at 100 TB: scale = max|v|/127, each
    * component rounds to [-127, 127]. Rounding is `floor(x/scale+0.5)`
    * EXPLICITLY (floor is exact in IEEE double and identical in every
    * engine, where `round()` half-rule conventions differ), so the
    * DuckDB oracle reproduces the quantized vectors bit-for-bit. The
    * all-zero vector quantizes to zeros with scale 0. Output:
    * (id, scale, q ARRAY<INT> in [-127,127], max_abs_err) — the error
    * column makes the precision loss observable per vector (bounded
    * by scale/2), same observability policy as the block/bucket/cell
    * audits. A pure projection: no shuffle, no UDF. */
  /** Recall audit for an ANN path: per-query overlap between an
    * approximate top-k and the exact top-k, in INTEGER counts —
    * recall@k is n_hit/n_exact, but the division stays with the
    * reader so the gate compares exact integers, the same
    * observability policy as the dedup cap audits (what the
    * approximation kept/missed is measurable, never a float-tolerance
    * judgment). Both inputs carry (query_id, neighbor_id [, ...]).
    *
    * Scale shape: two group-counts and one left-semi hit join, all
    * keyed on query_id — runs over an audit SAMPLE of queries at
    * 100 TB (recall is a property of the index configuration, not of
    * the query count). */
  def recallAudit(exact: DataFrame, approx: DataFrame): DataFrame = {
    val ap = approx.select("query_id", "neighbor_id")
    val hits = exact.select("query_id", "neighbor_id")
      .join(ap, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("n_hit"))
    val nApprox = ap.groupBy("query_id").agg(count(lit(1)).as("n_approx"))
    exact.groupBy("query_id").agg(count(lit(1)).as("n_exact"))
      .join(nApprox, Seq("query_id"), "left")
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"), col("n_exact"),
        coalesce(col("n_approx"), lit(0L)).as("n_approx"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"))
  }

  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol), toDouble(col(vecCol)).as("__v"))
      .withColumn("scale",
        array_max(transform(col("__v"), x => abs(x))) / lit(127.0))
      .withColumn("q", when(col("scale") === lit(0.0),
          transform(col("__v"), _ => lit(0)))
        .otherwise(transform(col("__v"), x =>
          greatest(lit(-127), least(lit(127),
            floor(x / col("scale") + lit(0.5)).cast("int"))))))
      .withColumn("max_abs_err", when(col("scale") === lit(0.0), lit(0.0))
        .otherwise(array_max(zip_with(col("__v"), col("q"),
          (v, q) => abs(v - q.cast("double") * col("scale"))))))
      .select(col(idCol), col("scale"), col("q"), col("max_abs_err"))

  /** Deterministic Johnson–Lindenstrauss SIGN projection matrix as a
    * single broadcastable row: `__mat[j][i] ∈ {+1,−1}` from the parity
    * of the same md5-derived [[TextOps.hex15]] stream every other
    * deterministic operator uses — reproducible across engines, runs,
    * and cluster sizes (a `randn()` matrix is none of those). Built
    * IN-PLAN from literals (no driver state, no collect). */
  private[ext] def jlMatrixRow(spark: org.apache.spark.sql.SparkSession,
                               inDim: Int, outDim: Int,
                               salt: String): DataFrame =
    broadcast(spark.range(1).select(
      transform(sequence(lit(0), lit(outDim - 1)), j =>
        transform(sequence(lit(0), lit(inDim - 1)), i =>
          when(TextOps.hex15(concat(lit(s"$salt|"), j.cast("string"),
              lit("|"), i.cast("string"))) % 2 === 0, lit(1.0))
            .otherwise(lit(-1.0)))).as("__mat")))

  /** Johnson–Lindenstrauss sign random projection: embed `inDim`-dim
    * vectors into `outDim` dims via y_j = (Σ_i v_i·R_ji)/√outDim with
    * R the deterministic ±1 matrix above (Achlioptas 2003: sign
    * projections carry the JL distance-preservation guarantee at a
    * third of a Gaussian matrix's cost). The matrix rides a broadcast
    * cross join and each row projects in-place — ZERO shuffle, one
    * scan, so at 100 TB this is the cheap front-end that shrinks
    * every downstream ANN/clustering pass by inDim/outDim; the
    * [[Similarity.recallAudit]] shape prices what it loses. Output:
    * (idCol, proj: array<double>) — each y_j is the same
    * left-to-right fold both engines produce, so values are
    * bit-tight cross-engine. Keep outDim a power of four (16, 64):
    * 1/√outDim is then binary-exact too. */
  def jlProject(df: DataFrame, idCol: String, vecCol: String,
                inDim: Int, outDim: Int = 16,
                salt: String = "jl"): DataFrame = {
    require(inDim >= 1 && outDim >= 1, s"dims must be >= 1")
    val inv = 1.0 / math.sqrt(outDim.toDouble)
    df.select(col(idCol), toDouble(col(vecCol)).as("__v"))
      .crossJoin(jlMatrixRow(df.sparkSession, inDim, outDim, salt))
      .select(col(idCol),
        transform(col("__mat"), rvec =>
          aggregate(zip_with(col("__v"), rvec, (a, b) => a * b),
            lit(0.0), (acc, x) => acc + x) * inv).as("proj"))
  }
  private def centroidRow(centroids: DataFrame, idCol: String,
                          vecCol: String): DataFrame =
    broadcast(
      centroids.select(col(idCol).as("cid"), toDouble(col(vecCol)).as("cv"))
        .groupBy()
        .agg(array_sort(collect_list(struct(col("cid"), col("cv")))).as("__cents")))

  /** Shuffle-free cell assignment: single-pass in-row argmax —
    * array_max over struct(score, -cid) compares lexicographically
    * (max score, then min cid on ties) with the scored array
    * referenced exactly ONCE (a second reference would re-evaluate
    * every per-centroid cosine). Output: (neighbor_id, __cv, __cell). */
  private def assignCells(candidates: DataFrame, cents: DataFrame,
                          idCol: String, vecCol: String): DataFrame = {
    val cos = nativeCosine(candidates) _
    candidates
      .select(col(idCol).as("neighbor_id"), toDouble(col(vecCol)).as("__cv"))
      .crossJoin(cents)
      .withColumn("__best", array_max(transform(col("__cents"), c =>
        struct(cos(col("__cv"), c.getField("cv")).as("s"),
          (-c.getField("cid")).as("nc")))))
      .select(col("neighbor_id"), col("__cv"),
        (-col("__best").getField("nc")).as("__cell"))
  }

  /** Cell-occupancy audit for [[ivfTopK]] — the no-silent-caps face
    * of IVF: probing a cell scores ALL its members, so a hot cell
    * (skewed corpus, too few or collapsed centroids) silently turns
    * each probe into a near-brute-force scan. Reports cells above
    * `maxCellSize` as (cell, cell_size); at scale those cells call
    * for more centroids (K ≈ √N — the sizing ivfTopK documents) or a
    * salted split, and the 100× ScaleBench point shows exactly this
    * failure when K stops tracking √N. */
  def ivfCellStats(candidates: DataFrame, centroids: DataFrame,
                   idCol: String, vecCol: String, maxCellSize: Long): DataFrame = {
    val cents = centroidRow(centroids, idCol, vecCol)
    assignCells(candidates, cents, idCol, vecCol)
      .groupBy(col("__cell").as("cell"))
      .agg(count(lit(1)).as("cell_size"))
      .filter(col("cell_size") > maxCellSize)
      .orderBy("cell")
  }

  def ivfTopK(queries: DataFrame, candidates: DataFrame, centroids: DataFrame,
              idCol: String, vecCol: String, k: Int, nprobe: Int): DataFrame = {
    val cos = nativeCosine(candidates) _
    val cents = centroidRow(centroids, idCol, vecCol)
    val assigned = assignCells(candidates, cents, idCol, vecCol)
    // probe selection runs over the (small) query set only
    val qScored = queries
      .select(col(idCol).as("query_id"), toDouble(col(vecCol)).as("__qv"))
      .crossJoin(cents)
      .select(col("query_id"), col("__qv"), explode(col("__cents")).as("__c"))
      .select(col("query_id"), col("__qv"), col("__c.cid").as("__cell"),
        cos(col("__qv"), col("__c.cv")).as("__cs"))
    val wp = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("__cs").desc, col("__cell").asc)
    val probes = qScored.withColumn("__pr", row_number().over(wp))
      .filter(col("__pr") <= nprobe)
      .select("query_id", "__qv", "__cell")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id").asc)
    // a candidate lives in exactly one cell, so no dedup is needed
    probes.join(assigned, Seq("__cell"))
      .select(col("query_id"), col("neighbor_id"),
        cos(col("__qv"), col("__cv")).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "cosine")
  }

  /** LSH near-duplicate pairs: bucket on the sign signature, pair
    * within buckets only, keep pairs above the cosine threshold. */
  def nearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                   numPlanes: Int, dim: Int, minCosine: Double): DataFrame = {
    val withBucket = df.select(col(idCol), toDouble(col(vecCol)).as("__v"),
      signBucket(toDouble(col(vecCol)), numPlanes, dim).as("__bucket"))
    val a = withBucket.select(col(idCol).as("vec_a"), col("__v").as("__va"),
      col("__bucket"))
    val b = withBucket.select(col(idCol).as("vec_b"), col("__v").as("__vb"),
      col("__bucket"))
    // each vector lives in exactly one bucket, so a pair can only
    // surface once — no distinct (and no extra shuffle) needed
    a.join(b, Seq("__bucket"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        nativeCosine(df)(col("__va"), col("__vb")).as("cosine"))
      .filter(col("cosine") >= minCosine)
  }

  /** One broadcast row holding the PQ codebook: the codebook rows in
    * id-ascending order; centroid j of subspace m is row j's m-th
    * subvector, so the whole codebook is numCentroids full vectors —
    * sliced per subspace at use sites. The expected producer is
    * [[KMeans.codebook]] over a [[KMeans.fit]] (per-subspace Lloyd
    * training — the gate queries train on the corpus / on IVF
    * residuals); any centroid frame injects through the same seam. */
  private def pqCodebook(seeds: DataFrame, idCol: String,
                         vecCol: String): DataFrame =
    broadcast(
      seeds.select(col(idCol).as("sid"), toDouble(col(vecCol)).as("sv"))
        .groupBy()
        // bare vector list in sid order: position = code j (the id
        // column only orders; every consumer indexes positionally)
        .agg(transform(
          array_sort(collect_list(struct(col("sid"), col("sv")))),
          c => c.getField("sv")).as("__cb")))

  /** [[centroidRow]] and [[pqCodebook]] built on the DRIVER from
    * vectors already held there — (id, vector) pairs, the frozen seeds
    * a store read memoizes ([[SeedMemo]]): the same one row each
    * (id-ascending, double vectors) as a broadcast local relation, so
    * no aggregate job runs to build it. */
  private[ext] def centroidRowOf(spark: SparkSession,
                                 cents: Seq[(Long, Seq[Double])]): DataFrame =
    broadcast(oneRow(spark, "__cents", ArrayType(StructType(Seq(
        StructField("cid", LongType), StructField("cv", ArrayType(DoubleType))))),
      cents.sortBy(_._1).map { case (c, v) => Row(c, v) }))

  private[ext] def pqCodebookOf(spark: SparkSession,
                                seeds: Seq[(Long, Seq[Double])]): DataFrame =
    broadcast(oneRow(spark, "__cb", ArrayType(ArrayType(DoubleType)),
      seeds.sortBy(_._1).map(_._2)))

  private def oneRow(spark: SparkSession, name: String, t: DataType,
                     v: Any): DataFrame =
    spark.createDataFrame(java.util.List.of(Row(v)),
      StructType(Seq(StructField(name, t))))

  /** Native per-subspace argmin over the broadcast codebook — see
    * [[graft.catalyst.NearestCentroid]] for the bit-equality
    * contract with the struct-min HOF form it replaced. */
  private def nearestSub(df: DataFrame)(v: Column, cb: Column,
                                        sub: Column, subDim: Int): Column = {
    graft.catalyst.NearestCentroid.register(df.sparkSession)
    call_function("graft_nearest_centroid", v, cb,
      (sub * subDim).cast("int"), lit(subDim))
  }

  /** Squared L2 between two equal-length double arrays, summed
    * strictly left-to-right — subtraction/multiply/add are exact
    * IEEE ops, so both engines produce the identical double. */
  private[ext] def dist2(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x)

  /** Exact squared-L2 top-k — the brute baseline [[pqTopK]] trades
    * against (PQ approximates L2, so its recall audit needs an L2
    * exact side, not the cosine one). Same shape as [[bruteTopK]]:
    * broadcast query set, candidates stream map-side. */
  def bruteTopKL2(queries: DataFrame, candidates: DataFrame, idCol: String,
                  vecCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      toDouble(col(vecCol)).as("__qv")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("dist2").asc, col("neighbor_id").asc)
    TextOps.rebalance(candidates)
      .select(col(idCol).as("neighbor_id"),
        toDouble(col(vecCol)).as("__cv"))
      .crossJoin(q)
      .select(col("query_id"), col("neighbor_id"),
        dist2(col("__qv"), col("__cv")).as("dist2"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "dist2")
  }

  /** Product-quantization encoding — the memory-side scale path for
    * vector corpora beyond [[quantizeInt8]]'s 4×: split each vector
    * into `numSub` subvectors of `subDim` dims and store only the
    * index of the nearest codebook centroid per subspace (8 codes ≈
    * 8 bytes vs 256 float bytes, a 32× shrink, at the cost the
    * per-subspace `dist2` column makes observable). Nearest = min
    * squared L2, ties to the smallest centroid index (`array_min`
    * over struct(d2, j) — lexicographic, exactly `ORDER BY d2, j`).
    *
    * Output is the EXPLODED form `(id, sub_id, code, dist2)`: one
    * row per (vector, subspace), so the argmin evaluates exactly
    * once per subspace (a wide 8-column layout would re-evaluate the
    * scored array per referenced column). Pure projection + in-row
    * explode over the broadcast codebook — zero shuffle, scan
    * partitioning inherited. */
  def pqEncode(df: DataFrame, seeds: DataFrame, idCol: String,
               vecCol: String, numSub: Int, subDim: Int): DataFrame = {
    require(numSub >= 1 && subDim >= 1)
    val cb = pqCodebook(seeds, idCol, vecCol)
    TextOps.rebalance(df)
      .select(col(idCol), toDouble(col(vecCol)).as("__v"))
      .crossJoin(cb)
      .select(col(idCol),
        explode(sequence(lit(0), lit(numSub - 1))).as("sub_id"),
        col("__v"), col("__cb"))
      .withColumn("__best",
        nearestSub(df)(col("__v"), col("__cb"), col("sub_id"), subDim))
      .select(col(idCol), col("sub_id").cast("long").as("sub_id"),
        col("__best").getField("j").cast("long").as("code"),
        col("__best").getField("d2").as("dist2"))
  }

  /** Asymmetric-distance (ADC) top-k over PQ codes: each query
    * computes its exact distance to every codebook centroid per
    * subspace (the classic lookup table — numSub × numCentroids
    * doubles per query, built once on the tiny query side), then a
    * candidate's approximate distance is the table sum over its
    * codes, chained in sub_id order so the double is engine-exact.
    *
    * Scale shape: codes arrive exploded from [[pqEncode]] and are
    * regrouped per vector (one map-side-combinable shuffle — in a
    * real deployment the codes TABLE is already stored wide, making
    * this free); the LUT rides a broadcast row; scoring is a per-row
    * fold; only the final per-query top-k ranks on the (small)
    * query-keyed window. The corpus is never paired with itself and
    * full vectors never move — only 8-byte code arrays. */
  def pqTopK(queries: DataFrame, candidates: DataFrame, seeds: DataFrame,
             idCol: String, vecCol: String, k: Int,
             numSub: Int, subDim: Int): DataFrame = {
    val codes = pqEncode(candidates, seeds, idCol, vecCol, numSub, subDim)
      .groupBy(col(idCol).as("neighbor_id"))
      .agg(sort_array(collect_list(struct(col("sub_id"), col("code"))))
        .as("__codes"))
    // per-query LUT: a POSITION-INDEXED array with d2 for (sub m,
    // centroid j) at index m * |codebook| + j (m-major flatten, so
    // the layout is the index formula by construction). An array
    // `element_at` is O(1); the previous integer-keyed MAP was an
    // O(|map|) scan per lookup in Spark's MapData, which at the
    // trained 256-centroid codebook (4096 entries × 16 lookups per
    // candidate×query row) turned the ADC fold from ~1 s into ~14 s
    // at sf0.1. The stride is the codebook LENGTH from the broadcast
    // row itself, collision-free for any codebook size.
    val cb = pqCodebook(seeds, idCol, vecCol)
    val lut = queries
      .select(col(idCol).as("query_id"), toDouble(col(vecCol)).as("__qv"))
      .crossJoin(cb)
      .select(col("query_id"), size(col("__cb")).cast("long").as("__stride"),
        flatten(transform(sequence(lit(0), lit(numSub - 1)), m =>
          transform(col("__cb"), c =>
            dist2(slice(col("__qv"), m * subDim + 1, lit(subDim)),
              slice(c, m * subDim + 1, lit(subDim)))))).as("__lut"))
    val adc = aggregate(col("__codes"), lit(0.0), (acc, x) =>
      acc + element_at(col("__lut"),
        (x.getField("sub_id") * col("__stride") + x.getField("code") + 1)
          .cast("int")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("adc_dist2").asc, col("neighbor_id").asc)
    codes.crossJoin(broadcast(lut))
      .select(col("query_id"), col("neighbor_id"), adc.as("adc_dist2"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "adc_dist2")
  }

  /** Binary (sign-bit) embedding quantization — the 32× compression
    * floor of the quantization ladder (int8 4× → PQ 32× with
    * codebooks → sign bits 32× with NONE): bit i = (v[i] > 0), so a
    * 64-dim float vector becomes 64 bits and similarity becomes a
    * Hamming distance — two XOR+popcount instructions. The bits pack
    * into TWO 32-bit halves carried in BIGINTs rather than one full
    * 64-bit word: bit 31 is the highest position used per word, so
    * the packed domain never touches an engine-specific 64-bit sign
    * wrap (the lesson SimHash64's 4×16-bit oracle encodes).
    * Zero-shuffle projection; scan partitioning inherited.
    *
    * PRECONDITION: exactly 64-dim vectors (words pack offsets 0-31
    * and 32-63). A shorter vector throws under ANSI `element_at`; a
    * longer one would silently ignore dims past 64 — callers with
    * other widths slice/pad to 64 first (the gate corpus is 64-dim by
    * schema). */
  def binaryQuantize(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    def word(from: Int): Column = expr(
      s"aggregate(sequence(0, 31), CAST(0 AS BIGINT), (acc, i) -> " +
      s"acc + IF(element_at($vecCol, i + ${from + 1}) > 0, " +
      s"shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT)))")
    df.select(col(idCol), word(0).as("b_lo"), word(32).as("b_hi"))
  }

  /** Hamming top-k over [[binaryQuantize]] codes: the query side's
    * packed words ride a broadcast; every candidate costs two
    * XOR+popcount per query — the brute scan whose per-row cost is
    * so small that at 100 TB the binary code table (64 bits/vector ×
    * corpus) IS the index, re-rankable by any exact metric
    * afterwards. All-integer output, ties to the smaller neighbor. */
  def hammingTopK(queries: DataFrame, candidates: DataFrame,
                  idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = broadcast(binaryQuantize(queries, idCol, vecCol)
      .select(col(idCol).as("query_id"),
        col("b_lo").as("__qlo"), col("b_hi").as("__qhi")))
    val c = binaryQuantize(candidates, idCol, vecCol)
      .select(col(idCol).as("neighbor_id"),
        col("b_lo").as("__clo"), col("b_hi").as("__chi"))
    val dist = (expr("bit_count(__qlo ^ __clo)")
      + expr("bit_count(__qhi ^ __chi)")).cast("long")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("hamming").asc, col("neighbor_id").asc)
    c.crossJoin(q)
      .select(col("query_id"), col("neighbor_id"), dist.as("hamming"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "hamming")
  }

  /** TWO-STAGE retrieval — the deployment shape of every production
    * vector search: a cheap approximate stage shortlists `kCoarse`
    * candidates per query ([[hammingTopK]] — XOR+popcount over the
    * binary codes), then the exact metric re-ranks ONLY the
    * shortlist to the final `k`. At 100 TB the float vectors are
    * touched for shortlist×queries rows instead of corpus×queries —
    * the re-rank join is a semi-join against the code-table scan's
    * winners. Recall is bounded by stage 1 (audited by
    * q_hamming_recall); ties break by neighbor id in both stages. */
  def rerankTopK(queries: DataFrame, candidates: DataFrame,
                 idCol: String, vecCol: String,
                 kCoarse: Int, k: Int): DataFrame = {
    require(k <= kCoarse, s"k=$k must be <= kCoarse=$kCoarse")
    val shortlist = hammingTopK(queries, candidates, idCol, vecCol, kCoarse)
      .select("query_id", "neighbor_id")
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      toDouble(col(vecCol)).as("__qv")))
    val cos = nativeCosine(candidates) _
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id").asc)
    shortlist
      .join(candidates.select(col(idCol).as("neighbor_id"),
        toDouble(col(vecCol)).as("__cv")), Seq("neighbor_id"))
      .join(q, Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cos(col("__qv"), col("__cv")).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "cosine")
  }

  /** Contrastive HARD-PAIR mining — the training-data op behind
    * embedding-model fine-tuning (triplet/InfoNCE batches): for each
    * anchor, the hardest POSITIVE (lowest-cosine same-label
    * candidate — the pair the model must pull together from
    * farthest) and the hardest NEGATIVE (highest-cosine
    * different-label candidate — the imposter it must push away).
    * One scan of the candidates against a broadcast anchor set (ids,
    * vectors, labels), two conditional argmin/argmax structs in one
    * map-side-combinable agg — no shuffle of the corpus, the exact
    * shape hard-negative mining keeps at 100 TB (anchors batch
    * through the broadcast). Ties break toward the smaller candidate
    * id via the negated-id struct trick; anchors with no same/other-
    * label candidate emit NULLs rather than dropping. */
  def hardPairs(anchors: DataFrame, candidates: DataFrame,
                idCol: String, vecCol: String, labelCol: String): DataFrame = {
    val a = broadcast(anchors.select(col(idCol).as("anchor_id"),
      toDouble(col(vecCol)).as("__av"), col(labelCol).as("__albl")))
    val cos = nativeCosine(candidates) _
    val scored = candidates
      .select(col(idCol).as("__cid"), toDouble(col(vecCol)).as("__cv"),
        col(labelCol).as("__clbl"))
      .crossJoin(a)
      .select(col("anchor_id"), col("__albl"), col("__cid"), col("__clbl"),
        cos(col("__av"), col("__cv")).as("__cos"))
    scored.groupBy("anchor_id")
      .agg(
        min(when(col("__clbl") === col("__albl"),
          struct(col("__cos").as("c"), col("__cid").as("id")))).as("__hp"),
        max(when(col("__clbl") =!= col("__albl"),
          struct(col("__cos").as("c"), (-col("__cid")).as("nid")))).as("__hn"))
      .select(col("anchor_id"),
        col("__hp").getField("id").as("pos_id"),
        col("__hp").getField("c").as("pos_cos"),
        (-col("__hn").getField("nid")).as("neg_id"),
        col("__hn").getField("c").as("neg_cos"))
  }

  /** IVF + PQ composition — IVFADC (Jégou et al., "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011), the
    * production shape of billion-vector ANN (FAISS's IndexIVFPQ):
    * candidates partition into IVF cells by nearest centroid
    * (squared L2, ties to the smallest centroid id — the metric PQ
    * approximates, unlike [[ivfTopK]]'s cosine flavor), each stores
    * only the PQ codes of its RESIDUAL v − centroid(cell) (residuals
    * cluster near the origin, so one shared codebook quantizes them
    * far better than raw vectors), and a query scores only the
    * candidates of its `nprobe` nearest cells through a per-(query,
    * cell) residual lookup table: ‖q−v‖² ≈ ADC(q−c, codes(v−c)).
    *
    * Scale shape, in order of what moves:
    *  - cell assignment + residual PQ encode is ONE pass over the
    *    candidates against two broadcast rows (centroids, codebook) —
    *    no shuffle, full vectors never leave their scan partition;
    *  - the stored index is (cell, 8-byte code array) per candidate —
    *    the 32× memory shrink that lets 100 TB of vectors sit in
    *    cluster RAM;
    *  - probing broadcasts the (queries × nprobe) residual LUTs and
    *    hash-joins them to the code table on the CELL key: scored
    *    rows = members of probed cells only, the fraction
    *    [[ivfCellStats]] makes observable (vs [[pqTopK]], which
    *    scans every code row per query);
    *  - the final top-k ranks on the query-keyed window.
    * K ≈ √N centroids keeps assignment O(N·√N) and mean probe cost
    * O(nprobe·√N) — the same sizing law the IVF audit pins.
    *
    * The encode inlines [[pqEncode]]'s argmin (same codebook, same
    * tie rule) to carry the cell through the explode instead of
    * re-deriving the assignment with a second pass or a join. */
  /** IVF cell assignment + residual, the shared first stage of IVFADC
    * (and the input a residual-space codebook trains on — KMeans.fit
    * over `__rv` is how `ivfPqTopK`'s codebook is fitted): nearest
    * cell by squared L2 (argmin via array_min over struct(d2, cid),
    * ties to the smallest centroid id), then the residual
    * v − centroid(cell). The centroid vector is re-fetched by cid so
    * the argmin struct stays scalar-ordered (no array-typed
    * comparison in the min). One pass over the candidates against the
    * broadcast centroid row — no shuffle, vectors stay in their scan
    * partitions. Output: (neighbor_id, __cell, __rv). */
  /** Parallel-array centroid broadcast: vectors and ids, both in
    * cid-ascending order so the native argmin's INDEX translates to
    * the id through one O(1) element_at (ids here are NOT contiguous
    * — IVF centroids carry corpus vec_ids). */
  private def centroidArrays(centroids: DataFrame, idCol: String,
                             vecCol: String): DataFrame = {
    val sorted = array_sort(collect_list(struct(col("cid"), col("cv"))))
    broadcast(
      centroids.select(col(idCol).as("cid"), toDouble(col(vecCol)).as("cv"))
        .groupBy()
        .agg(transform(sorted, c => c.getField("cv")).as("__cvs"),
          transform(sorted, c => c.getField("cid")).as("__cids")))
  }

  def ivfResiduals(candidates: DataFrame, centroids: DataFrame,
                   idCol: String, vecCol: String): DataFrame = {
    val cents = centroidArrays(centroids, idCol, vecCol)
    graft.catalyst.NearestCentroid.register(candidates.sparkSession)
    // the O(K)-per-row argmin runs map-side at the candidates'
    // partitioning; values are partition-invariant (pure per-row
    // projection), and downstream encodes inherit the partitioning
    TextOps.rebalance(candidates)
      .select(col(idCol).as("neighbor_id"), toDouble(col(vecCol)).as("__v"))
      .crossJoin(cents)
      // native full-width L2 argmin (ties to the smallest index = the
      // smallest cid under the sorted layout — the struct-min rule)
      .withColumn("__best", call_function("graft_nearest_centroid",
        col("__v"), col("__cvs"), lit(0), size(col("__v"))))
      .withColumn("__cell",
        element_at(col("__cids"), col("__best").getField("j") + 1))
      .withColumn("__ccv",
        element_at(col("__cvs"), col("__best").getField("j") + 1))
      .select(col("neighbor_id"), col("__cell"),
        zip_with(col("__v"), col("__ccv"), (x, y) => x - y).as("__rv"))
  }

  /** Two-level ("hierarchical") coarse quantization — the scale-safe
    * replacement for [[ivfResiduals]]' single-level assignment. With
    * K ≈ √N coarse cells, scanning every centroid per candidate is
    * O(N·√N) total — the measured 34× ScaleBench point at 100× (the
    * one super-linear trend round 8 left named-but-unbuilt). The
    * standard fix (FAISS's two-level / IMI-style coarse search):
    * quantize the CENTROIDS themselves into K1 ≈ √K top-level groups,
    * route each candidate through its `w` nearest top-level vectors,
    * and argmin only over the leaf centroids owned by those groups —
    * per-candidate work drops from K to K1 + w·K/K1 ≈ (1+w)·√K
    * (O(N^¼) each at the √N sizing), i.e. total assignment cost
    * O(N^1.25) instead of O(N^1.5).
    *
    * The price is exactness of the ASSIGNMENT, not of the engine: a
    * candidate whose true nearest leaf lives outside its w probed
    * groups lands in its best IN-PROBE cell instead. That loss is
    * observable, not assumed — the q_ivf_hier_agree gate query counts
    * per-candidate agreement with the flat assignment, and the ADC
    * recall audit reads through the gate like every other ANN path.
    * Calibration note: the synthetic fixture's embeddings are near-
    * ISOTROPIC — the worst case for hierarchical routing, since
    * top-level groups of uniformly random vectors carry little
    * locality, so cell agreement trends toward the covered-group
    * fraction (~59% at the gate sizing) while END recall barely moves
    * (15/60 vs the flat path's 17/60: a disagreeing cell is usually
    * still probed). Real embedding corpora cluster — the regime this
    * trade targets — and the agreement audit is exactly the number a
    * deployment watches to size w/K1 against its own geometry.
    *
    * Deterministic contract (what the DuckDB oracle re-derives):
    *  - `tops` rows sort by id ascending; tpos = that rank;
    *  - each leaf centroid belongs to its nearest top by squared L2
    *    over the full width, ties to the smallest tpos; within a
    *    group, leaves sort by cid ascending;
    *  - a candidate probes the w tops with smallest (d2, tpos);
    *  - the winning leaf minimizes (d2, probe rank, cid) — probe rank
    *    before cid because the native argmin runs per probed group
    *    (group index j is cid rank inside ONE group, so the struct
    *    min over (d2, probe, j) equals (d2, probe, cid)).
    *
    * Shuffle shape: identical to [[ivfResiduals]] — the candidate
    * pass is one zero-shuffle projection against a single broadcast
    * row; the two-level structure (top vectors + per-top leaf lists)
    * is built from the K-row centroid frame (K ≈ √N rows — already
    * the "small" side everywhere in this family). The top-level
    * scoring runs as an interpreted HOF over K1 = O(N^¼) entries;
    * the leaf argmin stays on the native expression — at any real N
    * the leaf term dominates, so the interpreted top scan is not the
    * hot loop.
    *
    * Precondition: every top should own ≥1 leaf (guaranteed when
    * `tops ⊆ centroids`, since a top is its own nearest vector);
    * probed groups that are empty anyway are skipped, and a candidate
    * whose every probe is empty yields a null cell (impossible under
    * the precondition, w ≥ 1). Output: (neighbor_id, __cell, __rv) —
    * drop-in for [[ivfResiduals]]. */
  def ivfResidualsHier(candidates: DataFrame, centroids: DataFrame,
                       tops: DataFrame, idCol: String, vecCol: String,
                       w: Int = 2): DataFrame = {
    require(w >= 1, s"w >= 1, got $w")
    graft.catalyst.NearestCentroid.register(candidates.sparkSession)
    // one broadcast row of top vectors, tid-ascending (index == tpos)
    val topRow = broadcast(
      tops.select(col(idCol).as("tid"), toDouble(col(vecCol)).as("tv"))
        .groupBy()
        .agg(transform(array_sort(collect_list(struct(col("tid"), col("tv")))),
          t => t.getField("tv")).as("__tvs")))
    // leaf -> top assignment: K rows against the broadcast top row,
    // native argmin (ties to the smallest index = smallest tpos)
    val leaves = centroids
      .select(col(idCol).as("cid"), toDouble(col(vecCol)).as("cv"))
      .crossJoin(topRow)
      .withColumn("__tpos", call_function("graft_nearest_centroid",
        col("cv"), col("__tvs"), lit(0), size(col("cv"))).getField("j"))
    // per-top leaf lists (cid-ascending), keyed as maps so a sparse
    // tpos domain cannot shift positional lookups; map lookups here
    // are O(K1) linear scans over a tiny broadcast map, per PROBE not
    // per leaf
    val grouped = leaves.groupBy(col("__tpos"))
      .agg(array_sort(collect_list(struct(col("cid"), col("cv")))).as("__ls"))
      .groupBy()
      .agg(
        map_from_entries(collect_list(struct(col("__tpos"),
          transform(col("__ls"), l => l.getField("cv"))))).as("__lcvs"),
        map_from_entries(collect_list(struct(col("__tpos"),
          transform(col("__ls"), l => l.getField("cid"))))).as("__lcids"))
    val structure = broadcast(grouped.crossJoin(topRow))
    val dim = size(col("__v"))
    // w nearest tops by (d2, tpos): K1-wide in-row sort
    val topScores = transform(col("__tvs"), (tv, i) =>
      struct(dist2(col("__v"), tv).as("d2"), i.cast("int").as("tpos")))
    // per-probe native argmin over that group's leaves; probe rank
    // rides along so the final struct-min orders (d2, probe, cid)
    val perProbe = transform(
      filter(col("__probes"), p =>
        element_at(col("__lcvs"), p.getField("tpos")).isNotNull),
      (p, r) => {
        val lv = element_at(col("__lcvs"), p.getField("tpos"))
        val best = call_function("graft_nearest_centroid",
          col("__v"), lv, lit(0), dim)
        struct(best.getField("d2").as("d2"), r.cast("int").as("pr"),
          p.getField("tpos").as("tpos"), best.getField("j").as("j"))
      })
    TextOps.rebalance(candidates)
      .select(col(idCol).as("neighbor_id"), toDouble(col(vecCol)).as("__v"))
      .crossJoin(structure)
      .withColumn("__probes", slice(array_sort(topScores), 1, w))
      .withColumn("__b", array_min(perProbe))
      .withColumn("__cell", element_at(
        element_at(col("__lcids"), col("__b").getField("tpos")),
        col("__b").getField("j") + 1))
      .withColumn("__ccv", element_at(
        element_at(col("__lcvs"), col("__b").getField("tpos")),
        col("__b").getField("j") + 1))
      .select(col("neighbor_id"), col("__cell"),
        zip_with(col("__v"), col("__ccv"), (x, y) => x - y).as("__rv"))
  }

  def ivfPqTopK(queries: DataFrame, candidates: DataFrame,
                centroids: DataFrame, seeds: DataFrame,
                idCol: String, vecCol: String, k: Int, nprobe: Int,
                numSub: Int, subDim: Int): DataFrame =
    adcTopK(ivfResiduals(candidates, centroids, idCol, vecCol),
      queries, centroids, seeds, idCol, vecCol, k, nprobe, numSub, subDim)

  /** IVFADC with the two-level coarse assignment — same probe/ADC
    * machinery as [[ivfPqTopK]] (the query side still ranks all K
    * cells exactly: queries are few, so the O(q·K) probe pick is
    * never the scale term), only the O(N·K) candidate assignment
    * switches to [[ivfResidualsHier]]'s O(N·(1+w)·√K). */
  def ivfPqTopKHier(queries: DataFrame, candidates: DataFrame,
                    centroids: DataFrame, tops: DataFrame, seeds: DataFrame,
                    idCol: String, vecCol: String, k: Int, nprobe: Int,
                    numSub: Int, subDim: Int, w: Int = 2): DataFrame =
    adcTopK(ivfResidualsHier(candidates, centroids, tops, idCol, vecCol, w),
      queries, centroids, seeds, idCol, vecCol, k, nprobe, numSub, subDim)

  private def adcTopK(assigned: DataFrame,
                      queries: DataFrame, centroids: DataFrame,
                      seeds: DataFrame, idCol: String, vecCol: String,
                      k: Int, nprobe: Int, numSub: Int,
                      subDim: Int): DataFrame =
    adcFromCodes(encodeCodes(assigned, seeds, idCol, vecCol, numSub, subDim),
      queries, centroids, seeds, idCol, vecCol, k, nprobe, numSub, subDim)

  /** The IVFADC encode stage alone: per assigned residual, the
    * sub_id-sorted PQ code list — (neighbor_id, __cell, __codes).
    * Split out of [[adcTopK]] so the codes can be PERSISTED
    * ([[VectorIndexStore]]) instead of recomputed per query batch.
    *
    * IN-ROW assembly (guide §2.4 — remove shuffles outright): the
    * code list builds as one `transform` over sub_id 0..numSub-1,
    * with the native argmin reading subspace m through its `offset`
    * parameter — already sub_id-ascending by construction, so this
    * is value-identical to the explode → groupBy(neighbor_id) →
    * sort_array(collect_list(...)) form it replaces (same argmin,
    * same tie rule, same struct fields) MINUS that form's full
    * corpus-sized shuffle per encode pass (one exchange per
    * build/append/rebuild, gone). */
  /** Per-vector TOTAL quantization distortion over a pre-computed
    * residual assignment, folded IN-ROW in sub_id order — value-
    * identical to the previous `pqEncode → groupBy(id) →
    * sort_array(collect_list) → ordered sum` chain (same per-subspace
    * d2 from the same native argmin, added in the same ascending
    * sub_id order, so the double is bit-equal), with the corpus-sized
    * explode + regroup shuffle removed outright (guide §2.4). This is
    * the monitor/calibration hot path: every drift check pays it over
    * its whole batch. */
  private[ext] def distortionOf(assigned: DataFrame, seeds: DataFrame,
                                idCol: String, vecCol: String,
                                numSub: Int, subDim: Int): DataFrame = {
    require(numSub >= 1 && subDim >= 1)
    val cb = pqCodebook(seeds, idCol, vecCol)
    TextOps.rebalance(assigned)
      .crossJoin(cb)
      .select(col("neighbor_id").as(idCol),
        aggregate(sequence(lit(0), lit(numSub - 1)), lit(0.0),
          (acc, m) => acc + nearestSub(assigned)(col("__rv"), col("__cb"),
            m, subDim).getField("d2")).as("distortion"))
  }

  private[ext] def encodeCodes(assigned: DataFrame, seeds: DataFrame,
                               idCol: String, vecCol: String,
                               numSub: Int, subDim: Int): DataFrame = {
    require(numSub >= 1 && subDim >= 1)
    val cb = pqCodebook(seeds, idCol, vecCol)
    assigned
      .crossJoin(cb)
      .select(col("neighbor_id"), col("__cell"),
        transform(sequence(lit(0), lit(numSub - 1)), m =>
          struct(m.cast("long").as("sub_id"),
            nearestSub(assigned)(col("__rv"), col("__cb"), m, subDim)
              .getField("j").cast("long").as("code"))).as("__codes"))
  }

  /** The IVFADC probe/LUT/scan stage over an already-encoded codes
    * frame — [[adcTopK]]'s second half, callable against persisted
    * codes. `codes` may be pre-filtered to any SUPERSET of the cells
    * the queries probe (partition pruning): the per-query probe join
    * below re-selects exactly its own nprobe cells. */
  private[ext] def adcFromCodes(codes: DataFrame,
                      queries: DataFrame, centroids: DataFrame,
                      seeds: DataFrame, idCol: String, vecCol: String,
                      k: Int, nprobe: Int, numSub: Int,
                      subDim: Int): DataFrame =
    adcFromRows(codes, queries, centroidRow(centroids, idCol, vecCol),
      pqCodebook(seeds, idCol, vecCol), idCol, vecCol, k, nprobe,
      numSub, subDim)

  /** [[adcFromCodes]] over the one-row centroid (`__cents`) and codebook
    * (`__cb`) relations, however they were built — aggregated from
    * frames ([[centroidRow]]/[[pqCodebook]]) or on the driver
    * ([[centroidRowOf]]/[[pqCodebookOf]], the stored route). */
  private[ext] def adcFromRows(codes: DataFrame, queries: DataFrame,
                               cents: DataFrame, cb: DataFrame,
                               idCol: String, vecCol: String, k: Int,
                               nprobe: Int, numSub: Int,
                               subDim: Int): DataFrame = {
    require(numSub >= 1 && subDim >= 1)
    // nprobe nearest cells per query, each with the query's residual
    // against that cell's centroid
    val qScored = queries
      .select(col(idCol).as("query_id"), toDouble(col(vecCol)).as("__qv"))
      .crossJoin(cents)
      .select(col("query_id"), col("__qv"), explode(col("__cents")).as("__c"))
      .select(col("query_id"), col("__qv"), col("__c").getField("cid").as("__cell"),
        col("__c").getField("cv").as("__ccv"),
        dist2(col("__qv"), col("__c").getField("cv")).as("__qd"))
    val wp = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("__qd").asc, col("__cell").asc)
    val probes = qScored.withColumn("__pr", row_number().over(wp))
      .filter(col("__pr") <= nprobe)
      .select(col("query_id"), col("__cell"),
        zip_with(col("__qv"), col("__ccv"), (x, y) => x - y).as("__qr"))
    // per-(query, probed-cell) LUT as a POSITION-INDEXED array —
    // d2 for (sub m, centroid j) at index m * |codebook| + j, the
    // same O(1)-lookup layout as pqTopK (the integer-keyed map it
    // replaces scanned O(|map|) per lookup in Spark's MapData);
    // stride = codebook length from the broadcast row itself
    val lut = probes.crossJoin(cb)
      .select(col("query_id"), col("__cell"),
        size(col("__cb")).cast("long").as("__stride"),
        flatten(transform(sequence(lit(0), lit(numSub - 1)), m =>
          transform(col("__cb"), c =>
            dist2(slice(col("__qr"), m * subDim + 1, lit(subDim)),
              slice(c, m * subDim + 1, lit(subDim)))))).as("__lut"))
    // ADC chained in sub_id order (sort_array above) — engine-exact
    val adc = aggregate(col("__codes"), lit(0.0), (acc, x) =>
      acc + element_at(col("__lut"),
        (x.getField("sub_id") * col("__stride") + x.getField("code") + 1)
          .cast("int")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("adc_dist2").asc, col("neighbor_id").asc)
    codes.join(broadcast(lut), Seq("__cell"))
      .select(col("query_id"), col("neighbor_id"), adc.as("adc_dist2"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "adc_dist2")
  }
}
