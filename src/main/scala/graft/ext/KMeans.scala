package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed Lloyd k-means — the codebook TRAINER the PQ/IVF/IVFADC
  * family was missing: their encode/probe machinery has always been
  * parameterized on an injectable codebook, and until this operator
  * the gate injected a first-16-vectors stand-in whose own recall
  * audits measured recall@3 ≈ 0.10. This fits the codebook from the
  * corpus, per PQ subspace, in one operator.
  *
  * ## Oracle-exact arithmetic (why the fit is integer-domain)
  *
  * A float k-means recompute is a grouped SUM of doubles — order-
  * dependent, so no cross-engine value gate could pin it. This fit
  * quantizes each vector component ONCE to an integer
  * (`floor(x·scale + 0.5)`, exact in IEEE double for |x·scale| < 2^52
  * and identical in every engine) and then stays exact end to end:
  *  - assignment distance = Σ (q−c)², a sum of LONGs — exact and
  *    order-independent, so grouped aggregation is deterministic;
  *  - centroid update = round-half-up(Σq / n) back to a LONG via
  *    `floor((2·s + n) / (2·n))` — s and n are exact integers, the
  *    double division is correctly rounded, and the floor lands on
  *    the same integer in every engine while 2·s stays under 2^53
  *    (corpus sums of quantized components — see the require below).
  * The quantization error (≤ 0.5/scale per component, 1.5e-5 at the
  * default 2^15) is noise at codebook granularity; determinism is
  * what it buys. Ties in the argmin resolve to the smallest centroid
  * id — the same total-order rule as `pqEncode`.
  *
  * ## Scale shape (the 100 TB posture)
  *
  * Each iteration is the canonical distributed k-means round:
  *  - ASSIGN: a broadcast-join of the (numSub × k)-row centroid table
  *    against the quantized corpus + an in-row argmin — zero corpus
  *    shuffle;
  *  - UPDATE: one groupBy (sub_id, cid) with per-component SUM
  *    columns — map-side combinable, shuffling k·numSub rows per
  *    partition, never the corpus.
  * The quantized corpus is localCheckpoint-ed once (multi-pass input;
  * a cluster run would persist MEMORY_AND_DISK), centroid lineage is
  * cut per round, and the loop logs centroid movement per iteration —
  * same convergence-observability policy as
  * [[Dedup.connectedComponents]]. Iteration count is a FIXED cap
  * (`iters`), matching the unrolled oracle; the loop exits early only
  * when NO centroid moved (further iterations are provably no-ops, so
  * the fixed-cap result is unchanged).
  *
  * Init is k-spread sampling on a portable integer key
  * (`(id·48271) mod 2147483647` — a MINSTD LCG step, pure integer, so
  * any engine reproduces the pick): the k smallest keyed ids seed the
  * codebook, cid in key order. Deterministic, id-driven, and spread
  * across the corpus rather than the first-k block the stand-in used.
  */
object KMeans {

  /** floor(x·scale + 0.5) per component — the one float→int step. */
  def quantizeVec(vec: Column, scale: Long): Column =
    transform(vec, x => floor(x.cast("double") * scale + lit(0.5)).cast("long"))

  /** One broadcast row per subspace: (sub_id, [cv...] in cid order).
    * Position = cid (ids are contiguous 0..k-1 by construction —
    * init assigns row_number-1 and updates preserve the id set), so
    * the native argmin's index IS the centroid id. */
  private def centRows(cents: DataFrame): DataFrame =
    broadcast(cents.groupBy("sub_id")
      .agg(transform(
        array_sort(collect_list(struct(col("cid"), col("__cv")))),
        c => c.getField("__cv")).as("__cs")))

  /** [[centRows]] from the driver-side centroid table the fit loop
    * keeps (one LOCAL row per subspace — no aggregation exchange, no
    * broadcast-build job over a distributed frame; each fit round was
    * otherwise paying both just to re-shape k·numSub tiny rows). */
  private def centRowsLocal(spark: org.apache.spark.sql.SparkSession,
                            cents: Array[Array[Array[Long]]]): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("sub_id", IntegerType, nullable = false),
      StructField("__cs", ArrayType(ArrayType(LongType)), nullable = false)))
    val rows = new java.util.ArrayList[Row](cents.length)
    cents.zipWithIndex.foreach { case (cs, sub) =>
      rows.add(Row(sub, cs.map(_.toSeq).toSeq))
    }
    broadcast(spark.createDataFrame(rows, schema))
  }

  /** Argmin assignment: (id, sub_id, __qv) → + __cid. In-row argmin
    * over the broadcast centroid array via the native
    * [[graft.catalyst.NearestCentroid]] loop (min d2, ties to the
    * smallest cid — bit-identical to the struct-min HOF it replaced,
    * which interpreted ~k zip/fold lambdas per row), corpus never
    * shuffled. */
  private def assign(quant: DataFrame, cents: DataFrame,
                     subDim: Int): DataFrame =
    assignRows(quant, centRows(cents), subDim)

  private def assignRows(quant: DataFrame, centRows: DataFrame,
                         subDim: Int): DataFrame = {
    graft.catalyst.NearestCentroid.register(quant.sparkSession)
    quant.join(centRows, Seq("sub_id"))
      .withColumn("__best", call_function("graft_nearest_centroid",
        col("__qv"), col("__cs"), lit(0), lit(subDim)))
      .select(col("__id"), col("sub_id"), col("__qv"),
        col("__best").getField("j").cast("long").as("__cid"))
  }

  /** Fit `k` centroids per PQ subspace (`numSub` subspaces of
    * `subDim` dims; `numSub = 1, subDim = dim` is plain k-means over
    * whole vectors). `idCol` must be numeric (drives the portable
    * init key). Returns one row per (subspace, centroid, component):
    * `(sub_id, cid, dim_id, c, n_members)` with `c` in the quantized
    * integer domain (divide by `scale` to recover vector space —
    * [[codebook]] does) and `n_members` the centroid's population
    * under the FINAL assignment (0 = an empty cell that carried its
    * previous position — the audit face of codebook collapse). */
  def fit(rawDf: DataFrame, idCol: String, vecCol: String, k: Int,
          numSub: Int, subDim: Int, iters: Int,
          scale: Long = 32768L): DataFrame = {
    require(k >= 1 && numSub >= 1 && subDim >= 1 && iters >= 1)
    // unsplittable-input guard (TextOps.rebalance): the checkpointed
    // quantized corpus keeps its partitioning for EVERY assign pass
    val df = TextOps.rebalance(rawDf)
    // |component|·scale < 2^20 keeps d2 < 2^46 and corpus sums < 2^52
    // for any realistic corpus — embedding components are O(1)
    require(scale > 0 && scale <= (1L << 20),
      s"scale must be in (0, 2^20] to keep the integer domain exact, got $scale")
    val subIds = explode(sequence(lit(0), lit(numSub - 1))).as("sub_id")
    val quant = df
      .select(col(idCol).as("__id"),
        quantizeVec(Similarity.toDouble(col(vecCol)), scale).as("__q"))
      .select(col("__id"), subIds, col("__q"))
      .select(col("__id"), col("sub_id"),
        slice(col("__q"), col("sub_id") * subDim + 1, lit(subDim)).as("__qv"))
      .localCheckpoint()
    // k-spread init: smallest k MINSTD-keyed ids, cid in key order.
    // orderBy.limit is a TakeOrdered (no global sort shuffle); the k
    // seed vectors collect to the driver — the centroid table is
    // k·numSub CONFIG-sized rows (the codebook dimensions), never
    // corpus-sized, so the fit loop keeps it driver-side: each Lloyd
    // round is then ONE distributed job (assign + map-side-combined
    // per-cell sums) feeding a bounded collect, instead of the
    // previous chain of centroid-reshape aggregation + broadcast
    // build + join + checkpoint + moved-count jobs per round (~5
    // exchanges of k·numSub rows per iteration, pure fixed cost —
    // the same bounded-collect posture as MLlib's own k-means and
    // this repo's probed-cell plans).
    val seedRows = df
      .select(col(idCol).cast("long").as("__id"),
        pmod(col(idCol).cast("long") * lit(48271L), lit(2147483647L)).as("__key"),
        quantizeVec(Similarity.toDouble(col(vecCol)), scale).as("__q"))
      .orderBy(col("__key"), col("__id")).limit(k)
      .collect()
      .sortBy(r => (r.getLong(1), r.getLong(0))) // driver re-sort: limit's output order is not contractual
    // cents(sub)(cid)(dim): quantized centroid components, cid 0..k-1
    // in (key, id) seed order — identical to the row_number init
    var cents: Array[Array[Array[Long]]] = Array.tabulate(numSub) { sub =>
      seedRows.map { r =>
        r.getSeq[Long](2).slice(sub * subDim, sub * subDim + subDim).toArray
      }
    }
    val spark = df.sparkSession
    var iter = 0
    var movedLast = -1L
    while (iter < iters && movedLast != 0) {
      val sums = assignRows(quant, centRowsLocal(spark, cents), subDim)
        .groupBy(col("sub_id"), col("__cid").as("cid"))
        .agg(count(lit(1)).as("__n"),
          (0 until subDim).map(i =>
            sum(element_at(col("__qv"), i + 1)).as(s"__s$i")): _*)
        .collect()
      // round-half-up mean, exact: floor((2s+n)/(2n)) with s,n exact
      // integers under 2^52 — the double division is correctly
      // rounded, so every engine floors the same value (this is the
      // same arithmetic the in-plan update ran; the DuckDB oracle
      // replays it unchanged). Empty cell: keep its previous position
      // (observable as n_members = 0 in the output).
      val next = cents.map(_.map(_.clone()))
      sums.foreach { r =>
        val sub = r.getInt(0)
        val cid = r.getLong(1).toInt
        val n = r.getLong(2)
        var i = 0
        while (i < subDim) {
          val s = r.getLong(3 + i)
          next(sub)(cid)(i) =
            math.floor((2.0 * s + n) / (2.0 * n)).toLong
          i += 1
        }
      }
      // cents(sub) holds min(k, corpus rows) entries (seedRows is a
      // limit(k) over the corpus) — iterate the actual indices, not
      // 0 until k, or a sub-k corpus throws AIOOBE here
      movedLast = (for {
        sub <- cents.indices; cid <- cents(sub).indices
        if !java.util.Arrays.equals(cents(sub)(cid), next(sub)(cid))
      } yield 1).size.toLong
      cents = next
      iter += 1
      System.err.println(
        s"[graft.KMeans] iteration $iter/$iters: $movedLast centroid(s) moved")
    }
    val members = assignRows(quant, centRowsLocal(spark, cents), subDim)
      .groupBy(col("sub_id"), col("__cid").as("cid"))
      .agg(count(lit(1)).as("__m"))
    // explicit hint: members is k·numSub rows at most, but its
    // aggregate-over-RDD estimate is too big for auto-broadcast and
    // the left-outer would otherwise sort-merge two tiny sides
    centsTable(spark, cents).join(broadcast(members), Seq("sub_id", "cid"), "left")
      .select(col("sub_id"), col("cid"),
        posexplode(col("__cv")).as(Seq("dim_id", "c")),
        coalesce(col("__m"), lit(0L)).as("n_members"))
      .select(col("sub_id").cast("long").as("sub_id"), col("cid"),
        col("dim_id").cast("long").as("dim_id"),
        col("c"), col("n_members"))
  }

  /** The fit loop's driver-side centroids as the (sub_id, cid, __cv)
    * frame the output join expects — a k·numSub-row local relation. */
  private def centsTable(spark: org.apache.spark.sql.SparkSession,
                         cents: Array[Array[Array[Long]]]): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("sub_id", IntegerType, nullable = false),
      StructField("cid", LongType, nullable = false),
      StructField("__cv", ArrayType(LongType), nullable = false)))
    val rows = new java.util.ArrayList[Row]()
    cents.zipWithIndex.foreach { case (cs, sub) =>
      cs.zipWithIndex.foreach { case (cv, cid) =>
        rows.add(Row(sub, cid.toLong, cv.toSeq))
      }
    }
    spark.createDataFrame(rows, schema)
  }

  /** Nearest-centroid assignment of a corpus under a [[fit]] result:
    * one row per (id, sub_id) with the winning `cid` — the SAME
    * quantized-domain integer argmin (ties to the smallest cid) the
    * fit's own assign step runs, so an external caller reproduces the
    * fit's final partition exactly. With `numSub = 1` this is the
    * cluster-assignment face of plain k-means (the SemDeDup cell
    * step). Scale shape: identical to fit's ASSIGN — broadcast
    * centroid rows, in-row argmin, zero corpus shuffle. */
  def assignTo(rawDf: DataFrame, idCol: String, vecCol: String,
               fitted: DataFrame, numSub: Int, subDim: Int,
               scale: Long = 32768L): DataFrame = {
    val df = TextOps.rebalance(rawDf)
    val cents = fitted
      .groupBy(col("sub_id"), col("cid"))
      .agg(array_sort(collect_list(struct(col("dim_id"), col("c")))).as("__dc"))
      .select(col("sub_id"), col("cid"),
        transform(col("__dc"), d => d.getField("c")).as("__cv"))
    val subIds = explode(sequence(lit(0), lit(numSub - 1))).as("sub_id")
    val quant = df
      .select(col(idCol).as("__id"),
        quantizeVec(Similarity.toDouble(col(vecCol)), scale).as("__q"))
      .select(col("__id"), subIds, col("__q"))
      .select(col("__id"), col("sub_id"),
        slice(col("__q"), col("sub_id") * subDim + 1, lit(subDim)).as("__qv"))
    assign(quant, cents, subDim)
      .select(col("__id").as(idCol),
        col("sub_id").cast("long").as("sub_id"), col("__cid").as("cid"))
  }

  /** Reassemble a [[fit]] result into codebook ROWS compatible with
    * the `seeds` seam of `pqEncode`/`pqTopK`/`ivfPqTopK`: one row per
    * centroid id, vector = the numSub sub-centroids concatenated in
    * sub_id order, components divided by `scale` (exact: quantized
    * integers over a power-of-two scale are dyadic doubles). The
    * PQ machinery slices these rows back per subspace, so centroid j
    * of subspace m is exactly the trained (m, j) centroid. */
  def codebook(fitted: DataFrame, scale: Long = 32768L): DataFrame =
    fitted
      .groupBy(col("cid"), col("sub_id"))
      .agg(array_sort(collect_list(struct(col("dim_id"), col("c")))).as("__dc"))
      .groupBy(col("cid"))
      .agg(array_sort(collect_list(struct(col("sub_id"),
        col("__dc")))).as("__sc"))
      .select(col("cid"),
        transform(
          flatten(transform(col("__sc"), s =>
            transform(s.getField("__dc"), d => d.getField("c")))),
          x => x.cast("double") / lit(scale.toDouble)).as("vector"))
}
