package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.sources.Tables
import graft.operators.{AsOfJoin, BloomPrune, Ranking, Salting}
import graft.functions.F1Functions

/** The driver-checked query inventory: every SURVEY.md §2 operator
  * re-expressed over the star-schema fixtures, each with a DuckDB
  * oracle (StarOracles).
  *
  * Float-parity policy (SURVEY.md §7.4.2): all SUMs/AVGs go through an
  * exact DECIMAL domain (`cast(x as decimal)` → sum → `cast as
  * double`), never raw double accumulation — double sums are
  * order-dependent and would flake the hash compare between Spark and
  * DuckDB. Products of raw doubles are IEEE-deterministic and safe to
  * cast AFTER multiplying. Every ranking carries explicit tie-break
  * keys (orderkey/linenumber/ids) so plans stay deterministic under
  * any partitioning.
  */
object StarQueries {

  private val dec = DecimalType(18, 2)
  private val dec4 = DecimalType(18, 4)

  // ---------------------------------------------------------------
  // §2.5 A2-style aggregation (TPC-H Q1 shape): P1 arithmetic + F
  // filters + group agg. Map-side partial agg + single shuffle on the
  // (tiny-cardinality) group keys — the canonical scale-safe agg.
  // ---------------------------------------------------------------
  def q1Agg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .withColumn("disc_price",
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).cast(dec4))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(col("l_quantity").cast(dec)).cast("double").as("sum_qty"),
        sum(col("l_extendedprice").cast(dec)).cast("double").as("sum_base_price"),
        sum(col("disc_price")).cast("double").as("sum_disc_price"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  // ---------------------------------------------------------------
  // §2.5 A1 + §2.7 O1 — the flagship "fastest lap leaderboard"
  // analogue: whole-row argmin per supplier (min-struct aggregation:
  // one shuffle, partial agg; NO window sort), deterministic
  // first-on-tie, NaN/null-last final ordering.
  // ---------------------------------------------------------------
  def fastestLeaderboard(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select("l_suppkey", "l_extendedprice", "l_shipdate", "l_orderkey", "l_linenumber")
    Ranking.argminRow(li, groupCols = Seq("l_suppkey"),
        orderCols = Seq("l_extendedprice", "l_shipdate", "l_orderkey", "l_linenumber"))
      .select(col("l_suppkey"), col("l_extendedprice").as("best_price"),
        col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      .orderBy(col("best_price").asc_nulls_last, col("l_suppkey").asc)
  }

  // §2.7 O3 — top-k with deterministic tie-break; plans as
  // TakeOrderedAndProject (no global sort/shuffle of the full table).
  def topK(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(5)

  // §2.6 W1 — keep-first per group under explicit ordering
  // (sort+drop_duplicates idiom): first order per customer.
  def windowRank(spark: SparkSession, dir: String): DataFrame =
    Ranking.keepFirst(
        Tables.orders(spark, dir)
          .select("o_custkey", "o_orderkey", "o_totalprice", "o_orderdate"),
        partition = Seq("o_custkey"),
        order = Seq(col("o_orderdate").asc, col("o_orderkey").asc))
      .orderBy("o_custkey")

  // §2.4 J2 — interval join against a tiny in-line band dimension
  // (broadcast; the range predicate runs map-side, no shuffle of the
  // fact table beyond the final 3-group agg).
  def intervalJoin(spark: SparkSession, dir: String): DataFrame = {
    val bands = spark.createDataFrame(Seq(
      ("small", 1.0, 10.0), ("mid", 11.0, 25.0), ("large", 26.0, 50.0)))
      .toDF("band", "lo", "hi")
    val li = Tables.lineitem(spark, dir)
    AsOfJoin.intervalJoin(li, bands, by = Nil,
        valueCol = "l_quantity", loCol = "lo", hiCol = "hi")
      .groupBy("band")
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity").cast(dec)).cast("double").as("sum_qty"))
      .orderBy("band")
  }

  // §2.9 R1 — pivot: nation × order-status counts (drivers×compounds
  // matrix analogue). Broadcast dims; explicit pivot values (no extra
  // distinct-scan job).
  def pivotMatrix(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).select("c_custkey", "c_nationkey")
    val o = Tables.orders(spark, dir).select("o_custkey", "o_orderstatus")
    val n = Tables.nation(spark, dir).select("n_nationkey", "n_name")
    // customer scales with the fact tables — no forced broadcast (AQE
    // picks broadcast vs SMJ from runtime stats); nation is a fixed
    // 25-row dim, always broadcast.
    val joined = o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
    val pivoted = joined.groupBy("n_name")
      .pivot("o_orderstatus", Seq("F", "O", "P")).count()
    pivoted.select(col("n_name"),
        coalesce(col("F"), lit(0L)).as("F"),
        coalesce(col("O"), lit(0L)).as("O"),
        coalesce(col("P"), lit(0L)).as("P"))
      .orderBy("n_name")
  }

  // §2.9 R2 — unpivot (melt) the matrix back to long form.
  def unpivotMelt(spark: SparkSession, dir: String): DataFrame =
    pivotMatrix(spark, dir)
      .unpivot(Array(col("n_name")), Array(col("F"), col("O"), col("P")),
        "o_orderstatus", "n_orders")
      .orderBy("n_name", "o_orderstatus")

  // §2.6 W2/W3 + §2.8 U2 — grid-order construction analogue: top-5
  // urgent orders take positions 1-5, top-5 non-urgent take 6-10.
  def unionGrid(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select("o_orderkey", "o_orderpriority", "o_totalprice")
    // positions come from a sorted collect + posexplode over the ≤5
    // rows surviving limit(5) — no WindowExec at all, so nothing ever
    // funnels the full table through one partition (an unpartitioned
    // rank window would; a constant partition key gets folded away and
    // still plans the global window). array_sort orders by the leading
    // struct field: negated price = price DESC, then o_orderkey ASC.
    def top5(df: DataFrame, offset: Int) = df
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc).limit(5)
      .groupBy()
      .agg(array_sort(collect_list(struct(
        (-col("o_totalprice")).as("np"), col("o_orderkey").as("k"),
        col("o_orderpriority").as("p"), col("o_totalprice").as("tp")))).as("__a"))
      .select(posexplode(col("__a")).as(Seq("__i", "__s")))
      .select(col("__s.k").as("o_orderkey"), col("__s.p").as("o_orderpriority"),
        col("__s.tp").as("o_totalprice"),
        (col("__i") + 1 + offset).as("grid_position"))
    val urgent = top5(o.filter(col("o_orderpriority") === "1-URGENT"), 0)
    val rest   = top5(o.filter(col("o_orderpriority") =!= "1-URGENT"), 5)
    urgent.unionByName(rest).orderBy("grid_position")
  }

  // ---------------------------------------------------------------
  // §2.3/§2.4 — the multi-fact star join (TPC-H Q5 shape): revenue by
  // nation for one region over a two-year order window. Join
  // discipline at scale: region and nation are FIXED-cardinality dims
  // (5/25 rows at any SF) — broadcast explicitly and pre-joined so the
  // region filter prunes nations before any fact is touched. customer
  // and supplier SCALE with the data, so they are NOT force-broadcast:
  // AQE picks broadcast vs shuffle from runtime sizes. The order-date
  // filter is pushed to the orders scan, shrinking the l_orderkey
  // shuffle — the largest exchange in the plan — before it happens.
  // ---------------------------------------------------------------
  def starJoin(spark: SparkSession, dir: String): DataFrame = {
    val asiaNations = Tables.nation(spark, dir)
      .select("n_nationkey", "n_name", "n_regionkey")
      .join(broadcast(Tables.region(spark, dir)
          .filter(col("r_name") === "ASIA").select("r_regionkey")),
        col("n_regionkey") === col("r_regionkey"))
      .select("n_nationkey", "n_name")
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      .select("o_orderkey", "o_custkey")
    val c = Tables.customer(spark, dir).select("c_custkey", "c_nationkey")
    val s = Tables.supplier(spark, dir).select("s_suppkey", "s_nationkey")
    Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      // both-column equi-join: (l_suppkey, c_nationkey) = (s_suppkey,
      // s_nationkey) — the co-location predicate stays in the hash key
      .join(s, col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(asiaNations), col("s_nationkey") === col("n_nationkey"))
      .withColumn("rev",
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).cast(dec4))
      .groupBy("n_name")
      .agg(sum(col("rev")).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  // §4.2 — the skew-mitigation surface through the correctness gate:
  // two-phase salted aggregation over a 5-value group key, the shape
  // AQE's skew handling cannot split (one giant GROUP, not one skewed
  // join partition, so it all lands on one task). Phase 1 aggregates
  // (key, salt-of-event_id) across 16 buckets; phase 2 merges
  // partials per key. count/decimal-sum are associative, so the
  // result is bit-identical to the direct GROUP BY — which is exactly
  // what the oracle runs.
  // §4.2 — the measurement that SIZES the two salted shapes below:
  // per-key counts over target with the minimal sufficient salt,
  // ⌈cnt/1000⌉ integer-exact. The fixture's 5 event types all exceed
  // the 1000-row target, so the report names every hot key and the
  // bucket count a caller would feed saltedAgg/saltedEquiJoin.
  def skewAuditQuery(spark: SparkSession, dir: String): DataFrame =
    Salting.skewAudit(Tables.events(spark, dir).select("event_type"),
      keys = Seq("event_type"), targetPerTask = 1000L)

  def saltedAggQuery(spark: SparkSession, dir: String): DataFrame =
    Salting.saltedAgg(
        Tables.events(spark, dir).select("event_type", "event_id", "value"),
        keys = Seq("event_type"), buckets = 16,
        saltSource = Seq(col("event_id")),
        aggs = Seq(
          ("n", count(lit(1)), (c: Column) => sum(c)),
          ("sum_value", sum(col("value").cast(dec)),
            (c: Column) => sum(c).cast("double"))))
      .orderBy("event_type")

  // §4.2 — the skewed-JOIN side of the salting surface: events (5
  // hot event_type keys, thousands of rows each — the key histogram
  // AQE's skew split sees as 5 giant partitions) joined to a replicable
  // weight dim through saltedEquiJoin, so each hot key spreads over 8
  // (key, salt) buckets. Result identity with the plain join holds
  // because every dim row is replicated once per salt. The weighted
  // sum goes double-multiply → decimal-sum (products of raw doubles
  // are IEEE-deterministic; accumulation is exact).
  def saltedJoinQuery(spark: SparkSession, dir: String): DataFrame = {
    val weights = spark.createDataFrame(Seq(
        ("view", 1.0), ("click", 2.0), ("purchase", 10.0),
        ("signup", 5.0), ("error", 0.0)))
      .toDF("event_type", "weight")
    Salting.saltedEquiJoin(
        Tables.events(spark, dir).select("event_type", "event_id", "value"),
        weights, keys = Seq("event_type"), buckets = 8,
        saltSource = Seq(col("event_id")))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum((col("value") * col("weight")).cast(dec4)).cast("double")
          .as("weighted_value"))
      .orderBy("event_type")
  }

  // §2.5 — fixed-width histogram: one groupBy on the computed bucket
  // (map-side combinable; ~20 buckets), no windowing, no sort of the
  // fact table. floor(x / width) in double is bit-identical across
  // engines for identical inputs.
  def histogram(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(floor(col("l_extendedprice") / 5000).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"),
        min(col("l_extendedprice")).as("lo"),
        max(col("l_extendedprice")).as("hi"))
      .orderBy("bucket")

  // §2.5 — per-group Pearson correlation with EXACT cross-engine
  // parity: the five moment sums run in the decimal domain (exact, so
  // partitioning/order cannot flake them), and only the final scalar
  // formula — written with the same association on both sides — runs
  // in double. Spark's builtin corr() accumulates doubles and is NOT
  // reproducible across partitionings; this shape is, at the same
  // one-shuffle cost (all five sums ride one hash agg).
  def corrByGroup(spark: SparkSession, dir: String): DataFrame = {
    val q = col("l_quantity")
    val p = col("l_extendedprice")
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).cast("double").as("__n"),
        sum(q.cast(dec)).cast("double").as("__sx"),
        sum(p.cast(dec)).cast("double").as("__sy"),
        sum((q * p).cast(dec4)).cast("double").as("__sxy"),
        sum((q * q).cast(dec4)).cast("double").as("__sxx"),
        sum((p * p).cast(dec4)).cast("double").as("__syy"))
      .select(col("l_returnflag"), col("__n").cast("long").as("n"),
        ((col("__n") * col("__sxy") - col("__sx") * col("__sy")) /
          (sqrt(col("__n") * col("__sxx") - col("__sx") * col("__sx")) *
           sqrt(col("__n") * col("__syy") - col("__sy") * col("__sy"))))
          .as("corr_qty_price"))
      .orderBy("l_returnflag")
  }

  // §2.6 — time-RANGE window frame: per-user rolling 1-hour event
  // count and value sum (RANGE BETWEEN 1h PRECEDING AND CURRENT ROW,
  // run in integer micros so both engines agree on the frame edge).
  // Partitioned by user — the frame sort is per-group, never global.
  def rolling1h(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("tus"))
      .rangeBetween(-3600L * 1000000, 0)
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("ts"),
        unix_micros(col("ts")).as("tus"), col("value"))
      .withColumn("n_1h", count(lit(1)).over(w))
      .withColumn("sum_1h",
        sum(col("value").cast(dec)).over(w).cast("double"))
      .select("event_id", "user_id", "ts", "n_1h", "sum_1h")
  }

  // §2.6 — rank-normalizing window functions: percent_rank and
  // cume_dist of order value within each priority class (identical
  // definitions in both engines); ties share ranks by construction.
  def percentRank(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      .withColumn("pr", percent_rank().over(w))
      .withColumn("cd", cume_dist().over(w))
  }

  // §2.6 — running (cumulative) aggregate: per-customer spend-to-date
  // in order-date order. The window is PARTITIONED by o_custkey — one
  // shuffle on the key, each group sorted locally; no global sort,
  // no single-partition funnel. Decimal domain keeps the running sum
  // exact and order-stable for the hash compare.
  def runningTotal(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        col("o_totalprice").cast(dec).as("__p"))
      .withColumn("cum_spend", sum(col("__p")).over(w).cast("double"))
      .drop("__p")
  }

  // §2.6 — lag/lead offset window: microseconds since the user's
  // previous event. Partitioned by user_id (same scale shape as the
  // running total); the gap is computed in exact integer micros on
  // both sides (unix_micros ↔ epoch_us), no float time arithmetic.
  def lagDelta(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("ts"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("gap_us", unix_micros(col("ts")) - unix_micros(col("prev_ts")))
  }

  // §2.5 (engine surface) — ROLLUP grouping sets: free through
  // Catalyst once the surface is relational; grouping() disambiguates
  // the NULL subtotal rows.
  def rollupAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast(dec)).cast("double").as("sum_qty"),
        grouping("l_returnflag").as("g_rf"),
        grouping("l_linestatus").as("g_ls"))

  // §2.4 — anti join: customers with no URGENT order, counted per
  // nation (every customer has SOME order in the fixture — the urgent
  // restriction keeps the check non-vacuous). left_anti shuffles both
  // sides on the key once, with the priority filter pushed to the
  // orders scan; the oracle is the independent NOT IN formulation.
  def antiJoin(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir).select("c_custkey", "c_nationkey")
      .join(Tables.orders(spark, dir)
          .filter(col("o_orderpriority") === "1-URGENT").select("o_custkey"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("n_no_orders"))
      .orderBy("c_nationkey")

  // §2.5 (engine surface) — CUBE grouping sets: all four grouping
  // combinations in one pass, same decimal domain as the rollup twin.
  def cubeAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .cube("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast(dec)).cast("double").as("sum_qty"),
        grouping("l_returnflag").as("g_rf"),
        grouping("l_linestatus").as("g_ls"))

  // §2.8 — INTERSECT / EXCEPT set operations (standard left-deep
  // precedence: (view ∩ purchase) \ error): users with a high-value
  // view AND a high-value purchase but no extreme error. Catalyst
  // plans both as key-shuffled semi/anti joins over the deduped sides
  // — no sort, no all-pairs.
  def setOps(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    def users(t: String, minValue: Double) =
      e.filter(col("event_type") === t && col("value") > minValue)
        .select("user_id")
    users("view", 95).intersect(users("purchase", 95))
      .except(users("error", 99))
      .orderBy("user_id")
  }

  // §2.6 — ntile quartiles per order priority: each order's quartile
  // by price within its priority class, then counts + quartile price
  // spans. The window partitions on o_orderpriority (5 groups); rows
  // sort within partitions only — no global funnel.
  def ntileQuartiles(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(col("o_orderpriority"), col("o_totalprice"), col("o_orderkey"))
      .withColumn("quartile", ntile(4).over(
        Window.partitionBy("o_orderpriority")
          .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)))
      .groupBy("o_orderpriority", "quartile")
      .agg(count(lit(1)).as("n"),
        min(col("o_totalprice")).as("lo"),
        max(col("o_totalprice")).as("hi"))
      .orderBy("o_orderpriority", "quartile")

  // §2.5 A4 — distinct.
  def distinctTypes(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir).select("event_type").distinct().orderBy("event_type")

  // §2.5 A5/A6/A7 — global min/max/count + any-null detection flag.
  def minmaxStats(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir).agg(
      min(col("l_extendedprice")).as("min_price"),
      max(col("l_extendedprice")).as("max_price"),
      min(col("l_shipdate")).as("min_shipdate"),
      max(col("l_shipdate")).as("max_shipdate"),
      count(lit(1)).as("n_rows"),
      max(when(col("l_quantity").isNull || col("l_discount").isNull, 1)
        .otherwise(0)).as("has_nulls"))

  // §2.5 A2 — group average through the exact decimal domain.
  def avgByGroup(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy("o_orderpriority")
      .agg(
        (sum(col("o_totalprice").cast(dec)).cast("double") / count(lit(1)))
          .as("avg_price"),
        count(lit(1)).as("n_orders"))
      .orderBy("o_orderpriority")

  // §2.2 P9 — M:SS.mmm lap-time formatting (truncating) applied to a
  // deterministic subset; pure codegen'd column expressions.
  def formatLapTime(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_orderkey") % 97 === 0)
      .select(col("l_orderkey"), col("l_linenumber"),
        F1Functions.formatLapTime(col("l_extendedprice") / lit(100.0)).as("lap_str"))
      .orderBy("l_orderkey", "l_linenumber")

  // §2.12 — same semantics through the native Catalyst expression
  // (registered in the session function registry, resolved from SQL
  // text, codegen'd); oracle-checked independently of the builtin
  // composition path so the two can never silently diverge.
  def formatLapTimeExpr(spark: SparkSession, dir: String): DataFrame = {
    graft.catalyst.FormatLapTime.register(spark)
    Tables.lineitem(spark, dir)
      .filter(col("l_orderkey") % 89 === 0)
      .select(col("l_orderkey"), col("l_linenumber"),
        expr("format_lap_time(l_extendedprice / 100.0)").as("lap_str"))
  }

  // §2.2 P7 — qualifying-phase CASE labeling over event time.
  def phaseLabel(spark: SparkSession, dir: String): DataFrame = {
    val ts = col("ts")
    val phase = when(ts < lit("2024-01-10").cast("timestamp"), "Q1")
      .when(ts < lit("2024-01-20").cast("timestamp"), "Q2")
      .otherwise("Q3")
    Tables.events(spark, dir)
      .withColumn("phase", phase)
      .groupBy("phase")
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(dec)).cast("double").as("sum_value"),
        min(col("ts")).as("min_ts"), max(col("ts")).as("max_ts"))
      .orderBy("phase")
  }

  // §2.10 — JSON extraction from events.props. No output ordering: the
  // driver's compare canon-sorts rows, and a global sort of the whole
  // table purely for presentation is a wasted range-shuffle at scale.
  def jsonExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k_val"))

  // ---------------------------------------------------------------
  // §2.4 J3/J4 — as-of joins over the star schema: every non-purchase
  // event matched to the user's latest prior purchase (backward), and
  // every signup matched to the user's nearest purchase in time
  // (nearest, prior-wins on equidistant). One shuffle on user_id; the
  // window never sees more than one user's rows per group — scales
  // with user cardinality. Oracle: DuckDB native ASOF JOIN.
  // ---------------------------------------------------------------
  private def purchases(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("value").as("cp_value"))

  // tiebreak=cp_value: the fixture's purchase rows are unique per
  // (user_id, ts), but the operator must not DEPEND on that — with a
  // tiebreak, duplicate-key right rows resolve deterministically
  // instead of last()/first() picking whatever the sort happened to
  // interleave. Pure ordering change: same plan, same fixture results.
  def asofBackward(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.events(spark, dir)
      .filter(col("event_type").isin("view", "click", "error"))
      .select("event_id", "user_id", "ts", "value")
    AsOfJoin.backward(l, purchases(spark, dir), on = "ts", by = Seq("user_id"),
      tiebreak = Some("cp_value"))
  }

  // J3 + pandas `tolerance` through the gate: backward as-of, but a
  // match farther than 30 min (integer micros on both engines) null-
  // pads instead — the spec-only knob, now oracle-checked.
  def asofTolerance(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.events(spark, dir)
      .filter(col("event_type").isin("view", "click", "error"))
      .select("event_id", "user_id", "ts", "value")
    AsOfJoin.asof(l, purchases(spark, dir), "ts", "ts", Seq("user_id"),
      "backward", tiebreak = Some("cp_value"),
      tolerance = Some(30L * 60 * 1000000))
  }

  def asofNearest(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.events(spark, dir)
      .filter(col("event_type") === "signup")
      .select("event_id", "user_id", "ts", "value")
    AsOfJoin.nearest(l, purchases(spark, dir), on = "ts", by = Seq("user_id"),
      tiebreak = Some("cp_value"))
  }

  def asofForward(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.events(spark, dir)
      .filter(col("event_type") === "signup")
      .select("event_id", "user_id", "ts", "value")
    AsOfJoin.forward(l, purchases(spark, dir), on = "ts", by = Seq("user_id"),
      tiebreak = Some("cp_value"))
  }

  // §2.11 — session windows in batch form (streaming form shares the
  // operator; StreamingSpec pins equivalence). Oracle re-derives the
  // sessions with a gaps-and-islands construction — an independent
  // formulation, so agreement actually checks the merge semantics.
  def sessionWindowAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(session_window(col("ts"), "10 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(dec)).cast("double").as("sum_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n"), col("sum_value"))

  // §2.11 — sliding event-time window (1 h span / 30 min slide):
  // every event lands in two windows. Oracle enumerates the candidate
  // window starts per event and filters by containment — again an
  // independent formulation of the same semantics.
  def slidingWindowAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(dec)).cast("double").as("sum_value"))
      .select(col("window.start").as("ws"), col("event_type"),
        col("n"), col("sum_value"))

  // §2.11 — tumbling event-time window (batch form; the streaming
  // form shares semantics, pinned by StreamingSpec).
  def tumblingWindow(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour").getField("start").as("ws"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(dec)).cast("double").as("sum_value"))
      .orderBy("ws", "event_type")

  // Streaming state stores are allocated PER SHUFFLE PARTITION (a
  // stream-stream join allocates four of them), and the partition
  // count is baked into the checkpoint at stream start — so the
  // streaming queries size it to the stream's key cardinality rather
  // than inheriting the batch default (32 partitions of store setup
  // cost ~6 s for a handful of result rows). Restored after the
  // stream completes; batch queries never see the change.
  //
  // The state store provider is RocksDB, the production choice: the
  // default HDFS-backed provider keeps every version of every state
  // row ON HEAP, so at 100× streaming state (watermark-wide joins,
  // long sessions) it is the first component to fall over with OOM.
  // RocksDB keeps state off-heap in native memory with changelog
  // files for fault tolerance; StreamingSpec pins provider parity
  // (identical results vs the default) so this is a pure engine swap.
  // CAVEAT: both overrides are session-global while `body` runs — a
  // query planned CONCURRENTLY in the same session would silently
  // inherit them. Safe because Verify/Bench/tests run queries
  // sequentially; concurrent callers must use SparkSession.newSession.
  private val RocksProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  private def withStreamShuffle[T](spark: SparkSession, n: Int)(body: => T): T = {
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    val prevProvider = spark.conf.getOption(providerKey)
    spark.conf.set("spark.sql.shuffle.partitions", n.toString)
    spark.conf.set(providerKey, RocksProvider)
    try body finally {
      spark.conf.set("spark.sql.shuffle.partitions", prev)
      prevProvider match {
        case Some(p) => spark.conf.set(providerKey, p)
        case None    => spark.conf.unset(providerKey)
      }
    }
  }

  // One staged-stream lifecycle for all three streaming gate queries:
  // a unique staging dir per run (two concurrent runs must never share
  // or overwrite each other's staged files) holds the batch written as
  // parquet; `mk` builds the streaming plan from a readStream factory
  // over that dir; the query runs to completion into a memory sink.
  // The WHOLE lifecycle — staging write, start(), processing,
  // teardown — sits inside one try/finally, so a failure at any point
  // still removes the dir. The memory sink collects results on the
  // driver — bounded for these queries (aggregates / a 1-hour-window
  // join), by design not a pattern for unaggregated streams.
  private val streamRuns = new java.util.concurrent.atomic.AtomicInteger(0)
  private[queries] def runStagedStream(spark: SparkSession, batch: DataFrame,
      namePrefix: String, mode: String)
      (mk: (() => DataFrame) => DataFrame): DataFrame = {
    val staged = java.nio.file.Files.createTempDirectory(namePrefix)
    try {
      batch.write.mode("overwrite").parquet(staged.toString)
      val name = s"${namePrefix}_${streamRuns.incrementAndGet()}"
      def source() =
        spark.readStream.schema(batch.schema).parquet(staged.toString)
      withStreamShuffle(spark, 8) {
        val q = mk(source _).writeStream.format("memory")
          .queryName(name).outputMode(mode).start()
        try q.processAllAvailable()
        finally q.stop()
      }
      // Detach the (bounded) result from the memory sink and drop its
      // temp view NOW: r03's bench showed leaked q_stream_* sink
      // tables living for the rest of a 76-query run, skewing later
      // timings. The caller gets a self-contained local relation.
      val sunk = spark.table(name)
      val rows = sunk.collectAsList()
      spark.catalog.dropTempView(name)
      spark.createDataFrame(rows, sunk.schema)
    } finally {
      // memory sink holds the results; the staged copy is disposable
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(staged).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  // §2.11 — STREAMING through the correctness gate: a real
  // readStream (file source) drives the watermarked tumbling
  // aggregation to completion; the returned table must match the
  // BATCH oracle SQL — the batch-equivalence contract, enforced by
  // DuckDB rather than by a unit test.
  // Streaming face of the rate-spike detector: the fact-table-sized
  // work (hourly counts per type) runs as a streaming aggregation;
  // the trailing-baseline comparison runs batch-side over the BOUNDED
  // bucket table the sink holds (|types| × |hours| rows — the table a
  // production job would re-flag every trigger). Completed stream
  // must equal the batch operator's oracle verbatim.
  def streamRateAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val counts = runStagedStream(spark,
      Tables.events(spark, dir).select("event_id", "ts", "event_type"),
      "q_stream_rate", "complete") { src =>
      src()
        .select(col("event_type"), unix_micros(col("ts")).as("__us"))
        .select(col("event_type"),
          expr("__us DIV 3600000000").as("hour_bucket"))
        .groupBy("event_type", "hour_bucket")
        .agg(count(lit(1)).as("n_events"))
    }
    graft.operators.EventAnalytics.rateAnomalyOnCounts(counts, trailing = 6)
  }

  def streamTumbling(spark: SparkSession, dir: String): DataFrame =
    runStagedStream(spark,
      Tables.events(spark, dir)
        .select("event_id", "ts", "user_id", "event_type", "value"),
      "q_stream_tumbling", "complete")(src =>
      graft.streaming.StreamingOps.tumblingCounts(src()))

  // §2.11/§2.12 — CUSTOM STREAMING STATE through the correctness
  // gate: flatMapGroupsWithState sessionization (explicit open-session
  // state + event-time timeout) driven by a real file-source stream to
  // completion. The oracle re-derives the sessions with gaps-and-
  // islands AND the watermark-closure boundary: only sessions whose
  // end+gap the final watermark passed are emitted — checking both the
  // session semantics and the state-closure contract in DuckDB.
  def customSessionsQuery(spark: SparkSession, dir: String): DataFrame =
    runStagedStream(spark, Tables.events(spark, dir).select("ts", "user_id"),
      "q_custom_sessions", "append")(src =>
      graft.streaming.StreamingOps.customSessions(src()).toDF())

  // §2.11 — STREAMING DEDUP through the correctness gate: the staged
  // batch doubles every 10th event; dropDuplicatesWithinWatermark must
  // emit each event_id exactly once, so the completed stream equals
  // the base table — checked by DuckDB, not a unit test. State is
  // bounded by the watermark (duplicate ids arrive at the same event
  // time, so entries evict as the watermark passes them).
  def streamDedupQuery(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select("event_id", "ts", "user_id", "event_type")
    runStagedStream(spark,
      ev.unionByName(ev.filter(col("event_id") % 10 === 0)),
      "q_stream_dedup", "append")(src =>
      graft.streaming.StreamingOps.dedupWithinWatermark(src())
        .select("event_id", "user_id", "event_type"))
  }

  // §2.11 × ext — STREAMING INCREMENTAL NEAR-DUP through the gate:
  // the ingest batch (near-clones of every 13th doc) arrives as a
  // file-source stream; its MinHash band keys (a streaming-legal
  // projection) join the STATIC corpus index's PERSISTED band table —
  // the SignatureStore artifact the batch ingest route probes, so the
  // stream face matches the batch face's O(batch) posture: the corpus
  // is never re-banded per micro-batch, the static side is a parquet
  // scan of bands.parquet (built once, exists-checked on the store's
  // WRITE-LAST params marker). The agreeing-band count per
  // (new, index) pair aggregates in complete mode; the completed
  // stream must equal the BATCH band join DuckDB runs — integer
  // counts, no floats anywhere, store invisible in the answer.
  def streamNearDupQuery(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).select("doc_id", "text")
    val indexBands = storedIndexBands(spark, dir, d)
    val incoming = d.filter(col("doc_id") % 13 === 0)
      .select((col("doc_id") + 600000).as("doc_id"),
        concat(col("text"), lit(" graftincr end")).as("text"))
    runStagedStream(spark, incoming, "q_stream_neardup", "complete")(src =>
      graft.streaming.StreamingOps.streamNearDupCandidates(src(), indexBands))
  }

  /** The static index side of [[streamNearDupQuery]]: the persisted
    * [[graft.ext.SignatureStore]] band table over the corpus, built
    * once per fixture dir (exists-check on the store's write-last
    * params file — the ScaleBench staging convention). Exposed so the
    * spec can pin that the gate's plan reads bands.parquet, not an
    * in-plan re-banding of the corpus. */
  def storedIndexBands(spark: SparkSession, dir: String,
                       d: DataFrame): DataFrame = {
    val tail = dir.split('/').filter(_.nonEmpty).last
    // the staging key carries the FULL fixture path's hash and a
    // store-format version, not just the dir basename: /tmp persists
    // across rounds, and a bare-basename exists-check would silently
    // reuse a stale store from a prior layout or a different corpus
    // sharing the tail (the r13 stale-layout hazard)
    val fp = java.lang.Integer.toHexString(dir.hashCode)
    val store = s"/tmp/graft_sigstore_stream_${tail}_${fp}_v2"
    if (!java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$store/params.parquet")))
      graft.ext.SignatureStore.build(d, "doc_id", "text", store)
    spark.read.parquet(s"$store/bands.parquet")
      .withColumnRenamed("doc_id", "index_id")
  }

  // §2.11 × ext — STREAMING ANN PROBES through the gate: a query-
  // embedding stream probes the PERSISTED IVFADC index per micro-batch
  // (maxFilesPerTrigger = 1 over a 4-file staging → four genuine
  // triggers). Each trigger plans its own probed cells — a bounded
  // driver-side collect, which is exactly why this face is
  // foreachBatch and not a continuous plan — and scans only those
  // cell-bucket partitions of the stored codes. Top-k is per query
  // and query ids are disjoint across triggers, so the completed
  // stream must equal the batch store query: q_ann_stored's DuckDB
  // oracle verbatim, the store AND the micro-batching invisible.
  def streamAnnQuery(spark: SparkSession, dir: String): DataFrame = {
    val tail = dir.split('/').filter(_.nonEmpty).last
    val path = s"/tmp/graft_vindex_stream_$tail"
    val (queries, cands, cents, residualCb) =
      graft.queries.ExtQueries.ivfPqParts(spark, dir)
    graft.ext.VectorIndexStore.build(cands, "vec_id", "embedding", path,
      cents, residualCb, numSub = graft.queries.ExtQueries.PqSub,
      subDim = graft.queries.ExtQueries.PqDim)
    val staged = java.nio.file.Files.createTempDirectory("q_stream_ann")
    try {
      queries.repartition(4).write.mode("overwrite")
        .parquet(staged.toString)
      val out =
        new java.util.concurrent.ConcurrentLinkedQueue[
          org.apache.spark.sql.Row]()
      @volatile var schema: org.apache.spark.sql.types.StructType = null
      val q = spark.readStream.schema(queries.schema)
        .option("maxFilesPerTrigger", "1").parquet(staged.toString)
        .writeStream
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
           _: Long) =>
            val res = graft.ext.VectorIndexStore.query(spark, path,
              b.toDF(), "vec_id", "embedding", k = 3, nprobe = 3)
            schema = res.schema
            res.collect().foreach(out.add)
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](out), schema)
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(staged).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  // §2.11 × ext — STREAMING INGEST into the persisted BM25 index:
  // every 7th corpus doc arrives as a file-source stream in four
  // micro-batch triggers (postings/df/stats landing under the store's
  // bucket fn, one store-log commit per batch); the post-stream query
  // batch must answer the direct BM25 chain over the FULL corpus —
  // q_bm25_stored's oracle verbatim: the stream, the store log, and
  // the per-batch delta landing all invisible.
  def streamBm25IngestQuery(spark: SparkSession, dir: String): DataFrame = {
    val tail = dir.split('/').filter(_.nonEmpty).last
    val store = s"/tmp/graft_ristore_si_$tail"
    val d = Tables.documents(spark, dir).select("doc_id", "text")
    val corpus = d.filter(col("doc_id") >= 20)
    graft.ext.RetrievalIndexStore.build(
      corpus.filter(col("doc_id") % 7 =!= 0), "doc_id", "text", store)
    val staged = java.nio.file.Files.createTempDirectory("q_stream_bm25i")
    val ckpt = java.nio.file.Files.createTempDirectory("q_stream_bm25i_ck")
    try {
      corpus.filter(col("doc_id") % 7 === 0).repartition(4)
        .write.mode("overwrite").parquet(staged.toString)
      val src = spark.readStream.schema(corpus.schema)
        .option("maxFilesPerTrigger", "1").parquet(staged.toString)
      val q = graft.streaming.StreamingOps.runRetrievalIngestSink(
        src, store, "doc_id", "text", ckpt.toString)
      try q.processAllAvailable() finally q.stop()
      graft.ext.RetrievalIndexStore.query(spark, store,
        graft.queries.ExtQueries.bm25Queries(d), "query_id", "terms",
        k = 5)
    } finally {
      import scala.jdk.CollectionConverters._
      Seq(staged, ckpt).foreach { dd =>
        java.nio.file.Files.walk(dd).iterator().asScala.toSeq.reverse
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
      }
    }
  }

  // §2.11 × ext — STREAMING INGEST into the persisted SIGNATURE
  // store: two clone waves arrive as a file-source stream in four
  // micro-batch triggers, each landing through the replay-safe
  // streaming append (bands + sets, one file per artifact per batch,
  // one store-log commit carrying the run's `t` line); the post-stream
  // probe batch must see the base corpus AND both streamed waves —
  // the DuckDB oracle replays the direct MinHash chain over
  // documents ∪ wave1 ∪ wave2, so the stream, the store log, and the
  // per-batch landing are all invisible in the probe's answer.
  def streamSigIngestQuery(spark: SparkSession, dir: String): DataFrame = {
    val tail = dir.split('/').filter(_.nonEmpty).last
    val store = s"/tmp/graft_sigstore_si_$tail"
    val d = Tables.documents(spark, dir).select("doc_id", "text")
    graft.ext.SignatureStore.build(d, "doc_id", "text", store)
    val waves = d.filter(col("doc_id") % 13 === 0)
      .select((col("doc_id") + 600000).as("doc_id"),
        concat(col("text"), lit(" graftincr end")).as("text"))
      .unionByName(d.filter(col("doc_id") % 26 === 0)
        .select((col("doc_id") + 810000).as("doc_id"),
          concat(col("text"), lit(" graftincr end2")).as("text")))
    val probe = d.filter(col("doc_id") % 26 === 0)
      .select((col("doc_id") + 800000).as("doc_id"),
        concat(col("text"), lit(" graftincr fresh")).as("text"))
    val staged = java.nio.file.Files.createTempDirectory("q_stream_sigi")
    val ckpt = java.nio.file.Files.createTempDirectory("q_stream_sigi_ck")
    try {
      waves.repartition(4).write.mode("overwrite").parquet(staged.toString)
      val src = spark.readStream.schema(waves.schema)
        .option("maxFilesPerTrigger", "1").parquet(staged.toString)
      val q = graft.streaming.StreamingOps.runSigIngestSink(
        src, store, "doc_id", "text", ckpt.toString)
      try q.processAllAvailable() finally q.stop()
      graft.ext.SignatureStore.ingest(spark, store, probe,
        "doc_id", "text")
    } finally {
      import scala.jdk.CollectionConverters._
      Seq(staged, ckpt).foreach { dd =>
        java.nio.file.Files.walk(dd).iterator().asScala.toSeq.reverse
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
      }
    }
  }

  // §2.11 × ext — STREAMING INGEST into the persisted vector store:
  // every 5th-mod-2 candidate arrives as a file-source stream in four
  // genuine micro-batch triggers; each lands through the replay-safe
  // streaming append (one file per bucket, one store-log commit), and
  // the post-stream store query over the standard batch must equal the
  // direct IVFADC chain over the FULL corpus — q_ivf_pq_topk's oracle
  // verbatim: the stream, the store log, and the landing all invisible.
  def streamAnnIngestQuery(spark: SparkSession, dir: String): DataFrame = {
    val tail = dir.split('/').filter(_.nonEmpty).last
    val path = s"/tmp/graft_vindex_si_$tail"
    val (queries, cands, cents, residualCb) =
      graft.queries.ExtQueries.ivfPqParts(spark, dir)
    graft.ext.VectorIndexStore.build(
      cands.filter(col("vec_id") % 5 =!= 2), "vec_id", "embedding",
      path, cents, residualCb, numSub = graft.queries.ExtQueries.PqSub,
      subDim = graft.queries.ExtQueries.PqDim)
    val staged = java.nio.file.Files.createTempDirectory("q_stream_anni")
    val ckpt = java.nio.file.Files.createTempDirectory("q_stream_anni_ck")
    try {
      cands.filter(col("vec_id") % 5 === 2).repartition(4)
        .write.mode("overwrite").parquet(staged.toString)
      val src = spark.readStream
        .schema(cands.schema)
        .option("maxFilesPerTrigger", "1").parquet(staged.toString)
      val q = graft.streaming.StreamingOps.runVectorIngestSink(
        src, path, "vec_id", "embedding", ckpt.toString)
      try q.processAllAvailable() finally q.stop()
      graft.ext.VectorIndexStore.query(spark, path, queries,
        "vec_id", "embedding", k = 3, nprobe = 3)
    } finally {
      import scala.jdk.CollectionConverters._
      Seq(staged, ckpt).foreach { d =>
        java.nio.file.Files.walk(d).iterator().asScala.toSeq.reverse
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
      }
    }
  }

  // §2.11 × ext — STREAMING EXACT-SUBSTRING contamination check: the
  // ingest batch (marker-appended clones of every 13th doc) streams
  // against the STATIC corpus's persisted suffix-gram index
  // (TextOps.substrGramIndex); every join hit is a position whose
  // next 10 tokens appear verbatim in that index doc. The completed
  // stream must equal the batch gram join DuckDB runs.
  def streamSubstrQuery(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).select("doc_id", "text")
    val idx = graft.ext.TextOps.substrGramIndex(d, "doc_id", "text")
    val incoming = d.filter(col("doc_id") % 13 === 0)
      .select((col("doc_id") + 600000).as("doc_id"),
        concat(col("text"), lit(" graftincr end")).as("text"))
    runStagedStream(spark, incoming, "q_stream_substr", "complete")(src =>
      graft.streaming.StreamingOps.streamSubstrMatches(src(), idx))
  }

  // §2.11 — STREAM-STREAM JOIN through the correctness gate: two
  // file-source streams over the same staged events (views and
  // purchases), watermarked on both sides, joined on user within
  // [view_ts, view_ts + 1h], run to completion; the result must equal
  // the BATCH join the oracle runs.
  def streamJoinQuery(spark: SparkSession, dir: String): DataFrame =
    runStagedStream(spark,
      Tables.events(spark, dir)
        .select("event_id", "ts", "user_id", "event_type"),
      "q_stream_join", "append") { src =>
      def side(t: String) =
        src().filter(col("event_type") === t).drop("event_type")
      graft.streaming.StreamingOps
        .viewPurchaseJoin(side("view"), side("purchase"))
    }

  // §2.11 — LEFT OUTER stream-stream join through the gate: null-
  // padded rows for unmatched views emit on watermark-driven state
  // eviction; the oracle re-derives BOTH the join and the eviction
  // horizon (views the final watermark never passed stay unemitted).
  def streamLeftJoinQuery(spark: SparkSession, dir: String): DataFrame =
    runStagedStream(spark,
      Tables.events(spark, dir)
        .select("event_id", "ts", "user_id", "event_type"),
      "q_stream_left_join", "append") { src =>
      def side(t: String) =
        src().filter(col("event_type") === t).drop("event_type")
      graft.streaming.StreamingOps
        .viewPurchaseLeftJoin(side("view"), side("purchase"))
    }

  // §2.11 — FULL OUTER stream-stream join through the gate: both
  // sides' unmatched rows emit on their own watermark-driven eviction
  // horizons (view_ts + 1 h for views, purchase_ts for purchases),
  // both re-derived by the oracle.
  def streamFullJoinQuery(spark: SparkSession, dir: String): DataFrame =
    runStagedStream(spark,
      Tables.events(spark, dir)
        .select("event_id", "ts", "user_id", "event_type"),
      "q_stream_full_join", "append") { src =>
      def side(t: String) =
        src().filter(col("event_type") === t).drop("event_type")
      graft.streaming.StreamingOps
        .viewPurchaseFullJoin(side("view"), side("purchase"))
    }

  // §2.11 — STREAM-STATIC join through the gate: the streaming side
  // (events) joins a static in-memory dimension per micro-batch — no
  // state stores at all (the static side is just broadcast into each
  // batch), then a watermarked tumbling aggregation. The common
  // "enrich the stream against a dimension table" production shape.
  def streamStaticJoinQuery(spark: SparkSession, dir: String): DataFrame = {
    val weights = spark.createDataFrame(Seq(
        ("view", 1.0), ("click", 2.0), ("purchase", 10.0),
        ("signup", 5.0), ("error", 0.0)))
      .toDF("event_type", "weight")
    runStagedStream(spark,
      Tables.events(spark, dir).select("ts", "event_type", "value"),
      "q_stream_static_join", "complete") { src =>
      src().join(broadcast(weights), Seq("event_type"))
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour").getField("start").as("ws"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum((col("value") * col("weight")).cast(dec4)).cast("double")
            .as("weighted_value"))
    }
  }

  // §2.11 — STREAMING INGEST-DRIFT MONITOR: the live face of
  // q_source_divergence. Per completed 1-hour window and event type,
  // the stream's volume is compared against a STATIC reference rate
  // (the batch table standing in for yesterday's corpus: per-type
  // totals + the reference span in whole hours) and routed to
  // low/ok/high entirely in integer cross-multiplies — a window is
  // "high" when its hourly volume exceeds 1.5× the reference rate
  // (n·ref_hours·100 > ref_cnt·150), "low" under 0.5×. Shape: one
  // windowed streaming agg, then a stateless broadcast join against
  // the tiny reference — per-key state is the window count only, and
  // the reference never shuffles. The two driver scalars (ref span)
  // are 1-row collects, the documented J5 pattern.
  def streamDriftQuery(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select("ts", "event_type")
    val refHours = ev.select(
      countDistinct(date_trunc("hour", col("ts")))).head.getLong(0)
    val ref = broadcast(
      ev.groupBy("event_type").agg(count(lit(1)).as("ref_cnt")))
    runStagedStream(spark, ev, "q_stream_drift", "complete") { src =>
      src().withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour").getField("start").as("ws"),
          col("event_type"))
        .agg(count(lit(1)).as("n"))
        .join(ref, Seq("event_type"))
        .select(col("ws"), col("event_type"), col("n"), col("ref_cnt"),
          lit(refHours).as("ref_hours"),
          when(col("n") * refHours * 100 > col("ref_cnt") * 150, "high")
            .when(col("n") * refHours * 100 < col("ref_cnt") * 50, "low")
            .otherwise("ok").as("drift"))
    }
  }

  // §2.5 — exact multi-quantile per group: p25/p50/p75 of order value
  // by priority through the same percentile definition both engines
  // share (linear interpolation on the sorted values). One sort-based
  // agg per group — partitioned by the group key, never global.
  def quantilesByGroup(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy("o_orderpriority")
      .agg(
        expr("percentile(o_totalprice, 0.25)").as("p25"),
        expr("percentile(o_totalprice, 0.5)").as("p50"),
        expr("percentile(o_totalprice, 0.75)").as("p75"),
        count(lit(1)).as("n"))
      .orderBy("o_orderpriority")

  // §2.11 — batch sessionization (gaps-and-islands): the offline twin
  // of the streaming sessionizers. A 6-hour inactivity gap starts a new
  // session; both the lag and the running session counter ride ONE
  // window partitioned by user_id (no global sort), so the shape is a
  // single hash-partition exchange + per-user sort — scale-safe at any
  // user count. Gap compare runs in integer micros on both engines
  // (double seconds would round differently at ns-origin timestamps).
  /** Ordered view → click → purchase funnel within 7 days of the
    * user's first view — the conversion table (EventAnalytics.funnel:
    * per-step pushed type filter + user-key min-agg chain). */
  def funnelQuery(spark: SparkSession, dir: String): DataFrame =
    graft.operators.EventAnalytics.funnel(
      Tables.events(spark, dir), "user_id", "event_type", "ts",
      Seq("view", "click", "purchase"), maxSpanSeconds = 7L * 86400L)

  /** Weekly cohort retention triangle over epoch weeks (integer
    * week arithmetic — no calendar/week-start seam between engines). */
  def retentionQuery(spark: SparkSession, dir: String): DataFrame =
    graft.operators.EventAnalytics.retentionCohorts(
      Tables.events(spark, dir), "user_id", "ts")

  /** Last-touch attribution: every purchase joined to the user's
    * latest preceding click — the as-of backward operator composed
    * on the event stream (one user-key shuffle, the as-of's
    * single-exchange shape). */
  def attributionQuery(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id").as("click_id"))
    // tiebreak: tied click timestamps resolve to the greatest
    // click_id deterministically (the asofBackward contract — the
    // operator must not depend on right-side (user, ts) uniqueness)
    AsOfJoin.backward(p, c, on = "ts", by = Seq("user_id"),
        tiebreak = Some("click_id"))
      .select(col("event_id"), col("user_id"), col("ts"), col("value"),
        col("click_id"),
        (unix_micros(col("ts")) - unix_micros(col("ts_right")))
          .as("gap_us"))
  }

  /** Hourly event-rate spike detection against a trailing-6-bucket
    * baseline, integer cross-multiplied (no float mean). */
  def rateAnomalyQuery(spark: SparkSession, dir: String): DataFrame =
    graft.operators.EventAnalytics.rateAnomaly(
      Tables.events(spark, dir), "event_type", "ts", trailing = 6)

  /** Multi-touch attribution over a 24h lookback: every purchase
    * splits exactly 10000 basis points across its window's clicks,
    * remainder to the closing click (exact integer split — credits
    * per purchase always sum to 10000). */
  def multiTouchQuery(spark: SparkSession, dir: String): DataFrame =
    graft.operators.EventAnalytics.multiTouchAttribution(
      Tables.events(spark, dir), "user_id", "event_type", "ts",
      "event_id", "purchase", "click", windowSeconds = 86400)

  /** Multi-touch attribution under the production skew cap: at most 3
    * clicks per (user, 24h lookback bucket) — latest-first, so the
    * closing click always survives — feed each purchase's split. The
    * fixture's busy users exceed 3 clicks/day, so the cap BITES at
    * gate scale and the oracle pins the exact keep-then-split
    * arithmetic, not a vacuous passthrough. */
  def multiTouchCappedQuery(spark: SparkSession, dir: String): DataFrame =
    graft.operators.EventAnalytics.multiTouchAttributionCapped(
      Tables.events(spark, dir), "user_id", "event_type", "ts",
      "event_id", "purchase", "click", windowSeconds = 86400,
      maxClicksPerWindow = 3)

  /** The cap's one-row pricing report: uncapped vs capped join mass
    * and the dropped-click volume — run BEFORE picking the cap. */
  def multiTouchCapAuditQuery(spark: SparkSession, dir: String): DataFrame =
    graft.operators.EventAnalytics.multiTouchCapAudit(
      Tables.events(spark, dir), "user_id", "event_type", "ts",
      "purchase", "click", windowSeconds = 86400,
      maxClicksPerWindow = 3)

  /** First-order Markov transition matrix of the event stream —
    * per-user ordered lead() then a |types|²-sized count agg.
    * event_id tiebreaks colliding timestamps (total order ⇒
    * deterministic counts). */
  def transitionsQuery(spark: SparkSession, dir: String): DataFrame =
    graft.operators.EventAnalytics.transitions(
      Tables.events(spark, dir), "user_id", "event_type", "ts", "event_id")

  /** The skew-safe transition matrix (transitionsBucketed, 1-hour
    * buckets so the fixture's timeline actually crosses boundaries):
    * same oracle as q_event_transitions — the bucket decomposition
    * must reproduce the total-order counts exactly while replacing
    * the one-task-per-user sort with parallel per-bucket sorts. */
  def transitionsBucketedQuery(spark: SparkSession, dir: String): DataFrame =
    graft.operators.EventAnalytics.transitionsBucketed(
      Tables.events(spark, dir), "user_id", "event_type", "ts", "event_id",
      bucketUs = 3600000000L)

  /** Conversion-lag histogram over the attribution output: purchases
    * bucketed by the BIT LENGTH of their click→purchase gap (integer
    * log2 — `length(bin(gap))`, exact in both engines where a float
    * log2 would flake at power-of-two boundaries), unattributed
    * purchases in bucket -1. */
  def conversionLagQuery(spark: SparkSession, dir: String): DataFrame =
    attributionQuery(spark, dir)
      .groupBy(when(col("click_id").isNull, lit(-1L))
        .otherwise(length(bin(col("gap_us"))).cast("long")).as("lag_bits"))
      .agg(count(lit(1)).as("n_purchases"),
        coalesce(min("gap_us"), lit(-1L)).as("min_gap_us"),
        coalesce(max("gap_us"), lit(-1L)).as("max_gap_us"))

  /** Interval-overlap join: each user's per-day click span × view
    * span, matched where the ranges overlap — the binned two-sided
    * range join (6h bins; a raw overlap predicate would force a
    * nested-loop plan). */
  def overlapJoinQuery(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    def spans(t: String, p: String) = ev
      .filter(col("event_type") === t)
      .select(col("user_id"), unix_micros(col("ts")).as("__us"))
      .withColumn("__day", expr("__us DIV 86400000000"))
      .groupBy("user_id", "__day")
      .agg(min("__us").as(s"${p}_lo"), max("__us").as(s"${p}_hi"))
      .drop("__day")
    AsOfJoin.overlapJoin(spans("click", "c"), spans("view", "v"),
      by = Seq("user_id"), loL = "c_lo", hiL = "c_hi",
      loR = "v_lo", hiR = "v_hi", binWidth = 21600000000.0)
  }

  def batchSessions(spark: SparkSession, dir: String): DataFrame = {
    val gapUs = 6L * 3600 * 1000000
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.events(spark, dir)
      .select("user_id", "event_id", "ts", "value")
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("new_sess",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > gapUs, 1).otherwise(0))
      .withColumn("sid", sum("new_sess")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "sid")
      .agg(min("ts").as("session_start"), max("ts").as("session_end"),
        count(lit(1)).as("n_events"),
        sum(col("value").cast(dec)).cast("double").as("sum_value"))
      .drop("sid")
  }

  // §2.4 J2 at scale — binned interval join: when the interval table is
  // too big to broadcast, quantize the domain into fixed-width bins,
  // replicate each interval into every bin it covers, and equi-join on
  // the bin key (then re-check containment exactly). Both sides
  // co-partition on the bin — a plain shuffled hash join instead of the
  // broadcast-nested-loop a raw BETWEEN degenerates into. Replication
  // factor is bounded by interval_width / bin_width.
  def intervalBinned(spark: SparkSession, dir: String): DataFrame = {
    val bands = spark.createDataFrame(Seq(
      ("small", 1.0, 10.0), ("mid", 11.0, 25.0), ("large", 26.0, 50.0)))
      .toDF("band", "lo", "hi")
    val li = Tables.lineitem(spark, dir)
    AsOfJoin.binnedIntervalJoin(li, bands, valueCol = "l_quantity",
        loCol = "lo", hiCol = "hi", binWidth = 10.0)
      .groupBy("band")
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity").cast(dec)).cast("double").as("sum_qty"))
      .orderBy("band")
  }

  // §2.6 — explicit GROUPING SETS beyond rollup/cube: an arbitrary
  // lattice ((rf,ls),(ls),()) that neither rollup nor cube expresses.
  // Same single-pass expand+hash-agg physical shape as rollup.
  def groupingSetsAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_linestatus")), Seq.empty),
        col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast(dec)).cast("double").as("sum_qty"),
        grouping("l_returnflag").as("g_rf"),
        grouping("l_linestatus").as("g_ls"))

  // §2.5/§2.4 — TPC-H Q3 shape (shipping priority): dim-filtered
  // semi-join prunes orders FIRST (broadcast of the filtered customer
  // keys), then one shuffle join to lineitem and a top-10 by revenue
  // via TakeOrderedAndProject — no global sort materializes.
  def shipPriority(spark: SparkSession, dir: String): DataFrame = {
    val cutoff = lit("1998-01-01").cast("timestamp")
    val cust = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") < cutoff)
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"), "left_semi")
      .select("o_orderkey", "o_orderdate", "o_orderpriority")
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") > cutoff)
      .select("l_orderkey", "l_extendedprice", "l_discount")
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
      .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast(dec4))
        .cast("double").as("revenue"))
      .orderBy(desc("revenue"), col("l_orderkey"))
      .limit(10)
  }

  // §2.5 — TPC-H Q18 shape (large-volume orders): HAVING on a grouped
  // sum, then join the qualifying keys back to orders/customer. The
  // qualifier output is tiny (46 keys at sf0.01) so the back-join
  // broadcasts; the only big shuffle is the lineitem group-by, which
  // partial-aggregates map-side.
  def bigOrders(spark: SparkSession, dir: String): DataFrame = {
    val big = Tables.lineitem(spark, dir)
      .groupBy("l_orderkey")
      .agg(sum(col("l_quantity").cast(dec)).as("qty_dec"))
      .filter(col("qty_dec") > 300)
      .select(col("l_orderkey"), col("qty_dec").cast("double").as("sum_qty"))
    Tables.orders(spark, dir)
      .join(broadcast(big), col("o_orderkey") === col("l_orderkey"))
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"), col("sum_qty"))
      .orderBy(desc("o_totalprice"), col("o_orderkey"))
      .limit(20)
  }

  // §2.4 at scale — bloom-pruned semi-join: filtered customer keys
  // hashed into a broadcast bitmap that drops non-matching orders at
  // the scan, then an exact semi-join clears false positives. Result
  // is bit-identical to the plain semi-join (the oracle); only the
  // shuffled volume changes. See BloomPrune scaladoc for the 100 TB
  // posture.
  def bloomJoin(spark: SparkSession, dir: String): DataFrame = {
    val buildingCust = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    BloomPrune.prunedSemiJoin(Tables.orders(spark, dir), buildingCust,
        factKey = "o_custkey", dimKey = "c_custkey", numBits = 1 << 14)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(dec)).cast("double").as("sum_price"))
      .orderBy("o_orderpriority")
  }

  // §2.5 — TPC-H Q12 shape: conditional aggregation (CASE inside the
  // agg) — high/low-priority line counts per return flag for late
  // shipments. One scan, one tiny-key shuffle; the CASE rides the
  // scan projection inside whole-stage codegen.
  def shipmodePriority(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .join(broadcast(Tables.orders(spark, dir)
          .select("o_orderkey", "o_orderpriority")), // pruned to 2 cols
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_returnflag")
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("high_line_count"),
        sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("low_line_count"))
      .orderBy("l_returnflag")

  // §2.5 — TPC-H Q14 shape: conditional revenue share (promo ratio).
  // Both the guarded numerator and the denominator ride ONE decimal
  // aggregate over one scan; the final ratio is a driver-free scalar
  // projection.
  def promoShare(spark: SparkSession, dir: String): DataFrame = {
    val rev = (col("l_extendedprice") * (lit(1) - col("l_discount"))).cast(dec4)
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1997-09-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-10-01").cast("timestamp"))
      .join(broadcast(Tables.part(spark, dir).select("p_partkey", "p_type")),
        col("l_partkey") === col("p_partkey"))
      .agg(
        sum(when(col("p_type").startsWith("PROMO"), rev)
          .otherwise(lit(0).cast(dec4))).as("__promo"),
        sum(rev).as("__total"))
      .select(
        (lit(100.0) * col("__promo").cast("double") / col("__total").cast("double"))
          .as("promo_share_pct"),
        col("__promo").cast("double").as("promo_revenue"),
        col("__total").cast("double").as("total_revenue"))
  }

  // §2.6 — strict-order funnel (view → click → purchase on first
  // occurrences): each stage is one shuffle on user_id re-using the
  // previous stage's anchor time; stage frames join co-partitioned on
  // the same key, so the whole funnel is a key-local pipeline at any
  // user count. Integer-micros anchors keep both engines bit-agreed.
  def funnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("tus"))
    def stage(t: String, prev: DataFrame, anchor: String, out: String) =
      ev.filter(col("event_type") === t)
        .join(prev, Seq("user_id"))
        .where(col("tus") > col(anchor))
        .groupBy("user_id").agg(min(col("tus")).as(out))
    val v = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("tus")).as("v"))
    val c = stage("click", v, "v", "c")
    val p = stage("purchase", c, "c", "p")
    v.agg(count(lit(1)).as("n_view_users"))
      .crossJoin(broadcast(c.agg(count(lit(1)).as("n_click_users"))))
      .crossJoin(broadcast(p.agg(count(lit(1)).as("n_purchase_users"))))
  }

  // §2.6 — cohort retention: users grouped by first-active day, D1/D7
  // return rates via co-partitioned self-joins of the (user, day)
  // activity set — the shape that at 100 TB stays one shuffle on
  // user_id plus a tiny per-cohort agg, instead of a per-user
  // collect_set.
  def retention(spark: SparkSession, dir: String): DataFrame = {
    val days = Tables.events(spark, dir)
      .select(col("user_id"), date_trunc("day", col("ts")).as("d")).distinct()
    val firsts = days.groupBy("user_id").agg(min("d").as("d0"))
    def active(offsetDays: Int, flag: String) = {
      val hit = days.select(col("user_id").as("__hu"), col("d").as("__hd"))
      firsts.join(hit,
          firsts("user_id") === hit("__hu") &&
            hit("__hd") === firsts("d0") + expr(s"INTERVAL $offsetDays DAY"),
          "left_semi")
        .select(col("user_id"), lit(1L).as(flag))
    }
    firsts
      .join(active(1, "r1"), Seq("user_id"), "left")
      .join(active(7, "r7"), Seq("user_id"), "left")
      .groupBy("d0")
      .agg(count(lit(1)).as("n_users"),
        sum(coalesce(col("r1"), lit(0L))).as("retained_d1"),
        sum(coalesce(col("r7"), lit(0L))).as("retained_d7"))
      .orderBy("d0")
  }

  // Engine utility — declarative data-quality constraint suite
  // (Deequ-style): referential integrity, null fractions, key
  // uniqueness, domain ranges — each check one small aggregate, all
  // map-side combinable; violations land in one report frame instead
  // of N ad-hoc notebook cells. At 100 TB each check is a scan-bound
  // agg (anti-join for the referential one) that AQE sizes
  // independently.
  def qualityChecks(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val ord = Tables.orders(spark, dir)
    val cust = Tables.customer(spark, dir)
    val ev = Tables.events(spark, dir)
    def check(name: String, df: DataFrame): DataFrame =
      df.select(lit(name).as("check"), col("violations").cast("long").as("violations"))
    check("customer_dup_keys",
        cust.groupBy("c_custkey").agg(count(lit(1)).as("n")).filter(col("n") > 1)
          .agg(count(lit(1)).as("violations")))
      .unionByName(check("events_null_user",
        ev.agg(count(when(col("user_id").isNull, 1)).as("violations"))))
      .unionByName(check("lineitem_orphans",
        li.join(ord, li("l_orderkey") === ord("o_orderkey"), "left_anti")
          .agg(count(lit(1)).as("violations"))))
      .unionByName(check("lineitem_qty_range",
        li.agg(count(when(!col("l_quantity").between(1, 50), 1)).as("violations"))))
      .unionByName(check("orders_null_priority",
        ord.agg(count(when(col("o_orderpriority").isNull, 1)).as("violations"))))
      .orderBy("check")
  }

  // §2.12 — the SQL front end: the same engine surface through
  // spark.sql text, including the natively-registered format_lap_time.
  def sqlSurface(spark: SparkSession, dir: String): DataFrame = {
    graft.catalyst.FormatLapTime.register(spark)
    Tables.lineitem(spark, dir).createOrReplaceTempView("lineitem_v")
    spark.sql(
      """SELECT l_returnflag,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  format_lap_time(MIN(l_extendedprice) / 100.0) AS min_price_fmt
        |FROM lineitem_v
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01'
        |GROUP BY l_returnflag""".stripMargin)
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_stream_tumbling"    -> (streamTumbling _),
    "q_stream_rate"        -> (streamRateAnomaly _),
    "q_custom_sessions"    -> (customSessionsQuery _),
    "q_stream_join"        -> (streamJoinQuery _),
    "q_stream_static_join" -> (streamStaticJoinQuery _),
    "q_stream_drift"       -> (streamDriftQuery _),
    "q_stream_dedup"       -> (streamDedupQuery _),
    "q_stream_neardup"     -> (streamNearDupQuery _),
    "q_stream_ann"         -> (streamAnnQuery _),
    "q_stream_ann_ingest"  -> (streamAnnIngestQuery _),
    "q_stream_sig_ingest"  -> (streamSigIngestQuery _),
    "q_stream_bm25_ingest" -> (streamBm25IngestQuery _),
    "q_stream_substr"      -> (streamSubstrQuery _),
    "q_stream_left_join"   -> (streamLeftJoinQuery _),
    "q_stream_full_join"   -> (streamFullJoinQuery _),
    "q_quantiles"          -> (quantilesByGroup _),
    "q_sql_surface"        -> (sqlSurface _),
    "q_batch_sessions"     -> (batchSessions _),
    "q_funnel_span"        -> (funnelQuery _),
    "q_cohort_triangle"    -> (retentionQuery _),
    "q_attribution"        -> (attributionQuery _),
    "q_rate_anomaly"       -> (rateAnomalyQuery _),
    "q_event_transitions"  -> (transitionsQuery _),
    "q_transitions_bucketed" -> (transitionsBucketedQuery _),
    "q_attribution_multi"  -> (multiTouchQuery _),
    "q_attribution_capped" -> (multiTouchCappedQuery _),
    "q_attribution_cap_audit" -> (multiTouchCapAuditQuery _),
    "q_conversion_lag"     -> (conversionLagQuery _),
    "q_overlap_join"       -> (overlapJoinQuery _),
    "q_interval_binned"    -> (intervalBinned _),
    "q_grouping_sets"      -> (groupingSetsAgg _),
    "q_ship_priority"      -> (shipPriority _),
    "q_big_orders"         -> (bigOrders _),
    "q_bloom_join"         -> (bloomJoin _),
    "q_quality_checks"     -> (qualityChecks _),
    "q_shipmode_priority"  -> (shipmodePriority _),
    "q_promo_share"        -> (promoShare _),
    "q_funnel"             -> (funnel _),
    "q_retention"          -> (retention _),
    "q1_agg"               -> (q1Agg _),
    "q_fastest_leaderboard" -> (fastestLeaderboard _),
    "q_topk"               -> (topK _),
    "q_window_rank"        -> (windowRank _),
    "q_interval_join"      -> (intervalJoin _),
    "q_pivot"              -> (pivotMatrix _),
    "q_unpivot"            -> (unpivotMelt _),
    "q_union_grid"         -> (unionGrid _),
    "q_distinct"           -> (distinctTypes _),
    "q_rollup"             -> (rollupAgg _),
    "q_cube"               -> (cubeAgg _),
    "q_anti_join"          -> (antiJoin _),
    "q_set_ops"            -> (setOps _),
    "q_ntile"              -> (ntileQuartiles _),
    "q_minmax_stats"       -> (minmaxStats _),
    "q_avg_by_group"       -> (avgByGroup _),
    "q_format_lap_time"    -> (formatLapTime _),
    "q_format_lap_time_expr" -> (formatLapTimeExpr _),
    "q_phase_label"        -> (phaseLabel _),
    "q_json_extract"       -> (jsonExtract _),
    "q_tumbling_window"    -> (tumblingWindow _),
    "q_session_window"     -> (sessionWindowAgg _),
    "q_sliding_window"     -> (slidingWindowAgg _),
    "q_star_join"          -> (starJoin _),
    "q_salted_agg"         -> (saltedAggQuery _),
    "q_skew_audit"         -> (skewAuditQuery _),
    "q_salted_join"        -> (saltedJoinQuery _),
    "q_histogram"          -> (histogram _),
    "q_corr"               -> (corrByGroup _),
    "q_running_total"      -> (runningTotal _),
    "q_rolling_1h"         -> (rolling1h _),
    "q_percent_rank"       -> (percentRank _),
    "q_lag_delta"          -> (lagDelta _),
    "q_asof_backward"      -> (asofBackward _),
    "q_asof_tolerance"     -> (asofTolerance _),
    "q_asof_nearest"       -> (asofNearest _),
    "q_asof_forward"       -> (asofForward _),
  )

  val oracles: Map[String, String] = StarOracles.sql
}
