package graft.f1

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The Session facade must serve the same results as the raw
  * pipelines, filter strictly to its session, plan without shuffles
  * (one session = one partition), and cache-release cleanly — the
  * dashboard usage contract.
  */
class F1SessionSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = TestSpark.spark

  private lazy val session = new F1Session(spark, FixtureGen.SessionKey)

  /** Every node of a frame's executed plan (run first, so AQE's plan is
    * final), including the plans its cached relations were built by. */
  private def nodes(df: DataFrame): Seq[SparkPlan] = {
    df.collect()
    def walk(plan: SparkPlan): Seq[SparkPlan] = collectWithSubqueries(plan) {
      case s: InMemoryTableScanExec => s +: walk(s.relation.cachedPlan)
      case p => Seq(p)
    }.flatten
    walk(df.queryExecution.executedPlan)
  }

  private def shuffles(df: DataFrame): Seq[SparkPlan] =
    nodes(df).collect { case e: ShuffleExchangeExec => e }

  /** PushedFilters of every scan of `table` in a frame's plan. */
  private def pushedFilters(df: DataFrame, table: String): Seq[String] =
    nodes(df).collect {
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.getName == s"$table.parquet") =>
        s.metadata("PushedFilters")
    }

  test("facade laps equal the raw enrichment pipeline") {
    val raw = F1Pipelines.enrichLaps(
      graft.sources.F1Tables.laps(spark),
      graft.sources.F1Tables.stints(spark),
      graft.sources.F1Tables.drivers(spark))
    assert(session.laps.exceptAll(raw).isEmpty && raw.exceptAll(session.laps).isEmpty)
  }

  test("fastest laps: one row per driver, true minima") {
    val fl = session.fastestLaps
    assert(fl.count() === fl.select("driver_number").distinct().count())
    assert(fl.count() === 20)
  }

  test("qualifying grid through the facade is the full 1..20") {
    val grid = session.qualifyingGrid.select("grid_position")
      .collect().map(_.getInt(0)).sorted.toSeq
    assert(grid === (1 to 20))
  }

  test("lap telemetry binds a single driver's lap window with positions") {
    val t = session.lapTelemetry(7L, 7L)
    assert(t.count() > 0)
    assert(t.select("driver_number").distinct().collect().map(_.getLong(0)).toSeq === Seq(7L))
    assert(t.filter(col("x").isNull).count() === 0)
  }

  test("comparisonFrame: chart assembly matches a hand-computed golden (race branch)") {
    import spark.implicits._
    val enriched = Seq(
      // (driver, time, compound, driver_color) — 90.5/91.25/92.75 are
      // binary-exact so the truncating formatter is unambiguous
      (9001L, "VER", Some(90.5),  "SOFT",         "#AA00BB"),
      (9001L, "HAM", Some(91.25), "MEDIUM",       "Unknown"),
      (9001L, "BOT", None,        "HARD",         "#112233"),   // notna() mask drops
      (9001L, "ALO", Some(92.75), "TEST_UNKNOWN", null))
      .toDF("session_key", "name_acronym", "actual_lap_time", "Compound", "driver_color")
    val got = F1Pipelines.comparisonFrame(enriched,
        Seq(col("actual_lap_time").asc_nulls_last))
      .orderBy("bar_order")
      .collect().map(r => (r.getInt(1), r.getString(2), r.getString(4),
        r.getString(5), Option(r.getString(6)), r.getString(7)))
    assert(got.toSeq === Seq(
      (1, "VER", "1:30.500", "Soft",         Some("#FF0000"), "#AA00BB"),
      (2, "HAM", "1:31.250", "Medium",       Some("#FFFF00"), "#000000"),
      (3, "ALO", "1:32.750", "Test_unknown", None,            "#000000")))
  }

  test("comparisonFrame on the qualifying fixture plots in grid order") {
    val cf = session.comparisonFrame.orderBy("bar_order").collect()
    val bars = cf.map(_.getInt(1)).toSeq
    assert(bars === (1 to bars.length), "bar_order must be contiguous from 1")
    // grid order restricted to drivers with a plottable lap time
    val gridOrder = session.qualifyingGrid
      .filter(col("actual_lap_time").isNotNull)
      .orderBy("grid_position")
      .select("name_acronym").collect().map(_.getString(0)).toSeq
    assert(cf.map(_.getString(2)).toSeq === gridOrder)
    // every bar is renderable: label + tick color always present
    assert(cf.forall(r => r.getString(4).nonEmpty && r.getString(7).startsWith("#")))
  }

  test("an unknown session key yields empty frames, not errors") {
    val ghost = new F1Session(spark, 424242L)
    assert(ghost.laps.isEmpty && ghost.fastestLaps.isEmpty)
    assert(ghost.comparisonFrame.isEmpty) // incl. the scalar-branching member
    ghost.release()
  }

  test("one session = one partition: no frame of the facade or the dashboard catalogs shuffles") {
    val frames = Seq(
      "laps" -> session.laps,
      "fastestLaps" -> session.fastestLaps,
      "qualifyingGrid" -> session.qualifyingGrid,
      "avgLapMatrix" -> session.avgLapMatrix(Seq("SOFT", "MEDIUM", "HARD")),
      // as ChartSink renders them: its orderBy is part of the plan
      "comparisonFrame" -> session.comparisonFrame.orderBy("bar_order"),
      "lapTelemetry" -> session.lapTelemetry(7L, 7L).orderBy("seconds_from_lap_start"),
      "weekends" -> F1Dashboard.weekends(spark, 2024),
      "sessionsInWeekend" -> F1Dashboard.sessionsInWeekend(spark, 77L))
    frames.foreach { case (name, df) =>
      val ex = shuffles(df)
      assert(ex.isEmpty, s"$name plans ${ex.size} shuffle(s):\n${ex.mkString("\n")}")
    }
  }

  test("the session filter is still pushed into the laps and telemetry scans") {
    val lapScans = pushedFilters(session.laps, "laps")
    assert(lapScans.nonEmpty && lapScans.forall(_.contains("session_key")), lapScans)
    val t = session.lapTelemetry(7L, 7L)
    for (table <- Seq("car_data", "location")) {
      val scans = pushedFilters(t, table)
      assert(scans.nonEmpty && scans.forall(f =>
        f.contains("session_key") && f.contains("driver_number")), s"$table: $scans")
    }
  }

  test("release unpersists the cached frames") {
    session.laps.count() // materialize cache
    session.release()
    assert(session.laps.storageLevel ===
      org.apache.spark.storage.StorageLevel.NONE)
  }

  test("a drill-down on the held session's key keeps the held session's cache") {
    // frames cached by the held session must outlive a second session
    // on the same key (Spark's cache is keyed by plan, so they share it)
    session.release()
    val held = new F1Session(spark, FixtureGen.SessionKey)
    try {
      held.laps.count(); held.info.count()
      val svg = F1Dashboard.drillDown(spark, 2024, "Test Grand Prix", "Qualifying")
      assert(svg.contains("class=\"bar\""))
      assert(held.laps.storageLevel === StorageLevel.MEMORY_AND_DISK)
      assert(held.info.storageLevel === StorageLevel.MEMORY_AND_DISK)
    } finally held.release()
    assert(held.laps.storageLevel === StorageLevel.NONE,
      "the session that cached a frame releases it")
  }
}
