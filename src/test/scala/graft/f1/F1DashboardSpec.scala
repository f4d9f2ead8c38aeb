package graft.f1

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The COMPOSED dashboard drill-down (year → weekend → session →
  * fastest-lap chart, dashboard.py:36-108) pinned end to end: every
  * part is individually gate-green, this golden proves they compose.
  * Same regen protocol as ChartSinkSpec (GRAFT_REGEN_GOLDENS=1).
  */
class F1DashboardSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val goldenPath = Paths.get("fixtures/f1/golden/drilldown.svg")

  test("weekend catalog for the fixture year matches the meetings dim") {
    val wk = F1Dashboard.weekends(spark, 2024)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(wk === Set(("Test Grand Prix", 77L), ("Other Grand Prix", 78L)))
    assert(F1Dashboard.weekends(spark, 1999).isEmpty)
  }

  test("session catalog for the fixture weekend is the full race weekend") {
    val ss = F1Dashboard.sessionsInWeekend(spark, 77L)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(ss === Set(("Practice 1", 9000L),
      ("Qualifying", FixtureGen.SessionKey), ("Race", 9002L)))
  }

  test("composed drill-down equals the committed golden") {
    val svg = F1Dashboard.drillDown(spark, 2024, "Test Grand Prix", "Qualifying")
    // the composition resolves to the SAME render the parts produce:
    // F1Session(key).comparisonFrame through ChartSink with the
    // reference's title shape and the qualifying branch taken
    val session = new F1Session(spark, FixtureGen.SessionKey)
    val direct = try ChartSink.comparisonSvg(session.comparisonFrame,
      "Circuit TestRing - Qualifying fastest lap times", qualifying = true)
    finally session.release()
    assert(svg === direct, "drill-down diverged from its parts")
    if (sys.env.get("GRAFT_REGEN_GOLDENS").contains("1")) {
      ChartSink.writeSvg(goldenPath, svg)
    } else {
      assert(Files.exists(goldenPath),
        s"missing golden $goldenPath — regen with GRAFT_REGEN_GOLDENS=1")
      assert(Files.readString(goldenPath) === svg,
        "drill-down drifted from its golden")
    }
  }

  test("unresolvable picks fail loudly with the catalog in the message") {
    val e1 = intercept[NoSuchElementException] {
      F1Dashboard.drillDown(spark, 2024, "Nonexistent GP", "Qualifying")
    }
    assert(e1.getMessage.contains("Test Grand Prix"))
    val e2 = intercept[NoSuchElementException] {
      F1Dashboard.drillDown(spark, 2024, "Other Grand Prix", "Qualifying")
    }
    assert(e2.getMessage.contains("Race"), "session catalog must be listed")
  }
}
