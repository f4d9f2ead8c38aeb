package graft.f1

import java.nio.file.{Files, Paths}

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The SVG render of the chart-ready frames is pinned byte-for-byte
  * against committed goldens (fixtures/f1/golden/). Rendering is
  * deterministic by construction, so any diff is a deliberate change:
  * re-run with GRAFT_REGEN_GOLDENS=1 to re-record, then review the
  * SVG diff in the commit.
  */
class ChartSinkSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = TestSpark.spark
  private lazy val session = new F1Session(spark, FixtureGen.SessionKey)

  // the session's cached frames would otherwise outlive the suite and
  // be served to (and owned by none of) the next suite's sessions
  override def afterAll(): Unit = session.release()

  private val goldenDir = Paths.get("fixtures/f1/golden")
  private def checkGolden(name: String, svg: String): Unit = {
    val path = goldenDir.resolve(name)
    if (sys.env.get("GRAFT_REGEN_GOLDENS").contains("1")) {
      ChartSink.writeSvg(path, svg)
    } else {
      assert(Files.exists(path), s"missing golden $path — regen with GRAFT_REGEN_GOLDENS=1")
      assert(Files.readString(path) === svg, s"$name drifted from its golden")
    }
  }

  test("comparison chart: 20 compound-colored bars, phase bands, golden-pinned") {
    val svg = ChartSink.comparisonSvg(session.comparisonFrame,
      "Circuit TestRing - Qualifying fastest lap times", qualifying = true)
    // structure: one bar + one laptime + one colored tick per driver
    assert("class=\"bar\"".r.findAllIn(svg).length === 20)
    assert("class=\"laptime\"".r.findAllIn(svg).length === 20)
    assert("class=\"tick\"".r.findAllIn(svg).length === 20)
    // the three qualifying bands and both dashed separators
    assert("class=\"band\"".r.findAllIn(svg).length === 3)
    assert("stroke-dasharray".r.findAllIn(svg).length === 2)
    // bar fills come from the compound color map
    assert(graft.functions.F1Functions.compoundColors.values.exists(c => svg.contains(s"""fill="$c"""")))
    // deterministic: a second render is byte-identical
    assert(svg === ChartSink.comparisonSvg(session.comparisonFrame,
      "Circuit TestRing - Qualifying fastest lap times", qualifying = true))
    checkGolden("comparison.svg", svg)
  }

  test("telemetry chart: speed + throttle + brake polylines, golden-pinned") {
    val frame = session.lapTelemetry(7L, 7L)
    val svg = ChartSink.telemetrySvg(frame)
    for (cls <- Seq("speed", "throttle", "brake"))
      assert(svg.contains(s"""class="$cls""""), s"missing $cls polyline")
    // each polyline carries one point per telemetry row
    val n = frame.count().toInt
    val pts = """points="([^"]+)"""".r.findAllMatchIn(svg).map(_.group(1)).toSeq
    assert(pts.length === 3 && pts.forall(_.split(" ").length === n))
    checkGolden("telemetry.svg", svg)
  }
}
