package graft.f1

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.F1Tables

/** The reference dashboard's full drill-down composed as ONE driver
  * program (/root/reference/dashboard.py:36-108): enter a year, pick a
  * weekend from the catalog, pick a session in that weekend, build the
  * `Session` facade, render the fastest-lap comparison chart. Each
  * piece is an individually-gated operator (`q_f1_meetings`,
  * `q_f1_weekend_sessions`, F1Session, ChartSink); this object pins
  * their COMPOSITION, golden-checked end to end by F1DashboardSpec.
  *
  * The two catalog picks collect — deliberately and safely: they are
  * the same bounded (name, key) dropdown catalogs the reference
  * renders as UI options (helper_functions.py:33-53). Each catalog is
  * a filtered dim of a few dozen rows, coalesced to one partition
  * before its `distinct` so the dedup plans without a shuffle (the
  * filter is still pushed into the scan) — the same one-session,
  * one-partition rule as F1Session. All lap-scale data stays in the
  * session's plans until ChartSink's bounded one-session render.
  */
object F1Dashboard {

  /** (meeting_official_name, meeting_key) catalog for a year —
    * helper_functions.py:33-42 with the year filter pushed to the
    * scan instead of an API query param. */
  def weekends(spark: SparkSession, year: Int,
               dir: String = F1Tables.FixtureDir): DataFrame =
    F1Tables.meetings(spark, dir)
      .filter(col("year") === year).coalesce(1)
      .select("meeting_official_name", "meeting_key").distinct()

  /** (session_name, session_key) catalog for a weekend —
    * helper_functions.py:44-53. */
  def sessionsInWeekend(spark: SparkSession, meetingKey: Long,
                        dir: String = F1Tables.FixtureDir): DataFrame =
    F1Tables.sessions(spark, dir)
      .filter(col("meeting_key") === meetingKey).coalesce(1)
      .select("session_name", "session_key").distinct()

  /** The composed drill-down: year → weekend (by official name) →
    * session (by name) → fastest-lap comparison SVG, with the
    * reference's own title shape (session_object.py:304) and
    * qualifying-band branch. Throws with the catalog contents when a
    * name doesn't resolve — the dashboard's "No weekends found"
    * warning, as an error a driver program can act on. */
  def drillDown(spark: SparkSession, year: Int, weekendName: String,
                sessionName: String,
                dir: String = F1Tables.FixtureDir): String = {
    val wk = weekends(spark, year, dir).collect()
    val meetingKey = wk.find(_.getString(0) == weekendName)
      .map(_.getLong(1))
      .getOrElse(throw new NoSuchElementException(
        s"no weekend '$weekendName' in $year; catalog: " +
          wk.map(_.getString(0)).mkString(", ")))
    val ss = sessionsInWeekend(spark, meetingKey, dir).collect()
    val sessionKey = ss.find(_.getString(0) == sessionName)
      .map(_.getLong(1))
      .getOrElse(throw new NoSuchElementException(
        s"no session '$sessionName' in '$weekendName'; catalog: " +
          ss.map(_.getString(0)).mkString(", ")))
    val session = new F1Session(spark, sessionKey, dir)
    try {
      val info = session.infoRow.getOrElse(throw new NoSuchElementException(
        s"session $sessionKey has no sessions row"))
      def field(name: String) = info.getAs[String](name)
      ChartSink.comparisonSvg(session.comparisonFrame,
        s"Circuit ${field("circuit_short_name")} - ${field("session_name")} fastest lap times",
        qualifying = field("session_type") == "Qualifying")
    } finally session.release()
  }
}
