package graft.queries

/** DuckDB oracle SQL for the F1 pipeline queries, reading the same
  * committed fixture parquet (fixtures/f1) the Spark side reads. The
  * enrichment CTE re-derives enrichLaps as a plain interval join —
  * valid because stints are non-overlapping, which is exactly the
  * equivalence the as-of-backward + null-out implementation claims
  * (and F1PipelinesSpec pins).
  */
object F1Oracles {

  private val F = s"${graft.sources.Fixtures.root}/f1"

  private val enrichCte =
    s"""WITH f_laps AS (SELECT * FROM read_parquet('$F/laps.parquet/*.parquet')),
       |f_stints AS (SELECT * FROM read_parquet('$F/stints.parquet/*.parquet')),
       |f_drivers AS (SELECT * FROM read_parquet('$F/drivers.parquet/*.parquet')),
       |enrich AS (
       |  SELECT l.session_key, l.driver_number, l.lap_number, l.date_start,
       |    l.is_pit_out_lap,
       |    round(l.duration_sector_1 + l.duration_sector_2 + l.duration_sector_3, 3)
       |      AS actual_lap_time,
       |    d.name_acronym, d.driver_color, s.compound,
       |    CASE WHEN s.lap_start IS NOT NULL
       |         THEN l.lap_number - s.lap_start + s.tyre_age_at_start END AS tire_age,
       |    s.stint_number
       |  FROM f_laps l
       |  LEFT JOIN (SELECT DISTINCT session_key, driver_number, name_acronym,
       |               driver_color FROM f_drivers) d
       |    USING (session_key, driver_number)
       |  LEFT JOIN f_stints s ON s.session_key = l.session_key
       |    AND s.driver_number = l.driver_number
       |    AND l.lap_number BETWEEN s.lap_start AND s.lap_end)""".stripMargin

  val sql: Map[String, String] = Map(

    "q_f1_enrich" ->
      s"""$enrichCte
         |SELECT session_key, driver_number, lap_number, date_start,
         |  actual_lap_time, name_acronym, driver_color, compound, tire_age,
         |  stint_number
         |FROM enrich""".stripMargin,

    "q_f1_fastest" ->
      s"""$enrichCte
         |SELECT driver_number, lap_number, date_start, actual_lap_time,
         |  name_acronym, compound
         |FROM (SELECT *, row_number() OVER (PARTITION BY session_key, driver_number
         |        ORDER BY actual_lap_time ASC, date_start ASC) AS rn
         |      FROM enrich WHERE actual_lap_time IS NOT NULL) t
         |WHERE rn = 1""".stripMargin,

    "q_f1_grid" ->
      s"""$enrichCte,
         |ph AS (SELECT * FROM (
         |  SELECT *, CASE WHEN date_start < TIMESTAMP '2024-05-04 14:25:00' THEN 'Q1'
         |                 WHEN date_start < TIMESTAMP '2024-05-04 14:48:00' THEN 'Q2'
         |                 ELSE 'Q3' END AS phase
         |  FROM enrich) t WHERE NOT coalesce(is_pit_out_lap, false)),
         |best AS (SELECT * FROM (
         |  SELECT *, row_number() OVER (PARTITION BY phase, driver_number
         |    ORDER BY actual_lap_time ASC NULLS LAST, date_start ASC) AS rn
         |  FROM ph) t WHERE rn = 1),
         |ranked AS (SELECT *,
         |  row_number() OVER (PARTITION BY phase
         |    ORDER BY actual_lap_time ASC NULLS LAST, date_start ASC) AS ra,
         |  row_number() OVER (PARTITION BY phase
         |    ORDER BY actual_lap_time DESC NULLS FIRST, date_start DESC) AS rd
         |  FROM best)
         |SELECT ra AS grid_position, phase, driver_number, name_acronym,
         |  actual_lap_time FROM ranked WHERE phase = 'Q3'
         |UNION ALL SELECT 16 - rd, phase, driver_number, name_acronym,
         |  actual_lap_time FROM ranked WHERE phase = 'Q2' AND rd <= 5
         |UNION ALL SELECT 21 - rd, phase, driver_number, name_acronym,
         |  actual_lap_time FROM ranked WHERE phase = 'Q1' AND rd <= 5""".stripMargin,

    "q_f1_avg_compound" ->
      s"""$enrichCte
         |SELECT driver_number, name_acronym, compound,
         |  CAST(SUM(CAST(actual_lap_time AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*)
         |    AS avg_lap_time
         |FROM enrich
         |WHERE actual_lap_time IS NOT NULL
         |  AND compound NOT IN ('TEST_UNKNOWN', 'UNKNOWN')
         |GROUP BY driver_number, name_acronym, compound""".stripMargin,

    "q_f1_avg_matrix" ->
      s"""$enrichCte,
         |avgs AS (SELECT driver_number, name_acronym, compound,
         |    CAST(SUM(CAST(actual_lap_time AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS a
         |  FROM enrich
         |  WHERE actual_lap_time IS NOT NULL
         |    AND compound NOT IN ('TEST_UNKNOWN', 'UNKNOWN')
         |  GROUP BY driver_number, name_acronym, compound)
         |SELECT driver_number, name_acronym,
         |  min(CASE WHEN compound = 'SOFT' THEN a END) AS "SOFT",
         |  min(CASE WHEN compound = 'MEDIUM' THEN a END) AS "MEDIUM",
         |  min(CASE WHEN compound = 'HARD' THEN a END) AS "HARD"
         |FROM avgs GROUP BY driver_number, name_acronym""".stripMargin,

    "q_f1_telemetry" ->
      s"""WITH f_car AS (SELECT * FROM read_parquet('$F/car_data.parquet/*.parquet')),
         |f_loc AS (SELECT * FROM read_parquet('$F/location.parquet/*.parquet')),
         |f_laps AS (SELECT * FROM read_parquet('$F/laps.parquet/*.parquet')),
         |lap AS (SELECT date_start AS ls,
         |  date_start + to_microseconds(CAST(floor(lap_duration * 1000000.0) AS BIGINT)) AS le
         |  FROM f_laps WHERE driver_number = 7 AND lap_number = 7),
         |t AS (SELECT c.session_key, c.driver_number, c.date, c.speed, c.throttle,
         |    c.brake, c.n_gear, c.rpm,
         |    (epoch_us(c.date) - epoch_us(lap.ls)) / 1000000.0 AS seconds_from_lap_start
         |  FROM f_car c, lap WHERE c.date BETWEEN lap.ls AND lap.le),
         |b AS (SELECT t.date AS tdate, l.date AS bdate, l.x AS bx, l.y AS b_y, l.z AS bz
         |  FROM t ASOF LEFT JOIN f_loc l ON t.session_key = l.session_key
         |    AND t.driver_number = l.driver_number AND t.date >= l.date),
         |f AS (SELECT t.date AS tdate, l.date AS fdate, l.x AS fx, l.y AS fy, l.z AS fz
         |  FROM t ASOF LEFT JOIN f_loc l ON t.session_key = l.session_key
         |    AND t.driver_number = l.driver_number AND t.date <= l.date)
         |SELECT t.session_key, t.driver_number, t.date, t.speed, t.throttle,
         |  t.brake, t.n_gear, t.rpm, t.seconds_from_lap_start,
         |  CASE WHEN bdate IS NULL THEN fdate WHEN fdate IS NULL THEN bdate
         |       WHEN epoch_us(t.date) - epoch_us(bdate) <= epoch_us(fdate) - epoch_us(t.date)
         |       THEN bdate ELSE fdate END AS date_right,
         |  CASE WHEN bdate IS NULL THEN fx WHEN fdate IS NULL THEN bx
         |       WHEN epoch_us(t.date) - epoch_us(bdate) <= epoch_us(fdate) - epoch_us(t.date)
         |       THEN bx ELSE fx END AS x,
         |  CASE WHEN bdate IS NULL THEN fy WHEN fdate IS NULL THEN b_y
         |       WHEN epoch_us(t.date) - epoch_us(bdate) <= epoch_us(fdate) - epoch_us(t.date)
         |       THEN b_y ELSE fy END AS y,
         |  CASE WHEN bdate IS NULL THEN fz WHEN fdate IS NULL THEN bz
         |       WHEN epoch_us(t.date) - epoch_us(bdate) <= epoch_us(fdate) - epoch_us(t.date)
         |       THEN bz ELSE fz END AS z
         |FROM t LEFT JOIN b ON t.date = b.tdate LEFT JOIN f ON t.date = f.tdate""".stripMargin,

    "q_openf1_laps" ->
      s"""SELECT session_key, driver_number, lap_number, date_start,
         |  lap_duration, is_pit_out_lap
         |FROM read_parquet('$F/laps.parquet/*.parquet')
         |WHERE session_key = 9001 AND driver_number <= 3""".stripMargin,

    // the streaming connector must converge to exactly the batch scan
    "q_openf1_stream" ->
      s"""SELECT session_key, driver_number, lap_number, date_start,
         |  lap_duration, is_pit_out_lap
         |FROM read_parquet('$F/laps.parquet/*.parquet')
         |WHERE session_key = 9001 AND driver_number <= 3""".stripMargin,

    "q_f1_meetings" ->
      s"""SELECT DISTINCT meeting_official_name, meeting_key
         |FROM read_parquet('$F/meetings.parquet/*.parquet')""".stripMargin,

    "q_f1_weekend_sessions" ->
      s"""SELECT DISTINCT m.meeting_key, m.meeting_official_name,
         |  s.session_key, s.session_name
         |FROM read_parquet('$F/sessions.parquet/*.parquet') s
         |JOIN read_parquet('$F/meetings.parquet/*.parquet') m USING (meeting_key)""".stripMargin,

    "q_f1_pit" ->
      s"""SELECT driver_number, date, pit_duration, lap_number
         |FROM read_parquet('$F/pit.parquet/*.parquet')""".stripMargin,
  )
}
