package graft.operators

import graft.Tables
import graft.functions.TextSim
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** q_seasonal — hour-of-week periodic baseline + seasonally-adjusted
  * anomaly screen: the fix for the family's stationarity lie.
  * [[Events.anomaly]] z-scores every hour against ONE global
  * mean/sd, so a feed with a daily or weekly rhythm (every real
  * traffic feed) false-alarms on every rush hour forever;
  * [[Ewma]] is Holt level-only, so the same rhythm inflates its MAE.
  * This operator models the rhythm explicitly — baseline(cell) = the
  * mean of that cell's hour-of-week across the span — and screens the
  * RESIDUAL, so "busy because it's Monday 9am" is baseline and only
  * "busy for a Monday 9am" alarms (asserted against q_anomaly's
  * false-alarm behavior on a planted-periodicity fixture in
  * SeasonalSpec).
  *
  * Determinism: the hour-of-week key is pure integer arithmetic on
  * the epoch-hour index ((µs ÷ 3600·10⁶) mod 168 — no calendar/
  * timezone function, so the engines cannot disagree on week
  * boundaries); baselines are integer micro units (Σy·10⁶ div n —
  * exact div-floor both sides); residual moments fold as
  * decimal(38,0)/HUGEINT (Σr² at 100 TB row counts would wrap
  * BIGINT — the burstiness lesson); one sqrt and one r6 division at
  * the edge. Missing hours are y = 0 observations via the dense grid
  * (the q_gapfill rule) — a silent dead hour must both depress its
  * cell's baseline and be screenable itself.
  *
  * Scale: ONE events fold to the sparse cell frame (materialized
  * barrier — span, type list and grid join all read it; the
  * Changepoint.detect precedent), then everything runs on bounded
  * frames: the grid is H·|types| (time-bounded), the profile
  * ≤ 168·|types| rows (broadcast back), the stats fold ≤ |types|
  * rows (broadcast back). Unlike [[Ewma]]'s inherently sequential
  * recursion, the profile is a plain groupBy — fully parallel at any
  * span.
  */
object Seasonal {

  /** Season length in hours: the weekly cycle. */
  val SeasonHours = 168L

  private val HourUs = 3600000000L

  def seasonalQuery(s: SparkSession, d: String): DataFrame =
    seasonal(Tables.events(s, d))

  def seasonal(ev: DataFrame): DataFrame =
    detect(Changepoint.cells(ev))

  /** Shared profile/deviation construction: dense grid → hour-of-week
    * profile (broadcast back) → per-cell residual. Returns None on an
    * empty cell frame; Some((profile, dev)) otherwise, with dev
    * carrying (event_type, hu, hw, y, bm, r).
    */
  private def devFrame(cellsRaw: DataFrame): Option[(DataFrame, DataFrame)] = {
    // the span rides the cells' materialization job
    val (agg, lo, nH) = Changepoint.cellSpan(cellsRaw)
    if (nH == 0) return None
    val types = agg.select(col("event_type").as("et")).distinct()
      .select(col("et").as("event_type"))
    val grid = types.crossJoin(
      agg.sparkSession.range(nH).select((lit(lo) + col("id") * HourUs).as("hu")))
    val cells = grid.join(agg, Seq("event_type", "hu"), "left")
      .withColumn("y", coalesce(col("y"), lit(0L)))
      // integer div, not `/` (long / long is DOUBLE division in Spark)
      .withColumn("hw", expr(s"(hu div $HourUs) % $SeasonHours"))
    val profile = cells.groupBy(col("event_type"), col("hw"))
      .agg(count(lit(1)).as("n_hw"), sum(col("y")).as("sy"))
      .select(col("event_type"), col("hw"),
        expr("(sy * 1000000) div n_hw").cast("long").as("bm"))
    val dev = cells.join(broadcast(profile), Seq("event_type", "hw"))
      .withColumn("r", col("y") * 1000000L - col("bm"))
    Some((profile, dev))
  }

  /** Detection over a sparse `(h, event_type, y)` cell frame — the
    * same maintained state [[graft.streaming.StreamingChangepoint.cells]]
    * feeds ([[Changepoint.detect]] / [[Ks]] precedent: N detectors,
    * one state store); runs on H·|types| rows, independent of event
    * volume.
    */
  def detect(cellsRaw: DataFrame): DataFrame = {
    val devOpt = devFrame(cellsRaw)
    if (devOpt.isEmpty)
      return cellsRaw.sparkSession.emptyDataFrame
        .select(lit("").as("event_type"), lit("").as("hour"),
          lit(0L).as("n_events"), lit(0.0).as("baseline"),
          lit(0.0).as("z_seasonal"), lit(0).as("is_anomaly"))
    val (_, dev) = devOpt.get
    val stats = dev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("r").cast("decimal(38,0)")).as("s1"),
        sum(col("r").cast("decimal(38,0)") * col("r")).as("s2"))
      // exact integer variance numerator n·Σr² − (Σr)², ONE cast to
      // double (decimal division would round differently than the
      // oracle's HUGEINT arithmetic)
      .select(col("event_type"),
        when(col("n") > 1,
          sqrt((col("n") * col("s2") - col("s1") * col("s1")).cast("double") /
            (col("n") * (col("n") - 1)).cast("double"))).as("sd"))
    val z = TextSim.r6(col("r").cast("double") / col("sd"))
    dev.join(broadcast(stats), Seq("event_type"))
      .select(col("event_type"),
        date_format(timestamp_micros(col("hu")), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("y").as("n_events"),
        TextSim.r6(col("bm").cast("double") / 1e6).as("baseline"),
        when(col("sd") > 0, z).as("z_seasonal"),
        when(col("sd") > 0 && abs(z) >= 2, 1).otherwise(0).as("is_anomaly"))
  }

  /** q_seasonal_strength — "is this feed periodic at all": per type,
    * the fraction of hourly variance the hour-of-week profile explains
    * (1 − SSE_residual/SSE_total — η² of the profile; ≈0 means paying
    * seasonal state buys nothing, ≈1 means `q_anomaly`'s stationary sd
    * is mostly rhythm) plus the peak phase (argmax hour-of-week by
    * baseline, tie → earliest). THE gate a monitoring deployment
    * checks before enabling [[HoltWinters]]/[[seasonal]] per feed.
    * Exact: both SSEs are integer variance numerators (counts²·10¹²
    * aligned; decimal/HUGEINT folds), one r6 division; flat series
    * (SSE_total = 0) report NULL. Peak via max(struct) argmax.
    */
  def strengthQuery(s: SparkSession, d: String): DataFrame =
    strength(Changepoint.cells(Tables.events(s, d)))

  def strength(cellsRaw: DataFrame): DataFrame = {
    val devOpt = devFrame(cellsRaw)
    if (devOpt.isEmpty)
      return cellsRaw.sparkSession.emptyDataFrame
        .select(lit("").as("event_type"), lit(0L).as("n_hours"),
          lit(0.0).as("strength"), lit(0L).as("peak_hw"),
          lit(0.0).as("peak_baseline"))
    val (profile, dev) = devOpt.get
    val peaks = profile.groupBy(col("event_type"))
      .agg(max(struct(col("bm"), (-col("hw")).as("nhw"))).as("p"))
      .select(col("event_type"), (-col("p.nhw")).cast("long").as("peak_hw"),
        TextSim.r6(col("p.bm").cast("double") / 1e6).as("peak_baseline"))
    val sse = dev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("y")).as("sy"),
        sum(col("y").cast("decimal(38,0)") * col("y")).as("syy"),
        sum(col("r").cast("decimal(38,0)")).as("sr"),
        sum(col("r").cast("decimal(38,0)") * col("r")).as("srr"))
      // SSE_total is in counts² and SSE_residual in micro² — align by
      // 10¹² AFTER the exact integer numerators, one r6 division
      .select(col("event_type"), col("n").as("n_hours"),
        when(col("n") * col("syy") - col("sy") * col("sy") > 0,
          TextSim.r6(lit(1.0) -
            (col("n") * col("srr") - col("sr") * col("sr")).cast("double") /
              ((col("n") * col("syy") - col("sy") * col("sy")).cast("double") * 1e12)))
          .as("strength"))
    sse.join(peaks, Seq("event_type"))
      .select(col("event_type"), col("n_hours"), col("strength"),
        col("peak_hw"), col("peak_baseline"))
  }

  val strengthSql: String =
    s"""WITH span AS (
       |  SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
       |  FROM events
       |), hours AS (
       |  SELECT epoch_us(h)::BIGINT AS hu
       |  FROM (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h FROM span)
       |), agg AS (
       |  SELECT event_type, epoch_us(date_trunc('hour', ts))::BIGINT AS hu,
       |         count(*)::BIGINT AS y
       |  FROM events GROUP BY 1, 2
       |), cells AS (
       |  SELECT ty.event_type, hours.hu, coalesce(agg.y, 0)::BIGINT AS y,
       |         (hours.hu // $HourUs) % $SeasonHours AS hw
       |  FROM hours CROSS JOIN (SELECT DISTINCT event_type FROM events) ty
       |  LEFT JOIN agg ON agg.hu = hours.hu AND agg.event_type = ty.event_type
       |), profile AS (
       |  SELECT event_type, hw, (sum(y)::BIGINT * 1000000) // count(*) AS bm
       |  FROM cells GROUP BY event_type, hw
       |), dev AS (
       |  SELECT c.event_type, c.y, c.y * 1000000 - p.bm AS r
       |  FROM cells c JOIN profile p
       |    ON p.event_type = c.event_type AND p.hw = c.hw
       |), peaks AS (
       |  SELECT event_type,
       |         first(hw ORDER BY bm DESC, hw) AS peak_hw,
       |         ${TextSim.r6Sql("max(bm)::DOUBLE / 1000000.0")} AS peak_baseline
       |  FROM profile GROUP BY event_type
       |), sse AS (
       |  SELECT event_type, count(*)::BIGINT AS n_hours,
       |         CASE WHEN count(*)::HUGEINT * sum(y::HUGEINT * y)
       |                   - sum(y::HUGEINT) * sum(y::HUGEINT) > 0 THEN
       |           ${TextSim.r6Sql(
      "1.0 - (count(*)::HUGEINT * sum(r::HUGEINT * r) - sum(r::HUGEINT) * sum(r::HUGEINT))::DOUBLE / ((count(*)::HUGEINT * sum(y::HUGEINT * y) - sum(y::HUGEINT) * sum(y::HUGEINT))::DOUBLE * 1e12)")}
       |         END AS strength
       |  FROM dev GROUP BY event_type
       |)
       |SELECT s.event_type, s.n_hours, s.strength, p.peak_hw::BIGINT AS peak_hw,
       |       p.peak_baseline
       |FROM sse s JOIN peaks p ON p.event_type = s.event_type
       |ORDER BY s.event_type""".stripMargin

  val seasonalSql: String =
    s"""WITH span AS (
       |  SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
       |  FROM events
       |), hours AS (
       |  SELECT epoch_us(h)::BIGINT AS hu
       |  FROM (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h FROM span)
       |), agg AS (
       |  SELECT event_type, epoch_us(date_trunc('hour', ts))::BIGINT AS hu,
       |         count(*)::BIGINT AS y
       |  FROM events GROUP BY 1, 2
       |), cells AS (
       |  SELECT ty.event_type, hours.hu, coalesce(agg.y, 0)::BIGINT AS y,
       |         (hours.hu // $HourUs) % $SeasonHours AS hw
       |  FROM hours CROSS JOIN (SELECT DISTINCT event_type FROM events) ty
       |  LEFT JOIN agg ON agg.hu = hours.hu AND agg.event_type = ty.event_type
       |), profile AS (
       |  SELECT event_type, hw, (sum(y)::BIGINT * 1000000) // count(*) AS bm
       |  FROM cells GROUP BY event_type, hw
       |), dev AS (
       |  SELECT c.event_type, c.hu, c.y, p.bm, c.y * 1000000 - p.bm AS r
       |  FROM cells c JOIN profile p
       |    ON p.event_type = c.event_type AND p.hw = c.hw
       |), stats AS (
       |  SELECT event_type,
       |         CASE WHEN count(*) > 1 THEN
       |           sqrt((count(*)::HUGEINT * sum(r::HUGEINT * r)
       |                 - sum(r::HUGEINT) * sum(r::HUGEINT))::DOUBLE
       |                / (count(*)::HUGEINT * (count(*) - 1))::DOUBLE)
       |         END AS sd
       |  FROM dev GROUP BY event_type
       |)
       |SELECT d.event_type,
       |       strftime(make_timestamp(d.hu), '%Y-%m-%d %H:%M:%S') AS hour,
       |       d.y AS n_events,
       |       ${TextSim.r6Sql("d.bm::DOUBLE / 1000000.0")} AS baseline,
       |       CASE WHEN s.sd > 0 THEN ${TextSim.r6Sql("d.r::DOUBLE / s.sd")} END AS z_seasonal,
       |       (CASE WHEN s.sd > 0 AND abs(${TextSim.r6Sql("d.r::DOUBLE / s.sd")}) >= 2
       |             THEN 1 ELSE 0 END)::INT AS is_anomaly
       |FROM dev d JOIN stats s ON s.event_type = d.event_type
       |ORDER BY d.event_type, hour""".stripMargin
}
