package graft.operators

import graft.Tables
import graft.functions.TextSim
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** q_autocorr — the autocorrelation ladder over the hourly event
  * series: ACF at the candidate periods a monitoring deployment must
  * choose between (1h persistence, the 24h daily cycle, the 168h
  * weekly cycle, and the harmonics in between). This is the
  * measurement that JUSTIFIES [[Seasonal.SeasonHours]] = 168: a feed
  * whose ACF peaks at 24 wants a daily profile, one peaking at 168
  * wants the hour-of-week profile, one flat everywhere wants
  * [[Ewma]]'s level-only state and nothing more. (Box–Jenkins model
  * identification, applied to the seasonal-family choice.)
  *
  * Exactness: r_k = Σ dₜ·dₜ₋ₖ / Σ dₜ² with dₜ = n·yₜ − Σy — the mean
  * centered through multiplication by n, so d is an exact BIGINT and
  * both engines agree bit-for-bit; the quadratic sums fold as
  * decimal(38,0)/HUGEINT (d² ~ (n·y)² wraps BIGINT far below 100 TB
  * volumes — the burstiness rule), ONE double division under r6 at
  * the edge. Flat series (den = 0) report NULL. Missing hours are
  * y = 0 observations via the dense grid (the q_gapfill rule) — a
  * dead hour is evidence against periodicity, not missing data.
  *
  * Scale shape: ONE events fold to the sparse hour×type cell frame
  * (materialized barrier — the span fold, type list, and grid join
  * all read it; the [[Changepoint.detect]] precedent), then everything
  * runs on bounded frames: the dense grid is H·|types| rows
  * (time-bounded, independent of event volume), the per-type stats
  * fold broadcasts back, and the lag ladder is an H·|types|·|lags|
  * self-join of the cell frame — never a shuffle keyed on events.
  */
object Autocorr {

  /** Candidate periods: persistence, the daily cycle and its
    * harmonics, the weekly cycle.
    */
  val Lags: Seq[Long] = Seq(1L, 2L, 3L, 6L, 12L, 24L, 48L, 72L, 168L)

  private val HourUs = 3600000000L

  def autocorrQuery(s: SparkSession, d: String): DataFrame =
    autocorr(Tables.events(s, d))

  def autocorr(ev: DataFrame): DataFrame =
    acf(Changepoint.cells(ev))

  /** ACF ladder over a sparse `(h, event_type, y)` cell frame — the
    * same maintained state every detector in the family shares
    * ([[Changepoint.detect]] / [[Seasonal.detect]] precedent).
    */
  def acf(cellsRaw: DataFrame): DataFrame = {
    // the span rides the cells' materialization job
    val (agg, lo, nH) = Changepoint.cellSpan(cellsRaw)
    if (nH == 0)
      return cellsRaw.sparkSession.emptyDataFrame
        .select(lit("").as("event_type"), lit(0L).as("lag"),
          lit(0L).as("n_pairs"), lit(0.0).as("acf"))
    val types = agg.select(col("event_type").as("et")).distinct()
      .select(col("et").as("event_type"))
    val grid = types.crossJoin(
      agg.sparkSession.range(nH).select((lit(lo) + col("id") * HourUs).as("hu")))
    val cells = grid.join(agg, Seq("event_type", "hu"), "left")
      .withColumn("y", coalesce(col("y"), lit(0L)))
    // per-type n and Σy: d = n·y − Σy centers by the mean exactly
    val stats = cells.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("sy"))
    val dev = cells.join(broadcast(stats), Seq("event_type"))
      .select(col("event_type"), col("hu"),
        (col("n") * col("y") - col("sy")).as("d"))
    val den = dev.groupBy(col("event_type"))
      .agg(sum(col("d").cast("decimal(38,0)") * col("d")).as("den"))
    val lags = agg.sparkSession.range(1)
      .select(explode(array(Lags.map(lit): _*)).as("lag"))
    val num = dev.as("a")
      .crossJoin(broadcast(lags))
      .join(dev.as("b"),
        col("a.event_type") === col("b.event_type") &&
          col("b.hu") === col("a.hu") - col("lag") * HourUs)
      .groupBy(col("a.event_type").as("event_type"), col("lag"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("a.d").cast("decimal(38,0)") * col("b.d")).as("num"))
    num.join(broadcast(den), Seq("event_type"))
      .select(col("event_type"), col("lag"), col("n_pairs"),
        when(col("den") =!= 0,
          TextSim.r6(col("num").cast("double") / col("den").cast("double")))
          .as("acf"))
  }

  val autocorrSql: String =
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
       |  SELECT ty.event_type, hours.hu, coalesce(agg.y, 0)::BIGINT AS y
       |  FROM hours CROSS JOIN (SELECT DISTINCT event_type FROM events) ty
       |  LEFT JOIN agg ON agg.hu = hours.hu AND agg.event_type = ty.event_type
       |), stats AS (
       |  SELECT event_type, count(*)::BIGINT AS n, sum(y)::BIGINT AS sy
       |  FROM cells GROUP BY event_type
       |), dev AS (
       |  SELECT c.event_type, c.hu, s.n * c.y - s.sy AS d
       |  FROM cells c JOIN stats s ON s.event_type = c.event_type
       |), den AS (
       |  SELECT event_type, sum(d::HUGEINT * d) AS den
       |  FROM dev GROUP BY event_type
       |), lags AS (
       |  SELECT unnest([${Lags.mkString(", ")}])::BIGINT AS lag
       |), num AS (
       |  SELECT a.event_type, lags.lag, count(*)::BIGINT AS n_pairs,
       |         sum(a.d::HUGEINT * b.d) AS num
       |  FROM dev a CROSS JOIN lags
       |  JOIN dev b ON b.event_type = a.event_type
       |             AND b.hu = a.hu - lags.lag * $HourUs
       |  GROUP BY a.event_type, lags.lag
       |)
       |SELECT n.event_type, n.lag, n.n_pairs,
       |       CASE WHEN d.den <> 0
       |            THEN ${TextSim.r6Sql("n.num::DOUBLE / d.den::DOUBLE")}
       |       END AS acf
       |FROM num n JOIN den d ON d.event_type = n.event_type
       |ORDER BY n.event_type, n.lag""".stripMargin
}
