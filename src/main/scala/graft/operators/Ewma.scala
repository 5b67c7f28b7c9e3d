package graft.operators

import graft.Tables
import graft.functions.TextSim
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Exponentially-weighted moving average over the dense hourly series
  * (Holt's level-only form, α = 0.2): the FORECASTING face of the
  * event-volume family — `q_trend_slope` fits one global line,
  * `q_anomaly` z-scores against a static mean, `q_changepoint` finds
  * one shift; the EWMA level is what a capacity planner actually
  * tracks (recency-weighted baseline) and its one-step-ahead
  * residuals are the honest error bar ("how predictable is this
  * feed"), reported as MAE per type.
  *
  * Determinism: the recursion s_t = (2·y_t·10⁶ + 8·s_{t−1}) div 10
  * (α = 2/10 exact rational) runs in integer MICRO units — every
  * intermediate a BIGINT, the div-floor compounding identical on any
  * engine; residuals |y_t·10⁶ − s_{t−1}| fold exactly; two r6
  * divisions at the edge. The dense grid supplies y = 0 hours (a
  * quiet hour decays the level — skipping it freezes the forecast,
  * the q_gapfill lesson).
  *
  * Scale note: EWMA is inherently SEQUENTIAL in t but the per-type
  * recursions are independent, so the fold runs EXECUTOR-SIDE as a
  * `mapGroups` per event_type over the H·|types| materialized cell
  * frame — each group holds one type's TIME-bounded dense series
  * (~10⁴ longs for a year of hours), and the driver never holds any
  * frame that grows with a data-cardinality dimension (r10 verdict
  * item: the old driver collect was bounded by H·|types|, which
  * grows with the type enum). The one corpus-sized operation is the
  * shared cell fold ([[Changepoint.cellSpan]]); span rides it
  * as Observation metrics, so the whole query is the one scan plus
  * a |types|-group shuffle of H-row groups.
  */
object Ewma {

  /** α = [[AlphaNum]]/[[AlphaDen]]. */
  val AlphaNum = 2L
  /** See [[AlphaNum]]. */
  val AlphaDen = 10L

  def ewmaQuery(s: SparkSession, d: String): DataFrame =
    ewma(Tables.events(s, d))

  def ewma(ev: DataFrame): DataFrame = {
    val s = ev.sparkSession
    import s.implicits._
    // ONE corpus scan (cells materialized, span rides the same job);
    // the sequential fold runs per type INSIDE mapGroups — identical
    // integer recursion, executor-side, densified per group
    val (cells, lo, nH) = Changepoint.cellSpan(Changepoint.cells(ev))
    cells.as[(String, Long, Long)]
      .groupByKey(_._1)
      .mapGroups { (tpe, it) =>
        val ys = Array.fill(nH)(0L)
        it.foreach { case (_, hu, y) =>
          ys(((hu - lo) / 3600000000L).toInt) = y }
        var s0 = ys.head * 1000000L
        var absErr = 0L
        for (y <- ys.tail) {
          absErr += math.abs(y * 1000000L - s0)
          s0 = (AlphaNum * y * 1000000L + (AlphaDen - AlphaNum) * s0) / AlphaDen
        }
        (tpe, nH.toLong, s0, absErr)
      }
      .toDF("event_type", "n_hours", "level_micro", "abs_err_micro")
      .select(col("event_type"), col("n_hours"), col("level_micro"),
        TextSim.r6(col("level_micro").cast("double") / 1e6).as("forecast"),
        // single-hour span: 0/0 would yield NaN (and engines disagree
        // on NaN rendering) — report NULL, the q_abtest degenerate rule
        when(col("n_hours") > 1L,
          TextSim.r6(col("abs_err_micro").cast("double") /
            ((col("n_hours") - 1L).cast("double") * 1e6))).as("mae"))
  }

  val ewmaSql: String =
    s"""WITH RECURSIVE span AS (
       |  SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
       |  FROM events
       |), hours AS (
       |  SELECT h, (row_number() OVER (ORDER BY h) - 1)::BIGINT AS t
       |  FROM (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h FROM span)
       |), agg AS (
       |  SELECT date_trunc('hour', ts) AS h, event_type, count(*)::BIGINT AS y
       |  FROM events GROUP BY 1, 2
       |), cells AS MATERIALIZED (
       |  SELECT ty.event_type, hours.t, coalesce(agg.y, 0)::BIGINT AS y
       |  FROM hours CROSS JOIN (SELECT DISTINCT event_type FROM events) ty
       |  LEFT JOIN agg ON agg.h = hours.h AND agg.event_type = ty.event_type
       |), ew(event_type, t, s, abs_err) AS (
       |  SELECT event_type, 0::BIGINT, y * 1000000, 0::BIGINT
       |  FROM cells WHERE t = 0
       |  UNION ALL
       |  SELECT c.event_type, c.t,
       |         ($AlphaNum * c.y * 1000000 + ${AlphaDen - AlphaNum} * e.s) // $AlphaDen,
       |         e.abs_err + abs(c.y * 1000000 - e.s)
       |  FROM ew e JOIN cells c ON c.event_type = e.event_type AND c.t = e.t + 1
       |), fin AS (
       |  SELECT event_type, max(t) + 1 AS n_hours FROM ew GROUP BY event_type
       |), last AS (
       |  SELECT e.event_type, f.n_hours, e.s AS level_micro, e.abs_err
       |  FROM ew e JOIN fin f ON f.event_type = e.event_type AND e.t = f.n_hours - 1
       |)
       |SELECT event_type, n_hours::BIGINT AS n_hours, level_micro::BIGINT AS level_micro,
       |       ${TextSim.r6Sql("level_micro::DOUBLE / 1000000.0")} AS forecast,
       |       CASE WHEN n_hours > 1 THEN ${TextSim.r6Sql(
      "abs_err::DOUBLE / ((n_hours - 1)::DOUBLE * 1000000.0)")} END AS mae
       |FROM last
       |ORDER BY event_type""".stripMargin
}
