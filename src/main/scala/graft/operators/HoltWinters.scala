package graft.operators

import graft.Tables
import graft.functions.TextSim
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Holt–Winters additive forecasting over the dense hourly series —
  * the SEASONAL upgrade of [[Ewma]]'s level-only recursion (Winters
  * 1960): level + trend + a [[SeasonLen]]-slot additive seasonal
  * profile, so a feed with a daily rhythm is FORECAST by its rhythm
  * instead of lagging it. Where [[Seasonal]] is the screening face
  * (a static profile + residual z), this is the forecasting face:
  * the recursion adapts level/trend/season simultaneously, and its
  * one-step-ahead MAE is directly comparable to Ewma's — on a
  * periodic feed it must be strictly smaller (asserted in
  * HoltWintersSpec), which is the whole reason to pay the seasonal
  * state.
  *
  * Recursion (α = 2/10, β = 1/10, γ = 1/10 exact rationals, integer
  * micro units, ALL divisions truncate toward zero — Scala `/` on
  * Long ≡ DuckDB `//`, verified on negatives since trend and
  * de-seasonalized residuals go negative):
  *   pred_t = l + b + s[t mod m]           (error |y·10⁶ − pred| folds exactly)
  *   l' = (2·(y·10⁶ − s[t mod m]) + 8·(l + b)) / 10
  *   b' = ((l' − l) + 9·b) / 10
  *   s[t mod m]' = ((y·10⁶ − l') + 9·s[t mod m]) / 10
  * Init: l = y₀·10⁶, b = 0, s ≡ 0 (no warm-up season required; the
  * first cycle learns the profile — documented, mirrored exactly in
  * the oracle). Missing hours are y = 0 observations off the dense
  * grid (the q_gapfill rule).
  *
  * Scale: like [[Ewma]], the recursion is inherently sequential in t
  * but independent across types, so it runs EXECUTOR-SIDE per type
  * inside `mapGroups` over the H·|types| TIME-bounded cell frame; the
  * one corpus-sized op is the shared [[Changepoint.cellSpan]]
  * fold (span rides it as Observation metrics). The oracle mirrors
  * the recursion as a recursive CTE carrying the 24-slot seasonal
  * state as a LIST (head = current phase, rotate-append per step).
  */
object HoltWinters {

  /** Seasonal slots: the daily cycle at hourly grain. */
  val SeasonLen = 24

  def hwQuery(s: SparkSession, d: String): DataFrame =
    hw(Tables.events(s, d))

  def hw(ev: DataFrame): DataFrame = {
    val s = ev.sparkSession
    import s.implicits._
    val (cells, lo, nH) = Changepoint.cellSpan(Changepoint.cells(ev))
    cells.as[(String, Long, Long)]
      .groupByKey(_._1)
      .mapGroups { (tpe, it) =>
        val ys = Array.fill(nH)(0L)
        it.foreach { case (_, hu, y) =>
          ys(((hu - lo) / 3600000000L).toInt) = y }
        var l = ys.head * 1000000L
        var b = 0L
        val sArr = Array.fill(SeasonLen)(0L)
        var absErr = 0L
        for (t <- 1 until nH) {
          val ym = ys(t) * 1000000L
          val sh = sArr(t % SeasonLen)
          absErr += math.abs(ym - (l + b + sh))
          val lNew = (2L * (ym - sh) + 8L * (l + b)) / 10L
          b = ((lNew - l) + 9L * b) / 10L
          sArr(t % SeasonLen) = ((ym - lNew) + 9L * sh) / 10L
          l = lNew
        }
        (tpe, nH.toLong, l, b, l + b + sArr(nH % SeasonLen), absErr)
      }
      .toDF("event_type", "n_hours", "level_micro", "trend_micro",
        "pred_micro", "abs_err_micro")
      .select(col("event_type"), col("n_hours"), col("level_micro"),
        col("trend_micro"),
        TextSim.r6(col("pred_micro").cast("double") / 1e6).as("forecast"),
        when(col("n_hours") > 1L,
          TextSim.r6(col("abs_err_micro").cast("double") /
            ((col("n_hours") - 1L).cast("double") * 1e6))).as("mae"))
  }

  val hwSql: String = {
    val zeros = Seq.fill(SeasonLen)("0::BIGINT").mkString("[", ", ", "]")
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
       |), hw(event_type, t, l, b, sl, abs_err) AS (
       |  SELECT event_type, 0::BIGINT, y * 1000000, 0::BIGINT,
       |         $zeros, 0::BIGINT
       |  FROM cells WHERE t = 0
       |  UNION ALL
       |  SELECT event_type, t, lnew,
       |         ((lnew - l) + 9 * b) // 10,
       |         list_append(sl[2:], ((ym - lnew) + 9 * sh) // 10),
       |         abs_err + abs(ym - (l + b + sh))
       |  FROM (
       |    SELECT c.event_type, c.t, h.l, h.b, h.sl, h.abs_err,
       |           c.y * 1000000 AS ym, h.sl[1] AS sh,
       |           (2 * (c.y * 1000000 - h.sl[1]) + 8 * (h.l + h.b)) // 10 AS lnew
       |    FROM hw h JOIN cells c ON c.event_type = h.event_type AND c.t = h.t + 1
       |  )
       |), fin AS (
       |  SELECT event_type, max(t) + 1 AS n_hours FROM hw GROUP BY event_type
       |), last AS (
       |  SELECT h.event_type, f.n_hours, h.l, h.b, h.sl[1] AS snext, h.abs_err
       |  FROM hw h JOIN fin f ON f.event_type = h.event_type AND h.t = f.n_hours - 1
       |)
       |SELECT event_type, n_hours::BIGINT AS n_hours, l::BIGINT AS level_micro,
       |       b::BIGINT AS trend_micro,
       |       ${TextSim.r6Sql("(l + b + snext)::DOUBLE / 1000000.0")} AS forecast,
       |       CASE WHEN n_hours > 1 THEN ${TextSim.r6Sql(
      "abs_err::DOUBLE / ((n_hours - 1)::DOUBLE * 1000000.0)")} END AS mae
       |FROM last
       |ORDER BY event_type""".stripMargin
  }
}
