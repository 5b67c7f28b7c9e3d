package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Rolling-origin forecast backtest — the evaluation harness the
  * forecasting family ([[Ewma]], [[HoltWinters]], [[Seasonal]])
  * lacked: before trusting any forecaster on the live series, replay
  * it against history — at every origin t, forecast t+h for h = 1..3
  * and score against the realized value (Tashman 2000, the standard
  * out-of-sample protocol; "rolling origin" because every hour is an
  * origin). Two reference forecasters every production system
  * baselines against: NAIVE (ŷ(t+h) = y(t), persistence) and
  * SEASONAL-NAIVE (ŷ(t+h) = y(t+h−24), yesterday's same hour) —
  * a sophisticated model that cannot beat these on MAE/sMAPE is
  * noise-fitting.
  *
  * Determinism: the series is event COUNTS per (event_type, hour) —
  * errors are exact integers; MAE rides micro units
  * ((Σ|e|·1e6) div n); sMAPE is per-point integer micro
  * ((2·1e6·|f−y|) div (f+y), 0 when both vanish — the
  * both-zero-is-perfect convention) averaged with `div`. No libm,
  * no doubles anywhere.
  *
  * Scale: ONE events fold to the sparse hourly cells (the
  * [[Changepoint.cells]] state), densified over the span grid and
  * materialized ONCE ([[Iterate.materialize]] — targets and both forecast
  * joins read it; the Seasonal barrier discipline); everything after
  * runs on H·|types|·3 bounded rows, independent of event volume.
  */
object Backtest {

  private val HourUs = 3600000000L
  /** Forecast horizons scored, in hours. */
  val Horizons = 3
  /** Seasonal-naive lag, hours. */
  val SeasonLag = 24L

  def backtestQuery(s: SparkSession, d: String): DataFrame =
    backtest(Tables.events(s, d))

  def backtest(ev: DataFrame): DataFrame =
    backtestFromCells(Changepoint.cells(ev))

  /** The backtest over a maintained `(h, event_type, y)` cell frame —
    * the SAME state [[graft.streaming.StreamingChangepoint.cells]]
    * keeps, so a per-trigger streamed backtest re-scores forecasters
    * without touching raw events (the N-detectors-one-state-store
    * discipline; batch ≡ stream asserted in BacktestSpec).
    */
  def backtestFromCells(cellsRaw: DataFrame): DataFrame = {
    val spark = cellsRaw.sparkSession
    // the span rides the cells' materialization job
    val (agg, lo, nH) = Changepoint.cellSpan(cellsRaw)
    if (nH == 0)
      return spark.emptyDataFrame.select(lit("").as("event_type"),
        lit("").as("method"), lit(0L).as("horizon"), lit(0L).as("n"),
        lit(0L).as("mae_micro"), lit(0L).as("smape_micro"))
    val types = agg.select(col("event_type").as("et")).distinct()
      .select(col("et").as("event_type"))
    val dense = Iterate.materialize(
      types.crossJoin(
        spark.range(nH).select((lit(lo) + col("id") * HourUs).as("hu")))
        .join(agg, Seq("event_type", "hu"), "left")
        .withColumn("y", coalesce(col("y"), lit(0L))))
    val horizons = spark.range(1L, Horizons + 1L).select(col("id").as("h"))
    val tgt = dense
      .filter(col("hu") >= lo + SeasonLag * HourUs)
      .crossJoin(broadcast(horizons))
    // self-join branches ride fresh column names (the alias rule)
    val src = dense.select(col("event_type").as("fet"),
      col("hu").as("fhu"), col("y").as("fy"))
    val naive = tgt.join(src,
      col("fet") === tgt("event_type") &&
        col("fhu") === tgt("hu") - col("h") * HourUs)
      .select(tgt("event_type"), col("h"), tgt("y"), col("fy"))
      .withColumn("method", lit("naive"))
    val snaive = tgt.join(src,
      col("fet") === tgt("event_type") &&
        col("fhu") === tgt("hu") - lit(SeasonLag * HourUs))
      .select(tgt("event_type"), col("h"), tgt("y"), col("fy"))
      .withColumn("method", lit("snaive"))
    naive.unionByName(snaive)
      .withColumn("ae", abs(col("y") - col("fy")))
      .withColumn("sm", when(col("y") + col("fy") > 0L,
        expr("(2000000 * abs(y - fy)) div (y + fy)")).otherwise(lit(0L)))
      .groupBy(col("event_type"), col("method"), col("h").as("horizon"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("ae")).cast("long").as("sae"),
        sum(col("sm")).cast("long").as("ssm"))
      .select(col("event_type"), col("method"), col("horizon"), col("n"),
        expr("(sae * 1000000) div n").as("mae_micro"),
        expr("ssm div n").as("smape_micro"))
  }

  val backtestSql: String =
    s"""WITH span AS (
       |  SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
       |  FROM events
       |), lou AS (
       |  SELECT epoch_us(lo)::BIGINT AS lo FROM span
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
       |), tgt AS (
       |  SELECT c.event_type, c.hu, c.y, hz.h::BIGINT AS h
       |  FROM cells c
       |  CROSS JOIN (SELECT unnest([1, 2, 3]) AS h) hz
       |  CROSS JOIN lou
       |  WHERE c.hu >= lou.lo + $SeasonLag * $HourUs
       |), scored AS (
       |  SELECT t.event_type, 'naive' AS method, t.h, t.y, f.y AS fy
       |  FROM tgt t JOIN cells f
       |    ON f.event_type = t.event_type AND f.hu = t.hu - t.h * $HourUs
       |  UNION ALL
       |  SELECT t.event_type, 'snaive' AS method, t.h, t.y, f.y AS fy
       |  FROM tgt t JOIN cells f
       |    ON f.event_type = t.event_type AND f.hu = t.hu - ${SeasonLag * HourUs}
       |), errs AS (
       |  SELECT event_type, method, h, abs(y - fy)::BIGINT AS ae,
       |         CASE WHEN y + fy > 0
       |              THEN (2000000 * abs(y - fy)) // (y + fy)
       |              ELSE 0 END::BIGINT AS sm
       |  FROM scored
       |)
       |SELECT event_type, method, h AS horizon, count(*)::BIGINT AS n,
       |       (sum(ae)::BIGINT * 1000000) // count(*) AS mae_micro,
       |       sum(sm)::BIGINT // count(*) AS smape_micro
       |FROM errs
       |GROUP BY 1, 2, 3
       |ORDER BY event_type, method, horizon""".stripMargin
}
