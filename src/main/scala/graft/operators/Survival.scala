package graft.operators

import graft.Tables
import graft.functions.GridWindow
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Nelson–Aalen cumulative-hazard curve for time-to-churn — the
  * censoring-correct survival readout the retention family lacked:
  * [[q_churn]]/[[q_retention]] count who came back in fixed windows,
  * which silently treats "hasn't churned YET" as "won't churn". Here
  * a user's lifetime runs first-event → last-event (whole days); a
  * user whose last event falls inside [[CensorDays]] of the corpus
  * end is CENSORED (still alive — they leave the risk set without
  * contributing a churn). The Nelson–Aalen estimator
  * Ĥ(t) = Σ_{s ≤ t} d_s / n_s is chosen over Kaplan–Meier
  * deliberately: it is a SUM of per-time rationals, so each term
  * micro-fixes exactly ((d·1e6) div n) and the cumulative sum is
  * exact integer arithmetic — KM's product of rationals has no
  * bounded-integer form (S(t) ≈ exp(−Ĥ(t)) recovers it downstream).
  *
  * Scale: one corpus fold keyed by user (first/last event), then the
  * curve lives on the ≤span-days grid — the cumulative window rides
  * [[GridWindow.ord]] (the non-foldable grid key; a naive
  * partitionBy(lit(0)) silently degenerates, the r6 lesson).
  *
  * Output per distinct lifetime day: `(t_days, n_risk, d_churn,
  * c_censored, hazard_term_micro, cum_hazard_micro)`.
  */
object Survival {

  /** Users whose last activity is within this many days of the corpus
    * end are censored, not churned.
    */
  val CensorDays = 7L

  def survival(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val horizon = ev.agg(max(unix_micros(col("ts"))).as("hx"))
    val DayUs = 86400000000L
    val users = Iterate.materialize(ev.groupBy(col("user_id"))
      .agg(min(unix_micros(col("ts"))).as("first_us"),
        max(unix_micros(col("ts"))).as("last_us"))
      .crossJoin(broadcast(horizon))
      .select(expr("(last_us - first_us) div 86400000000").as("t_days"),
        (col("last_us") >= col("hx") - lit(CensorDays * DayUs))
          .cast("long").as("censored")))
    val byT = users.groupBy(col("t_days"))
      .agg(count(lit(1)).cast("long").as("n_at_t"),
        sum(lit(1L) - col("censored")).cast("long").as("d_churn"),
        sum(col("censored")).cast("long").as("c_censored"))
    // risk set n(t) = users with lifetime >= t: total minus those who
    // left strictly before t — one cumulative window on the bounded
    // day grid, no self-join
    byT
      .withColumn("left_before",
        coalesce(sum(col("n_at_t")).over(
          GridWindow.ord(col("t_days"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .crossJoin(broadcast(users.agg(count(lit(1)).cast("long").as("total"))))
      .withColumn("n_risk", col("total") - col("left_before"))
      .withColumn("hazard_term_micro", expr("(d_churn * 1000000) div n_risk"))
      .withColumn("cum_hazard_micro",
        sum(col("hazard_term_micro")).over(
          GridWindow.ord(col("t_days"))
            .rowsBetween(Window.unboundedPreceding, 0)))
      .select(col("t_days"), col("n_risk"), col("d_churn"),
        col("c_censored"), col("hazard_term_micro"),
        col("cum_hazard_micro").cast("long").as("cum_hazard_micro"))
      .orderBy(col("t_days"))
  }

  private val Window = org.apache.spark.sql.expressions.Window

  val survivalSql: String =
    s"""WITH horizon AS (SELECT max(epoch_us(ts)) AS hx FROM events),
       |users AS MATERIALIZED (
       |  SELECT (max(epoch_us(ts)) - min(epoch_us(ts))) // 86400000000
       |           AS t_days,
       |         CASE WHEN max(epoch_us(ts))
       |                   >= (SELECT hx FROM horizon) - ${CensorDays}*86400000000
       |              THEN 1 ELSE 0 END AS censored
       |  FROM events GROUP BY user_id
       |), by_t AS (
       |  SELECT t_days, count(*)::BIGINT AS n_at_t,
       |         sum(1 - censored)::BIGINT AS d_churn,
       |         sum(censored)::BIGINT AS c_censored
       |  FROM users GROUP BY t_days
       |), curve AS (
       |  SELECT t_days, n_at_t, d_churn, c_censored,
       |         ((SELECT count(*) FROM users)
       |           - coalesce(sum(n_at_t) OVER (ORDER BY t_days
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |          )::BIGINT AS n_risk
       |  FROM by_t
       |)
       |SELECT t_days, n_risk, d_churn, c_censored,
       |       ((d_churn * 1000000) // n_risk)::BIGINT AS hazard_term_micro,
       |       sum((d_churn * 1000000) // n_risk) OVER (ORDER BY t_days
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
       |         AS cum_hazard_micro
       |FROM curve
       |ORDER BY t_days""".stripMargin
}
