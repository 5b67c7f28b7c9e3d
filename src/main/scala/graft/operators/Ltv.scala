package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** q_cohort_ltv — cumulative lifetime value by acquisition cohort:
  * users cohorted by FIRST-event week, purchase value accumulated per
  * week-offset, normalized by cohort size — the LTV curve ("a user
  * acquired in week W is worth X by week W+k") that `q_retention`'s
  * presence matrix prices and `q_churn`'s hazard discounts. The three
  * read the same user timelines through the three lenses a growth
  * model needs: will they stay (retention), when do they die (churn),
  * what are they worth meanwhile (this).
  *
  * Determinism: purchase values fix to integer MICRO-units PER EVENT
  * before any sum (the r6-before-Σ rule — BIGINT folds are
  * order-free); weeks are integer epoch-week indexes (µs div
  * 604800e6, the Churn/Seasonal convention — no calendar functions);
  * the cumulative runs per cohort over the ≤span-weeks offset grid
  * (dense — a quiet week is a flat LTV step, not a missing row);
  * ltv_micro is one integer division.
  *
  * Scale: ONE user-keyed events fold to the checkpointed per-user
  * first-week frame (the barrier feeds cohort sizes AND the purchase
  * join — the q_heaps lesson); the purchase join is user-keyed
  * (co-bucketed at 100 TB); everything after runs on the
  * ≤cohorts·weeks grid.
  */
object Ltv {

  private val WeekUs = 604800000000L

  def cohortLtvQuery(s: SparkSession, d: String): DataFrame =
    cohortLtv(Tables.events(s, d))

  /** LTV curve over any `(user_id, event_type, ts, value)` frame. */
  def cohortLtv(evRaw: DataFrame): DataFrame = {
    val ev = evRaw.select(col("user_id"), col("event_type"),
      expr(s"unix_micros(ts) div $WeekUs").as("w"),
      expr("cast(floor(value * 1000000 + 0.5) AS bigint)").as("v_micro"))
    val firstw = Iterate.materialize(
      ev.groupBy(col("user_id"))
        .agg(min(col("w")).as("cohort"), max(col("w")).as("lastw")))
    val sizes = firstw.groupBy(col("cohort"))
      .agg(count(lit(1)).cast("long").as("cohort_users"))
    val span = firstw.agg(max(col("lastw")).as("w_hi"))
    val cells = ev.filter(col("event_type") === "purchase")
      .join(firstw, Seq("user_id"))
      .select(col("cohort"), (col("w") - col("cohort")).as("off"),
        col("v_micro"))
      .groupBy(col("cohort"), col("off"))
      .agg(sum(col("v_micro")).cast("long").as("wv"))
    val grid = sizes.crossJoin(broadcast(span))
      .select(col("cohort"), col("cohort_users"),
        explode(sequence(lit(0L), col("w_hi") - col("cohort"))).as("off"))
    grid.join(cells, Seq("cohort", "off"), "left")
      .select(col("cohort"), col("off"), col("cohort_users"),
        coalesce(col("wv"), lit(0L)).as("week_value_micro"))
      .withColumn("cum_value_micro",
        sum(col("week_value_micro")).over(
          Window.partitionBy(col("cohort")).orderBy(col("off"))))
      .withColumn("ltv_micro", expr("cum_value_micro div cohort_users"))
  }

  val cohortLtvSql: String =
    s"""WITH ev AS (
       |  SELECT user_id, event_type,
       |         epoch_us(ts) // $WeekUs AS w,
       |         floor(value * 1000000 + 0.5)::BIGINT AS v_micro
       |  FROM events
       |), firstw AS MATERIALIZED (
       |  SELECT user_id, min(w) AS cohort, max(w) AS lastw
       |  FROM ev GROUP BY user_id
       |), sizes AS (
       |  SELECT cohort, count(*)::BIGINT AS cohort_users
       |  FROM firstw GROUP BY cohort
       |), cells AS (
       |  SELECT f.cohort, e.w - f.cohort AS off,
       |         sum(e.v_micro)::BIGINT AS wv
       |  FROM ev e JOIN firstw f USING (user_id)
       |  WHERE e.event_type = 'purchase'
       |  GROUP BY 1, 2
       |), grid AS (
       |  SELECT s.cohort, s.cohort_users, unnest(generate_series(0,
       |           (SELECT max(lastw) FROM firstw) - s.cohort)) AS off
       |  FROM sizes s
       |)
       |SELECT g.cohort, g.off, g.cohort_users,
       |       coalesce(c.wv, 0)::BIGINT AS week_value_micro,
       |       sum(coalesce(c.wv, 0)) OVER (PARTITION BY g.cohort
       |                                    ORDER BY g.off)::BIGINT
       |         AS cum_value_micro,
       |       sum(coalesce(c.wv, 0)) OVER (PARTITION BY g.cohort
       |                                    ORDER BY g.off)::BIGINT
       |         // g.cohort_users AS ltv_micro
       |FROM grid g LEFT JOIN cells c
       |  ON c.cohort = g.cohort AND c.off = g.off
       |ORDER BY g.cohort, g.off""".stripMargin
}
