package graft.operators

import graft.Tables
import graft.functions.GridWindow
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** q_churn — discrete survival analysis of user lifetimes: the hazard
  * ladder h(k) = P(lifetime ends at week k | survived to week k),
  * with right-censoring handled the Kaplan–Meier way. `q_retention`
  * reads activity forward from each cohort's birth; this reads
  * lifetimes backward from the horizon — the actuarial face of the
  * same events ("of users who reached tenure k, how many died
  * there"), and the honest one: a user still active at the horizon
  * (last seen within [[ChurnGapDays]] of it) is CENSORED — counted in
  * every at-risk denominator their tenure reaches, never as a death
  * (dropping them, or counting them as churned, biases the hazard up
  * in exactly the newest cohorts).
  *
  * Determinism: lifetimes are integer week counts (datediff div 7);
  * at_risk is a reverse cumulative sum over the bounded tenure ladder
  * (≤ span/7 rows — a GridWindow frame, never the corpus); hazard and
  * cumulative-churn are integer micro-divisions; an empty at-risk
  * cell yields NULL.
  *
  * Scale shape: ONE user-keyed partial-agg fold of events to the
  * per-user (first, last) frame (bucket by user at 100 TB — the
  * retention/CUPED exchange), one groupBy to the ≤K-row tenure
  * histogram, everything after runs on the ladder. The horizon is a
  * 1-row broadcast.
  */
object Churn {

  /** A user idle this many days at the horizon has churned; closer =
    * censored (still alive as far as the data can say).
    */
  val ChurnGapDays = 14

  def churnQuery(s: SparkSession, d: String): DataFrame =
    churn(Tables.events(s, d))

  /** Hazard ladder over any `(user_id, ts)` frame. */
  def churn(evRaw: DataFrame): DataFrame = {
    val epoch = to_date(lit("1970-01-01"))
    val ev = evRaw.select(col("user_id"),
      datediff(to_date(col("ts")), epoch).cast("long").as("day"))
    churnFromSpans(ev.groupBy(col("user_id"))
      .agg(min(col("day")).as("first_day_idx"),
        max(col("day")).as("last_day_idx")))
  }

  /** The ladder from a per-user `(user_id, first_day_idx,
    * last_day_idx)` span frame (integer epoch-day indexes) — shared
    * with [[graft.streaming.StreamingChurn]], whose min/max span
    * state feeds the same arithmetic.
    */
  def churnFromSpans(spans: DataFrame): DataFrame = {
    // checkpoint barrier: the per-user frame feeds BOTH the horizon
    // aggregate and the lifetime projection — without it the events
    // fold executes twice (the q_heaps double-scan lesson)
    val users = Iterate.materialize(spans)
    val horizon = users.agg(max(col("last_day_idx")).as("h_day"))
    val lifed = users.crossJoin(broadcast(horizon))
      .select(expr("(last_day_idx - first_day_idx) div 7").as("k"),
        (col("h_day") - col("last_day_idx") >= ChurnGapDays).as("dead"))
    val hist = lifed.groupBy(col("k"))
      .agg(count(lit(1)).cast("long").as("n_total"),
        sum(when(col("dead"), 1L).otherwise(0L)).cast("long").as("churned"))
    val kMax = hist.agg(max(col("k")).as("k_max"))
    val ladder = kMax.select(explode(sequence(lit(0L), col("k_max"))).as("k"))
      .join(hist, Seq("k"), "left")
      .select(col("k"),
        coalesce(col("n_total"), lit(0L)).as("n_total"),
        coalesce(col("churned"), lit(0L)).as("churned"))
    ladder
      .withColumn("at_risk",
        sum(col("n_total")).over(GridWindow.ord(col("k").desc)))
      .withColumn("cum_churned",
        sum(col("churned")).over(GridWindow.ord(col("k"))))
      .select(col("k"), col("at_risk"), col("churned"),
        when(col("at_risk") > 0, expr("(1000000 * churned) div at_risk"))
          .as("hazard_micro"),
        col("cum_churned"))
  }

  val churnSql: String =
    s"""WITH ev AS (
       |  SELECT user_id, ts::DATE AS day FROM events
       |), users AS (
       |  SELECT user_id, min(day) AS first_day, max(day) AS last_day
       |  FROM ev GROUP BY user_id
       |), lifed AS (
       |  SELECT (last_day - first_day) // 7 AS k,
       |         ((SELECT max(last_day) FROM users) - last_day)
       |           >= $ChurnGapDays AS dead
       |  FROM users
       |), hist AS (
       |  SELECT k, count(*)::BIGINT AS n_total,
       |         sum(CASE WHEN dead THEN 1 ELSE 0 END)::BIGINT AS churned
       |  FROM lifed GROUP BY k
       |), ladder AS (
       |  SELECT g.k, coalesce(h.n_total, 0)::BIGINT AS n_total,
       |         coalesce(h.churned, 0)::BIGINT AS churned
       |  FROM (SELECT unnest(generate_series(0,
       |          (SELECT max(k) FROM hist))) AS k) g
       |  LEFT JOIN hist h ON h.k = g.k
       |)
       |SELECT k,
       |       sum(n_total) OVER (ORDER BY k DESC)::BIGINT AS at_risk,
       |       churned,
       |       CASE WHEN sum(n_total) OVER (ORDER BY k DESC) > 0
       |            THEN (1000000 * churned)
       |                   // sum(n_total) OVER (ORDER BY k DESC)::BIGINT
       |            END AS hazard_micro,
       |       sum(churned) OVER (ORDER BY k)::BIGINT AS cum_churned
       |FROM ladder
       |ORDER BY k""".stripMargin
}
