package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Within-session position-bias curve + COEC — the serving-side
  * readout (Chapelle & Zhang WWW'09 lineage; COEC = clicks over
  * expected clicks, the standard position-debiasing normalizer):
  * conversion propensity by POSITION within a session collapses the
  * engagement trend a raw per-event rate hides — position 1 converts
  * more because of exposure, not quality, and COEC divides that
  * exposure prior out. The behavioral-analytics rung between
  * [[Analytics.sessionize]] (which defines the session) and
  * [[q_funnel]] (which orders STAGES, not positions).
  *
  * Determinism: sessions are the exact q_sessionize gap rule
  * (30-minute inactivity, (ts, event_id) total order); position =
  * row_number within the session; rates on the micro lattice; COEC =
  * (purchases at p · total events) ·1e6 div (events at p · total
  * purchases) — one integer division per position, HUGEINT/decimal
  * cross products (10^11-row corpora overflow int64).
  *
  * Scale: one window pass partitioned by user (the sessionize
  * exchange), one partial-agg fold to ≤[[MaxPos]] rows; the global
  * totals ride the same fold (no second scan).
  *
  * Output per position 1..[[MaxPos]]: `(pos, n_events, n_purchases,
  * rate_micro, coec_micro)`.
  */
object PositionBias {

  /** Curve depth; deeper positions pool into the last bucket. */
  val MaxPos = 10

  def positionBias(s: SparkSession, d: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val pos = Tables.events(s, d)
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 1800000000L,
          1).otherwise(0))
      .withColumn("session_seq",
        sum(col("new_session")).over(
          byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("pos", least(row_number().over(
        Window.partitionBy(col("user_id"), col("session_seq"))
          .orderBy(col("ts"), col("event_id"))).cast("long"),
        lit(MaxPos.toLong)))
    val perPos = Iterate.materialize(pos.groupBy(col("pos"))
      .agg(count(lit(1)).cast("long").as("n_events"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .cast("long").as("n_purchases")))
    perPos.crossJoin(broadcast(perPos.agg(
      sum(col("n_events")).cast("long").as("tot_e"),
      sum(col("n_purchases")).cast("long").as("tot_p"))))
      .withColumn("rate_micro", expr("(n_purchases * 1000000) div n_events"))
      .withColumn("coec_micro", expr(
        """cast(cast(n_purchases as decimal(38,0)) * tot_e * 1000000
          |     div (cast(n_events as decimal(38,0)) * tot_p) as bigint)"""
          .stripMargin))
      .select(col("pos"), col("n_events"), col("n_purchases"),
        col("rate_micro"), col("coec_micro"))
      .orderBy(col("pos"))
  }

  val positionBiasSql: String =
    s"""WITH marked AS (
       |  SELECT user_id, event_id, ts, event_type,
       |         CASE WHEN lag(ts) OVER w IS NULL
       |                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
       |              THEN 1 ELSE 0 END AS new_session
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
       |), sessions AS (
       |  SELECT user_id, event_id, ts, event_type,
       |         (sum(new_session) OVER (PARTITION BY user_id
       |            ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING))::BIGINT
       |           AS session_seq
       |  FROM marked
       |), positioned AS (
       |  SELECT event_type,
       |         least(row_number() OVER (PARTITION BY user_id, session_seq
       |                                  ORDER BY ts, event_id),
       |               $MaxPos)::BIGINT AS pos
       |  FROM sessions
       |), per_pos AS MATERIALIZED (
       |  SELECT pos, count(*)::BIGINT AS n_events,
       |         sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT
       |           AS n_purchases
       |  FROM positioned GROUP BY pos
       |), tot AS (
       |  SELECT sum(n_events)::BIGINT AS tot_e,
       |         sum(n_purchases)::BIGINT AS tot_p
       |  FROM per_pos
       |)
       |SELECT p.pos, p.n_events, p.n_purchases,
       |       (p.n_purchases * 1000000) // p.n_events AS rate_micro,
       |       (p.n_purchases::HUGEINT * t.tot_e * 1000000
       |        // (p.n_events::HUGEINT * t.tot_p))::BIGINT AS coec_micro
       |FROM per_pos p CROSS JOIN tot t
       |ORDER BY p.pos""".stripMargin
}
