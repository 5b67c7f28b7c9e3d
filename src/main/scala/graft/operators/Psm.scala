package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Propensity-score matching (Rosenbaum & Rubin 1983) for an
  * OBSERVED treatment: estimate the treatment effect on the treated
  * (ATT) by matching each treated user to the nearest control ON THE
  * PROPENSITY SCORE — the causal-inference leg the experiment family
  * lacks (`q_abtest`/`q_stratified` read DESIGNED splits;
  * `q_two_by_two` reads an observed exposure but leaves confounding
  * to the reader; this one ADJUSTS for it). Treatment = heavy
  * clicking, outcome = purchase count, confounders = (view, signup)
  * activity cells; the propensity of each cell is its exact observed
  * treatment rate.
  *
  * Matching design — caliper-BLOCK matching with replacement (the
  * blocking variant of Rosenbaum–Rubin; Stuart 2010's review form):
  * scores band into caliper-wide integer blocks (band = score div
  * [[CaliperMicro]]), each treated unit matches the nearest control
  * score WITHIN ITS BAND (ASOF prior/next on the score axis, ties
  * backward — the [[TimeJoin.asOfNearest]] machinery verbatim, score
  * standing in for time), controls at the SAME score pool into one
  * mean-outcome row (all are equally near — pooling beats an
  * arbitrary pick). A treated unit with no in-band control is
  * reported UNMATCHED, never silently imputed; nearest-across-band
  * misses are the documented blocking trade (each band is one caliper
  * wide, so any match is within caliper by construction).
  *
  * Determinism: propensity = (n_treated_in_cell·1e6) div n_cell —
  * exact; control pools carry (Σy·1e6) div n means; ATT =
  * Σ(y_t·1e6 − ȳ_c_micro) div n_matched — all BIGINT. The naive
  * unadjusted diff rides next to ATT so the adjustment is VISIBLE.
  *
  * Scale: two per-user folds (cells, then scores), the control pool
  * is grid-bounded, and the ASOF pair runs band-partitioned windows
  * (never global). At 100 TB every stage is a bucketed fold or a
  * band-local window.
  */
object Psm {

  /** Caliper width in propensity micro-units (0.05). */
  val CaliperMicro = 50000L

  def psm(s: SparkSession, d: String): DataFrame = {
    val users = Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(
        (sum(when(col("event_type") === "click", 1L).otherwise(0L)) >= 14L)
          .cast("long").as("t"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L))
          .cast("long").as("views"),
        sum(when(col("event_type") === "signup", 1L).otherwise(0L))
          .cast("long").as("signups"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .cast("long").as("y"))
    psmOf(users)
  }

  /** ATT readout over any per-user (t, views, signups, y) frame. */
  private[graft] def psmOf(usersRaw: DataFrame): DataFrame = {
    val users = Iterate.materialize(usersRaw) // cells + scoring + arms read it
    val cells = users.groupBy(col("views"), col("signups"))
      .agg(expr("(sum(t) * 1000000) div count(1)").as("score_micro"))
    val scored = users.join(broadcast(cells), Seq("views", "signups"))
      .withColumn("band", expr(s"score_micro div $CaliperMicro"))
    val treated = scored.filter(col("t") === 1L)
      .select(col("user_id"), col("band"), col("score_micro"), col("y"))
    val controls = scored.filter(col("t") === 0L)
      .groupBy(col("band"), col("score_micro"))
      .agg(expr("(sum(y) * 1000000) div count(1)").as("cy_micro"))
    val matched = TimeJoin.asOfNearest(
      treated, controls, "band", "score_micro", CaliperMicro, "m_")
    val att = matched.agg(
      count(lit(1)).cast("long").as("n_treated"),
      sum(when(col("m_cy_micro").isNotNull, 1L).otherwise(0L))
        .cast("long").as("n_matched"),
      sum(when(col("m_cy_micro").isNotNull,
        col("y") * 1000000L - col("m_cy_micro"))).cast("long").as("dsum"),
      sum(when(col("m_cy_micro").isNotNull, col("m_gap_us")))
        .cast("long").as("gapsum"))
    val naive = users.agg(
      expr("""CASE WHEN sum(CASE WHEN t = 1 THEN 1 ELSE 0 END) > 0
                    AND sum(CASE WHEN t = 0 THEN 1 ELSE 0 END) > 0
              THEN (sum(CASE WHEN t = 1 THEN y END) * 1000000)
                   div sum(CASE WHEN t = 1 THEN 1 ELSE 0 END)
                 - (sum(CASE WHEN t = 0 THEN y END) * 1000000)
                   div sum(CASE WHEN t = 0 THEN 1 ELSE 0 END)
              END""").as("naive_micro"))
    att.crossJoin(broadcast(naive))
      .select(col("n_treated"),
        col("n_matched"),
        (col("n_treated") - col("n_matched")).as("n_unmatched"),
        when(col("n_matched") > 0L, expr("dsum div n_matched"))
          .as("att_micro"),
        col("naive_micro"),
        when(col("n_matched") > 0L, expr("gapsum div n_matched"))
          .as("mean_gap_micro"))
  }

  val psmSql: String =
    s"""WITH users AS MATERIALIZED (
       |  SELECT user_id,
       |         (sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) >= 14)::BIGINT AS t,
       |         sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT AS views,
       |         sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)::BIGINT AS signups,
       |         sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS y
       |  FROM events GROUP BY user_id
       |), cells AS (
       |  SELECT views, signups, (sum(t) * 1000000) // count(*) AS score_micro
       |  FROM users GROUP BY 1, 2
       |), scored AS (
       |  SELECT u.user_id, u.t, u.y, c.score_micro,
       |         c.score_micro // $CaliperMicro AS band
       |  FROM users u JOIN cells c USING (views, signups)
       |), treated AS (
       |  SELECT user_id, band, score_micro, y FROM scored WHERE t = 1
       |), controls AS (
       |  SELECT band, score_micro, (sum(y) * 1000000) // count(*) AS cy_micro
       |  FROM scored WHERE t = 0 GROUP BY 1, 2
       |), p AS (
       |  SELECT l.user_id, r.score_micro AS p_s, r.cy_micro AS p_cy
       |  FROM treated l ASOF LEFT JOIN controls r
       |    ON l.band = r.band AND l.score_micro >= r.score_micro
       |), n AS (
       |  SELECT l.user_id, r.score_micro AS n_s, r.cy_micro AS n_cy
       |  FROM treated l ASOF LEFT JOIN controls r
       |    ON l.band = r.band AND l.score_micro <= r.score_micro
       |), j AS (
       |  SELECT l.user_id, l.y, l.score_micro, p.p_s, p.p_cy, n.n_s, n.n_cy,
       |         (p.p_s IS NOT NULL AND l.score_micro - p.p_s <= $CaliperMicro) AS p_ok,
       |         (n.n_s IS NOT NULL AND n.n_s - l.score_micro <= $CaliperMicro) AS n_ok
       |  FROM treated l JOIN p USING (user_id) JOIN n USING (user_id)
       |), picked AS (
       |  SELECT user_id, y,
       |         CASE WHEN p_ok AND (NOT n_ok OR score_micro - p_s <= n_s - score_micro)
       |                THEN p_cy
       |              WHEN n_ok THEN n_cy END AS cy,
       |         CASE WHEN p_ok AND (NOT n_ok OR score_micro - p_s <= n_s - score_micro)
       |                THEN score_micro - p_s
       |              WHEN n_ok THEN n_s - score_micro END AS gap
       |  FROM j
       |), att AS (
       |  SELECT count(*)::BIGINT AS n_treated,
       |         sum(CASE WHEN cy IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_matched,
       |         sum(CASE WHEN cy IS NOT NULL THEN y * 1000000 - cy END)::BIGINT AS dsum,
       |         sum(CASE WHEN cy IS NOT NULL THEN gap END)::BIGINT AS gapsum
       |  FROM picked
       |), naive AS (
       |  SELECT (CASE WHEN sum(CASE WHEN t = 1 THEN 1 ELSE 0 END) > 0
       |                AND sum(CASE WHEN t = 0 THEN 1 ELSE 0 END) > 0
       |          THEN (sum(CASE WHEN t = 1 THEN y END) * 1000000)
       |               // sum(CASE WHEN t = 1 THEN 1 ELSE 0 END)
       |             - (sum(CASE WHEN t = 0 THEN y END) * 1000000)
       |               // sum(CASE WHEN t = 0 THEN 1 ELSE 0 END)
       |          END)::BIGINT AS naive_micro
       |  FROM users
       |)
       |SELECT n_treated, n_matched,
       |       (n_treated - n_matched)::BIGINT AS n_unmatched,
       |       CASE WHEN n_matched > 0 THEN dsum // n_matched END::BIGINT AS att_micro,
       |       naive_micro,
       |       CASE WHEN n_matched > 0 THEN gapsum // n_matched END::BIGINT
       |         AS mean_gap_micro
       |FROM att CROSS JOIN naive""".stripMargin
}
