package graft.operators

import graft.Tables
import graft.functions.TextSim
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Kendall's τ-b rank correlation (Kendall 1938; tie-adjusted τ-b
  * form) between the two per-hour health series a pipeline operator
  * watches together: event VOLUME (n_events) and audience BREADTH
  * (n_distinct users). Complements [[Relevance.rankCorr]] (Spearman ρ
  * over ranking arms) and `q_corr` (Pearson on the value lattice):
  * τ counts PAIR INVERSIONS, so it is the statistic behind
  * concordance probability — P(volume and breadth move together) =
  * (τ+1)/2 — and is robust to any monotone re-scaling of either
  * series. A volume/breadth τ collapse flags bot bursts (volume up,
  * breadth flat) the Pearson corr on raw counts can miss.
  *
  * Determinism: the series are integer counts on the dense zero-filled
  * hourly grid (the [[TheilSen]] grid discipline — span from the
  * corpus min/max hour); concordant / discordant / tie classification
  * is exact integer sign arithmetic per pair; the only double step is
  * the final τ-b = (C−D)/√((n0−Tx)·(n0−Ty)), r6-rounded, with the
  * radicand folded on decimal(38,0)/HUGEINT (n0² ~ H⁴/4 wraps int64
  * past ~55k hours). A series with all pairs tied gives a zero
  * radicand and τ is NULL in both engines.
  *
  * Scale: the pair frame is the bounded quadratic ON THE TIME GRID —
  * H(H−1)/2 rows, independent of event volume (the q_theil_sen
  * argument); the corpus folds ONCE to the H-row cell frame
  * (distinct-user count is one map-side partial per hour), and the
  * readout is 1 row. Merge/sort variants (Knight 1966 O(n log n))
  * drop in if H² ever matters.
  */
object KendallTau {

  def kendallTau(s: SparkSession, d: String): DataFrame =
    kendallOfCells(hourlyVolumeBreadth(Tables.events(s, d)))

  /** Dense per-hour (t, x = n_events, y = n_users) cells. */
  private[graft] def hourlyVolumeBreadth(ev: DataFrame): DataFrame = {
    val span = ev.agg(
      date_trunc("hour", min(col("ts"))).as("lo"),
      date_trunc("hour", max(col("ts"))).as("hi"))
    val hours = span.select(
      explode(sequence(col("lo"), col("hi"), expr("interval 1 hour"))).as("h"),
      col("lo"))
      .withColumn("t", ((unix_micros(col("h")) - unix_micros(col("lo"))) /
        3600000000L).cast("long"))
      .select(col("h"), col("t"))
    val agg = ev
      .groupBy(date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).cast("long").as("x"),
        count_distinct(col("user_id")).cast("long").as("y"))
    hours.join(agg, Seq("h"), "left")
      .select(col("t"),
        coalesce(col("x"), lit(0L)).as("x"),
        coalesce(col("y"), lit(0L)).as("y"))
  }

  /** τ-b over any (t, x, y) cell frame. */
  private[graft] def kendallOfCells(cellsRaw: DataFrame): DataFrame = {
    val cells = Iterate.materialize(cellsRaw) // both sides of the pair join
    val b = cells.select(col("t").as("t2"), col("x").as("x2"),
      col("y").as("y2"))
    val pairs = cells.join(b, col("t2") > col("t"))
      .select(
        (signum(col("x2") - col("x")) * signum(col("y2") - col("y")))
          .cast("long").as("sgn"),
        (col("x2") === col("x")).cast("long").as("tx"),
        (col("y2") === col("y")).cast("long").as("ty"))
    pairs.agg(
      count(lit(1)).cast("long").as("n_pairs"),
      sum(when(col("sgn") === 1L, 1L).otherwise(0L)).cast("long").as("concordant"),
      sum(when(col("sgn") === -1L, 1L).otherwise(0L)).cast("long").as("discordant"),
      sum(col("tx")).cast("long").as("tie_x"),
      sum(col("ty")).cast("long").as("tie_y"))
      .withColumn("radicand",
        (col("n_pairs") - col("tie_x")).cast("decimal(38,0)") *
          (col("n_pairs") - col("tie_y")).cast("decimal(38,0)"))
      .withColumn("tau_b",
        when(col("radicand") > 0L, TextSim.r6(
          (col("concordant") - col("discordant")).cast("double") /
            sqrt(col("radicand").cast("double")))))
      .withColumn("agreement",
        when(col("tau_b").isNull, "degenerate")
          .when(col("tau_b") > 0.2, "concordant")
          .when(col("tau_b") < -0.2, "discordant")
          .otherwise("independent"))
      .select(col("n_pairs"), col("concordant"), col("discordant"),
        col("tie_x"), col("tie_y"), col("tau_b"), col("agreement"))
  }

  val kendallTauSql: String =
    s"""WITH span AS (
       |  SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
       |  FROM events
       |), hours AS (
       |  SELECT g.h, ((epoch_us(g.h) - epoch_us(s.lo)) // 3600000000)::BIGINT AS t
       |  FROM (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h FROM span) g
       |  CROSS JOIN span s
       |), agg AS (
       |  SELECT date_trunc('hour', ts) AS h, count(*)::BIGINT AS x,
       |         count(DISTINCT user_id)::BIGINT AS y
       |  FROM events GROUP BY 1
       |), cells AS MATERIALIZED (
       |  SELECT hours.t, coalesce(agg.x, 0)::BIGINT AS x,
       |         coalesce(agg.y, 0)::BIGINT AS y
       |  FROM hours LEFT JOIN agg ON agg.h = hours.h
       |), pairs AS (
       |  SELECT sign(b.x - a.x) * sign(b.y - a.y) AS sgn,
       |         (b.x = a.x)::BIGINT AS tx, (b.y = a.y)::BIGINT AS ty
       |  FROM cells a JOIN cells b ON b.t > a.t
       |), folded AS (
       |  SELECT count(*)::BIGINT AS n_pairs,
       |         sum(CASE WHEN sgn = 1 THEN 1 ELSE 0 END)::BIGINT AS concordant,
       |         sum(CASE WHEN sgn = -1 THEN 1 ELSE 0 END)::BIGINT AS discordant,
       |         sum(tx)::BIGINT AS tie_x, sum(ty)::BIGINT AS tie_y
       |  FROM pairs
       |), tau AS (
       |  SELECT n_pairs, concordant, discordant, tie_x, tie_y,
       |         CASE WHEN (n_pairs - tie_x)::HUGEINT * (n_pairs - tie_y) > 0
       |              THEN ${TextSim.r6Sql(
      "(concordant - discordant)::DOUBLE / sqrt(((n_pairs - tie_x)::HUGEINT * (n_pairs - tie_y))::DOUBLE)")}
       |              END AS tau_b
       |  FROM folded
       |)
       |SELECT n_pairs, concordant, discordant, tie_x, tie_y, tau_b,
       |       CASE WHEN tau_b IS NULL THEN 'degenerate'
       |            WHEN tau_b > 0.2 THEN 'concordant'
       |            WHEN tau_b < -0.2 THEN 'discordant'
       |            ELSE 'independent' END AS agreement
       |FROM tau""".stripMargin
}
