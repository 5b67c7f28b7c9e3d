package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Theil–Sen robust trend — the MEDIAN of all pairwise slopes (Sen
  * 1968), completing the robust pair started by [[Events.anomalyMad]]:
  * `q_trend_slope`'s OLS slope has breakdown point 0 — one corrupted
  * hour (an ingestion replay, a logging outage) drags the fitted
  * trend arbitrarily — while the Theil–Sen estimator tolerates ~29%
  * corrupted cells before moving (asserted with exactly that planted
  * corruption in TheilSenSpec: OLS bends, the median slope is
  * EXACTLY the clean trend).
  *
  * Determinism: each pairwise slope is micro-fixed on the integer
  * lattice at birth — slope_micro = ((y₂−y₁)·1e6) div (t₂−t₁),
  * truncation toward zero identical in both engines — and the median
  * is the exact order statistic at rank ⌈n/2⌉ (the q_quantiles
  * discipline; the rank window's (t₁,t₂) tie-break makes row
  * SELECTION deterministic, and the selected VALUE is tie-invariant
  * anyway). No doubles anywhere.
  *
  * Scale: the pair frame is the bounded QUADRATIC ON THE TIME GRID —
  * H(H−1)/2 rows per type (H = span hours), independent of event
  * volume; the one corpus fold produces the H·|types| dense cells
  * (materialized — the pair join reads it twice), and the median
  * window partitions by type over the pair frame. At a year's span
  * that is ~38M pairs per type — still a cell-frame computation, and
  * the published subsample variants (median-of-medians, random pair
  * sampling) drop in if H² ever matters.
  */
object TheilSen {

  def theilSenQuery(s: SparkSession, d: String): DataFrame =
    theilSen(Tables.events(s, d))

  def theilSen(ev: DataFrame): DataFrame = {
    val span = ev.agg(
      date_trunc("hour", min(col("ts"))).as("lo"),
      date_trunc("hour", max(col("ts"))).as("hi"))
    val hours = span.select(
      explode(sequence(col("lo"), col("hi"), expr("interval 1 hour"))).as("h"),
      col("lo"))
      .withColumn("t", ((unix_micros(col("h")) - unix_micros(col("lo"))) /
        3600000000L).cast("long"))
    val grid = hours.crossJoin(ev.select(col("event_type")).distinct())
    val agg = ev
      .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
      .agg(count(lit(1)).as("y"))
    val cells = Iterate.materialize(
      grid.join(agg, Seq("h", "event_type"), "left")
        .select(col("event_type"), col("t"),
          coalesce(col("y"), lit(0L)).as("y"))) // the pair join reads it twice
    val b = cells.select(col("event_type").as("et2"), col("t").as("t2"),
      col("y").as("y2"))
    val pairs = cells.join(b,
      col("et2") === col("event_type") && col("t2") > col("t"))
      .select(col("event_type"), col("t"), col("t2"),
        expr("((y2 - y) * 1000000) div (t2 - t)").as("sm"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("sm"), col("t"), col("t2"))
    pairs
      .withColumn("rk", row_number().over(w))
      .withColumn("n_pairs", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("event_type"))))
      .filter(col("rk") === expr("(n_pairs + 1) div 2"))
      .select(col("event_type"), col("n_pairs").cast("long").as("n_pairs"),
        col("sm").as("slope_micro"),
        when(col("sm") > 0L, "rising").when(col("sm") < 0L, "falling")
          .otherwise("flat").as("direction"))
  }

  val theilSenSql: String =
    s"""WITH span AS (
       |  SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
       |  FROM events
       |), hours AS (
       |  SELECT ((epoch_us(g.h) - epoch_us(s.lo)) // 3600000000)::BIGINT AS t
       |  FROM (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h FROM span) g
       |  CROSS JOIN span s
       |), agg AS (
       |  SELECT ((epoch_us(date_trunc('hour', ts)) -
       |           (SELECT epoch_us(lo) FROM span)) // 3600000000)::BIGINT AS t,
       |         event_type, count(*)::BIGINT AS y
       |  FROM events GROUP BY 1, 2
       |), cells AS MATERIALIZED (
       |  SELECT ty.event_type, hours.t, coalesce(agg.y, 0)::BIGINT AS y
       |  FROM hours CROSS JOIN (SELECT DISTINCT event_type FROM events) ty
       |  LEFT JOIN agg ON agg.t = hours.t AND agg.event_type = ty.event_type
       |), pairs AS (
       |  SELECT a.event_type, a.t, b.t AS t2,
       |         ((b.y - a.y) * 1000000) // (b.t - a.t) AS sm
       |  FROM cells a JOIN cells b
       |    ON b.event_type = a.event_type AND b.t > a.t
       |), ranked AS (
       |  SELECT event_type, sm,
       |         row_number() OVER (PARTITION BY event_type
       |           ORDER BY sm, t, t2) AS rk,
       |         count(*) OVER (PARTITION BY event_type) AS n_pairs
       |  FROM pairs
       |)
       |SELECT event_type, n_pairs::BIGINT AS n_pairs, sm AS slope_micro,
       |       CASE WHEN sm > 0 THEN 'rising' WHEN sm < 0 THEN 'falling'
       |            ELSE 'flat' END AS direction
       |FROM ranked WHERE rk = (n_pairs + 1) // 2
       |ORDER BY event_type""".stripMargin
}
