package graft.operators

import graft.Tables
import graft.functions.TextSim
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Wald–Wolfowitz runs test (1940) for serial randomness of the
  * hourly event-volume series: dichotomize each hour against the
  * series MEDIAN, count the RUNS (maximal same-sign blocks), and ask
  * whether that count is consistent with exchangeable hours — too FEW
  * runs = positive drift/clustering (regime-y traffic), too MANY =
  * alternation (load-balancer flapping, duplicated-then-deduped
  * feeds). The nonparametric sibling of `q_autocorr` (which measures
  * lag-k correlation on the value lattice; this tests the SIGN
  * sequence, immune to heavy tails) — and the classic pre-test before
  * trusting any i.i.d.-assuming readout on a time-ordered metric.
  *
  * Determinism: the median is the exact order statistic at rank
  * ⌈n/2⌉ under (value, t) order (the q_quantiles discipline); hours
  * EQUAL to the median are DROPPED (the classic test's tie rule —
  * documented, not improvised); runs count by one lag comparison over
  * t-order; n₁/n₂/R are exact BIGINTs. z is the ONE double step —
  * (R·n − n − 2n₁n₂)/√(2n₁n₂(2n₁n₂−n)/(n−1)) with the radicand's
  * numerator folded on decimal/HUGEINT (n₁n₂ ~ n² → the product ~ n⁴
  * wraps int64 past ~55k hours) — r6-rounded; a constant series
  * (n₁ = 0 or n₂ = 0, or a zero radicand) reports NULL identically in
  * both engines.
  *
  * Scale: one corpus fold to the H-hour dense grid (the q_theil_sen
  * grid), one bounded rank window for the median, one lag window over
  * H rows, 1-row readout.
  */
object RunsTest {

  def runsTest(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val span = ev.agg(
      date_trunc("hour", min(col("ts"))).as("lo"),
      date_trunc("hour", max(col("ts"))).as("hi"))
    val hours = span.select(
      explode(sequence(col("lo"), col("hi"), expr("interval 1 hour"))).as("h"),
      col("lo"))
      .withColumn("t", ((unix_micros(col("h")) - unix_micros(col("lo"))) /
        3600000000L).cast("long"))
      .select(col("h"), col("t"))
    val agg = ev.groupBy(date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).cast("long").as("y"))
    val cells = hours.join(agg, Seq("h"), "left")
      .select(col("t"), coalesce(col("y"), lit(0L)).as("y"))
    runsOf(cells)
  }

  /** The runs readout over any (t, y) series frame. */
  private[graft] def runsOf(cellsRaw: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = Iterate.materialize(cellsRaw) // median rank + sign pass
    val rw = Window.orderBy(col("y"), col("t"))
    val med = cells.withColumn("rk", row_number().over(rw).cast("long"))
      .withColumn("n", count(lit(1)).over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .filter(col("rk") === expr("(n + 1) div 2"))
      .select(col("y").as("med"))
    val signed = cells.crossJoin(broadcast(med))
      .filter(col("y") =!= col("med")) // classic tie rule: drop median hits
      .withColumn("s", (col("y") > col("med")).cast("long"))
    val runs = signed
      .withColumn("prev", lag(col("s"), 1).over(Window.orderBy(col("t"))))
      .agg(
        count(lit(1)).cast("long").as("n"),
        sum(col("s")).cast("long").as("n1"),
        (count(lit(1)) - sum(col("s"))).cast("long").as("n2"),
        (sum(when(col("prev").isNull || col("prev") =!= col("s"), 1L)
          .otherwise(0L))).cast("long").as("r"))
    runs
      .withColumn("radnum",
        lit(2L).cast("decimal(38,0)") * col("n1") * col("n2") *
          (lit(2L).cast("decimal(38,0)") * col("n1") * col("n2") - col("n")))
      .withColumn("z",
        when(col("n1") > 0L && col("n2") > 0L && col("radnum") > 0L,
          TextSim.r6((col("r") * col("n") - col("n") -
            lit(2L) * col("n1") * col("n2")).cast("double") /
            sqrt(col("radnum").cast("double") / (col("n") - 1L).cast("double")))))
      .withColumn("verdict",
        when(col("z").isNull, "degenerate")
          .when(col("z") < -1.959964, "clustered")
          .when(col("z") > 1.959964, "alternating")
          .otherwise("random"))
      .select(col("n").as("n_hours"), col("n1").as("n_above"),
        col("n2").as("n_below"), col("r").as("n_runs"), col("z"),
        col("verdict"))
  }

  val runsTestSql: String =
    s"""WITH span AS (
       |  SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
       |  FROM events
       |), hours AS (
       |  SELECT g.h, ((epoch_us(g.h) - epoch_us(s.lo)) // 3600000000)::BIGINT AS t
       |  FROM (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h FROM span) g
       |  CROSS JOIN span s
       |), agg AS (
       |  SELECT date_trunc('hour', ts) AS h, count(*)::BIGINT AS y
       |  FROM events GROUP BY 1
       |), cells AS MATERIALIZED (
       |  SELECT hours.t, coalesce(agg.y, 0)::BIGINT AS y
       |  FROM hours LEFT JOIN agg ON agg.h = hours.h
       |), med AS (
       |  SELECT y AS med FROM (
       |    SELECT y, row_number() OVER (ORDER BY y, t) AS rk,
       |           count(*) OVER () AS n
       |    FROM cells)
       |  WHERE rk = (n + 1) // 2
       |), signed AS (
       |  SELECT t, (y > med)::BIGINT AS s
       |  FROM cells CROSS JOIN med WHERE y <> med
       |), runs AS (
       |  SELECT count(*)::BIGINT AS n, sum(s)::BIGINT AS n1,
       |         (count(*) - sum(s))::BIGINT AS n2,
       |         sum(CASE WHEN prev IS NULL OR prev <> s THEN 1 ELSE 0 END)::BIGINT AS r
       |  FROM (SELECT s, lag(s, 1) OVER (ORDER BY t) AS prev FROM signed)
       |), scored AS (
       |  SELECT n, n1, n2, r,
       |         2::HUGEINT * n1 * n2 * (2::HUGEINT * n1 * n2 - n) AS radnum
       |  FROM runs
       |), zc AS (
       |  SELECT n, n1, n2, r,
       |         CASE WHEN n1 > 0 AND n2 > 0 AND radnum > 0 THEN ${TextSim.r6Sql(
      "(r * n - n - 2 * n1 * n2)::DOUBLE / sqrt(radnum::DOUBLE / (n - 1)::DOUBLE)")}
       |              END AS z
       |  FROM scored
       |)
       |SELECT n AS n_hours, n1 AS n_above, n2 AS n_below, r AS n_runs, z,
       |       CASE WHEN z IS NULL THEN 'degenerate'
       |            WHEN z < -1.959964 THEN 'clustered'
       |            WHEN z > 1.959964 THEN 'alternating'
       |            ELSE 'random' END AS verdict
       |FROM zc""".stripMargin
}
