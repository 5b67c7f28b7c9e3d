package graft.operators

import graft.Tables
import graft.functions.TextSim
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Delta-method confidence interval for a RATIO metric under
  * user-level clustering — the experiment readout [[Events.abtest]]
  * cannot give: most business metrics are ratios of sums (revenue
  * per event, clicks per session) whose denominator varies per
  * user, so treating per-event observations as i.i.d. understates
  * the variance (a heavy user contributes many correlated rows).
  * The standard fix (Deng, Knoblich & Lu KDD'18 "Applying the Delta
  * Method in Metric Analytics"): randomization unit = user, metric
  * R̂ = Σy_u / Σx_u = ȳ/x̄, and
  *
  *   Var(R̂) ≈ (σ_yy − 2R̂σ_yx + R̂²σ_xx) / (n · x̄²)
  *
  * with σ's the per-user sample (co)variances. The numerator is
  * (n−1)⁻¹·Σ(y_u − R̂x_u)² ≥ 0 exactly, so the sqrt is guarded only
  * against float dust.
  *
  * Determinism (the [[Events.cuped]] discipline): y is micro-fixed
  * to integer cents BEFORE any sum (`floor(value·100 + 0.5)`), all
  * six per-arm moments are exact BIGINTs off ONE per-user fold;
  * ratio/se/CI run in double on identical exact inputs with
  * mirrored expression shapes, r6 at the output. Degenerate arms
  * (n ≤ 1 or Σx = 0) report NULL inference columns.
  *
  * Scale: one per-user partial-agg fold (bucket by user at 100 TB →
  * exchange-free), then a ≤2-row arm fold. Row-level data is never
  * re-seen; the inference frame is 2 rows.
  */
object RatioMetric {

  /** α = 0.05 two-sided normal quantile (micro-rounded constant). */
  val ZAlpha = 1.959964

  def ratioMetric(s: SparkSession, d: String): DataFrame = {
    val users = Tables.events(s, d)
      .filter(col("value").isNotNull)
      .select(col("user_id"),
        floor(col("value") * 100 + 0.5).cast("long").as("vc"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).cast("long").as("x"),
        sum(col("vc")).cast("long").as("y"))
      .withColumn("variant",
        when(conv(substring(md5(concat(lit("arm:"),
          col("user_id").cast("string"))), 1, 7), 16, 10)
          .cast("long") % 2 === 0, "A").otherwise("B"))
    fromUsers(users)
  }

  /** Delta-method readout over any (variant, x, y) per-user frame. */
  def fromUsers(users: DataFrame): DataFrame = {
    val arms = users.groupBy(col("variant"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("x")).cast("long").as("sx"),
        sum(col("y")).cast("long").as("sy"),
        sum(col("x") * col("x")).cast("long").as("sxx"),
        sum(col("y") * col("y")).cast("long").as("syy"),
        sum(col("x") * col("y")).cast("long").as("sxy"))
    val dbl = (c: Column) => c.cast("double")
    val r = dbl(col("sy")) / dbl(col("sx"))
    val xbar = dbl(col("sx")) / dbl(col("n"))
    val varY = (dbl(col("syy")) - dbl(col("sy")) * dbl(col("sy")) / dbl(col("n"))) /
      (dbl(col("n")) - 1.0)
    val varX = (dbl(col("sxx")) - dbl(col("sx")) * dbl(col("sx")) / dbl(col("n"))) /
      (dbl(col("n")) - 1.0)
    val covXY = (dbl(col("sxy")) - dbl(col("sx")) * dbl(col("sy")) / dbl(col("n"))) /
      (dbl(col("n")) - 1.0)
    val se = sqrt(greatest(
      (varY - lit(2.0) * r * covXY + r * r * varX) / dbl(col("n")),
      lit(0.0))) / xbar
    val ok = col("n") > 1L && col("sx") > 0L
    arms.select(col("variant"), col("n").as("n_users"),
      col("sx").as("events"), col("sy").as("revenue_cents"),
      when(col("sx") > 0L, TextSim.r6(r)).as("ratio"),
      when(ok, TextSim.r6(se)).as("se"),
      when(ok, TextSim.r6(r - lit(ZAlpha) * se)).as("ci_lo"),
      when(ok, TextSim.r6(r + lit(ZAlpha) * se)).as("ci_hi"))
  }

  val ratioMetricSql: String = {
    val r = "sy::DOUBLE / sx::DOUBLE"
    val xbar = "sx::DOUBLE / n::DOUBLE"
    val varY = "(syy::DOUBLE - sy::DOUBLE * sy::DOUBLE / n::DOUBLE) / (n::DOUBLE - 1.0::DOUBLE)"
    val varX = "(sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE / n::DOUBLE) / (n::DOUBLE - 1.0::DOUBLE)"
    val covXY = "(sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE / n::DOUBLE) / (n::DOUBLE - 1.0::DOUBLE)"
    val se = s"sqrt(greatest((($varY) - 2.0::DOUBLE * ($r) * ($covXY) + ($r) * ($r) * ($varX)) / n::DOUBLE, 0.0::DOUBLE)) / ($xbar)"
    s"""WITH users AS (
       |  SELECT user_id, count(*)::BIGINT AS x,
       |         sum(CAST(floor(value * 100 + 0.5) AS BIGINT))::BIGINT AS y
       |  FROM events WHERE value IS NOT NULL
       |  GROUP BY user_id
       |), arms AS (
       |  SELECT CASE WHEN ('0x' || substr(md5('arm:' || user_id), 1, 7))::BIGINT % 2 = 0
       |              THEN 'A' ELSE 'B' END AS variant,
       |         count(*)::BIGINT AS n,
       |         sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
       |         sum(x * x)::BIGINT AS sxx, sum(y * y)::BIGINT AS syy,
       |         sum(x * y)::BIGINT AS sxy
       |  FROM users GROUP BY 1
       |)
       |SELECT variant, n AS n_users, sx AS events, sy AS revenue_cents,
       |       CASE WHEN sx > 0 THEN ${TextSim.r6Sql(r)} END AS ratio,
       |       CASE WHEN n > 1 AND sx > 0 THEN ${TextSim.r6Sql(se)} END AS se,
       |       CASE WHEN n > 1 AND sx > 0 THEN
       |         ${TextSim.r6Sql(s"($r) - $ZAlpha::DOUBLE * ($se)")} END AS ci_lo,
       |       CASE WHEN n > 1 AND sx > 0 THEN
       |         ${TextSim.r6Sql(s"($r) + $ZAlpha::DOUBLE * ($se)")} END AS ci_hi
       |FROM arms
       |ORDER BY variant""".stripMargin
  }
}
