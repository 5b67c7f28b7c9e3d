package graft.operators

import graft.Tables
import graft.functions.TextSim
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Covariate balance census — the "Table 1" every observational
  * readout is obliged to print (standardized mean differences, Austin
  * 2009's |SMD| > 0.1 imbalance convention): per covariate, the
  * treated-vs-control mean gap in POOLED-SD units. The diagnostic
  * that says whether `q_psm`'s adjustment was even needed, and the
  * one that must be re-read AFTER matching to show balance was
  * achieved — an ATT over imbalanced covariates is an apology, not
  * an estimate.
  *
  * Determinism: per-covariate moments (n, Σx, Σx²) fold per arm as
  * exact BIGINTs off ONE per-user pass (the covariate stack is an
  * inline 3-row explode, not three scans); means are exact micro
  * divs; SMD = (x̄_t − x̄_c)/√((s²_t + s²_c)/2) is ONE fixed-order
  * double expression from the exact moments (variance numerators
  * n·Σx² − (Σx)² on decimal/HUGEINT — the [[Autocorr]] rule),
  * r6-rounded; a zero pooled variance (both arms constant) NULLs the
  * SMD rather than dividing by zero. Verdict: |smd| > 0.1 as an int
  * off the ROUNDED value.
  *
  * Scale: one per-user fold, one explode to 3 covariate rows per
  * user folded map-side to 3×2 moment cells, 3-row readout.
  */
object Balance {

  def balance(s: SparkSession, d: String): DataFrame =
    balanceOf(Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(
        (sum(when(col("event_type") === "click", 1L).otherwise(0L)) >= 14L)
          .cast("long").as("t"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L))
          .cast("long").as("views"),
        sum(when(col("event_type") === "signup", 1L).otherwise(0L))
          .cast("long").as("signups"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L))
          .cast("long").as("errors")))

  /** SMD census over a per-user (t, views, signups, errors) frame. */
  private[graft] def balanceOf(users: DataFrame): DataFrame = {
    val stacked = users.select(col("t"), explode(array(
      struct(lit("errors").as("covariate"), col("errors").as("x")),
      struct(lit("signups").as("covariate"), col("signups").as("x")),
      struct(lit("views").as("covariate"), col("views").as("x")))).as("c"))
      .select(col("t"), col("c.covariate").as("covariate"), col("c.x").as("x"))
    val moments = stacked.groupBy(col("covariate"))
      .agg(
        sum(col("t")).cast("long").as("nt"),
        sum(lit(1L) - col("t")).cast("long").as("nc"),
        sum(col("t") * col("x")).cast("long").as("sxt"),
        sum((lit(1L) - col("t")) * col("x")).cast("long").as("sxc"),
        sum(col("t").cast("decimal(38,0)") * col("x") * col("x")).as("sxxt"),
        sum((lit(1L) - col("t")).cast("decimal(38,0)") * col("x") * col("x"))
          .as("sxxc"))
    val vT = expr("(cast(nt as decimal(38,0)) * sxxt - cast(sxt as decimal(38,0)) * sxt)")
      .cast("double") / (col("nt").cast("double") * (col("nt") - 1L).cast("double"))
    val vC = expr("(cast(nc as decimal(38,0)) * sxxc - cast(sxc as decimal(38,0)) * sxc)")
      .cast("double") / (col("nc").cast("double") * (col("nc") - 1L).cast("double"))
    moments
      .withColumn("mean_t_micro", when(col("nt") > 0L,
        expr("(sxt * 1000000) div nt")))
      .withColumn("mean_c_micro", when(col("nc") > 0L,
        expr("(sxc * 1000000) div nc")))
      .withColumn("smd", when(col("nt") > 1L && col("nc") > 1L &&
        (vT + vC) > 0.0, TextSim.r6(
        (col("sxt").cast("double") / col("nt").cast("double") -
          col("sxc").cast("double") / col("nc").cast("double")) /
          sqrt((vT + vC) / 2.0))))
      .withColumn("imbalanced", when(col("smd").isNotNull,
        (abs(col("smd")) > 0.1).cast("int")))
      .select(col("covariate"), col("nt").as("n_treated"),
        col("nc").as("n_control"), col("mean_t_micro"), col("mean_c_micro"),
        col("smd"), col("imbalanced"))
  }

  val balanceSql: String = {
    val vT = "((nt::HUGEINT * sxxt - sxt::HUGEINT * sxt)::DOUBLE / (nt::DOUBLE * (nt - 1)::DOUBLE))"
    val vC = "((nc::HUGEINT * sxxc - sxc::HUGEINT * sxc)::DOUBLE / (nc::DOUBLE * (nc - 1)::DOUBLE))"
    s"""WITH users AS (
       |  SELECT user_id,
       |         (sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) >= 14)::BIGINT AS t,
       |         sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT AS views,
       |         sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)::BIGINT AS signups,
       |         sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT AS errors
       |  FROM events GROUP BY user_id
       |), stacked AS (
       |  SELECT t, u.cov AS covariate, u.x
       |  FROM users,
       |  LATERAL (VALUES ('errors', errors), ('signups', signups),
       |           ('views', views)) u(cov, x)
       |), moments AS (
       |  SELECT covariate,
       |         sum(t)::BIGINT AS nt, sum(1 - t)::BIGINT AS nc,
       |         sum(t * x)::BIGINT AS sxt, sum((1 - t) * x)::BIGINT AS sxc,
       |         sum(t::HUGEINT * x * x) AS sxxt,
       |         sum((1 - t)::HUGEINT * x * x) AS sxxc
       |  FROM stacked GROUP BY covariate
       |), scored AS (
       |  SELECT covariate, nt, nc,
       |         CASE WHEN nt > 0 THEN (sxt * 1000000) // nt END::BIGINT AS mean_t_micro,
       |         CASE WHEN nc > 0 THEN (sxc * 1000000) // nc END::BIGINT AS mean_c_micro,
       |         CASE WHEN nt > 1 AND nc > 1 AND ($vT + $vC) > 0.0
       |              THEN ${TextSim.r6Sql(
      s"(sxt::DOUBLE / nt::DOUBLE - sxc::DOUBLE / nc::DOUBLE) / sqrt(($vT + $vC) / 2.0)")}
       |              END AS smd
       |  FROM moments
       |)
       |SELECT covariate, nt AS n_treated, nc AS n_control,
       |       mean_t_micro, mean_c_micro, smd,
       |       CASE WHEN smd IS NOT NULL THEN (abs(smd) > 0.1)::INT END
       |         AS imbalanced
       |FROM scored ORDER BY covariate""".stripMargin
  }
}
