package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Uplift-by-decile / Qini curve (Radcliffe 2007) — the targeting
  * readout an experimentation stack graduates to once `q_abtest` says
  * the treatment works ON AVERAGE: rank users by a targeting score
  * (here click activity), and per score-decile compare treated vs
  * control conversion — does the score find the users the treatment
  * actually MOVES? The Qini curve is cumulative incremental
  * conversions down the ranking; its area above the random diagonal
  * is the Qini coefficient (zero = the score targets noise; the
  * model-evaluation metric of the uplift-modeling literature).
  *
  * Determinism: md5-parity arms (the house split); deciles on the
  * DESCENDING score value grid with tied blocks whole
  * (⌊cum_before·10/n⌋ BIGINT div — the q_lift rule; no row ever
  * splits a tie); all counts exact BIGINTs; per-decile and cumulative
  * uplift are micro ratios with one truncating div each; the Qini
  * area is an exact integer sum of (q_k − k·q_K/K) terms. An empty
  * control arm in a decile NULLs that decile's uplift (guard), and
  * cumulative rows inherit the same guard.
  *
  * Scale: one per-user fold, one fold to the score value grid
  * (bounded by score support), decile assignment and cumulatives on
  * grid-sized windows, ≤10 output rows. No global per-user sort.
  */
object Uplift {

  private def armOf(key: Column): Column =
    when(conv(substring(md5(key), 1, 7), 16, 10).cast("long") % 2 === 0, 1L)
      .otherwise(0L)

  def uplift(s: SparkSession, d: String): DataFrame =
    upliftOf(Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L))
          .cast("long").as("score"),
        (sum(when(col("event_type") === "purchase", 1L).otherwise(0L)) >= 14L)
          .cast("long").as("y"))
      .withColumn("t", armOf(concat(lit("arm:"), col("user_id").cast("string")))))

  /** The decile table over any per-user (score, y∈{0,1}, t∈{0,1}). */
  private[graft] def upliftOf(users: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grid = users.groupBy(col("score"))
      .agg(count(lit(1)).cast("long").as("cnt"),
        sum(col("t")).cast("long").as("nt"),
        sum(col("t") * col("y")).cast("long").as("yt"),
        sum((lit(1L) - col("t")) * col("y")).cast("long").as("yc"))
    val w = Window.orderBy(col("score").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val all = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val deciled = grid
      .withColumn("before", coalesce(sum(col("cnt")).over(w), lit(0L)))
      .withColumn("n", sum(col("cnt")).over(all))
      .withColumn("decile", expr("(before * 10) div n"))
      .groupBy(col("decile"))
      .agg(sum(col("nt")).as("n_treated"),
        sum(col("cnt") - col("nt")).as("n_control"),
        sum(col("yt")).as("y_treated"),
        sum(col("yc")).as("y_control"))
    val cw = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val allD = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    deciled
      .withColumn("uplift_micro",
        when(col("n_treated") > 0L && col("n_control") > 0L, expr(
          "(y_treated * 1000000) div n_treated - (y_control * 1000000) div n_control")))
      .withColumn("cnt_t", sum(col("n_treated")).over(cw))
      .withColumn("cnt_c", sum(col("n_control")).over(cw))
      .withColumn("cy_t", sum(col("y_treated")).over(cw))
      .withColumn("cy_c", sum(col("y_control")).over(cw))
      .withColumn("qini_micro", when(col("cnt_c") > 0L, expr(
        """cy_t * 1000000 - cast((cast(cy_c as decimal(38,0)) * cnt_t * 1000000)
          | div cast(cnt_c as decimal(38,0)) as long)""".stripMargin)))
      .withColumn("k", row_number().over(Window.orderBy(col("decile")))
        .cast("long"))
      .withColumn("n_deciles", count(lit(1)).over(allD))
      .withColumn("qini_last", last(col("qini_micro")).over(
        Window.orderBy(col("decile")).rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
      .withColumn("qini_area_micro",
        sum(col("qini_micro") - expr("(k * qini_last) div n_deciles"))
          .over(allD))
      .select(col("decile"), col("n_treated"), col("n_control"),
        col("y_treated"), col("y_control"), col("uplift_micro"),
        col("qini_micro"), col("qini_area_micro"))
  }

  val upliftSql: String = {
    val arm = "CASE WHEN ('0x' || substr(md5('arm:' || user_id), 1, 7))::BIGINT % 2 = 0 THEN 1 ELSE 0 END"
    s"""WITH users AS (
       |  SELECT user_id,
       |         sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS score,
       |         (sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >= 14)::BIGINT AS y,
       |         $arm::BIGINT AS t
       |  FROM events GROUP BY user_id
       |), grid AS (
       |  SELECT score, count(*)::BIGINT AS cnt, sum(t)::BIGINT AS nt,
       |         sum(t * y)::BIGINT AS yt, sum((1 - t) * y)::BIGINT AS yc
       |  FROM users GROUP BY score
       |), deciled AS (
       |  SELECT ((coalesce(sum(cnt) OVER (ORDER BY score DESC
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |          * 10) // sum(cnt) OVER ())::BIGINT AS decile,
       |         cnt, nt, yt, yc
       |  FROM grid
       |), folded AS (
       |  SELECT decile, sum(nt)::BIGINT AS n_treated,
       |         sum(cnt - nt)::BIGINT AS n_control,
       |         sum(yt)::BIGINT AS y_treated, sum(yc)::BIGINT AS y_control
       |  FROM deciled GROUP BY decile
       |), cum AS (
       |  SELECT *,
       |         CASE WHEN n_treated > 0 AND n_control > 0
       |              THEN (y_treated * 1000000) // n_treated
       |                   - (y_control * 1000000) // n_control
       |              END::BIGINT AS uplift_micro,
       |         sum(n_treated) OVER (ORDER BY decile)::BIGINT AS cnt_t,
       |         sum(n_control) OVER (ORDER BY decile)::BIGINT AS cnt_c,
       |         sum(y_treated) OVER (ORDER BY decile)::BIGINT AS cy_t,
       |         sum(y_control) OVER (ORDER BY decile)::BIGINT AS cy_c,
       |         row_number() OVER (ORDER BY decile)::BIGINT AS k,
       |         count(*) OVER ()::BIGINT AS n_deciles
       |  FROM folded
       |), qini AS (
       |  SELECT *, CASE WHEN cnt_c > 0
       |                 THEN cy_t * 1000000
       |                      - (cy_c::HUGEINT * cnt_t * 1000000) // cnt_c::HUGEINT
       |                 END::BIGINT AS qini_micro
       |  FROM cum
       |), withlast AS (
       |  SELECT *, last_value(qini_micro) OVER (ORDER BY decile
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS qini_last
       |  FROM qini
       |)
       |SELECT decile, n_treated, n_control, y_treated, y_control,
       |       uplift_micro, qini_micro,
       |       sum(qini_micro - (k * qini_last) // n_deciles)
       |         OVER ()::BIGINT AS qini_area_micro
       |FROM withlast ORDER BY decile""".stripMargin
  }
}
