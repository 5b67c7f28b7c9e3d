package graft.operators

import graft.Tables
import graft.functions.GridWindow
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** RFM segmentation (recency / frequency / monetary quintiles) — the
  * classic customer-base census (Hughes 1994; every CRM and growth
  * team's first cut): score each user 1..5 on how recently they
  * acted, how often, and how much value they carried, then count the
  * 5×5×5 segments — champions (555) to hibernating (111) — the
  * frame retention campaigns and LTV models are aimed with.
  *
  * Determinism + scale in one design: scores come from VALUE-GRID
  * bucketing, not per-user ranks — each dimension folds to its
  * (value, user-count) grid (recency in whole hours is bounded by
  * the SPAN, frequency by max per-user activity, monetary quantized
  * to whole currency units — grids bounded by value RANGE, never by
  * user count), the running count over the grid rides one
  * [[GridWindow]] pass (the Psi-edges discipline), and a user's
  * quintile is ⌊cum_before·5/n⌋ — pure integer arithmetic, ALL TIES
  * SHARE A BUCKET (a row_number rank would split equal-value users
  * across quintiles by tiebreak — the classic nondeterminism). The
  * three tiny grids broadcast back onto one per-user fold; the
  * readout is ≤ 125 segment rows.
  */
object Rfm {

  private val HourUs = 3600000000L

  def rfm(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val hi = ev.agg(max(unix_micros(col("ts"))).as("hi_us"))
    val users = Iterate.materialize(ev.crossJoin(broadcast(hi))
      .groupBy(col("user_id"))
      .agg(min(expr(s"(hi_us - unix_micros(ts)) div $HourUs")).as("rec"),
        count(lit(1)).cast("long").as("freq"),
        (coalesce(sum(floor(col("value") * 100 + 0.5).cast("long")), lit(0L)))
          .as("mon_c"))
      .withColumn("mon", expr("mon_c div 100"))
      .select(col("user_id"), col("rec"), col("freq"), col("mon")))
    def scores(dim: String, bestIsHigh: Boolean): DataFrame = {
      val grid = users.groupBy(col(dim)).agg(count(lit(1)).as("c"))
      val w = GridWindow.ord(col(dim))
      val cum = grid
        .withColumn("cumb", sum(col("c")).over(w) - col("c"))
        .withColumn("n", sum(col("c")).over(GridWindow.all))
      val bucket = expr("(cumb * 5) div n") // 0..4, ties share
      cum.select(col(dim),
        (if (bestIsHigh) bucket + 1L else lit(5L) - bucket)
          .as(s"${dim}_score"))
    }
    users
      .join(broadcast(scores("rec", bestIsHigh = false)), "rec")
      .join(broadcast(scores("freq", bestIsHigh = true)), "freq")
      .join(broadcast(scores("mon", bestIsHigh = true)), "mon")
      .groupBy(col("rec_score").as("r"), col("freq_score").as("f"),
        col("mon_score").as("m"))
      .agg(count(lit(1)).cast("long").as("n_users"),
        sum(col("mon")).cast("long").as("mon_total"))
      .orderBy(col("r"), col("f"), col("m"))
  }

  val rfmSql: String = {
    def grid(dim: String, scoreExpr: String) =
      s"""(SELECT $dim,
         |   $scoreExpr AS ${dim}_score
         | FROM (
         |   SELECT $dim, sum(c) OVER (ORDER BY $dim ROWS UNBOUNDED PRECEDING) - c AS cumb,
         |          sum(c) OVER () AS n
         |   FROM (SELECT $dim, count(*)::BIGINT AS c FROM users GROUP BY $dim)))""".stripMargin
    s"""WITH hi AS (
       |  SELECT max(epoch_us(ts))::BIGINT AS hi_us FROM events
       |), users AS MATERIALIZED (
       |  SELECT user_id,
       |         min((hi.hi_us - epoch_us(ts)) // $HourUs)::BIGINT AS rec,
       |         count(*)::BIGINT AS freq,
       |         (coalesce(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)), 0)
       |           // 100)::BIGINT AS mon
       |  FROM events CROSS JOIN hi
       |  GROUP BY user_id
       |)
       |SELECT r.rec_score AS r, f.freq_score AS f, m.mon_score AS m,
       |       count(*)::BIGINT AS n_users, sum(u.mon)::BIGINT AS mon_total
       |FROM users u
       |JOIN ${grid("rec", "(5 - (cumb * 5) // n)::BIGINT")} r ON r.rec = u.rec
       |JOIN ${grid("freq", "(1 + (cumb * 5) // n)::BIGINT")} f ON f.freq = u.freq
       |JOIN ${grid("mon", "(1 + (cumb * 5) // n)::BIGINT")} m ON m.mon = u.mon
       |GROUP BY 1, 2, 3
       |ORDER BY r, f, m""".stripMargin
  }
}
