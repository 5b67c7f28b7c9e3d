package graft.operators

import graft.Tables
import graft.functions.TextSim
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Weight-of-Evidence / Information Value feature screen (the
  * credit-scoring standard — Siddiqi 2006; Kullback 1959's J-divergence
  * in per-bucket form) for a categorical feature against a binary
  * target: here "does `source` predict English?" — the
  * feature-selection counterpart of `q_chi2` (is the association
  * real?) and `q_mutual_info` (how big in nats?): WOE gives the
  * PER-BUCKET log-odds direction a scorecard consumes directly, and
  * IV = Σ (p_good − p_bad)·WOE is the screening scalar with the
  * folklore operating bands (<0.02 useless, >0.3 strong).
  *
  * Determinism: WOE decomposes into micro-nat logs of pure COUNTS —
  * woe = [L(good+1) − L(G+m)] − [L(bad+1) − L(B+m)], L(c) =
  * ⌊1e6·ln c + 0.5⌋ (the [[MutualInfo]] rule: one libm call per
  * integer count, identical in both engines) — with +1/+m Laplace
  * smoothing keeping every log finite on all-good/all-bad buckets
  * (the standard WOE epsilon, integer-friendly form). Each IV
  * contribution is ONE double expression — exact decimal/HUGEINT
  * proportion-difference numerator over the exact denominator, times
  * woe — r6-rounded per bucket, and the total is the order-free
  * DECIMAL sum of the rounded contributions (the q_chi2
  * readability-rollup rule).
  *
  * Scale: one corpus fold to the |sources| 2-cell contingency frame;
  * totals are a 1-row broadcast; everything downstream is
  * census-bounded. At 100 TB the fold is map-side combined on
  * (source) — no other shuffle exists.
  */
object Woe {

  private def lnMicro(c: Column): Column =
    floor(log(c.cast("double")) * 1e6 + 0.5).cast("long")

  def woeIv(s: SparkSession, d: String): DataFrame =
    woeOf(Tables.documents(s, d)
      .select(col("source").as("bucket"),
        (col("lang") === "en").cast("long").as("good")))

  /** WOE/IV over any (bucket, good∈{0,1}) frame. */
  private[graft] def woeOf(rows: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val all = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val cells = rows.groupBy(col("bucket"))
      .agg(sum(col("good")).cast("long").as("good"),
        sum(lit(1L) - col("good")).cast("long").as("bad"))
    val tot = cells.agg(
      sum(col("good")).cast("long").as("gs"),
      sum(col("bad")).cast("long").as("bs"),
      count(lit(1)).cast("long").as("m"))
    cells.crossJoin(broadcast(tot))
      .withColumn("woe_micro",
        (lnMicro(col("good") + 1L) - lnMicro(col("gs") + col("m"))) -
          (lnMicro(col("bad") + 1L) - lnMicro(col("bs") + col("m"))))
      .withColumn("iv_contrib", TextSim.r6(
        (((col("good") + 1L).cast("decimal(38,0)") * (col("bs") + col("m")) -
          (col("bad") + 1L).cast("decimal(38,0)") * (col("gs") + col("m")))
          .cast("double") /
          ((col("gs") + col("m")).cast("decimal(38,0)") *
            (col("bs") + col("m"))).cast("double")) *
          (col("woe_micro").cast("double") / lit(1e6))))
      .withColumn("iv_total",
        sum(col("iv_contrib").cast("decimal(38,6)")).over(all).cast("double"))
      .select(col("bucket"), (col("good") + col("bad")).as("n_docs"),
        col("good"), col("bad"), col("woe_micro"), col("iv_contrib"),
        col("iv_total"))
  }

  val woeIvSql: String = {
    def ln(c: String) = s"floor(ln(($c)::DOUBLE) * 1e6 + 0.5)::BIGINT"
    s"""WITH cells AS (
       |  SELECT source AS bucket,
       |         sum((lang = 'en')::BIGINT)::BIGINT AS good,
       |         sum((lang <> 'en')::BIGINT)::BIGINT AS bad
       |  FROM documents GROUP BY 1
       |), tot AS (
       |  SELECT sum(good)::BIGINT AS gs, sum(bad)::BIGINT AS bs,
       |         count(*)::BIGINT AS m
       |  FROM cells
       |), scored AS (
       |  SELECT bucket, good, bad,
       |         (${ln("good + 1")} - ${ln("gs + m")})
       |           - (${ln("bad + 1")} - ${ln("bs + m")}) AS woe_micro,
       |         gs, bs, m
       |  FROM cells CROSS JOIN tot
       |), contrib AS (
       |  SELECT bucket, (good + bad)::BIGINT AS n_docs, good, bad, woe_micro,
       |         ${TextSim.r6Sql(
      """(((good + 1)::HUGEINT * (bs + m) - (bad + 1)::HUGEINT * (gs + m))::DOUBLE
         / ((gs + m)::HUGEINT * (bs + m))::DOUBLE) * (woe_micro::DOUBLE / 1e6)""")}
       |           AS iv_contrib
       |  FROM scored
       |)
       |SELECT bucket, n_docs, good, bad, woe_micro, iv_contrib,
       |       sum(iv_contrib::DECIMAL(38,6)) OVER ()::DOUBLE AS iv_total
       |FROM contrib ORDER BY bucket""".stripMargin
  }
}
