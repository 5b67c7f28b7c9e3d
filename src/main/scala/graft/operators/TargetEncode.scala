package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Smoothed target encoding with the leave-one-out (LOO) leakage
  * guard (Micci-Barreca 2001 — the categorical-feature workhorse of
  * gradient-boosting pipelines): encode a high-cardinality category
  * as the smoothed mean of the target, te = (Σ_bucket + k·μ)/(n + k)
  * with prior strength k pulling small buckets toward the global mean
  * μ. The NAIVE encoding leaks the row's own target into its feature
  * (a model can memorize y through te on small buckets); the LOO form
  * excludes each row's own y — te_i = (Σ − y_i + k·μ)/(n − 1 + k) —
  * and a singleton bucket collapses EXACTLY to the prior (its own y
  * contributes nothing — the whole point).
  *
  * Determinism: everything is one exact integer expression — μ stays
  * the RATIONAL S/N (never a rounded intermediate): te_micro =
  * ((Σ − y_i)·N + k·S)·1e6 div ((n − 1 + k)·N), products on
  * decimal(38,0)/HUGEINT (Σ·N ~ corpus² wraps int64), one truncating
  * div per row. The per-source census reports the naive and smoothed
  * bucket encodings plus the LOO spread (min/max/mean) — the spread
  * IS the leakage magnitude a feature auditor reads.
  *
  * Scale: one corpus fold to per-source (n, Σ); the per-row LOO pass
  * is a broadcast join of that ≤|sources| frame back onto the scan —
  * no second shuffle — and the census re-fold is map-side combined.
  */
object TargetEncode {

  /** Prior strength (pseudo-observations pulled toward μ). */
  val K = 10L

  def targetEncode(s: SparkSession, d: String): DataFrame =
    targetEncodeOf(Tables.documents(s, d)
      .select(col("source").as("bucket"), col("n_chars").cast("long").as("y")))

  /** Census of naive / smoothed / LOO encodings over (bucket, y). */
  private[graft] def targetEncodeOf(rows: DataFrame): DataFrame = {
    val bucket = rows.groupBy(col("bucket"))
      .agg(count(lit(1)).cast("long").as("nb"),
        sum(col("y")).cast("long").as("sb"))
    val tot = bucket.agg(sum(col("nb")).cast("long").as("n"),
      sum(col("sb")).cast("long").as("s"))
    val loo = rows
      .join(broadcast(bucket), Seq("bucket"))
      .crossJoin(broadcast(tot))
      .withColumn("te_loo_micro", expr(
        s"""cast(((cast(sb - y as decimal(38,0)) * n + cast($K as decimal(38,0)) * s)
           |  * 1000000) div (cast(nb - 1 + $K as decimal(38,0)) * n) as long)"""
          .stripMargin))
    loo.groupBy(col("bucket"))
      .agg(max(col("nb")).as("n_docs"),
        max(expr("(sb * 1000000) div nb")).as("te_naive_micro"),
        max(expr(
          s"""cast(((cast(sb as decimal(38,0)) * n + cast($K as decimal(38,0)) * s)
             |  * 1000000) div (cast(nb + $K as decimal(38,0)) * n) as long)"""
            .stripMargin)).as("te_smooth_micro"),
        min(col("te_loo_micro")).as("loo_min_micro"),
        max(col("te_loo_micro")).as("loo_max_micro"),
        expr("sum(te_loo_micro) div count(1)").as("loo_mean_micro"))
  }

  val targetEncodeSql: String =
    s"""WITH rows_in AS (
       |  SELECT source AS bucket, n_chars::BIGINT AS y FROM documents
       |), bucket AS (
       |  SELECT bucket, count(*)::BIGINT AS nb, sum(y)::BIGINT AS sb
       |  FROM rows_in GROUP BY 1
       |), tot AS (
       |  SELECT sum(nb)::BIGINT AS n, sum(sb)::BIGINT AS s FROM bucket
       |), loo AS (
       |  SELECT r.bucket, b.nb, b.sb, t.n, t.s,
       |         (((b.sb - r.y)::HUGEINT * t.n + $K::HUGEINT * t.s) * 1000000)
       |           // ((b.nb - 1 + $K)::HUGEINT * t.n) AS te_loo_micro
       |  FROM rows_in r
       |  JOIN bucket b ON b.bucket = r.bucket
       |  CROSS JOIN tot t
       |)
       |SELECT bucket, max(nb)::BIGINT AS n_docs,
       |       max((sb * 1000000) // nb)::BIGINT AS te_naive_micro,
       |       max(((sb::HUGEINT * n + $K::HUGEINT * s) * 1000000)
       |           // ((nb + $K)::HUGEINT * n))::BIGINT AS te_smooth_micro,
       |       min(te_loo_micro)::BIGINT AS loo_min_micro,
       |       max(te_loo_micro)::BIGINT AS loo_max_micro,
       |       (sum(te_loo_micro)::HUGEINT // count(*))::BIGINT AS loo_mean_micro
       |FROM loo GROUP BY bucket ORDER BY bucket""".stripMargin
}
