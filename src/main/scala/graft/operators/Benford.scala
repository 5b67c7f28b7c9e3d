package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Benford first-digit screen over the order-value column — the
  * classic forged-data / broken-feed detector (Benford 1938; the audit
  * standard since Nigrini): naturally-occurring multi-scale amounts
  * have first significant digit d with probability log10(1 + 1/d);
  * synthetic, truncated, or unit-mixed feeds don't. A data-quality
  * rung next to q_dq_checks (nulls/ranges) and q_col_profile
  * (type/shape): those catch malformed values, this catches PLAUSIBLE
  * values with the wrong generating process.
  *
  * Exactness: the nine observed counts are exact integers (one
  * partial-agg fold over the scan — the first-digit extraction is a
  * per-row string op, no shuffle before the 9-group fold); the Benford
  * probabilities are irrational, so they enter as micro-rounded
  * literals computed ONCE here and interpolated into BOTH engines
  * (the house constant rule); the χ² statistic rides the integer
  * lattice — per-digit contribution = (obs_micro − exp_micro)² div
  * exp_micro with the square in 38-digit decimal (a corpus of 10^11
  * rows would overflow int64 — DuckDB's HUGEINT and Spark's
  * decimal(38,0) `div` truncate identically). Verdict: χ²₈ at α=0.05.
  *
  * Output: one row per digit `(digit, n, share_micro, benford_micro,
  * chi2_contrib_micro, chi2_total_micro, biased)`.
  */
object Benford {

  /** round(log10(1 + 1/d) · 1e6) for d = 1..9 — micro literals shared
    * by both engines.
    */
  val PMicro: Seq[Long] =
    (1 to 9).map(d => math.round(math.log10(1.0 + 1.0 / d) * 1e6))

  /** χ²(8 df) critical value at α = 0.05, micro-rounded. */
  val Chi2CritMicro = 15507313L

  def benford(s: SparkSession, d: String): DataFrame = {
    val digits = Tables.orders(s, d)
      .select(substring(regexp_replace(col("o_totalprice").cast("string"),
        "[^1-9]", ""), 1, 1).as("digit"))
      .filter(col("digit") =!= "")
      .groupBy(col("digit"))
      .agg(count(lit(1)).cast("long").as("n"))
    val spine = s.range(1, 10)
      .select(col("id").cast("string").as("digit"),
        element_at(typedLit(PMicro), col("id").cast("int")).as("benford_micro"))
    val per = Iterate.materialize(spine.join(digits, Seq("digit"), "left_outer")
      .select(col("digit"), coalesce(col("n"), lit(0L)).as("n"),
        col("benford_micro"))
      .crossJoin(broadcast(
        digits.agg(sum(col("n")).cast("long").as("total"))))
      .withColumn("share_micro", expr("(n * 1000000) div total"))
      .withColumn("exp_micro", expr("total * benford_micro"))
      .withColumn("chi2_contrib_micro", expr(
        """cast(cast(n * 1000000 - exp_micro as decimal(38,0))
          |     * cast(n * 1000000 - exp_micro as decimal(38,0))
          |     div cast(exp_micro as decimal(38,0)) as bigint)""".stripMargin)))
    per.crossJoin(broadcast(per.agg(
      sum(col("chi2_contrib_micro")).cast("long").as("chi2_total_micro"))))
      .select(col("digit"), col("n"), col("share_micro"),
        col("benford_micro"), col("chi2_contrib_micro"),
        col("chi2_total_micro"),
        (col("chi2_total_micro") > Chi2CritMicro).cast("int").as("biased"))
      .orderBy(col("digit"))
  }

  val benfordSql: String = {
    val pRows = PMicro.zipWithIndex
      .map { case (p, i) => s"(${i + 1}, ${p}::BIGINT)" }.mkString(", ")
    s"""WITH obs AS (
       |  SELECT substr(regexp_replace(o_totalprice::VARCHAR, '[^1-9]', '', 'g'),
       |                1, 1) AS digit,
       |         count(*)::BIGINT AS n
       |  FROM orders
       |  WHERE substr(regexp_replace(o_totalprice::VARCHAR, '[^1-9]', '', 'g'),
       |               1, 1) <> ''
       |  GROUP BY 1
       |), spine(d, benford_micro) AS (VALUES $pRows),
       |tot AS (SELECT sum(n)::BIGINT AS total FROM obs),
       |per AS MATERIALIZED (
       |  SELECT s.d::VARCHAR AS digit, coalesce(o.n, 0)::BIGINT AS n,
       |         s.benford_micro,
       |         (coalesce(o.n, 0) * 1000000) // t.total AS share_micro,
       |         ((coalesce(o.n, 0) * 1000000 - t.total * s.benford_micro)::HUGEINT
       |          * (coalesce(o.n, 0) * 1000000 - t.total * s.benford_micro)
       |          // (t.total * s.benford_micro)::HUGEINT)::BIGINT
       |           AS chi2_contrib_micro
       |  FROM spine s CROSS JOIN tot t
       |  LEFT JOIN obs o ON o.digit = s.d::VARCHAR
       |)
       |SELECT digit, n, share_micro::BIGINT AS share_micro, benford_micro,
       |       chi2_contrib_micro,
       |       (SELECT sum(chi2_contrib_micro) FROM per)::BIGINT
       |         AS chi2_total_micro,
       |       (CASE WHEN (SELECT sum(chi2_contrib_micro) FROM per)
       |                  > $Chi2CritMicro THEN 1 ELSE 0 END)::INT AS biased
       |FROM per
       |ORDER BY digit""".stripMargin
  }
}
