package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Cohen's kappa inter-annotator agreement (Cohen 1960) between the
  * stopword-profile language identifier ([[TextAnalysis.langId]]) and
  * the corpus's stored `lang` labels — the chance-corrected agreement
  * every labeling pipeline reports before trusting either annotator:
  * raw accuracy rewards a rater for just predicting the majority
  * class; κ = (p_o − p_e)/(1 − p_e) subtracts the agreement two
  * INDEPENDENT raters with these marginals would reach by chance
  * (a classifier that answers "en" always scores p_o = 44% here but
  * κ = 0 — asserted in spec). The cross-OPERATOR readout: a lang-id
  * regression shows up as a κ drop even when the corpus's language
  * mix shifts enough to move raw accuracy the other way.
  *
  * Determinism — exact integers end to end: κ is the rational
  * (n·a − Σ r_k·c_k)/(n² − Σ r_k·c_k) (a = agreements, r/c = the two
  * raters' marginals), micro-fixed with ONE truncating div; p_o and
  * p_e ride as exact micro ratios; products on decimal(38,0)/HUGEINT
  * (n² wraps int64 past ~3e9 docs). Both raters constant-and-equal
  * makes p_e = 1 (zero denominator) → NULL κ, guarded identically in
  * both engines.
  *
  * Scale: the prediction is a per-row map on the documents scan
  * (higher-order functions, no UDF); one fold to the ≤|langs|²
  * confusion frame; marginals re-fold from it; 1-row readout.
  */
object Kappa {

  def kappa(s: SparkSession, d: String): DataFrame = {
    val pred = TextAnalysis.langId(s, d).select(col("doc_id"), col("pred_lang"))
    val pairs = Tables.documents(s, d).select(col("doc_id"), col("lang"))
      .join(pred, Seq("doc_id"))
      .select(col("lang").as("r1"), col("pred_lang").as("r2"))
    kappaOf(pairs)
  }

  /** κ over any two-rater (r1, r2) label frame. */
  private[graft] def kappaOf(pairs: DataFrame): DataFrame = {
    val conf = Iterate.materialize(pairs.groupBy(col("r1"), col("r2"))
      .agg(count(lit(1)).cast("long").as("o")))
    val tot = conf.agg(sum(col("o")).cast("long").as("n"),
      sum(when(col("r1") === col("r2"), col("o")).otherwise(0L))
        .cast("long").as("agree"))
    val m1 = conf.groupBy(col("r1")).agg(sum(col("o")).cast("long").as("rk"))
    val m2 = conf.groupBy(col("r2")).agg(sum(col("o")).cast("long").as("ck"))
    val pe = m1.join(m2, col("r1") === col("r2"))
      .agg(sum(col("rk").cast("decimal(38,0)") * col("ck")).as("src"))
    tot.crossJoin(broadcast(pe))
      .withColumn("src", coalesce(col("src"), lit(0L).cast("decimal(38,0)")))
      .select(col("n").as("n_docs"), col("agree").as("n_agree"),
        expr("(agree * 1000000) div n").as("po_micro"),
        expr("cast((src * 1000000) div (cast(n as decimal(38,0)) * n) as long)")
          .as("pe_micro"),
        when(col("n").cast("decimal(38,0)") * col("n") =!= col("src"),
          expr("""cast(((cast(n as decimal(38,0)) * agree - src) * 1000000)
                  div (cast(n as decimal(38,0)) * n - src) as long)"""))
          .as("kappa_micro"))
  }

  val kappaSql: String =
    s"""WITH pred AS (
       |${TextAnalysis.langPredSql.linesIterator.map("  " + _).mkString("\n")}
       |), pairs AS (
       |  SELECT d.lang AS r1, p.pred_lang AS r2
       |  FROM documents d JOIN pred p ON p.doc_id = d.doc_id
       |), conf AS MATERIALIZED (
       |  SELECT r1, r2, count(*)::BIGINT AS o FROM pairs GROUP BY 1, 2
       |), tot AS (
       |  SELECT sum(o)::BIGINT AS n,
       |         sum(CASE WHEN r1 = r2 THEN o ELSE 0 END)::BIGINT AS agree
       |  FROM conf
       |), pe AS (
       |  SELECT coalesce(sum(m1.rk::HUGEINT * m2.ck), 0)::HUGEINT AS src
       |  FROM (SELECT r1, sum(o)::BIGINT AS rk FROM conf GROUP BY r1) m1
       |  JOIN (SELECT r2, sum(o)::BIGINT AS ck FROM conf GROUP BY r2) m2
       |    ON m2.r2 = m1.r1
       |)
       |SELECT n AS n_docs, agree AS n_agree,
       |       (agree * 1000000) // n AS po_micro,
       |       ((src * 1000000) // (n::HUGEINT * n))::BIGINT AS pe_micro,
       |       CASE WHEN n::HUGEINT * n <> src
       |            THEN ((n::HUGEINT * agree - src) * 1000000)
       |                 // (n::HUGEINT * n - src)
       |            END::BIGINT AS kappa_micro
       |FROM tot CROSS JOIN pe""".stripMargin
}
