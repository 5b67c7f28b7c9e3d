package graft.operators

import graft.Tables
import graft.functions.TextSim
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Unseen-vocabulary estimation per source — Chao1 richness (Chao
  * 1984) and Good–Turing sample coverage (Good 1953): from the
  * frequency-of-frequencies alone (f₁ singletons, f₂ doubletons),
  * how many word types does this source USE that the crawl hasn't
  * seen yet, and what probability mass do the unseen types carry?
  * The capture–recapture idea pointed at vocabulary — and the
  * forward-looking twin of `q_heaps` (which fits the growth curve to
  * the past): a source with high unseen mass rewards MORE crawling;
  * one with coverage ≈ 1 is exhausted.
  *
  * Determinism — exact integers only: the bias-corrected Chao1 form
  * V + f₁(f₁−1)/(2(f₂+1)) (defined at f₂ = 0, unlike the classic
  * f₁²/2f₂) rides one truncating div in micro units; Good–Turing
  * coverage 1 − f₁/N is an exact micro ratio. Both engines fold the
  * same (source, term) tf frame — no doubles anywhere.
  *
  * Scale: one corpus explode folded map-side to (source, term) tf;
  * the frequency-of-frequencies re-fold is grid-bounded; ≤|sources|
  * output rows.
  */
object Chao {

  def chao1(s: SparkSession, d: String): DataFrame =
    chao1Of(Tables.documents(s, d)
      .select(col("source"), TextSim.tokens(col("text")).as("t"))
      .select(col("source"), explode(col("t")).as("term")))

  /** Chao1 + coverage per source over a (source, term) token frame. */
  private[graft] def chao1Of(toks: DataFrame): DataFrame = {
    val tf = toks.groupBy(col("source"), col("term"))
      .agg(count(lit(1)).cast("long").as("y"))
    tf.groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("v_types"),
        sum(col("y")).cast("long").as("n_tokens"),
        sum(when(col("y") === 1L, 1L).otherwise(0L)).cast("long").as("f1"),
        sum(when(col("y") === 2L, 1L).otherwise(0L)).cast("long").as("f2"))
      .withColumn("chao1_micro", expr(
        """v_types * 1000000
           + (f1 * (f1 - 1) * 1000000) div (2 * (f2 + 1))"""))
      .withColumn("unseen_micro",
        col("chao1_micro") - col("v_types") * 1000000L)
      .withColumn("coverage_micro", expr(
        "1000000 - (f1 * 1000000) div n_tokens"))
      .select(col("source"), col("n_tokens"), col("v_types"), col("f1"),
        col("f2"), col("chao1_micro"), col("unseen_micro"),
        col("coverage_micro"))
  }

  val chao1Sql: String =
    s"""WITH toks AS (
       |  SELECT source, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
       |  FROM documents
       |), tf AS (
       |  SELECT source, term, count(*)::BIGINT AS y FROM toks GROUP BY 1, 2
       |), folded AS (
       |  SELECT source, count(*)::BIGINT AS v_types, sum(y)::BIGINT AS n_tokens,
       |         sum(CASE WHEN y = 1 THEN 1 ELSE 0 END)::BIGINT AS f1,
       |         sum(CASE WHEN y = 2 THEN 1 ELSE 0 END)::BIGINT AS f2
       |  FROM tf GROUP BY source
       |)
       |SELECT source, n_tokens, v_types, f1, f2,
       |       (v_types * 1000000
       |        + (f1 * (f1 - 1) * 1000000) // (2 * (f2 + 1)))::BIGINT AS chao1_micro,
       |       ((f1 * (f1 - 1) * 1000000) // (2 * (f2 + 1)))::BIGINT AS unseen_micro,
       |       (1000000 - (f1 * 1000000) // n_tokens)::BIGINT AS coverage_micro
       |FROM folded ORDER BY source""".stripMargin
}
