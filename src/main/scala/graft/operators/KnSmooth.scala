package graft.operators

import graft.Tables
import graft.functions.TextSim
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Kneser–Ney smoothed bigram language model — the LM-data rung the
  * text family was missing (Kneser & Ney 1995; Chen & Goodman 1998's
  * interpolated form, THE standard n-gram smoother): unlike raw MLE
  * (q_pmi / q_skipgram count co-occurrence), KN answers "what
  * probability should an UNSEEN continuation get" — the quantity a
  * data pipeline needs to score text against a reference corpus
  * without assigning zero to novel bigrams.
  *
  *   P(w2|w1) = max(c(w1w2) − d, 0)/c(w1·) + λ(w1)·Pcont(w2)
  *   λ(w1)    = d·N1+(w1·)/c(w1·)       (mass reserved for unseen)
  *   Pcont(w2) = N1+(·w2)/N1+(··)       (type, not token, frequency)
  *
  * Exactness: d = 3/4, so every term is RATIONAL — multiply through
  * by 4·c(w1·)·N1+(··) and the whole probability is one integer
  * division: p_micro = (max(4c₁₂−3,0)·N·1e6 + 3·N1(w1)·Nc(w2)·1e6)
  * div (4·c₁·N), computed in 38-digit decimal / HUGEINT (token
  * counts at 100 TB overflow int64 in the cross products). No libm
  * anywhere. KnSmoothSpec hand-checks the algebra and the
  * reserved-mass identity Σ_seen P + λ·(residual cont. mass) = 1.
  *
  * Scale: one corpus pass explodes adjacent-token bigrams (narrow,
  * map-side partial agg to ≤|V|² rows); every later frame is
  * vocab-sized (unigram/continuation folds, all broadcastable);
  * the head is a TakeOrdered top-k under a total order.
  *
  * Output: top-20 `(w1, w2, c12, c1, n1_w1, ncont_w2, p_kn_micro)`
  * by (p desc, w1, w2).
  */
object KnSmooth {

  val TopK = 20

  def knSmooth(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), TextSim.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
    val bigrams = Iterate.materialize(toks.select(explode(transform(
      sequence(lit(1), size(col("t")) - 1),
      i => struct(element_at(col("t"), i).as("w1"),
        element_at(col("t"), (i + 1).cast("int")).as("w2")))).as("b"))
      .groupBy(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .agg(count(lit(1)).cast("long").as("c12")))
    val c1 = bigrams.groupBy(col("w1"))
      .agg(sum(col("c12")).cast("long").as("c1"),
        count(lit(1)).cast("long").as("n1_w1"))
    val ncont = bigrams.groupBy(col("w2"))
      .agg(count(lit(1)).cast("long").as("ncont_w2"))
    val ntot = bigrams.agg(count(lit(1)).cast("long").as("n_types"))
    bigrams
      .join(broadcast(c1), Seq("w1"))
      .join(broadcast(ncont), Seq("w2"))
      .crossJoin(broadcast(ntot))
      .withColumn("p_kn_micro", expr(
        """cast((cast(greatest(4 * c12 - 3, 0) as decimal(38,0)) * n_types
          |      + cast(3 * n1_w1 as decimal(38,0)) * ncont_w2) * 1000000
          |     div (cast(4 * c1 as decimal(38,0)) * n_types) as bigint)"""
          .stripMargin))
      .select(col("w1"), col("w2"), col("c12"), col("c1"), col("n1_w1"),
        col("ncont_w2"), col("p_kn_micro"))
      .orderBy(col("p_kn_micro").desc, col("w1"), col("w2"))
      .limit(TopK)
  }

  val knSmoothSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
       |  FROM documents
       |), bigrams AS MATERIALIZED (
       |  SELECT w1, w2, count(*)::BIGINT AS c12 FROM (
       |    SELECT unnest([t[i] for i in range(1, len(t))]) AS w1,
       |           unnest([t[i + 1] for i in range(1, len(t))]) AS w2
       |    FROM toks WHERE len(t) >= 2)
       |  GROUP BY w1, w2
       |), c1 AS (
       |  SELECT w1, sum(c12)::BIGINT AS c1, count(*)::BIGINT AS n1_w1
       |  FROM bigrams GROUP BY w1
       |), ncont AS (
       |  SELECT w2, count(*)::BIGINT AS ncont_w2 FROM bigrams GROUP BY w2
       |), ntot AS (SELECT count(*)::BIGINT AS n_types FROM bigrams)
       |SELECT b.w1, b.w2, b.c12, c.c1, c.n1_w1, n.ncont_w2,
       |       ((greatest(4 * b.c12 - 3, 0)::HUGEINT * t.n_types
       |         + (3 * c.n1_w1)::HUGEINT * n.ncont_w2) * 1000000
       |        // ((4 * c.c1)::HUGEINT * t.n_types))::BIGINT AS p_kn_micro
       |FROM bigrams b
       |JOIN c1 c ON c.w1 = b.w1
       |JOIN ncont n ON n.w2 = b.w2
       |CROSS JOIN ntot t
       |ORDER BY p_kn_micro DESC, b.w1, b.w2
       |LIMIT $TopK""".stripMargin
}
