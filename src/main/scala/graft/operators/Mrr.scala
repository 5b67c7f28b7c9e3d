package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Mean Reciprocal Rank of the embedding space itself (Voorhees 1999,
  * the TREC QA metric) — the RETRIEVAL-quality readout completing the
  * ANN evaluation family: `q_knn_eval` scores the space as a
  * CLASSIFIER (majority label of the top-k), `q_ann_ivf`/`q_ann_rerank`
  * score an INDEX against brute-force truth; MRR scores the space as
  * a SEARCH system — at what rank does the first RELEVANT (same-label)
  * neighbor appear? 1/rank_first averaged over queries, plus
  * recall@10 (did it appear in a first results page at all). An
  * embedding model regression shows up here (relevant items drift
  * down-rank) before the top-1 classifier accuracy moves.
  *
  * Determinism: the first-relevant rank NEVER materializes a global
  * ranking — it is 1 + the COUNT of neighbors strictly ordered above
  * the best same-label neighbor under the house total order
  * (cos desc, vec_id asc), with the best itself an argmax by
  * struct-max of (cos, −vec_id) — both engines agree because cosine
  * values are bit-identical (the q_ann_brute precedent) and ties
  * break on the integer id. Reciprocal ranks are exact integers
  * (1e6 div rank), their mean an exact integer div; recall@10 an
  * exact integer ratio. Queries whose label has no second member are
  * ORPHANS: excluded from the mean (reported), not scored 0 — a
  * singleton label says nothing about the space.
  *
  * Scale: queries are a 1-in-10 slice; the scored frame is
  * |corpus|×|queries| partial-agged per query with nothing retained
  * but counts — the q_auc no-global-sort discipline. At 100 TB the
  * brute pass is the CALIBRATION arm run on a sample; the IVF path
  * (`q_ann_ivf`) is the production search this metric audits.
  */
object Mrr {

  def mrr(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"), col("label").cast("long").as("label"))
      .withColumn("nrm", Ann.norm(col("embedding")))
    mrrOf(e, e.filter(col("vec_id") % 10 === 0))
  }

  /** MRR of `queries` against `vectors` (both carrying vec_id,
    * embedding, label, nrm); self-matches excluded.
    */
  private[graft] def mrrOf(vectors: DataFrame, queries: DataFrame): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb"), col("nrm").as("q_nrm"),
      col("label").as("q_lbl"))
    val scored = Iterate.materialize(vectors.crossJoin(q)
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("q_lbl"), col("vec_id"), col("label"),
        Ann.cosine(col("q_emb"), col("q_nrm"), col("embedding"), col("nrm"))
          .as("cos_sim"))) // best-relevant argmax + rank count both read it
    val best = scored.filter(col("label") === col("q_lbl"))
      .groupBy(col("query_id"))
      .agg(max(struct(col("cos_sim"), (-col("vec_id")).as("nvid"))).as("b"))
      .select(col("query_id"), col("b.cos_sim").as("best_cos"),
        (-col("b.nvid")).as("best_vid"))
    val ranks = scored.join(best, Seq("query_id"))
      .groupBy(col("query_id"))
      .agg((sum(when(col("cos_sim") > col("best_cos") ||
        (col("cos_sim") === col("best_cos") && col("vec_id") < col("best_vid")),
        1L).otherwise(0L)) + 1L).cast("long").as("rank_first"))
      .withColumn("rr_micro", expr("1000000 div rank_first"))
    val nq = q.agg(count(lit(1)).cast("long").as("n_queries"))
    ranks.agg(
      count(lit(1)).cast("long").as("n_covered"),
      sum(col("rr_micro")).cast("long").as("srr"),
      sum(when(col("rank_first") <= 10L, 1L).otherwise(0L)).cast("long").as("h10"))
      .crossJoin(broadcast(nq))
      .select(col("n_queries"),
        col("n_covered"),
        (col("n_queries") - col("n_covered")).as("n_orphans"),
        when(col("n_covered") > 0L, expr("srr div n_covered"))
          .as("mean_rr_micro"),
        when(col("n_covered") > 0L, expr("(h10 * 1000000) div n_covered"))
          .as("recall10_micro"))
  }

  val mrrSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, embedding, label::BIGINT AS label,
       |         sqrt(${Ann.dotSql("embedding", "embedding")}) AS nrm
       |  FROM embeddings
       |), q AS (
       |  SELECT vec_id AS query_id, embedding AS q_emb, nrm AS q_nrm,
       |         label AS q_lbl
       |  FROM e WHERE vec_id % 10 = 0
       |), scored AS MATERIALIZED (
       |  SELECT q.query_id, q.q_lbl, e.vec_id, e.label,
       |         ${Ann.cosineSql("q.q_emb", "q.q_nrm", "e.embedding", "e.nrm")} AS cos_sim
       |  FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id
       |), best AS (
       |  SELECT query_id, cos_sim AS best_cos, vec_id AS best_vid
       |  FROM (
       |    SELECT query_id, cos_sim, vec_id,
       |           row_number() OVER (PARTITION BY query_id
       |             ORDER BY cos_sim DESC, vec_id) AS rn
       |    FROM scored WHERE label = q_lbl)
       |  WHERE rn = 1
       |), ranks AS (
       |  SELECT s.query_id,
       |         (sum(CASE WHEN s.cos_sim > b.best_cos
       |                     OR (s.cos_sim = b.best_cos AND s.vec_id < b.best_vid)
       |                   THEN 1 ELSE 0 END) + 1)::BIGINT AS rank_first
       |  FROM scored s JOIN best b ON b.query_id = s.query_id
       |  GROUP BY s.query_id
       |), folded AS (
       |  SELECT count(*)::BIGINT AS n_covered,
       |         sum(1000000 // rank_first)::BIGINT AS srr,
       |         sum(CASE WHEN rank_first <= 10 THEN 1 ELSE 0 END)::BIGINT AS h10
       |  FROM ranks
       |)
       |SELECT (SELECT count(*) FROM q)::BIGINT AS n_queries,
       |       n_covered,
       |       ((SELECT count(*) FROM q) - n_covered)::BIGINT AS n_orphans,
       |       CASE WHEN n_covered > 0 THEN srr // n_covered END::BIGINT
       |         AS mean_rr_micro,
       |       CASE WHEN n_covered > 0 THEN (h10 * 1000000) // n_covered
       |            END::BIGINT AS recall10_micro
       |FROM folded""".stripMargin
}
