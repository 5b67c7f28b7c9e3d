package graft.operators

import graft.Tables
import graft.functions.TextSim
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** k-NN label-agreement evaluation of the embedding space — the
  * standard REPRESENTATION-quality probe (the "kNN accuracy" column of
  * every embedding paper since word2vec): each eval vector's
  * [[K]]-nearest neighbors vote on its label; per label the majority
  * -vote accuracy and the raw neighbor-agreement rate. Low agreement
  * for a label = that class is not linearly separated in the space —
  * the signal that `q_silhouette` reads per CLUSTER, read here per
  * ANNOTATION; together they say whether the `label` column can be
  * served by similarity search at all (the store's filtered-search
  * quality floor).
  *
  * Determinism: the neighbor ranking is the `q_ann_brute` contract
  * verbatim (r6 cosine desc, vec_id asc — bit-identical both
  * engines); votes are exact counts with ties to the SMALLEST label
  * (`max(struct(c, -label))` — no window); accuracies divide once,
  * r6.
  *
  * Scale: the eval slice is a BOUNDED query set (10% here; an eval
  * probe, never the corpus) broadcast through the partial-top-k brute
  * pass — swap in the stored IVF-PQ index past local scale
  * ([[graft.sources.IndexStore]], same ranking contract). Everything
  * after the top-k runs on |eval|·[[K]]-row frames: one label join,
  * two bounded folds, a ≤|labels| report.
  */
object KnnEval {

  val K = 5

  /** Per-label kNN eval over `(vec_id, embedding, label)` vectors
    * using `queries` as the eval slice:
    * `(label, n_queries, n_correct, acc, agree)`.
    */
  def knnLabelEval(s: SparkSession, vectors: DataFrame,
    queries: DataFrame): DataFrame = {
    val nn = Ann.topKNeighbors(s, vectors, queries, K)
    val lbl = vectors.select(col("vec_id"), col("label").cast("long").as("label"))
    val nl = nn.join(lbl, "vec_id")
      .select(col("query_id"), col("label").as("n_lbl"))
    val ql = lbl.select(col("vec_id").as("query_id"), col("label").as("q_lbl"))
    // majority vote, ties to smallest label — argmax without a window
    val pred = nl.groupBy(col("query_id"), col("n_lbl"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("query_id"))
      .agg(max(struct(col("c"), (-col("n_lbl")).as("nl"))).as("m"))
      .select(col("query_id"), (-col("m.nl")).as("pred"))
    val perQuery = nl.join(ql, "query_id")
      .groupBy(col("query_id"), col("q_lbl"))
      .agg(sum((col("n_lbl") === col("q_lbl")).cast("long")).as("n_agree"))
      .join(pred, "query_id")
    perQuery.groupBy(col("q_lbl").as("label"))
      .agg(count(lit(1)).as("n_queries"),
        sum((col("pred") === col("q_lbl")).cast("long")).as("n_correct"),
        sum(col("n_agree")).as("sum_agree"))
      .select(col("label"), col("n_queries"), col("n_correct"),
        TextSim.r6(col("n_correct").cast("double") / col("n_queries"))
          .as("acc"),
        TextSim.r6(col("sum_agree").cast("double") /
          (col("n_queries") * K)).as("agree"))
  }

  /** q_knn_eval — [[knnLabelEval]] with the vec_id % 10 eval slice. */
  def knnEval(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    knnLabelEval(s, e, e.filter(col("vec_id") % 10 === 0))
  }

  val knnEvalSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, embedding, label::BIGINT AS label,
       |         ${"sqrt(" + Ann.dotSql("embedding", "embedding") + ")"} AS nrm
       |  FROM embeddings
       |), q AS (
       |  SELECT vec_id AS query_id, embedding AS q_emb, nrm AS q_nrm,
       |         label AS q_lbl
       |  FROM e WHERE vec_id % 10 = 0
       |), scored AS (
       |  SELECT q.query_id, q.q_lbl, e.vec_id, e.label AS n_lbl,
       |         ${Ann.cosineSql("q.q_emb", "q.q_nrm", "e.embedding", "e.nrm")} AS cos_sim
       |  FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id
       |), ranked AS (
       |  SELECT query_id, q_lbl, n_lbl,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY cos_sim DESC, vec_id) AS rank
       |  FROM scored
       |), nn AS MATERIALIZED (
       |  SELECT query_id, q_lbl, n_lbl FROM ranked WHERE rank <= $K
       |), pred AS (
       |  SELECT query_id, -(max({'c': c, 'nl': -n_lbl}).nl) AS pred FROM (
       |    SELECT query_id, n_lbl, count(*)::BIGINT AS c
       |    FROM nn GROUP BY query_id, n_lbl
       |  ) GROUP BY query_id
       |), per_query AS (
       |  SELECT nn.query_id, nn.q_lbl,
       |         sum(CASE WHEN nn.n_lbl = nn.q_lbl THEN 1 ELSE 0 END)::BIGINT AS n_agree,
       |         max(pred.pred)::BIGINT AS pred
       |  FROM nn JOIN pred ON pred.query_id = nn.query_id
       |  GROUP BY nn.query_id, nn.q_lbl
       |)
       |SELECT q_lbl AS label, count(*)::BIGINT AS n_queries,
       |       sum(CASE WHEN pred = q_lbl THEN 1 ELSE 0 END)::BIGINT AS n_correct,
       |       ${TextSim.r6Sql("sum(CASE WHEN pred = q_lbl THEN 1 ELSE 0 END)::DOUBLE / count(*)")} AS acc,
       |       ${TextSim.r6Sql(s"sum(n_agree)::DOUBLE / (count(*) * $K)")} AS agree
       |FROM per_query
       |GROUP BY q_lbl
       |ORDER BY label""".stripMargin
}
