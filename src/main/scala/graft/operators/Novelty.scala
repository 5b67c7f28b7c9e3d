package graft.operators

import graft.Tables
import graft.functions.TextSim
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** q_ngram_novelty — per-eval-document n-gram novelty: what fraction
  * of a held-out document's DISTINCT word-3-gram shingles never occur
  * anywhere in the training split. The memorization audit at n-gram
  * grain — `q_contamination` flags doc pairs sharing enough shingles
  * (a screen: which train docs to pull); this measures, per eval doc,
  * HOW MUCH of it the corpus already contains (novelty 0 = the eval
  * doc is fully reconstructible from training shingles — its score on
  * a trained model measures memory, not generalization; the
  * chi2→mutual-info precedent: screen first, then effect size).
  *
  * Split convention shared with `q_contamination`/`q_dsir`:
  * eval = doc_id % EvalMod == 0, train is the rest — the same held-out
  * set every contamination-family query audits.
  *
  * Determinism: counts are exact BIGINTs over DISTINCT shingles;
  * novelty is one integer micro-division (1e6·novel div n) — engines
  * cannot disagree.
  *
  * Scale shape: the eval suite is bounded by construction (the
  * contamination broadcast argument), so its distinct-shingle table
  * broadcasts at any corpus scale; the train side STREAMS past it —
  * the inner join filters train shingles down to the eval-matched set
  * BEFORE the distinct, so the only aggregation state is
  * O(|eval shingles|), never corpus-sized. One shingle derivation
  * feeds both sides; no corpus shuffle anywhere.
  */
object Novelty {

  def noveltyQuery(s: SparkSession, d: String): DataFrame =
    novelty(Tables.documents(s, d).select(col("doc_id"), col("text")))

  /** Library form over a `(doc_id, text)` frame: one novelty row per
    * eval doc (doc_id % EvalMod == 0) with >= 3 tokens.
    */
  def novelty(docs: DataFrame): DataFrame = {
    val sh = docs
      .select(col("doc_id"), TextSim.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"), explode(TextSim.shingles3(col("t"))).as("shingle"))
    val evalSh = sh.filter(col("doc_id") % Corpus.EvalMod === 0)
      .select(col("doc_id").as("eval_id"), col("shingle")).distinct()
    // train shingles that appear in ANY eval doc — the broadcast gate
    // bounds the distinct state to the eval suite's shingle count
    val seen = sh.filter(col("doc_id") % Corpus.EvalMod =!= 0)
      .join(broadcast(evalSh.select(col("shingle")).distinct()), "shingle")
      .select(col("shingle")).distinct()
      .withColumn("hit", lit(1L))
    evalSh.join(seen, Seq("shingle"), "left")
      .groupBy(col("eval_id"))
      .agg(count(lit(1)).cast("long").as("n_grams"),
        coalesce(sum(col("hit")), lit(0L)).cast("long").as("n_seen"))
      .select(col("eval_id"), col("n_grams"), col("n_seen"),
        expr("(1000000 * (n_grams - n_seen)) div n_grams").as("novelty_micro"))
  }

  val noveltySql: String =
    s"""WITH sh AS (
       |  SELECT doc_id, unnest(${TextSim.shingles3Sql("t")}) AS shingle
       |  FROM (
       |    SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
       |    FROM documents)
       |  WHERE len(t) >= 3
       |), ev AS (
       |  SELECT DISTINCT doc_id AS eval_id, shingle FROM sh
       |  WHERE doc_id % ${Corpus.EvalMod} = 0
       |), seen AS (
       |  SELECT DISTINCT shingle FROM sh
       |  WHERE doc_id % ${Corpus.EvalMod} <> 0
       |    AND shingle IN (SELECT shingle FROM ev)
       |)
       |SELECT eval_id, count(*)::BIGINT AS n_grams,
       |       count(s.shingle)::BIGINT AS n_seen,
       |       (1000000 * (count(*) - count(s.shingle))) // count(*) AS novelty_micro
       |FROM ev e LEFT JOIN seen s ON e.shingle = s.shingle
       |GROUP BY eval_id
       |ORDER BY eval_id""".stripMargin
}
