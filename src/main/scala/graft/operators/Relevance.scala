package graft.operators

import graft.Tables
import graft.functions.TextSim
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Lexical relevance scoring — the keyword-retrieval twin of the vector
  * side (the reference serves a vector store,
  * Notion_openai_vector_etl.py:329-344; a production corpus pipeline
  * pairs it with BM25 for hybrid retrieval and for query-driven corpus
  * selection during training-data curation).
  *
  * Scale shape: the term set is bounded (a query, not the corpus), so
  * tf per term is a fused per-row projection over the scan — the corpus
  * NEVER shuffles. The only aggregates are one 1-row global stats frame
  * (N, avgdl, df per term) broadcast back over the scoring map — the
  * [[Quantize]] stats pattern applied to retrieval. At 100 TB: one scan
  * to calibrate df, one scan to score; both pipelined, no exchange
  * keyed on the corpus.
  */
object Relevance {

  /** Fixed query-term set (bounded by contract, like [[TextAnalysis.Profiles]]). */
  val Terms: Seq[String] = Seq("spark", "query", "join", "stream", "window", "hash")
  val K1 = 1.2
  val B = 0.75

  /** q_bm25 — Okapi BM25 of every document against [[Terms]]:
    * idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5)) (the non-negative
    * "plus-one" idf), tf saturation k1=1.2, length normalization
    * b=0.75. All arithmetic in doubles with the operation order
    * mirrored exactly in the oracle; the one libm call (ln) sits
    * under round-6 on both engines.
    */
  def bm25(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    bm25Score(docs, bm25Stats(docs)).orderBy(col("doc_id"))
  }

  /** Per-doc (dl, tf per term) — the only corpus pass either stage needs. */
  private def tfFrame(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), TextSim.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 1)
      .select(Seq(col("doc_id"), size(col("t")).cast("long").as("dl")) ++
        Terms.zipWithIndex.map { case (w, i) =>
          size(filter(col("t"), x => x === w)).cast("long").as(s"tf$i")
        }: _*)

  /** 1-row raw stats frame `(n_docs, dl_sum, df0..dfk)` — all plain
    * sums, so batch stats MERGE BY ADDITION ([[mergeBm25Stats]]) under
    * append-only ingest: refreshing the retrieval calibration after an
    * ingest batch never rescans old documents (the
    * [[Corpus.vocabCounts]] incremental contract applied to BM25).
    */
  def bm25Stats(docs: DataFrame): DataFrame = {
    val tf = tfFrame(docs)
    tf.agg(
      count(lit(1)).cast("long").as("n_docs"),
      sum(col("dl")).cast("long").as("dl_sum") +:
        Terms.indices.map(i =>
          sum((col(s"tf$i") > 0).cast("long")).cast("long").as(s"df$i")): _*)
  }

  /** Add two batch stats frames (disjoint doc sets by the append-only
    * ingest contract).
    */
  def mergeBm25Stats(a: DataFrame, b: DataFrame): DataFrame =
    a.unionAll(b).agg(
      sum(col("n_docs")).cast("long").as("n_docs"),
      sum(col("dl_sum")).cast("long").as("dl_sum") +:
        Terms.indices.map(i =>
          sum(col(s"df$i")).cast("long").as(s"df$i")): _*)

  /** Score a corpus against a (possibly merged) stats frame. */
  def bm25Score(docs: DataFrame, stats: DataFrame): DataFrame = {
    val avgdl = col("dl_sum").cast("double") / col("n_docs")
    // IEEE add/mult are commutative, so Column-op-Double forms below are
    // bit-identical to the oracle's `0.25 + 0.75 * x` / `1.2 * y` order.
    val contrib: Seq[org.apache.spark.sql.Column] = Terms.indices.map { i =>
      val idf = log(lit(1.0) +
        ((col("n_docs") - col(s"df$i")).cast("double") + 0.5) /
          (col(s"df$i").cast("double") + 0.5))
      val denom = col(s"tf$i").cast("double") +
        ((col("dl").cast("double") / avgdl) * B + (1.0 - B)) * K1
      idf * (col(s"tf$i").cast("double") * (K1 + 1.0)) / denom
    }
    tfFrame(docs).crossJoin(broadcast(stats))
      .select(col("doc_id"), col("dl"),
        Terms.indices.map(i => (col(s"tf$i") > 0).cast("long"))
          .reduce(_ + _).as("matched"),
        TextSim.r6(contrib.reduce(_ + _)).as("bm25"))
  }

  val ShortK = 30 // per-arm shortlist depth
  val FuseK = 10  // fused page size
  val RrfK = 60   // the standard RRF dampening constant

  /** q_hybrid — hybrid retrieval by reciprocal-rank fusion (Cormack et
    * al., SIGIR'09): for each query document, a VECTOR arm (exact
    * cosine top-[[ShortK]] over the embedding corpus) and a LEXICAL
    * arm (shared word-3-gram count, the more-like-this form) each
    * produce a shortlist; fusion scores 1/([[RrfK]]+rank) summed over
    * arms — rank-based, so the two incomparable score scales never
    * mix. This is the vector-store serving pattern the reference's
    * stack pairs with its semantic index (keyword + vector side by
    * side); one arm catches what the other misses (exact identifiers
    * vs paraphrase).
    *
    * Scale shape: the vector arm is the broadcast-queries +
    * partial-top-k brute pass ([[Ann.topKNeighbors]] — swap in the
    * stored IVF-PQ index when the corpus outgrows it); the lexical arm
    * broadcasts the BOUNDED query shingle set (the contamination-
    * screen pattern) so the corpus-side join is candidate-only, ranked
    * by the same partial top-k aggregator; fusion joins two
    * |Q|·[[ShortK]]-row frames — nothing downstream of the arms ever
    * touches the corpus.
    */
  def hybrid(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val e = Tables.embeddings(s, d)
    val vec = Ann.topKNeighbors(s, e, e.filter(col("vec_id") % 100 === 0), ShortK)
      .select(col("query_id"), col("vec_id"), col("rank").as("v_rank"))
    fuse(s, vec, lexArm(s, docs))
  }

  /** The lexical arm: shared-shingle more-like-this ranks for the
    * `% 100` query set over `(doc_id, text)` docs.
    */
  private[operators] def lexArm(s: SparkSession, docs: DataFrame): DataFrame = {
    val sh = docs
      .select(col("doc_id"), TextSim.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"), explode(TextSim.shingles3(col("t"))).as("shingle"))
    val qsh = sh.filter(col("doc_id") % 100 === 0)
      .select(col("doc_id").as("query_id"), col("shingle"))
    val lexScored = sh.join(broadcast(qsh), "shingle")
      .filter(col("doc_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_shared"))
      .select(col("query_id"), col("doc_id").as("vec_id"),
        col("n_shared").cast("double").as("cos_sim"))
    Ann.rankTopK(s, lexScored, ShortK)
      .select(col("query_id"), col("vec_id"), col("rank").as("l_rank"))
  }

  /** RRF fusion of a `(query_id, vec_id, v_rank)` vector arm and a
    * `(query_id, vec_id, l_rank)` lexical arm.
    */
  private[operators] def fuse(s: SparkSession, vec: DataFrame,
    lex: DataFrame): DataFrame = {
    val fused = vec.join(lex, Seq("query_id", "vec_id"), "full_outer")
      .select(col("query_id"), col("vec_id"),
        TextSim.r6(
          coalesce(lit(1.0) / (col("v_rank") + RrfK), lit(0.0)) +
            coalesce(lit(1.0) / (col("l_rank") + RrfK), lit(0.0))).as("cos_sim"))
    Ann.rankTopK(s, fused, FuseK)
      .select(col("query_id"), col("rank"), col("vec_id").as("doc_id"),
        col("cos_sim").as("rrf"))
  }

  /** [[hybrid]] with the vector arm SERVED FROM THE STORED INDEX — the
    * production form once the corpus outgrows the brute pass: the
    * compressed index yields a 3× ADC shortlist (partition-pruned
    * read), [[Ann.rerank]] converts it to exact ranks at [[ShortK]],
    * and fusion is unchanged. Everything downstream of the arms still
    * never touches the corpus.
    */
  def hybridServed(s: SparkSession, docs: DataFrame, vectors: DataFrame,
    queries: DataFrame, handle: graft.sources.IndexStore.Handle,
    nprobe: Int): DataFrame = {
    val short = handle.search(queries, ShortK * 3, nprobe)
    val vec = Ann.rerank(s, vectors, queries, short, ShortK)
      .select(col("query_id"), col("vec_id"), col("rank").as("v_rank"))
    fuse(s, vec, lexArm(s, docs))
  }

  val hybridSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, embedding,
       |         sqrt(${Ann.dotSql("embedding", "embedding")}) AS nrm
       |  FROM embeddings
       |), q AS (
       |  SELECT vec_id AS query_id, embedding AS q_emb, nrm AS q_nrm
       |  FROM e WHERE vec_id % 100 = 0
       |), vec_ranked AS (
       |  SELECT query_id, vec_id, rank FROM (
       |    SELECT q.query_id, e.vec_id,
       |           row_number() OVER (PARTITION BY q.query_id ORDER BY
       |             ${Ann.cosineSql("q.q_emb", "q.q_nrm", "e.embedding", "e.nrm")} DESC,
       |             e.vec_id) AS rank
       |    FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id)
       |  WHERE rank <= $ShortK
       |), sh AS (
       |  SELECT doc_id, unnest(${TextSim.shingles3Sql("t")}) AS shingle
       |  FROM (SELECT doc_id,
       |               list_filter(string_split(text, ' '), x -> x <> '') AS t
       |        FROM documents)
       |  WHERE len(t) >= 3
       |), lex_ranked AS (
       |  SELECT query_id, doc_id, rank FROM (
       |    SELECT query_id, doc_id,
       |           row_number() OVER (PARTITION BY query_id ORDER BY
       |             n_shared DESC, doc_id) AS rank
       |    FROM (SELECT b.doc_id AS query_id, a.doc_id,
       |                 count(*)::BIGINT AS n_shared
       |          FROM sh a JOIN sh b ON a.shingle = b.shingle
       |          WHERE b.doc_id % 100 = 0 AND a.doc_id <> b.doc_id
       |          GROUP BY 1, 2))
       |  WHERE rank <= $ShortK
       |), fused AS (
       |  SELECT coalesce(v.query_id, l.query_id) AS query_id,
       |         coalesce(v.vec_id, l.doc_id) AS doc_id,
       |         ${TextSim.r6Sql(
              s"coalesce(1.0::DOUBLE / ($RrfK + v.rank), 0.0) + coalesce(1.0::DOUBLE / ($RrfK + l.rank), 0.0)")} AS rrf
       |  FROM vec_ranked v FULL OUTER JOIN lex_ranked l
       |    ON v.query_id = l.query_id AND v.vec_id = l.doc_id
       |)
       |SELECT query_id, rank, doc_id, rrf FROM (
       |  SELECT query_id, doc_id, rrf,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY rrf DESC, doc_id)::BIGINT AS rank
       |  FROM fused)
       |WHERE rank <= $FuseK
       |ORDER BY query_id, rank""".stripMargin

  val bm25Sql: String = {
    val tfCols = Terms.zipWithIndex.map { case (w, i) =>
      s"len(list_filter(t, x -> x = '$w'))::BIGINT AS tf$i"
    }
    val dfCols = Terms.indices.map(i =>
      s"sum((tf$i > 0)::BIGINT)::BIGINT AS df$i")
    val matched = Terms.indices.map(i =>
      s"(tf$i > 0)::BIGINT").mkString(" + ")
    val contrib = Terms.indices.map { i =>
      s"""ln(1.0::DOUBLE + ((n_docs - df$i)::DOUBLE + 0.5::DOUBLE) / (df$i::DOUBLE + 0.5::DOUBLE))
         |         * (tf$i::DOUBLE * ${K1 + 1.0}::DOUBLE)
         |         / (tf$i::DOUBLE + $K1::DOUBLE * (${1.0 - B}::DOUBLE + $B::DOUBLE * (dl::DOUBLE / avgdl)))""".stripMargin
    }.mkString("\n       + ")
    s"""WITH tf AS (
       |  SELECT doc_id, len(t)::BIGINT AS dl,
       |         ${tfCols.mkString(",\n         ")}
       |  FROM (SELECT doc_id,
       |               list_filter(string_split(text, ' '), x -> x <> '') AS t
       |        FROM documents)
       |  WHERE len(t) >= 1
       |), stats AS (
       |  SELECT count(*)::BIGINT AS n_docs,
       |         sum(dl)::DOUBLE / count(*) AS avgdl,
       |         ${dfCols.mkString(",\n         ")}
       |  FROM tf
       |)
       |SELECT doc_id, dl, ($matched)::BIGINT AS matched,
       |       ${TextSim.r6Sql(contrib)} AS bm25
       |FROM tf, stats
       |ORDER BY doc_id""".stripMargin
  }

  /** q_rank_corr — DO the two retrieval arms agree? Per query,
    * Spearman's ρ between the vector arm's and the lexical arm's
    * orderings of their COMMON shortlist docs, plus the shortlist
    * overlap size. The diagnosis BEHIND `q_hybrid`'s fusion: RRF only
    * buys recall when the arms disagree (low overlap / low ρ =
    * complementary signals — fusion is load-bearing; ρ ≈ 1 = either
    * arm alone suffices and the second is pure cost). The operating
    * dial this feeds: drop the lexical arm per query-segment where ρ
    * stays high.
    *
    * Determinism: ranks are re-numbered WITHIN the intersection by
    * each arm's original order (tie-free permutations by
    * construction, so the no-ties closed form is exact); Σd² is an
    * exact BIGINT; ρ = 1 − 6Σd²/(n(n²−1)) is one double division over
    * exact integers, r6; n < 2 → NULL. Scale: both arms are the
    * shortlist frames `q_hybrid` already bounds (|Q|·ShortK rows) —
    * everything here runs on bounded frames, the corpus is never
    * touched past the arm scans.
    */
  def rankCorr(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(s, d)
    val vec = Ann.topKNeighbors(s, e, e.filter(col("vec_id") % 100 === 0), ShortK)
      .select(col("query_id"), col("vec_id"), col("rank").as("v_rank"))
    val lex = lexArm(s, Tables.documents(s, d))
    spearmanOf(vec, lex)
  }

  /** Spearman agreement of a `(query_id, vec_id, v_rank)` arm and a
    * `(query_id, vec_id, l_rank)` arm over their common docs.
    */
  private[graft] def spearmanOf(vec: DataFrame, lex: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val common = vec.join(lex, Seq("query_id", "vec_id"))
    val w = Window.partitionBy(col("query_id"))
    val ranked = common
      .withColumn("rv", row_number().over(w.orderBy(col("v_rank"))))
      .withColumn("rl", row_number().over(w.orderBy(col("l_rank"))))
    ranked.groupBy(col("query_id"))
      .agg(count(lit(1)).cast("long").as("n_common"),
        sum((col("rv") - col("rl")) * (col("rv") - col("rl")))
          .cast("long").as("sd2"))
      .select(col("query_id"), col("n_common"),
        when(col("n_common") >= 2, TextSim.r6(
          lit(1.0) - lit(6.0) * col("sd2") /
            (col("n_common") * (col("n_common") * col("n_common") - lit(1.0)))))
          .as("rho"))
  }

  val rankCorrSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, embedding,
       |         sqrt(list_sum(list_transform(embedding,
       |           x -> x::DOUBLE * x::DOUBLE))) AS nrm
       |  FROM embeddings
       |), q AS (
       |  SELECT vec_id AS query_id, embedding AS q_emb, nrm AS q_nrm
       |  FROM e WHERE vec_id % 100 = 0
       |), vec_ranked AS (
       |  SELECT query_id, vec_id, rank FROM (
       |    SELECT q.query_id, e.vec_id,
       |           row_number() OVER (PARTITION BY q.query_id ORDER BY
       |             ${Ann.cosineSql("q.q_emb", "q.q_nrm", "e.embedding", "e.nrm")} DESC,
       |             e.vec_id) AS rank
       |    FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id)
       |  WHERE rank <= $ShortK
       |), sh AS (
       |  SELECT doc_id, unnest(${TextSim.shingles3Sql("t")}) AS shingle
       |  FROM (SELECT doc_id,
       |               list_filter(string_split(text, ' '), x -> x <> '') AS t
       |        FROM documents)
       |  WHERE len(t) >= 3
       |), lex_ranked AS (
       |  SELECT query_id, doc_id, rank FROM (
       |    SELECT query_id, doc_id,
       |           row_number() OVER (PARTITION BY query_id ORDER BY
       |             n_shared DESC, doc_id) AS rank
       |    FROM (SELECT b.doc_id AS query_id, a.doc_id,
       |                 count(*)::BIGINT AS n_shared
       |          FROM sh a JOIN sh b ON a.shingle = b.shingle
       |          WHERE b.doc_id % 100 = 0 AND a.doc_id <> b.doc_id
       |          GROUP BY 1, 2))
       |  WHERE rank <= $ShortK
       |), common AS (
       |  SELECT v.query_id, v.vec_id,
       |         row_number() OVER (PARTITION BY v.query_id ORDER BY v.rank)
       |           AS rv,
       |         row_number() OVER (PARTITION BY v.query_id ORDER BY l.rank)
       |           AS rl
       |  FROM vec_ranked v JOIN lex_ranked l
       |    ON v.query_id = l.query_id AND v.vec_id = l.doc_id
       |)
       |SELECT query_id, count(*)::BIGINT AS n_common,
       |       CASE WHEN count(*) >= 2 THEN ${TextSim.r6Sql(
      "1.0::DOUBLE - 6.0::DOUBLE * sum((rv - rl) * (rv - rl))::BIGINT / (count(*)::DOUBLE * (count(*)::DOUBLE * count(*)::DOUBLE - 1.0::DOUBLE))")}
       |            END AS rho
       |FROM common
       |GROUP BY query_id
       |ORDER BY query_id""".stripMargin
}
