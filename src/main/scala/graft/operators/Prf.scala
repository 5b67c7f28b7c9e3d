package graft.operators

import graft.Tables
import graft.functions.TextSim
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Pseudo-relevance-feedback query expansion (Rocchio 1971 / the RM3
  * shape, Abdul-Jaleel et al. TREC'04): assume the BM25 top-F docs
  * are relevant, mine their vocabulary for the highest-weight terms
  * the query DIDN'T say, re-score with the expanded weighted query —
  * the classic one-round recall amplifier ("spark join stream" pulls
  * in "shuffle" and suddenly the docs that never said "join" but are
  * about it rank). The retrieval-quality complement to `q_bm25`
  * (which scores exactly what was asked) and `q_hybrid` (which adds
  * a vector arm; this stays lexical — cheap, explainable, no
  * embedding needed).
  *
  * Determinism: feedback selection orders by the ROUNDED base score
  * (doc_id tiebreak — the house rounded-decision rule); expansion
  * weights are exact integers, tf_fb · ⌊1e6·ln(N/df)⌉ micro-nats
  * (one libm value fixed per VOCAB row, BIGINT products after), top-E
  * ties on the term string; each doc×term BM25 contribution fixes to
  * micro units with the query weight folded into the SAME floor —
  * ⌊c·w_micro + 0.5⌉ — so per-doc scores are exact BIGINT sums
  * (order-free where a double Σ folds in partition order), divided
  * once (r6).
  *
  * Scale shape: base scoring is [[Relevance.bm25Score]]'s zero-
  * shuffle scan; the df table is one vocab fold (the `q_vocab`
  * shape); feedback tf is a semi-join against F ids; rescoring
  * explodes the corpus but keeps only rows matching the ≤(|q|+E)-term
  * broadcast query table, so the only doc-keyed shuffle carries
  * matched (doc, term) rows — candidate-sized, not corpus-sized. The
  * final page is a top-k over matched docs.
  */
object Prf {

  /** Feedback depth F. */
  val FbDocs = 10
  /** Expansion terms E. */
  val ExpTerms = 4
  /** Expansion-term weight β in micro units (originals carry 1e6). */
  val BetaMicro = 500000L
  /** Result page size. */
  val PageK = 10

  import Relevance.{B, K1, Terms}

  /** q_prf — [[prf]] over the documents corpus. */
  def prfQuery(s: SparkSession, d: String): DataFrame =
    prf(Tables.documents(s, d))

  /** Expanded-query page over any `(doc_id, text)` frame. */
  def prf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val perDoc = docs
      .select(col("doc_id"), TextSim.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 1)
      .select(col("doc_id"), size(col("t")).cast("long").as("dl"), col("t"))
    val toks = perDoc
      .select(col("doc_id"), col("dl"), explode(col("t")).as("term"))
      .persist()
    val stats = Relevance.bm25Stats(docs)
    val base = Relevance.bm25Score(docs, stats)
      .select(col("doc_id"), col("bm25"))
    val fb = base.orderBy(col("bm25").desc, col("doc_id")).limit(FbDocs)
      .select(col("doc_id"))
    val dfTab = toks.select(col("doc_id"), col("term")).distinct()
      .groupBy(col("term")).agg(count(lit(1)).cast("long").as("df"))
    val lnMicro = (c: org.apache.spark.sql.Column) =>
      floor(log(c) * 1e6 + 0.5).cast("long")
    val expTerms = toks
      .join(fb, Seq("doc_id"), "left_semi")
      .groupBy(col("term")).agg(count(lit(1)).cast("long").as("tf_fb"))
      .filter(!col("term").isin(Terms: _*))
      .join(dfTab, "term")
      .crossJoin(broadcast(stats.select(col("n_docs"))))
      .withColumn("w_micro", col("tf_fb") *
        lnMicro(col("n_docs").cast("double") / col("df").cast("double")))
      .orderBy(col("w_micro").desc, col("term")).limit(ExpTerms)
      .select(col("term"), lit(BetaMicro).as("q_w"))
    val qterms = Terms.toDF("term")
      .select(col("term"), lit(1000000L).as("q_w"))
      .unionAll(expTerms)
      .join(dfTab, "term")
    val scored = toks
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).cast("long").as("tf"), max(col("dl")).as("dl"))
      .join(broadcast(qterms), "term")
      .crossJoin(broadcast(stats.select(col("n_docs"),
        (col("dl_sum").cast("double") / col("n_docs")).as("avgdl"))))
      .withColumn("c_micro", floor(
        log(lit(1.0) + ((col("n_docs") - col("df")).cast("double") + 0.5) /
          (col("df").cast("double") + 0.5)) *
          (col("tf").cast("double") * (K1 + 1.0)) /
          (col("tf").cast("double") +
            ((col("dl").cast("double") / col("avgdl")) * B + (1.0 - B)) * K1) *
          col("q_w").cast("double") + 0.5).cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("matched"),
        sum(col("c_micro")).as("s_micro"))
    scored
      .orderBy(col("s_micro").desc, col("doc_id")).limit(PageK)
      .withColumn("rank", row_number().over(
        graft.functions.GridWindow.ord(col("s_micro").desc, col("doc_id"))).cast("long"))
      .join(base, "doc_id")
      .select(col("rank"), col("doc_id"), col("matched"),
        col("bm25").as("base_bm25"),
        TextSim.r6(col("s_micro").cast("double") / 1e6).as("prf_score"))
  }

  val prfSql: String = {
    val tfCols = Terms.zipWithIndex.map { case (w, i) =>
      s"len(list_filter(t, x -> x = '$w'))::BIGINT AS tf$i"
    }
    val dfCols = Terms.indices.map(i =>
      s"sum((tf$i > 0)::BIGINT)::BIGINT AS df$i")
    val contrib = Terms.indices.map { i =>
      s"""ln(1.0::DOUBLE + ((n_docs - df$i)::DOUBLE + 0.5::DOUBLE) / (df$i::DOUBLE + 0.5::DOUBLE))
         |         * (tf$i::DOUBLE * ${K1 + 1.0}::DOUBLE)
         |         / (tf$i::DOUBLE + $K1::DOUBLE * (${1.0 - B}::DOUBLE + $B::DOUBLE * (dl::DOUBLE / avgdl)))""".stripMargin
    }.mkString("\n       + ")
    val origList = Terms.map(t => s"'$t'").mkString(", ")
    val origRows = Terms.map(t => s"('$t', 1000000::BIGINT)").mkString(", ")
    s"""WITH per_doc AS (
       |  SELECT doc_id, len(t)::BIGINT AS dl, t
       |  FROM (SELECT doc_id,
       |               list_filter(string_split(text, ' '), x -> x <> '') AS t
       |        FROM documents)
       |  WHERE len(t) >= 1
       |), tf AS (
       |  SELECT doc_id, dl, ${tfCols.mkString(",\n         ")}
       |  FROM per_doc
       |), stats AS (
       |  SELECT count(*)::BIGINT AS n_docs,
       |         sum(dl)::DOUBLE / count(*) AS avgdl,
       |         ${dfCols.mkString(",\n         ")}
       |  FROM tf
       |), base AS (
       |  SELECT doc_id, ${TextSim.r6Sql(contrib)} AS bm25
       |  FROM tf, stats
       |), fb AS (
       |  SELECT doc_id FROM base ORDER BY bm25 DESC, doc_id LIMIT $FbDocs
       |), toks AS (
       |  SELECT doc_id, dl, unnest(t) AS term FROM per_doc
       |), df_tab AS (
       |  SELECT term, count(*)::BIGINT AS df
       |  FROM (SELECT DISTINCT doc_id, term FROM toks) GROUP BY term
       |), exp_terms AS (
       |  SELECT term, $BetaMicro::BIGINT AS q_w
       |  FROM (
       |    SELECT f.term,
       |           count(*)::BIGINT *
       |           CAST(floor(ln(stats.n_docs::DOUBLE / d.df::DOUBLE) * 1000000.0 + 0.5) AS BIGINT)
       |             AS w_micro
       |    FROM toks f
       |    JOIN fb ON fb.doc_id = f.doc_id
       |    JOIN df_tab d ON d.term = f.term
       |    CROSS JOIN stats
       |    WHERE f.term NOT IN ($origList)
       |    GROUP BY f.term, d.df, stats.n_docs
       |  )
       |  ORDER BY w_micro DESC, term LIMIT $ExpTerms
       |), qterms AS (
       |  SELECT o.term, o.q_w, d.df
       |  FROM (SELECT * FROM (VALUES $origRows) AS v(term, q_w)
       |        UNION ALL SELECT term, q_w FROM exp_terms) o
       |  JOIN df_tab d ON d.term = o.term
       |), scored AS (
       |  SELECT m.doc_id, count(*)::BIGINT AS matched,
       |         sum(CAST(floor(
       |           ln(1.0::DOUBLE + ((s.n_docs - q.df)::DOUBLE + 0.5::DOUBLE) / (q.df::DOUBLE + 0.5::DOUBLE))
       |           * (m.tf::DOUBLE * ${K1 + 1.0}::DOUBLE)
       |           / (m.tf::DOUBLE + $K1::DOUBLE * (${1.0 - B}::DOUBLE + $B::DOUBLE * (m.dl::DOUBLE / s.avgdl)))
       |           * q.q_w::DOUBLE + 0.5) AS BIGINT))::BIGINT AS s_micro
       |  FROM (SELECT doc_id, term, count(*)::BIGINT AS tf, max(dl)::BIGINT AS dl
       |        FROM toks GROUP BY doc_id, term) m
       |  JOIN qterms q ON q.term = m.term
       |  CROSS JOIN stats s
       |  GROUP BY m.doc_id
       |), page AS (
       |  SELECT doc_id, matched, s_micro,
       |         row_number() OVER (ORDER BY s_micro DESC, doc_id)::BIGINT AS rank
       |  FROM scored ORDER BY s_micro DESC, doc_id LIMIT $PageK
       |)
       |SELECT p.rank, p.doc_id, p.matched, b.bm25 AS base_bm25,
       |       ${TextSim.r6Sql("p.s_micro::DOUBLE / 1000000.0")} AS prf_score
       |FROM page p JOIN base b ON b.doc_id = p.doc_id
       |ORDER BY p.rank""".stripMargin
  }
}
