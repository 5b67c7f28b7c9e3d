package graft.operators

import graft.Tables
import graft.functions.TextSim
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Keyness — per-source distinctive vocabulary by the log-odds ratio
  * with a Dirichlet prior (Monroe, Colaresi & Quinn 2008, "Fightin'
  * Words"): for each source, which terms does IT use
  * disproportionately vs the REST of the corpus? The corpus-
  * linguistics standard that fixes both naive baselines — raw tf-idf
  * over-rewards rare typos, plain log-odds without a prior explodes
  * on zero counts — by shrinking every count toward the corpus prior
  * and then z-scoring by the variance the shrinkage implies. The
  * data-curation read: a source whose key terms are boilerplate
  * tokens ("cookie", "subscribe") is a template farm `q_boilerplate`
  * should confirm.
  *
  * Determinism: Laplace prior a = 1 per vocab term (the integer-
  * friendly Dirichlet — A = |V|), so the shrunken log-odds
  * δ = [L(y+1) − L(n+V−y−1)] − [L(y'+1) − L(n'+V−y'−1)] decomposes
  * into micro-nat logs of pure COUNTS (the [[MutualInfo]] rule);
  * σ² ≈ 1/(y+1) + 1/(y'+1) (the paper's eq. 19 approximation) and
  * z = δ/σ is ONE fixed-order double expression, r6; top-k per
  * source by (z desc, term) — rounded-value order with an exact
  * tie-break, bit-stable. The vocab takes a total-count ≥
  * [[MinCount]] floor (rare-typo guard, the paper's practice).
  *
  * Scale: one corpus explode folded map-side to (source, term) tf;
  * term totals re-fold from it (grid-bounded); the z pass and the
  * per-source top-k window run on the |sources|·|vocab| sparse
  * frame, never on raw tokens.
  */
object Keyness {

  /** Vocabulary floor: terms with total tf below this are noise. */
  val MinCount = 5L

  /** Distinctive terms reported per source. */
  val TopK = 5

  def keyness(s: SparkSession, d: String): DataFrame =
    keynessOf(Tables.documents(s, d)
      .select(col("source"), TextSim.tokens(col("text")).as("t"))
      .select(col("source"), explode(col("t")).as("term")))

  private def lnMicro(c: Column): Column =
    floor(log(c.cast("double")) * 1e6 + 0.5).cast("long")

  /** Top-k keyness terms per source over a (source, term) token frame. */
  private[graft] def keynessOf(toks: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = Iterate.materialize(toks.groupBy(col("source"), col("term"))
      .agg(count(lit(1)).cast("long").as("y")))
    val vocab = tf.groupBy(col("term"))
      .agg(sum(col("y")).cast("long").as("ty"))
      .filter(col("ty") >= MinCount)
    val vTot = vocab.agg(count(lit(1)).cast("long").as("v"),
      sum(col("ty")).cast("long").as("nn"))
    val srcTot = tf.join(broadcast(vocab.select(col("term"))), Seq("term"))
      .groupBy(col("source")).agg(sum(col("y")).cast("long").as("ns"))
    val scored = tf
      .join(broadcast(vocab), Seq("term"))
      .join(broadcast(srcTot), Seq("source"))
      .crossJoin(broadcast(vTot))
      .withColumn("yr", col("ty") - col("y"))
      .withColumn("nr", col("nn") - col("ns"))
      // ln-argument guard: in the degenerate single-vocab-term case
      // (v=1, ns=y) the prior argument hits 0 — Spark log(0) NULLs
      // while DuckDB ln(0) is -inf; both engines must report the same
      // guarded NULL instead of diverging
      .withColumn("delta_micro",
        when(col("ns") + col("v") - col("y") - 1L > 0L &&
          col("nr") + col("v") - col("yr") - 1L > 0L,
          (lnMicro(col("y") + 1L) -
            lnMicro(col("ns") + col("v") - col("y") - 1L)) -
            (lnMicro(col("yr") + 1L) -
              lnMicro(col("nr") + col("v") - col("yr") - 1L))))
      .withColumn("z", TextSim.r6(
        (col("delta_micro").cast("double") / lit(1e6)) /
          sqrt(lit(1.0) / (col("y") + 1L).cast("double") +
            lit(1.0) / (col("yr") + 1L).cast("double"))))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("z").desc, col("term"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TopK)
      .select(col("source"), col("rank"), col("term"), col("y"),
        col("yr").as("y_rest"), col("delta_micro"), col("z"))
  }

  val keynessSql: String = {
    def ln(c: String) = s"floor(ln(($c)::DOUBLE) * 1e6 + 0.5)::BIGINT"
    s"""WITH toks AS (
       |  SELECT source, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
       |  FROM documents
       |), tf AS MATERIALIZED (
       |  SELECT source, term, count(*)::BIGINT AS y FROM toks GROUP BY 1, 2
       |), vocab AS (
       |  SELECT term, sum(y)::BIGINT AS ty FROM tf GROUP BY term
       |  HAVING sum(y) >= $MinCount
       |), vtot AS (
       |  SELECT count(*)::BIGINT AS v, sum(ty)::BIGINT AS nn FROM vocab
       |), srctot AS (
       |  SELECT source, sum(y)::BIGINT AS ns
       |  FROM tf JOIN vocab USING (term) GROUP BY source
       |), scored AS (
       |  SELECT tf.source, tf.term, tf.y, (vocab.ty - tf.y)::BIGINT AS yr,
       |         srctot.ns, (vtot.nn - srctot.ns)::BIGINT AS nr, vtot.v,
       |         CASE WHEN srctot.ns + vtot.v - tf.y - 1 > 0
       |                   AND vtot.nn - srctot.ns + vtot.v - (vocab.ty - tf.y) - 1 > 0
       |           THEN (${ln("tf.y + 1")} - ${ln("srctot.ns + vtot.v - tf.y - 1")})
       |           - (${ln("vocab.ty - tf.y + 1")}
       |              - ${ln("vtot.nn - srctot.ns + vtot.v - (vocab.ty - tf.y) - 1")})
       |           END AS delta_micro
       |  FROM tf
       |  JOIN vocab USING (term)
       |  JOIN srctot USING (source)
       |  CROSS JOIN vtot
       |), zed AS (
       |  SELECT source, term, y, yr, delta_micro,
       |         ${TextSim.r6Sql(
      "(delta_micro::DOUBLE / 1e6) / sqrt(1.0 / (y + 1)::DOUBLE + 1.0 / (yr + 1)::DOUBLE)")}
       |           AS z
       |  FROM scored
       |), ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY source
       |    ORDER BY z DESC, term)::BIGINT AS rank
       |  FROM zed
       |)
       |SELECT source, rank, term, y, yr AS y_rest, delta_micro, z
       |FROM ranked WHERE rank <= $TopK
       |ORDER BY source, rank""".stripMargin
  }
}
