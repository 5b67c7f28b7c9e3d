package graft.operators

import graft.Tables
import graft.functions.TextSim
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Pairwise source-distribution similarity by Jensen–Shannon
  * divergence (Lin 1991) over term-frequency profiles: the
  * DISTRIBUTION-level near-duplicate detector — two feeds can share
  * zero documents (so every `q_dedup_*` screen is silent) and still
  * be the same template farm with the same vocabulary mix; a
  * near-zero pairwise JSD says a mixing quota counted them as two
  * independent sources when they are one. Complements `q_drift`
  * (JSD of ONE source across time) with the source × source matrix,
  * and `q_keyness` (which terms differ) with HOW MUCH overall.
  *
  * Determinism — the whole divergence is exact integer arithmetic:
  * putting both profiles over the common denominator D = 2·n_p·n_q
  * turns P, Q, and the mixture M into integer masses a = 2·c_p·n_q,
  * b = 2·c_q·n_p, m = (a+b)/2, and 2D·JSD = Σ a·(L(a)−L(m)) +
  * Σ b·(L(b)−L(m)) in micro-nat logs of integers (the
  * [[MutualInfo]] rule; a zero count contributes exactly 0, and
  * m > 0 whenever either side is); jsd_micro divides ONCE by 2D on
  * decimal/HUGEINT. JSD's bounds (0 = identical profiles,
  * ln 2 ≈ 693147 micro-nats = disjoint vocabularies) come out exact
  * on the lattice.
  *
  * Scale: one corpus explode folded map-side to the (source, term)
  * tf frame (checkpointed — both sides of the pair join read it);
  * the pair frame is |S|²/2 × shared-vocab sparse — bounded by the
  * CENSUS (sources), not the corpus; totals broadcast.
  */
object SourceJsd {

  private def lnMicro(c: Column): Column =
    floor(log(c.cast("double")) * 1e6 + 0.5).cast("long")

  def sourceJsd(s: SparkSession, d: String): DataFrame =
    jsdOf(Tables.documents(s, d)
      .select(col("source"), TextSim.tokens(col("text")).as("t"))
      .select(col("source"), explode(col("t")).as("term")))

  /** The |S|×|S| JSD matrix (upper triangle) over (source, term). */
  private[graft] def jsdOf(toks: DataFrame): DataFrame = {
    val tf = Iterate.materialize(toks.groupBy(col("source"), col("term"))
      .agg(count(lit(1)).cast("long").as("c")))
    val tot = tf.groupBy(col("source"))
      .agg(sum(col("c")).cast("long").as("n"))
    val a = tf.join(tot, Seq("source"))
      .select(col("source").as("src_a"), col("term"), col("c").as("ca"),
        col("n").as("na"))
    val b = tf.join(tot, Seq("source"))
      .select(col("source").as("src_b"), col("term"), col("c").as("cb"),
        col("n").as("nb"))
    // full outer on term within each source pair: absent terms are 0
    val pairs = a.join(b, Seq("term"), "inner")
      .filter(col("src_a") < col("src_b"))
    val partial = pairs
      .withColumn("aa", col("ca").cast("decimal(38,0)") * col("nb") * 2L)
      .withColumn("bb", col("cb").cast("decimal(38,0)") * col("na") * 2L)
      .withColumn("m", expr("(aa + bb) div 2"))
      .withColumn("term_num",
        col("aa") * (lnMicro(col("aa")) - lnMicro(col("m"))) +
          col("bb") * (lnMicro(col("bb")) - lnMicro(col("m"))))
      .groupBy(col("src_a"), col("src_b"))
      .agg(sum(col("term_num")).as("shared_num"),
        sum(col("ca")).cast("long").as("shared_ca"),
        sum(col("cb")).cast("long").as("shared_cb"),
        count(lit(1)).cast("long").as("n_shared_terms"))
    // terms present in only one source: P/M = 2 exactly -> each side's
    // exclusive mass contributes mass*L(2) to the numerator
    val totA = tot.select(col("source").as("src_a"), col("n").as("na"))
    val totB = tot.select(col("source").as("src_b"), col("n").as("nb"))
    val ln2 = 693147L // ⌊1e6·ln 2 + 0.5⌉, the same both engines
    // pair UNIVERSE from the census, not from shared terms — a pair
    // with disjoint vocabularies must still ride (at exactly ln 2),
    // not vanish from the matrix
    totA.crossJoin(broadcast(totB))
      .filter(col("src_a") < col("src_b"))
      .join(partial, Seq("src_a", "src_b"), "left")
      .withColumn("shared_num",
        coalesce(col("shared_num"), lit(0L).cast("decimal(38,0)")))
      .withColumn("shared_ca", coalesce(col("shared_ca"), lit(0L)))
      .withColumn("shared_cb", coalesce(col("shared_cb"), lit(0L)))
      .withColumn("n_shared_terms", coalesce(col("n_shared_terms"), lit(0L)))
      .withColumn("excl_num",
        ((col("na") - col("shared_ca")).cast("decimal(38,0)") * col("nb") * 2L
          + (col("nb") - col("shared_cb")).cast("decimal(38,0)") * col("na") * 2L)
          * ln2)
      .withColumn("jsd_micro", expr(
        """cast((shared_num + excl_num)
           div (cast(na as decimal(38,0)) * nb * 4) as long)"""))
      .select(col("src_a"), col("src_b"), col("n_shared_terms"),
        col("jsd_micro"))
  }

  val sourceJsdSql: String = {
    def ln(c: String) = s"floor(ln(($c)::DOUBLE) * 1e6 + 0.5)::BIGINT"
    s"""WITH toks AS (
       |  SELECT source, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
       |  FROM documents
       |), tf AS MATERIALIZED (
       |  SELECT source, term, count(*)::BIGINT AS c FROM toks GROUP BY 1, 2
       |), tot AS (
       |  SELECT source, sum(c)::BIGINT AS n FROM tf GROUP BY source
       |), pairs AS (
       |  SELECT a.source AS src_a, b.source AS src_b, a.term,
       |         a.c AS ca, b.c AS cb, ta.n AS na, tb.n AS nb
       |  FROM tf a
       |  JOIN tf b ON b.term = a.term AND a.source < b.source
       |  JOIN tot ta ON ta.source = a.source
       |  JOIN tot tb ON tb.source = b.source
       |), scored AS (
       |  SELECT src_a, src_b, na, nb,
       |         ca::HUGEINT * nb * 2 AS aa, cb::HUGEINT * na * 2 AS bb
       |  FROM pairs
       |), partial AS (
       |  SELECT src_a, src_b,
       |         sum(aa * (${ln("aa")} - ${ln("(aa + bb) // 2")})
       |           + bb * (${ln("bb")} - ${ln("(aa + bb) // 2")})) AS shared_num,
       |         sum(aa // (nb * 2))::BIGINT AS shared_ca,
       |         sum(bb // (na * 2))::BIGINT AS shared_cb,
       |         count(*)::BIGINT AS n_shared_terms
       |  FROM scored GROUP BY 1, 2
       |)
       |SELECT ta.source AS src_a, tb.source AS src_b,
       |       coalesce(p.n_shared_terms, 0)::BIGINT AS n_shared_terms,
       |       ((coalesce(p.shared_num, 0)
       |         + ((ta.n - coalesce(p.shared_ca, 0))::HUGEINT * tb.n * 2
       |            + (tb.n - coalesce(p.shared_cb, 0))::HUGEINT * ta.n * 2)
       |           * 693147)
       |        // (ta.n::HUGEINT * tb.n * 4))::BIGINT AS jsd_micro
       |FROM tot ta
       |JOIN tot tb ON ta.source < tb.source
       |LEFT JOIN partial p ON p.src_a = ta.source AND p.src_b = tb.source
       |ORDER BY src_a, src_b""".stripMargin
  }
}
