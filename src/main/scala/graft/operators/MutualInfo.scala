package graft.operators

import graft.Tables
import graft.functions.TextSim
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** q_mutual_info — mutual information between two categorical corpus
  * facets (lang × source): the information-theoretic dependence
  * measure beside `q_chi2`'s significance test. Chi² answers "is the
  * association real"; MI answers "how BIG is it, in nats" — how many
  * bits of a document's language its source already tells you. That
  * is the number a mixing stage acts on: MI ≈ 0 means language
  * composition is uniform across sources and per-source sampling
  * can't skew the language mix; high NMI means source quotas ARE
  * language quotas ([[Corpus.domainMix]] / [[Waterfill.allocate]]
  * need a joint target, not two marginals).
  *
  * Identity: MI = H(X) + H(Y) − H(X,Y), each entropy via the exact
  * numerator num = n·L(n) − Σ c·L(c) with L(c) = ⌊1e6·ln c + 0.5⌋
  * (the [[CorpusStats.domainEntropy]] micro-nats rule: one libm call
  * per cell of the bounded contingency frame, all sums exact BIGINTs,
  * order-free and engine-identical). The MI numerator telescopes to
  * n·L(n) − Σ cₓ·L(cₓ) − Σ c_y·L(c_y) + Σ c_xy·L(c_xy) — a single
  * exact integer; MI and the entropies each divide ONCE in double
  * (by n·10⁶) and r6-round. NMI = num_MI / √(num_X·num_Y) — again
  * exact integers under one sqrt+division; a degenerate facet
  * (single-valued ⇒ H = 0) reports NULL NMI, never ±inf/NaN.
  *
  * Scale shape: ONE corpus fold to the |X|·|Y| contingency frame
  * (map-side combined groupBy; materialized barrier — both
  * marginal re-folds and the joint fold read it, the corpus is
  * scanned once, plan-asserted). Everything downstream runs on
  * bounded frames and 1-row broadcast scalars.
  */
object MutualInfo {

  private def lnMicro(c: Column): Column =
    floor(log(c.cast("double")) * 1e6 + 0.5).cast("long")

  def mutualInfoQuery(s: SparkSession, d: String): DataFrame =
    mutualInfo(Tables.documents(s, d), "lang", "source")

  /** MI report between categorical columns `x` and `y` of `df`:
    * 1 row (n, cardinalities, the three entropies, mi_nats, nmi).
    */
  def mutualInfo(df: DataFrame, x: String, y: String): DataFrame = {
    val joint = Iterate.materialize(
      df.groupBy(col(x).as("xv"), col(y).as("yv"))
        .agg(count(lit(1)).cast("long").as("c")))
    val jStats = joint.agg(
      sum(col("c")).cast("long").as("n"),
      count(lit(1)).cast("long").as("n_cells"),
      sum(col("c") * lnMicro(col("c"))).cast("long").as("s_xy"))
    val xStats = joint.groupBy(col("xv"))
      .agg(sum(col("c")).cast("long").as("cx"))
      .agg(count(lit(1)).cast("long").as("n_x"),
        sum(col("cx") * lnMicro(col("cx"))).cast("long").as("s_x"))
    val yStats = joint.groupBy(col("yv"))
      .agg(sum(col("c")).cast("long").as("cy"))
      .agg(count(lit(1)).cast("long").as("n_y"),
        sum(col("cy") * lnMicro(col("cy"))).cast("long").as("s_y"))
    val nl = col("n") * lnMicro(col("n"))
    val numX = nl - col("s_x")
    val numY = nl - col("s_y")
    val numXY = nl - col("s_xy")
    jStats.crossJoin(broadcast(xStats)).crossJoin(broadcast(yStats))
      .select(col("n").as("n_docs"), col("n_x"), col("n_y"), col("n_cells"),
        TextSim.r6(numX.cast("double") / (col("n").cast("double") * 1e6))
          .as("h_x"),
        TextSim.r6(numY.cast("double") / (col("n").cast("double") * 1e6))
          .as("h_y"),
        TextSim.r6(numXY.cast("double") / (col("n").cast("double") * 1e6))
          .as("h_xy"),
        TextSim.r6((numX + numY - numXY).cast("double") /
          (col("n").cast("double") * 1e6)).as("mi_nats"),
        when(numX > 0 && numY > 0,
          TextSim.r6((numX + numY - numXY).cast("double") /
            sqrt(numX.cast("double") * numY.cast("double")))).as("nmi"))
  }

  val mutualInfoSql: String = {
    def ln = (c: String) => s"floor(ln(($c)::DOUBLE) * 1e6 + 0.5)::BIGINT"
    s"""WITH joint AS (
       |  SELECT lang AS xv, source AS yv, count(*)::BIGINT AS c
       |  FROM documents GROUP BY 1, 2
       |), j AS (
       |  SELECT sum(c)::BIGINT AS n, count(*)::BIGINT AS n_cells,
       |         sum(c * ${ln("c")})::BIGINT AS s_xy
       |  FROM joint
       |), xs AS (
       |  SELECT count(*)::BIGINT AS n_x,
       |         sum(cx * ${ln("cx")})::BIGINT AS s_x
       |  FROM (SELECT xv, sum(c)::BIGINT AS cx FROM joint GROUP BY xv)
       |), ys AS (
       |  SELECT count(*)::BIGINT AS n_y,
       |         sum(cy * ${ln("cy")})::BIGINT AS s_y
       |  FROM (SELECT yv, sum(c)::BIGINT AS cy FROM joint GROUP BY yv)
       |), nums AS (
       |  SELECT n, n_x, n_y, n_cells,
       |         n * ${ln("n")} - s_x AS num_x,
       |         n * ${ln("n")} - s_y AS num_y,
       |         n * ${ln("n")} - s_xy AS num_xy
       |  FROM j CROSS JOIN xs CROSS JOIN ys
       |)
       |SELECT n AS n_docs, n_x, n_y, n_cells,
       |       ${TextSim.r6Sql("num_x::DOUBLE / (n::DOUBLE * 1e6)")} AS h_x,
       |       ${TextSim.r6Sql("num_y::DOUBLE / (n::DOUBLE * 1e6)")} AS h_y,
       |       ${TextSim.r6Sql("num_xy::DOUBLE / (n::DOUBLE * 1e6)")} AS h_xy,
       |       ${TextSim.r6Sql(
      "(num_x + num_y - num_xy)::DOUBLE / (n::DOUBLE * 1e6)")} AS mi_nats,
       |       CASE WHEN num_x > 0 AND num_y > 0 THEN
       |         ${TextSim.r6Sql(
      "(num_x + num_y - num_xy)::DOUBLE / sqrt(num_x::DOUBLE * num_y::DOUBLE)")}
       |       END AS nmi
       |FROM nums""".stripMargin
  }
}
