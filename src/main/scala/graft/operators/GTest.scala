package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** G-test of independence (likelihood-ratio χ², Dunning 1993 — the
  * statistic computational linguistics standardized on for
  * collocations and corpus comparisons, because it stays valid at the
  * small expected counts where Pearson's χ² breaks): G² =
  * 2·Σ o·ln(o/e) over the lang × source contingency — the
  * LIKELIHOOD-RATIO twin of `q_chi2` on the same grid (Pearson is
  * G²'s second-order Taylor approximation; they diverge exactly where
  * cells are sparse, which is where a mix auditor needs the answer).
  *
  * Determinism — the whole statistic is an exact INTEGER, no doubles
  * at all: ln(o/e) = ln o + ln n − ln r − ln c decomposes into
  * micro-nat logs of pure COUNTS (the [[MutualInfo]] L(c) =
  * ⌊1e6·ln c + 0.5⌋ rule, one libm call per integer), so each cell's
  * term 2·o·(L(o) + L(n) − L(r) − L(c)) is BIGINT arithmetic and the
  * total is an order-free BIGINT sum. Zero-observed cells contribute
  * exactly 0 (lim x·ln x = 0) — the G-test needs NO dense grid, unlike
  * q_chi2 where the absent cell's expected mass is the signal.
  *
  * Scale: ONE corpus fold to the |langs|·|sources| observed-cell
  * frame; marginals re-fold from it and broadcast; everything
  * downstream is grid-bounded. Output: per-cell terms (o, e×n exact
  * rational as integers, g_micro) plus the family total and dof on
  * every row.
  */
object GTest {

  private def lnMicro(c: Column): Column =
    floor(log(c.cast("double")) * 1e6 + 0.5).cast("long")

  def gTest(s: SparkSession, d: String): DataFrame =
    gTestOf(Tables.documents(s, d).select(col("lang").as("a"),
      col("source").as("b")))

  /** G² of independence over any (a, b) categorical frame. */
  private[graft] def gTestOf(rows: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val all = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val joint = Iterate.materialize(
      rows.groupBy(col("a"), col("b"))
        .agg(count(lit(1)).cast("long").as("o")))
    val ra = joint.groupBy(col("a")).agg(sum(col("o")).cast("long").as("r"))
    val cb = joint.groupBy(col("b")).agg(sum(col("o")).cast("long").as("c"))
    val tot = joint.agg(sum(col("o")).cast("long").as("n"),
      count_distinct(col("a")).cast("long").as("n_a"),
      count_distinct(col("b")).cast("long").as("n_b"))
    joint.join(broadcast(ra), Seq("a"))
      .join(broadcast(cb), Seq("b"))
      .crossJoin(broadcast(tot))
      .withColumn("g_micro", lit(2L) * col("o") *
        (lnMicro(col("o")) + lnMicro(col("n")) -
          lnMicro(col("r")) - lnMicro(col("c"))))
      .withColumn("g2_total_micro", sum(col("g_micro")).over(all))
      .withColumn("dof", (col("n_a") - 1L) * (col("n_b") - 1L))
      .select(col("a"), col("b"), col("o"), col("r"), col("c"), col("n"),
        col("g_micro"), col("g2_total_micro"), col("dof"))
  }

  val gTestSql: String = {
    def ln(c: String) = s"floor(ln(($c)::DOUBLE) * 1e6 + 0.5)::BIGINT"
    s"""WITH joint AS MATERIALIZED (
       |  SELECT lang AS a, source AS b, count(*)::BIGINT AS o
       |  FROM documents GROUP BY 1, 2
       |), ra AS (
       |  SELECT a, sum(o)::BIGINT AS r FROM joint GROUP BY a
       |), cb AS (
       |  SELECT b, sum(o)::BIGINT AS c FROM joint GROUP BY b
       |), tot AS (
       |  SELECT sum(o)::BIGINT AS n,
       |         count(DISTINCT a)::BIGINT AS n_a,
       |         count(DISTINCT b)::BIGINT AS n_b
       |  FROM joint
       |), cells AS (
       |  SELECT j.a, j.b, j.o, ra.r, cb.c, tot.n,
       |         2 * j.o * (${ln("j.o")} + ${ln("tot.n")}
       |                    - ${ln("ra.r")} - ${ln("cb.c")}) AS g_micro,
       |         (tot.n_a - 1) * (tot.n_b - 1) AS dof
       |  FROM joint j
       |  JOIN ra ON ra.a = j.a
       |  JOIN cb ON cb.b = j.b
       |  CROSS JOIN tot
       |)
       |SELECT a, b, o, r, c, n, g_micro,
       |       sum(g_micro) OVER ()::BIGINT AS g2_total_micro, dof
       |FROM cells ORDER BY a, b""".stripMargin
  }
}
