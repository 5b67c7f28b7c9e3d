package graft.operators

import graft.Tables
import graft.functions.TextSim
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Functional-dependency profiling — the schema-discovery side of the
  * [[Dq]] constraint gate: a constraint suite can only CHECK contracts
  * someone wrote down; profiling DISCOVERS them (Papenbrock et al.,
  * VLDB'15 — FD discovery is the core of data profiling). For each
  * candidate determinant → dependent pair this reports how close the
  * data comes to the dependency: determinant groups, violating groups
  * (those mapping to >1 dependent value), violating rows beyond each
  * group's majority value, and the hold/violation verdict — an exact
  * FD (zero violations) becomes a [[Dq]] uniqueness-style contract;
  * a NEAR-FD (violation rate under noise level) is usually a data
  * bug worth a quarantine rule.
  *
  * Scale shape: one partial-agg groupBy per candidate on (det, dep)
  * — map-side combined, never a corpus sort — then a ≤|det-groups|
  * fold; the majority count per group is the house argmax
  * (`max(struct(c, dep))`), no window. Candidates are bounded (a
  * profiling run enumerates column pairs — the frame-level API takes
  * any det/dep column pair).
  */
object FdProfile {

  /** Violation profile of one candidate FD over a caller frame. */
  def profile(df: DataFrame, det: String, dep: String): DataFrame = {
    val pairs = df.groupBy(col(det).as("d"), col(dep).as("v"))
      .agg(count(lit(1)).as("c"))
    pairs.groupBy(col("d"))
      .agg(count(lit(1)).as("n_vals"),
        sum(col("c")).as("n_rows"),
        max(struct(col("c"), col("v"))).getField("c").as("majority"))
      .agg(
        lit(s"$det->$dep").as("fd"),
        count(lit(1)).as("n_groups"),
        sum(when(col("n_vals") > 1, 1L).otherwise(0L)).as("viol_groups"),
        (sum(col("n_rows")) - sum(col("majority"))).as("viol_rows"),
        sum(col("n_rows")).as("n_rows"))
      .withColumn("holds", col("viol_rows") === 0L)
      .withColumn("viol_rate",
        TextSim.r6(col("viol_rows").cast("double") / col("n_rows")))
  }

  /** q_fd_profile — candidate dependencies over the documents
    * metadata (+ the derived 400-char size band): doc_id → source
    * holds exactly (the key), source → lang and lang → size band
    * violate at corpus-visible rates.
    */
  def fdProfile(s: SparkSession, d: String): DataFrame = {
    val m = Tables.documents(s, d).select(
      col("doc_id"), col("source"), col("lang"),
      expr(s"n_chars div ${Kanon.BucketChars}").as("len_bucket"))
    profile(m, "doc_id", "source")
      .unionByName(profile(m, "source", "lang"))
      .unionByName(profile(m, "lang", "len_bucket"))
      .select(col("fd"), col("n_groups"), col("viol_groups"),
        col("viol_rows"), col("n_rows"), col("holds"), col("viol_rate"))
      .orderBy(col("fd"))
  }

  /** χ² contingency audit of two categorical columns — the STATISTICAL
    * dependence strength next to [[profile]]'s exact/near FDs (an FD
    * either holds or counts violations; χ² says how far a pair is from
    * INDEPENDENCE — the mix-auditor's question "is lang independent of
    * source", and the feature-selection screen for classifier inputs).
    * Per cell: observed count, expected under independence, and the
    * cell's χ² contribution; the total statistic and (R−1)(C−1) dof
    * ride every row as broadcast scalars.
    *
    * Determinism: counts and the diff o·n − r·c are exact longs; each
    * cell divides once in double and is r6-rounded; the total is the
    * order-free decimal sum of the ROUNDED contributions (the
    * readability-rollup rule), so the whole frame hash-verifies.
    *
    * Scale shape: one (a, b) partial-agg groupBy over the table, then
    * everything runs on the ≤R·C cell frame with the marginals and
    * the 1-row total broadcast back.
    */
  def chi2(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val obs = df.groupBy(col(aCol).as("a"), col(bCol).as("b"))
      .agg(count(lit(1)).as("o")).persist()
    val rows = obs.groupBy(col("a")).agg(sum(col("o")).as("ra"))
    val cols_ = obs.groupBy(col("b")).agg(sum(col("o")).as("cb"))
    val tot = obs.agg(sum(col("o")).as("n"),
      countDistinct(col("a")).as("nr"), countDistinct(col("b")).as("nc"))
    // DENSE grid: an absent (a, b) combination still contributes its
    // full expected mass (o = 0 → e = r·c/n) — skipping zero cells
    // understates the statistic exactly where association is strongest
    val cells = rows.select(col("a")).crossJoin(cols_.select(col("b")))
      .join(obs, Seq("a", "b"), "left")
      .withColumn("o", coalesce(col("o"), lit(0L)))
    val scored = cells
      .join(broadcast(rows), Seq("a"))
      .join(broadcast(cols_), Seq("b"))
      .crossJoin(broadcast(tot))
      .withColumn("exp_r6", TextSim.r6(col("ra") * col("cb") / col("n").cast("double")))
      .withColumn("diff", col("o") * col("n") - col("ra") * col("cb"))
      .withColumn("contrib_r6", TextSim.r6(
        col("diff").cast("double") * col("diff").cast("double") /
          (col("n").cast("double") * col("ra") * col("cb"))))
    val total = scored.agg(
      TextSim.dsum(col("contrib_r6")).as("chi2_total"),
      first(col("nr")).as("nr"), first(col("nc")).as("nc"))
      .select(col("chi2_total"), ((col("nr") - 1) * (col("nc") - 1)).as("dof"))
    scored.crossJoin(broadcast(total))
      .select(col("a"), col("b"), col("o").as("n_obs"), col("exp_r6"),
        col("contrib_r6"), col("chi2_total"), col("dof"))
  }

  /** q_chi2 — source × lang contingency over documents. */
  def chi2Query(s: SparkSession, d: String): DataFrame =
    chi2(Tables.documents(s, d), "source", "lang")

  val chi2Sql: String =
    s"""WITH obs AS (
       |  SELECT source AS a, lang AS b, count(*)::BIGINT AS o
       |  FROM documents GROUP BY 1, 2
       |), rowt AS (
       |  SELECT a, sum(o)::BIGINT AS ra FROM obs GROUP BY a
       |), colt AS (
       |  SELECT b, sum(o)::BIGINT AS cb FROM obs GROUP BY b
       |), tot AS (
       |  SELECT sum(o)::BIGINT AS n,
       |         count(DISTINCT a)::BIGINT AS nr,
       |         count(DISTINCT b)::BIGINT AS nc
       |  FROM obs
       |), cells AS (
       |  SELECT g.a, g.b, coalesce(obs.o, 0)::BIGINT AS o
       |  FROM (SELECT rowt.a, colt.b FROM rowt CROSS JOIN colt) g
       |  LEFT JOIN obs ON obs.a = g.a AND obs.b = g.b
       |), scored AS (
       |  SELECT c.a, c.b, c.o,
       |         ${TextSim.r6Sql("ra * cb / n::DOUBLE")} AS exp_r6,
       |         ${TextSim.r6Sql(
             "(o * n - ra * cb)::DOUBLE * (o * n - ra * cb)::DOUBLE / (n::DOUBLE * ra * cb)")} AS contrib_r6
       |  FROM cells c JOIN rowt USING (a) JOIN colt USING (b) CROSS JOIN tot
       |), total AS (
       |  SELECT ${TextSim.dsumSql("contrib_r6")} AS chi2_total,
       |         (SELECT (nr - 1) * (nc - 1) FROM tot)::BIGINT AS dof
       |  FROM scored
       |)
       |SELECT a, b, o AS n_obs, exp_r6, contrib_r6, chi2_total, dof
       |FROM scored CROSS JOIN total
       |ORDER BY a, b""".stripMargin

  val fdProfileSql: String = {
    def one(det: String, dep: String): String =
      s"""SELECT '$det->$dep' AS fd,
         |       count(*)::BIGINT AS n_groups,
         |       sum(CASE WHEN n_vals > 1 THEN 1 ELSE 0 END)::BIGINT AS viol_groups,
         |       (sum(n_rows) - sum(majority))::BIGINT AS viol_rows,
         |       sum(n_rows)::BIGINT AS n_rows,
         |       (sum(n_rows) - sum(majority)) = 0 AS holds,
         |       ${TextSim.r6Sql("(sum(n_rows) - sum(majority))::DOUBLE / sum(n_rows)::DOUBLE")} AS viol_rate
         |FROM (
         |  SELECT d, count(*)::BIGINT AS n_vals, sum(c)::BIGINT AS n_rows,
         |         max({'c': c, 'v': v}).c AS majority
         |  FROM (
         |    SELECT $det AS d, $dep AS v, count(*)::BIGINT AS c
         |    FROM meta GROUP BY 1, 2)
         |  GROUP BY d)""".stripMargin
    s"""WITH meta AS (
       |  SELECT doc_id, source, lang,
       |         n_chars // ${Kanon.BucketChars} AS len_bucket
       |  FROM documents
       |)
       |SELECT * FROM (
       |${one("doc_id", "source")}
       |UNION ALL
       |${one("source", "lang")}
       |UNION ALL
       |${one("lang", "len_bucket")}
       |)
       |ORDER BY fd""".stripMargin
  }
}
