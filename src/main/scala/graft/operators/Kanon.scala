package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** k-anonymity generalization ladder — the release-side privacy gate
  * next to [[Scrub]]'s content-side PII redaction: scrubbing deletes
  * identifiers IN the text, but the METADATA tuple a published corpus
  * carries (source, language, size band, ...) can re-identify on its
  * own when a quasi-identifier combination is rare (Sweeney 2002: any
  * group smaller than k is a linkage handle). Before release, every
  * group must reach k members at SOME generalization level — drop the
  * most identifying attribute until it does, suppress what never
  * does.
  *
  * The ladder CASCADES like the [[Graph.kcore]] peel: docs whose full
  * tuple is rare are re-pooled at the next-coarser level, where they
  * may form a big-enough group — a one-shot "group < k → suppress"
  * over-suppresses exactly the rows generalization would have saved.
  * Levels here: 0 = (source, lang, len_bucket), 1 = (lang,
  * len_bucket), 2 = (len_bucket), 3 = suppressed; generalized
  * attributes are reported as NULL.
  *
  * Scale shape: each level is one partial-agg groupBy over the
  * SHRINKING residue (level 1 sees only level-0 failures, ...), with
  * the residue selected by a broadcast semi/anti-join on the
  * ≤|groups| failing-key frame — the corpus is scanned once into the
  * (qi..., doc) projection and never shuffles on doc id. Output is
  * ≤|groups| verdict rows per level, never per-doc.
  */
object Kanon {

  val K = 5
  val BucketChars = 400L

  /** The ladder over a caller frame with the fixture quasi-identifier
    * columns (source, lang, len_bucket). Returns group-level rows:
    * (source, lang, len_bucket, level, n_docs) with NULLs for the
    * generalized attributes, level 3 = suppressed remainder.
    */
  def ladder(docs: DataFrame, k: Int = K): DataFrame = {
    val qi = docs.select(col("source"), col("lang"), col("len_bucket"))
    // persist barriers: each level's group frame feeds BOTH a pass
    // branch and the next level's residue selection — without the
    // barrier the groupBy (and the residue semi-join under it)
    // recomputes once per consumer, turning the 3-level cascade
    // super-linear (measured 2.7 → 8.0 s at a 2.5× rehearsal step;
    // the group frames are ≤|groups| rows, the residues shrink)
    val g0 = qi.groupBy(col("source"), col("lang"), col("len_bucket"))
      .agg(count(lit(1)).as("n_docs")).persist()
    val pass0 = g0.filter(col("n_docs") >= k)
      .select(col("source"), col("lang"), col("len_bucket"),
        lit(0).as("level"), col("n_docs"))
    val fail0 = qi.join(broadcast(g0.filter(col("n_docs") < k)
      .select(col("source"), col("lang"), col("len_bucket"))),
      Seq("source", "lang", "len_bucket"), "left_semi").persist()
    val g1 = fail0.groupBy(col("lang"), col("len_bucket"))
      .agg(count(lit(1)).as("n_docs")).persist()
    val pass1 = g1.filter(col("n_docs") >= k)
      .select(lit(null).cast("string").as("source"), col("lang"),
        col("len_bucket"), lit(1).as("level"), col("n_docs"))
    val fail1 = fail0.join(broadcast(g1.filter(col("n_docs") < k)
      .select(col("lang"), col("len_bucket"))),
      Seq("lang", "len_bucket"), "left_semi")
    val g2 = fail1.groupBy(col("len_bucket"))
      .agg(count(lit(1)).as("n_docs")).persist()
    val pass2 = g2.filter(col("n_docs") >= k)
      .select(lit(null).cast("string").as("source"),
        lit(null).cast("string").as("lang"), col("len_bucket"),
        lit(2).as("level"), col("n_docs"))
    val suppressed = g2.filter(col("n_docs") < k)
      .agg(coalesce(sum(col("n_docs")), lit(0L)).as("n_docs"))
      .filter(col("n_docs") > 0)
      .select(lit(null).cast("string").as("source"),
        lit(null).cast("string").as("lang"),
        lit(null).cast("long").as("len_bucket"),
        lit(3).as("level"), col("n_docs"))
    pass0.unionByName(pass1).unionByName(pass2).unionByName(suppressed)
  }

  /** q_kanon — the ladder over the documents metadata tuple (source,
    * lang, 400-char size band): the tuple mixes big groups with
    * linkage handles at every SF, so all ladder levels do real work.
    * SQL mirror: CTE `meta`.
    */
  def kanon(s: SparkSession, d: String): DataFrame =
    ladder(meta(s, d))
      .orderBy(col("level"), col("source"), col("lang"), col("len_bucket"))

  def meta(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("source"), col("lang"),
      expr(s"n_chars div $BucketChars").as("len_bucket"))

  val metaSql: String =
    s"""meta AS (
       |  SELECT source, lang, n_chars // $BucketChars AS len_bucket
       |  FROM documents
       |)""".stripMargin

  /** Distinct-sensitive-value floor for [[lDiversity]]. */
  val L = 3

  /** q_l_diversity — l-diversity audit (Machanavajjhala et al. 2007),
    * the second privacy bar k-anonymity alone misses: a group can
    * have k members who ALL share the sensitive value, so group
    * membership still discloses it. Quasi-identifier here is
    * (source, size band), sensitive attribute is `lang`: per group,
    * size, distinct sensitive values, and both verdicts (k_ok from
    * [[K]], l_ok from [[L]]) — the q_gopher per-rule reporting
    * discipline, so a release gate sees WHICH bar a group misses.
    * One (qi, sensitive)-keyed partial-agg fold to ≤|groups| verdict
    * rows; the distinct count is the only two-phase term, keyed on
    * the same columns.
    */
  def lDiversity(s: SparkSession, d: String): DataFrame =
    meta(s, d)
      .groupBy(col("source"), col("len_bucket"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_sensitive"))
      .select(col("source"), col("len_bucket"), col("n_docs"),
        col("n_sensitive"),
        (col("n_docs") >= K).as("k_ok"),
        (col("n_sensitive") >= L).as("l_ok"))
      .orderBy(col("source"), col("len_bucket"))

  val lDiversitySql: String =
    s"""WITH meta AS (
       |  SELECT source, lang, n_chars // $BucketChars AS len_bucket
       |  FROM documents
       |)
       |SELECT source, len_bucket,
       |       count(*)::BIGINT AS n_docs,
       |       count(DISTINCT lang)::BIGINT AS n_sensitive,
       |       (count(*) >= $K) AS k_ok,
       |       (count(DISTINCT lang) >= $L) AS l_ok
       |FROM meta
       |GROUP BY source, len_bucket
       |ORDER BY source, len_bucket""".stripMargin

  val kanonSql: String =
    s"""WITH $metaSql,
       |g0 AS (
       |  SELECT source, lang, len_bucket, count(*)::BIGINT AS n_docs
       |  FROM meta GROUP BY source, lang, len_bucket
       |),
       |fail0 AS (
       |  SELECT m.* FROM meta m
       |  JOIN g0 ON g0.source = m.source AND g0.lang = m.lang
       |         AND g0.len_bucket = m.len_bucket
       |  WHERE g0.n_docs < $K
       |),
       |g1 AS (
       |  SELECT lang, len_bucket, count(*)::BIGINT AS n_docs
       |  FROM fail0 GROUP BY lang, len_bucket
       |),
       |fail1 AS (
       |  SELECT f.* FROM fail0 f
       |  JOIN g1 ON g1.lang = f.lang AND g1.len_bucket = f.len_bucket
       |  WHERE g1.n_docs < $K
       |),
       |g2 AS (
       |  SELECT len_bucket, count(*)::BIGINT AS n_docs
       |  FROM fail1 GROUP BY len_bucket
       |),
       |out AS (
       |  SELECT source, lang, len_bucket, 0 AS level, n_docs
       |  FROM g0 WHERE n_docs >= $K
       |  UNION ALL
       |  SELECT NULL, lang, len_bucket, 1, n_docs
       |  FROM g1 WHERE n_docs >= $K
       |  UNION ALL
       |  SELECT NULL, NULL, len_bucket, 2, n_docs
       |  FROM g2 WHERE n_docs >= $K
       |  UNION ALL
       |  SELECT NULL, NULL, NULL, 3, sum(n_docs)::BIGINT
       |  FROM g2 WHERE n_docs < $K
       |  HAVING sum(n_docs) > 0
       |)
       |SELECT source, lang, len_bucket, level, n_docs
       |FROM out
       |ORDER BY level, source, lang, len_bucket""".stripMargin

  /** Total-variation ceiling for [[tCloseness]]. */
  val T = 0.2

  /** q_t_closeness — t-closeness audit (Li et al. ICDE'07), the third
    * privacy bar: a group can be k-anonymous AND l-diverse while its
    * sensitive-value DISTRIBUTION still leaks (90/10 where the
    * population is 50/50 — membership shifts an attacker's posterior
    * hard). Per QI group, the distance from the group's sensitive
    * distribution to the GLOBAL one must stay ≤ t; for a categorical
    * sensitive attribute the EMD ground distance is uniform, so the
    * distance IS total variation ½Σ|p_g(v) − p(v)|.
    *
    * Determinism: over the common denominator n_g·N the numerator
    * Σ_v |c_gv·N − c_v·n_g| is an exact BIGINT fold on the DENSE
    * group×value grid (absent values contribute |0 − c_v·n_g| — the
    * q_embed_drift zero-fill lesson: a missing value is exactly the
    * signal); one double division (r6) and the verdict compares the
    * ROUNDED distance to t.
    *
    * Scale shape: one fold to (qi, value) counts; the dense grid is
    * ≤|groups|·|values| cells (both audit-bounded); group sizes and
    * global value counts broadcast back. The corpus never shuffles
    * by doc.
    */
  def tCloseness(s: SparkSession, d: String): DataFrame =
    tClosenessOf(meta(s, d))

  /** [[tCloseness]] over any `(source, lang, len_bucket)` meta frame. */
  def tClosenessOf(m: DataFrame): DataFrame = {
    val cell = m.groupBy(col("source"), col("len_bucket"), col("lang"))
      .agg(count(lit(1)).cast("long").as("c_gv"))
    val groups = cell.groupBy(col("source"), col("len_bucket"))
      .agg(sum(col("c_gv")).cast("long").as("n_g"))
    val vals = cell.groupBy(col("lang"))
      .agg(sum(col("c_gv")).cast("long").as("c_v"))
    val nTot = vals.agg(sum(col("c_v")).cast("long").as("n_tot"))
    val grid = groups.crossJoin(broadcast(vals))
      .join(cell, Seq("source", "len_bucket", "lang"), "left")
      .withColumn("c_gv", coalesce(col("c_gv"), lit(0L)))
      .crossJoin(broadcast(nTot))
    grid
      .groupBy(col("source"), col("len_bucket"))
      .agg(max(col("n_g")).as("n_g"), max(col("n_tot")).as("n_tot"),
        sum(abs(col("c_gv") * col("n_tot") - col("c_v") * col("n_g")))
          .as("num"))
      .select(col("source"), col("len_bucket"), col("n_g").as("n_docs"),
        graft.functions.TextSim.r6(col("num").cast("double") /
          (lit(2.0) * col("n_g").cast("double") * col("n_tot").cast("double")))
          .as("tv_dist"))
      .withColumn("t_ok", col("tv_dist") <= T)
  }

  val tClosenessSql: String =
    s"""WITH $metaSql,
       |cell AS (
       |  SELECT source, len_bucket, lang, count(*)::BIGINT AS c_gv
       |  FROM meta GROUP BY source, len_bucket, lang
       |), groups AS (
       |  SELECT source, len_bucket, sum(c_gv)::BIGINT AS n_g
       |  FROM cell GROUP BY source, len_bucket
       |), vals AS (
       |  SELECT lang, sum(c_gv)::BIGINT AS c_v FROM cell GROUP BY lang
       |), n_tot AS (
       |  SELECT sum(c_v)::BIGINT AS n_tot FROM vals
       |), grid AS (
       |  SELECT g.source, g.len_bucket, g.n_g, v.lang, v.c_v,
       |         coalesce(c.c_gv, 0)::BIGINT AS c_gv, n_tot.n_tot
       |  FROM groups g CROSS JOIN vals v CROSS JOIN n_tot
       |  LEFT JOIN cell c ON c.source = g.source
       |    AND c.len_bucket = g.len_bucket AND c.lang = v.lang
       |), agg AS (
       |  SELECT source, len_bucket, max(n_g)::BIGINT AS n_docs,
       |         max(n_tot)::BIGINT AS n_tot,
       |         sum(abs(c_gv * n_tot - c_v * n_g))::BIGINT AS num
       |  FROM grid GROUP BY source, len_bucket
       |)
       |SELECT source, len_bucket, n_docs,
       |       ${graft.functions.TextSim.r6Sql(
      "num::DOUBLE / (2.0::DOUBLE * n_docs::DOUBLE * n_tot::DOUBLE)")} AS tv_dist,
       |       (${graft.functions.TextSim.r6Sql(
      "num::DOUBLE / (2.0::DOUBLE * n_docs::DOUBLE * n_tot::DOUBLE)")} <= $T) AS t_ok
       |FROM agg
       |ORDER BY source, len_bucket""".stripMargin
}
