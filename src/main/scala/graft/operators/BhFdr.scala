package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Benjamini–Hochberg false-discovery-rate control (Benjamini &
  * Hochberg 1995) over a FAMILY of per-slice hypothesis tests — the
  * multiple-testing guardrail the single-readout tests ([[PermTest]],
  * [[Events.abtest]], `q_srm`) need the moment they run PER SLICE:
  * screening every source for a metric shift at α=0.05 individually
  * fires ~1 in 20 null slices; BH's step-up (reject the k smallest
  * p's where k = max{i : p(i) ≤ i·α/m}) bounds the EXPECTED FALSE
  * DISCOVERY FRACTION at α while keeping far more power than
  * Bonferroni's α/m everywhere.
  *
  * The per-slice p's are themselves assumption-free: an md5-keyed
  * Monte-Carlo permutation test per source ([[PermTest]]'s exact
  * discipline — B = [[Perms]] deterministic relabelings, arm-mean
  * diffs on the integer micro lattice, the VALID estimator
  * p = (n_ge+1)/(B+1), Phipson & Smyth 2010). A source where the
  * observed split leaves an arm empty has NULL obs diff and is
  * EXCLUDED from the family (p NULL, m counts only testable slices) —
  * counting it at the p-floor would manufacture a discovery from a
  * degenerate split, identically guarded in both engines.
  *
  * Everything is integer arithmetic end to end: the step-up
  * comparison p(i) ≤ i·α/m rides as p_micro·m ≤ i·[[AlphaMicro]]
  * (exact — no division), the rank window breaks p ties by source
  * name, and rejection is "rank ≤ max candidate rank" (the step-up:
  * a slice FAILING its own threshold is still rejected when a
  * worse-ranked slice passes).
  *
  * Scale: one corpus fold to (source, doc, y); the permutation grid
  * is corpus × B (a bounded design constant) folded straight back by
  * partial agg to |sources|·B rows; BH itself runs on the |sources|
  * frame (a census-bounded window, the q_source_card argument).
  */
object BhFdr {

  /** Monte-Carlo permutations per slice. B sizes the p FLOOR
    * 1/(B+1), and the floor must clear the family's tightest step-up
    * threshold α/m or no single slice is ever rejectable: at B = 500
    * the floor is ~0.002 < 0.05/20, so one truly-shifted slice among
    * twenty can still be discovered (B = 50 would cap p at 0.0196 and
    * silently disable rank-1 rejections — a power bug, not a speed
    * win).
    */
  val Perms = 500

  /** FDR level α = 0.05 in micro units. */
  val AlphaMicro = 50000L

  private def armOf(key: Column): Column =
    when(conv(substring(md5(key), 1, 7), 16, 10).cast("long") % 2 === 0, 1L)
      .otherwise(0L)

  def bhFdr(s: SparkSession, d: String): DataFrame =
    bhOfSlices(Tables.documents(s, d)
      .select(col("source"), col("doc_id").cast("string").as("unit"),
        col("n_chars").cast("long").as("y")))

  /** The screened family over any (source, unit, y) frame. */
  def bhOfSlices(slicesRaw: DataFrame): DataFrame = {
    val slices = Iterate.materialize(slicesRaw) // obs fold + B-grid fold
    def diffMicro(df: DataFrame, arm: Column, keys: Seq[String]): DataFrame =
      df.withColumn("a", arm)
        .groupBy(keys.map(col): _*)
        .agg(sum(when(col("a") === 1L, col("y"))).cast("long").as("sya"),
          sum(when(col("a") === 1L, 1L).otherwise(0L)).cast("long").as("na"),
          sum(when(col("a") === 0L, col("y"))).cast("long").as("syb"),
          sum(when(col("a") === 0L, 1L).otherwise(0L)).cast("long").as("nb"))
        .withColumn("diff_micro", when(col("na") > 0L && col("nb") > 0L,
          expr("(sya * 1000000) div na - (syb * 1000000) div nb")))
    val obs = diffMicro(slices, armOf(concat(lit("arm:"), col("unit"))),
      Seq("source"))
      .select(col("source"), col("diff_micro").as("obs_micro"),
        (col("na") + col("nb")).as("n_units"))
    val grid = slices.crossJoin(broadcast(
      slices.sparkSession.range(Perms).select(col("id").as("pid"))))
    val perms = diffMicro(grid,
      armOf(concat(lit("perm:"), col("pid").cast("string"), lit(":"),
        col("unit"))), Seq("source", "pid"))
    val pvals = perms.join(obs, Seq("source"))
      .groupBy(col("source"))
      .agg(max(col("n_units")).as("n_units"),
        max(col("obs_micro")).as("obs_diff_micro"),
        count(lit(1)).cast("long").as("n_perms"),
        sum(when(abs(col("diff_micro")) >= abs(col("obs_micro")), 1L)
          .otherwise(0L)).cast("long").as("n_ge"))
      .withColumn("p_micro", when(col("obs_diff_micro").isNotNull,
        expr("((n_ge + 1) * 1000000) div (n_perms + 1)")))
    bhStep(pvals.select(col("source"), col("n_units"),
      col("obs_diff_micro"), col("p_micro")))
  }

  /** BH step-up over a (source, ..., p_micro) family; NULL p's ride
    * along unranked and never rejected.
    */
  private[graft] def bhStep(pvals: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val all = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val ranked = pvals
      .withColumn("p_rank", when(col("p_micro").isNotNull,
        row_number().over(Window.orderBy(
          col("p_micro").isNull, col("p_micro"), col("source"))).cast("long")))
      .withColumn("n_tests",
        sum(when(col("p_micro").isNotNull, 1L).otherwise(0L)).over(all))
    ranked
      .withColumn("k", coalesce(max(when(
        col("p_micro") * col("n_tests") <= col("p_rank") * AlphaMicro,
        col("p_rank"))).over(all), lit(0L)))
      .withColumn("bh_rejected", when(col("p_micro").isNotNull,
        (col("p_rank") <= col("k")).cast("int")))
      .drop("k")
  }

  val bhFdrSql: String = {
    def arm(key: String) =
      s"CASE WHEN ('0x' || substr(md5($key), 1, 7))::BIGINT % 2 = 0 THEN 1 ELSE 0 END"
    s"""WITH slices AS MATERIALIZED (
       |  SELECT source, doc_id::VARCHAR AS unit, n_chars::BIGINT AS y
       |  FROM documents
       |), obs AS (
       |  SELECT source,
       |         CASE WHEN na > 0 AND nb > 0
       |              THEN (sya * 1000000) // na - (syb * 1000000) // nb
       |              END::BIGINT AS obs_micro,
       |         (na + nb)::BIGINT AS n_units
       |  FROM (
       |    SELECT source,
       |           sum(CASE WHEN a = 1 THEN y END)::BIGINT AS sya,
       |           sum(CASE WHEN a = 1 THEN 1 ELSE 0 END)::BIGINT AS na,
       |           sum(CASE WHEN a = 0 THEN y END)::BIGINT AS syb,
       |           sum(CASE WHEN a = 0 THEN 1 ELSE 0 END)::BIGINT AS nb
       |    FROM (SELECT source, y, ${arm("'arm:' || unit")} AS a FROM slices)
       |    GROUP BY source)
       |), perms AS (
       |  SELECT source, pid,
       |    CASE WHEN na > 0 AND nb > 0
       |         THEN (sya * 1000000) // na - (syb * 1000000) // nb
       |         END::BIGINT AS diff_micro
       |  FROM (
       |    SELECT source, pid,
       |           sum(CASE WHEN a = 1 THEN y END)::BIGINT AS sya,
       |           sum(CASE WHEN a = 1 THEN 1 ELSE 0 END)::BIGINT AS na,
       |           sum(CASE WHEN a = 0 THEN y END)::BIGINT AS syb,
       |           sum(CASE WHEN a = 0 THEN 1 ELSE 0 END)::BIGINT AS nb
       |    FROM (
       |      SELECT s.source, s.y, g.pid,
       |             ${arm("'perm:' || g.pid || ':' || s.unit")} AS a
       |      FROM slices s
       |      CROSS JOIN (SELECT unnest(range(0, $Perms)) AS pid) g)
       |    GROUP BY source, pid)
       |), pvals AS (
       |  SELECT p.source, max(o.n_units)::BIGINT AS n_units,
       |         max(o.obs_micro)::BIGINT AS obs_diff_micro,
       |         count(*)::BIGINT AS n_perms,
       |         sum(CASE WHEN abs(p.diff_micro) >= abs(o.obs_micro)
       |                  THEN 1 ELSE 0 END)::BIGINT AS n_ge
       |  FROM perms p JOIN obs o ON o.source = p.source
       |  GROUP BY p.source
       |), family AS (
       |  SELECT source, n_units, obs_diff_micro,
       |         CASE WHEN obs_diff_micro IS NOT NULL
       |              THEN ((n_ge + 1) * 1000000) // (n_perms + 1)
       |              END::BIGINT AS p_micro
       |  FROM pvals
       |), ranked AS (
       |  SELECT *,
       |         CASE WHEN p_micro IS NOT NULL THEN
       |           row_number() OVER (ORDER BY (p_micro IS NULL), p_micro, source)
       |           END::BIGINT AS p_rank,
       |         sum(CASE WHEN p_micro IS NOT NULL THEN 1 ELSE 0 END)
       |           OVER ()::BIGINT AS n_tests
       |  FROM family
       |), stepped AS (
       |  SELECT *, coalesce(max(CASE WHEN p_micro * n_tests <= p_rank * $AlphaMicro
       |                              THEN p_rank END) OVER (), 0)::BIGINT AS k
       |  FROM ranked
       |)
       |SELECT source, n_units, obs_diff_micro, p_micro, p_rank, n_tests,
       |       CASE WHEN p_micro IS NOT NULL THEN (p_rank <= k)::INT END
       |         AS bh_rejected
       |FROM stepped ORDER BY source""".stripMargin
  }
}
