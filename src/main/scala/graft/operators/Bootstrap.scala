package graft.operators

import graft.Tables
import graft.functions.GridWindow
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** q_bootstrap — POISSON-bootstrap confidence interval for a corpus
  * mean (doc length here; any per-row metric plugs in): the
  * distributed bootstrap. The classical bootstrap resamples n rows
  * WITH replacement — a global operation a cluster cannot do without
  * shuffling the corpus per replicate. The Poisson bootstrap
  * (Chamandy et al., "Estimating uncertainty for massive data
  * streams", 2012; Kleiner et al.'s BLB is the heavier cousin)
  * replaces each row's multinomial resample count with an independent
  * Poisson(1) draw — for large n the replicate distributions
  * converge — so ALL B replicates fold in ONE pass: each row emits
  * its B deterministic weights and the partial agg collapses them
  * map-side to B (Σwx, Σw) accumulators. No resampled corpus ever
  * exists.
  *
  * Determinism: replicate r's weight for a doc is
  * invCdf_Poisson(1)(u) with u = (28-bit md5('boot:' ‖ r ‖ ':' ‖ id)
  * + 0.5)/2²⁸ — the house seeded-draw rule; the inverse CDF is a
  * fixed threshold ladder shared verbatim between the Column and the
  * SQL (capped at 6 — the ~8e-5 tail mass above draws weight exactly
  * 6; documented, both engines identical). Replicate means are exact integer micro-units
  * ((1e6·Σwx) div Σw); the CI bounds are ORDER STATISTICS of the B
  * replicate means at ranks ⌈0.025·B⌉/⌈0.975·B⌉ (percentile
  * bootstrap) — no float summary of the replicate set, so the engines
  * cannot disagree.
  *
  * Scale shape: ONE corpus scan (checkpoint barrier — the point
  * estimate and the replicate fold both read it); the explode-by-B
  * is a projection, not a shuffle — map-side combine reduces it to
  * B rows on the wire; everything downstream runs on the B-row
  * frame. B is the precision dial (CI granularity 1/B), cost is
  * linear in B with no extra passes.
  */
object Bootstrap {

  /** Replicate count: 40 gives 2.5%/97.5% ranks 1 and 39. */
  val NumReps = 40

  /** Cumulative Poisson(1) thresholds for weights 0..5; u above the
    * last takes weight 6. Shared between the Column and SQL forms.
    */
  val PoissonCdf: Seq[Double] = {
    val pmf = (0 to 5).map(k => math.exp(-1.0) / (1 to k).product)
    pmf.scanLeft(0.0)(_ + _).tail
  }

  private def invPoisson(u: Column): Column =
    PoissonCdf.zipWithIndex.foldRight(lit(PoissonCdf.size): Column) {
      case ((t, k), rest) => when(u < t, k).otherwise(rest)
    }.cast("long")

  private def invPoissonSql(u: String): String =
    "CASE " + PoissonCdf.zipWithIndex.map { case (t, k) =>
      s"WHEN $u < $t THEN $k"
    }.mkString(" ") + s" ELSE ${PoissonCdf.size} END"

  def bootstrapQuery(s: SparkSession, d: String): DataFrame =
    bootstrap(Tables.documents(s, d)
      .select(col("doc_id").as("id"), col("n_chars").cast("long").as("x")))

  /** CI report over an `(id, x)` metric frame: 1 row with the point
    * mean and the percentile-bootstrap interval, all integer
    * micro-units.
    */
  def bootstrap(rows: DataFrame): DataFrame = {
    val base = Iterate.materialize(rows)
    val point = base.agg(count(lit(1)).cast("long").as("n_docs"),
      sum(col("x")).cast("long").as("sx"))
      .select(col("n_docs"),
        when(col("n_docs") > 0, expr("(1000000 * sx) div n_docs"))
          .as("mean_micro"))
    val reps = repAccums(base)
      .filter(col("sw") > 0)
      .select(col("r"), expr("(1000000 * swx) div sw").as("m"))
    val ranked = reps
      .withColumn("rk", row_number().over(GridWindow.ord(col("m"), col("r"))))
      .withColumn("n_reps", count(lit(1)).over(GridWindow.all))
    val lo = ranked.filter(col("rk") === ceil(col("n_reps") * 0.025))
      .select(col("m").as("lo_micro"))
    val hi = ranked.filter(col("rk") === ceil(col("n_reps") * 0.975))
      .select(col("m").as("hi_micro"), col("n_reps"))
    point.crossJoin(broadcast(lo)).crossJoin(broadcast(hi))
      .select(col("n_docs"), col("n_reps"), col("mean_micro"),
        col("lo_micro"), col("hi_micro"))
  }

  /** The one-pass replicate fold over an `(id, x)` frame: B rows of
    * `(r, swx, sw)` accumulators. Weights are per-(replicate, id)
    * deterministic, so the accumulators MERGE BY ADDITION across any
    * partition of the rows — the property [[graft.streaming.StreamingBootstrap]]
    * folds batches with.
    */
  def repAccums(rows: DataFrame): DataFrame = {
    val u = (conv(substring(md5(concat(lit("boot:"), col("r").cast("string"),
      lit(":"), col("id").cast("string"))), 1, 7), 16, 10).cast("long")
      .cast("double") + 0.5) / 268435456.0
    rows
      .select(col("id"), col("x"),
        explode(sequence(lit(1), lit(NumReps))).as("r"))
      .withColumn("w", invPoisson(u))
      .groupBy(col("r"))
      .agg(sum(col("w") * col("x")).cast("long").as("swx"),
        sum(col("w")).cast("long").as("sw"))
  }

  val bootstrapSql: String =
    s"""WITH base AS (
       |  SELECT doc_id AS id, n_chars::BIGINT AS x FROM documents
       |), point AS (
       |  SELECT count(*)::BIGINT AS n_docs,
       |         CASE WHEN count(*) > 0
       |              THEN (1000000 * sum(x)::BIGINT) // count(*) END AS mean_micro
       |  FROM base
       |), reps AS (
       |  SELECT r, (1000000 * sum(w * x)::BIGINT) // sum(w)::BIGINT AS m
       |  FROM (
       |    SELECT id, x, r,
       |           (${invPoissonSql(
      "((('0x' || substr(md5('boot:' || r || ':' || id), 1, 7))::BIGINT::DOUBLE + 0.5) / 268435456.0)")})::BIGINT AS w
       |    FROM base CROSS JOIN (SELECT unnest(generate_series(1, $NumReps)) AS r)
       |  ) GROUP BY r HAVING sum(w) > 0
       |), ranked AS (
       |  SELECT m, row_number() OVER (ORDER BY m, r) AS rk,
       |         count(*) OVER () AS n_reps
       |  FROM reps
       |)
       |SELECT p.n_docs, k.n_reps::BIGINT AS n_reps, p.mean_micro,
       |       lo.m AS lo_micro, hi.m AS hi_micro
       |FROM point p
       |CROSS JOIN (SELECT max(n_reps) AS n_reps FROM ranked) k
       |CROSS JOIN (SELECT m FROM ranked WHERE rk = ceil(n_reps * 0.025)) lo
       |CROSS JOIN (SELECT m FROM ranked WHERE rk = ceil(n_reps * 0.975)) hi""".stripMargin
}
