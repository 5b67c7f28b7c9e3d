package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Population Stability Index drift per event type — the INDUSTRY
  * drift scalar (credit-risk model monitoring's standard since the
  * 90s; the 0.1 / 0.2 watch/shift thresholds are its folklore
  * operating points) completing the drift family: `q_drift` compares
  * hashed-vocabulary histograms by JSD, `q_ks_test` tests the whole
  * CDF at the Smirnov critical value, PSI buckets the CURRENT arm by
  * the REFERENCE arm's own deciles and scores Σ (p−q)·ln(p/q) — the
  * banker's question "how much of the population moved out of the
  * score bands I calibrated on", with magnitude bands practitioners
  * already know how to read (< 0.1 stable, < 0.2 watch, else
  * shifted).
  *
  * Determinism: decile EDGES are exact order statistics off the
  * per-(type, value) count grid (min value whose running count
  * reaches k·n₁/10 — integer compare r₁·10 ≥ k·n₁, no division);
  * bucket membership is an integer edge-count; per-bucket counts are
  * exact BIGINTs over the DENSE 10-cell grid (an emptied band is
  * exactly the signal — Laplace +1 keeps ln finite); each bucket's
  * (p−q)·ln(p/q) term computes in double from identical exact
  * integers with identical expression shape, rounds to integer
  * MICRO-PSI, and the per-type total is the exact order-free sum of
  * ROUNDED terms (the readability-rollup rule). An empty arm reports
  * NULL psi/verdict (the q_abtest degenerate guard).
  *
  * Scale: one events fold to the (type, value) grid; everything
  * after runs on grid-bounded frames — the running-count window
  * partitions by type over DISTINCT values (q_quantiles exact-audit
  * shape; [[Kmv]] bottom-k CDFs are the rescan-free path), edges are
  * ≤ 9·|types| rows broadcast, buckets ≤ 10·|types|. The split point
  * is the exact span midpoint; arm membership is a per-row flag.
  */
object Psi {

  /** Decile count and the folklore thresholds in micro-PSI. */
  val Buckets = 10
  val WatchMicro = 100000L
  val ShiftMicro = 200000L

  /** Per-type PSI of `value` between the two halves of the observed
    * window, over any `(event_type, ts, value)` frame:
    * `(event_type, n_ref, n_cur, psi_micro, verdict)`.
    */
  def psiDrift(ev: DataFrame): DataFrame = {
    val span = ev.agg(
      min(unix_micros(col("ts"))).as("mn"),
      max(unix_micros(col("ts"))).as("mx"))
      .select(expr("(mn + mx) div 2").as("mid"))
    val counts = ev.filter(col("value").isNotNull)
      .crossJoin(broadcast(span))
      .select(col("event_type"), col("value"),
        (unix_micros(col("ts")) < col("mid")).cast("long").as("early"))
      .groupBy(col("event_type"), col("value"))
      .agg(sum(col("early")).as("c1"), sum(lit(1L) - col("early")).as("c2"))
    fromCells(counts)
  }

  /** The PSI statistic from a `(event_type, value, c1, c2)` cell
    * table — the SAME mergeable state [[Ks.fromCells]] reads, so one
    * maintained grid drives both detectors ([[graft.streaming.StreamingKs]]
    * runs KS and PSI off one state store; cells merge by addition,
    * [[Ks.mergeCells]]).
    */
  def fromCells(cellFrame: DataFrame): DataFrame = {
    // materialized barrier (a lineage cut → ExistingRDD, the
    // Changepoint.detect precedent): edges, buckets and totals all
    // read the grid-bounded cell frame; a persist would re-print the
    // corpus lineage per reference, and — for the per-trigger
    // streaming detector — accumulate cache entries trigger over
    // trigger, while the checkpoint blocks are GC'd with the frame
    val counts = Iterate.materialize(cellFrame)
    val tot = counts.groupBy(col("event_type"))
      .agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("value"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val run = counts.withColumn("r1", sum(col("c1")).over(w))
      .join(broadcast(tot), "event_type")
    // edge_k = min value whose reference running count reaches k/10 —
    // exact order statistics, integer compare only
    val edges = run
      .select(col("event_type"), col("value"), col("r1"), col("n1"),
        explode(sequence(lit(1), lit(Buckets - 1))).as("k"))
      .filter(col("r1") * Buckets >= col("k") * col("n1"))
      .groupBy(col("event_type"), col("k"))
      .agg(min(col("value")).as("edge"))
    // bucket of a grid value = how many edges it exceeds (0..9)
    val bucketed = counts.join(edges, Seq("event_type"), "left")
      .groupBy(col("event_type"), col("value"), col("c1"), col("c2"))
      .agg(coalesce(sum((col("value") > col("edge")).cast("long")), lit(0L))
        .as("bucket"))
      .groupBy(col("event_type"), col("bucket"))
      .agg(sum(col("c1")).as("s1"), sum(col("c2")).as("s2"))
    // dense 10-cell grid per type: an emptied band must contribute
    val grid = tot.select(col("event_type"), col("n1"), col("n2"),
      explode(sequence(lit(0L), lit(Buckets - 1L))).as("bucket"))
    val cells = grid.join(bucketed, Seq("event_type", "bucket"), "left")
      .select(col("event_type"), col("n1"), col("n2"),
        coalesce(col("s1"), lit(0L)).as("s1"),
        coalesce(col("s2"), lit(0L)).as("s2"))
    val p = (col("s1") + 1).cast("double") / (col("n1") + Buckets).cast("double")
    val q = (col("s2") + 1).cast("double") / (col("n2") + Buckets).cast("double")
    val termMicro = floor((p - q) * log(p / q) * 1e6 + 0.5).cast("long")
    cells
      .groupBy(col("event_type"))
      .agg(max(col("n1")).as("n_ref"), max(col("n2")).as("n_cur"),
        sum(termMicro).as("pm"))
      .select(col("event_type"), col("n_ref"), col("n_cur"),
        when(col("n_ref") > 0 && col("n_cur") > 0, col("pm")).as("psi_micro"),
        when(col("n_ref") > 0 && col("n_cur") > 0,
          when(col("pm") >= ShiftMicro, lit("shifted"))
            .when(col("pm") >= WatchMicro, lit("watch"))
            .otherwise(lit("stable"))).as("verdict"))
  }

  /** q_psi — [[psiDrift]] of the event `value` metric between the two
    * halves of the observed window.
    */
  def psiQuery(s: SparkSession, d: String): DataFrame =
    psiDrift(Tables.events(s, d)).orderBy(col("event_type"))

  /** q_psi_kmv — the promised rescan-free PSI twin (the q_ks_kmv
    * discipline applied to the stability index): per-arm [[Kmv]]
    * bottom-k samples off ONE sketch pass keyed `type|arm`, then the
    * SAME exact-integer decile pipeline as the full detector
    * ([[fromCells]] runs UNCHANGED on the sample cells — edges,
    * dense grid, Laplace, micro terms; the served twin inherits the
    * oracle-checked fold wholesale), true arm counts from one cheap
    * partial-agg fold, and the DKW CDF band √(ln40/2m) per arm
    * stamped so a consumer knows each decile mass is within
    * 2(ε₁+ε₂) of truth. PsiServedSpec cross-validates the served
    * verdict against the exact detector on the fixture.
    */
  def psiServed(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val span = ev.agg(
      min(unix_micros(col("ts"))).as("mn"),
      max(unix_micros(col("ts"))).as("mx"))
      .select(expr("(mn + mx) div 2").as("mid"))
    val flagged = ev.filter(col("value").isNotNull)
      .crossJoin(broadcast(span))
      .select(col("event_type"), col("event_id"), col("value"),
        (unix_micros(col("ts")) < col("mid")).cast("long").as("early"))
    val sk = Kmv.sketch(
      flagged.withColumn("skey",
        concat_ws("|", col("event_type"), col("early"))),
      "skey", "event_id", "value")
      .select(expr("substring_index(key, '|', 1)").as("event_type"),
        expr("substring_index(key, '|', -1)").cast("long").as("early"),
        col("v"))
    val sampleCells = sk.groupBy(col("event_type"), col("v").as("value"))
      .agg(sum(col("early")).as("c1"), sum(lit(1L) - col("early")).as("c2"))
    val det = fromCells(sampleCells)
      .select(col("event_type"), col("n_ref").as("m_ref"),
        col("n_cur").as("m_cur"), col("psi_micro").as("psi_micro_est"),
        col("verdict").as("verdict_est"))
    val ntot = flagged.groupBy(col("event_type"))
      .agg(sum(col("early")).as("n1"), sum(lit(1L) - col("early")).as("n2"))
    val dbl = (c: org.apache.spark.sql.Column) => c.cast("double")
    det.join(broadcast(ntot), "event_type")
      .select(col("event_type"), col("n1").as("n_ref"), col("n2").as("n_cur"),
        col("m_ref"), col("m_cur"), col("psi_micro_est"),
        when(col("m_ref") > 0 && col("m_cur") > 0,
          graft.functions.TextSim.r6(
            sqrt(lit(Ks.Ln40Micro) / (dbl(col("m_ref")) * 2.0)) +
              sqrt(lit(Ks.Ln40Micro) / (dbl(col("m_cur")) * 2.0))))
          .as("eps_cdf"),
        col("verdict_est"))
      .orderBy(col("event_type"))
  }

  val psiServedSql: String = {
    val p = s"(s1 + 1)::DOUBLE / (m1 + $Buckets)::DOUBLE"
    val q = s"(s2 + 1)::DOUBLE / (m2 + $Buckets)::DOUBLE"
    s"""WITH span AS (
       |  SELECT ((min(epoch_us(ts)) + max(epoch_us(ts))) // 2)::BIGINT AS mid
       |  FROM events
       |), flagged AS MATERIALIZED (
       |  SELECT event_type, event_id, value,
       |         (CASE WHEN epoch_us(ts) < span.mid THEN 1 ELSE 0 END)::BIGINT AS early
       |  FROM events CROSS JOIN span
       |  WHERE value IS NOT NULL
       |), hashed AS (
       |  SELECT event_type, early, value AS v,
       |         md5((event_type || '|' || early) || '|' || event_id::VARCHAR) AS h
       |  FROM flagged
       |), rankedh AS (
       |  SELECT *, row_number() OVER (PARTITION BY event_type, early
       |                               ORDER BY h) AS rh
       |  FROM hashed
       |), counts AS MATERIALIZED (
       |  SELECT event_type, v AS value,
       |         sum(early)::BIGINT AS c1, sum(1 - early)::BIGINT AS c2
       |  FROM rankedh WHERE rh <= ${Kmv.K}
       |  GROUP BY event_type, v
       |), tot AS MATERIALIZED (
       |  SELECT event_type, sum(c1)::BIGINT AS m1, sum(c2)::BIGINT AS m2
       |  FROM counts GROUP BY event_type
       |), run AS (
       |  SELECT c.event_type, c.value, c.c1, c.c2, t.m1,
       |         sum(c.c1) OVER (PARTITION BY c.event_type ORDER BY c.value
       |                         ROWS UNBOUNDED PRECEDING)::BIGINT AS r1
       |  FROM counts c JOIN tot t USING (event_type)
       |), edges AS MATERIALIZED (
       |  SELECT event_type, k, min(value) AS edge
       |  FROM run CROSS JOIN (SELECT unnest(range(1, $Buckets)) AS k)
       |  WHERE r1 * $Buckets >= k * m1
       |  GROUP BY event_type, k
       |), bucketed AS (
       |  SELECT event_type, bucket, sum(c1)::BIGINT AS s1, sum(c2)::BIGINT AS s2
       |  FROM (
       |    SELECT c.event_type, c.value, c.c1, c.c2,
       |           coalesce(sum(CASE WHEN c.value > e.edge THEN 1 ELSE 0 END), 0)::BIGINT AS bucket
       |    FROM counts c LEFT JOIN edges e ON e.event_type = c.event_type
       |    GROUP BY c.event_type, c.value, c.c1, c.c2
       |  ) GROUP BY event_type, bucket
       |), cells AS (
       |  SELECT g.event_type, g.m1, g.m2,
       |         coalesce(b.s1, 0)::BIGINT AS s1, coalesce(b.s2, 0)::BIGINT AS s2
       |  FROM (SELECT event_type, m1, m2, unnest(range(0, $Buckets)) AS bucket
       |        FROM tot) g
       |  LEFT JOIN bucketed b ON b.event_type = g.event_type AND b.bucket = g.bucket
       |), folded AS (
       |  SELECT event_type, max(m1)::BIGINT AS m_ref, max(m2)::BIGINT AS m_cur,
       |         sum(floor(($p - $q) * ln(($p) / ($q)) * 1000000.0 + 0.5)::BIGINT)::BIGINT AS pm
       |  FROM cells GROUP BY event_type
       |), ntot AS (
       |  SELECT event_type, sum(early)::BIGINT AS n1,
       |         sum(1 - early)::BIGINT AS n2
       |  FROM flagged GROUP BY event_type
       |)
       |SELECT f.event_type, n.n1 AS n_ref, n.n2 AS n_cur, f.m_ref, f.m_cur,
       |       CASE WHEN f.m_ref > 0 AND f.m_cur > 0 THEN f.pm END AS psi_micro_est,
       |       CASE WHEN f.m_ref > 0 AND f.m_cur > 0 THEN
       |         ${graft.functions.TextSim.r6Sql(
      s"sqrt(${Ks.Ln40Micro} / (f.m_ref::DOUBLE * 2.0)) + sqrt(${Ks.Ln40Micro} / (f.m_cur::DOUBLE * 2.0))")}
       |       END AS eps_cdf,
       |       CASE WHEN f.m_ref > 0 AND f.m_cur > 0 THEN
       |         CASE WHEN f.pm >= $ShiftMicro THEN 'shifted'
       |              WHEN f.pm >= $WatchMicro THEN 'watch'
       |              ELSE 'stable' END END AS verdict_est
       |FROM folded f JOIN ntot n USING (event_type)
       |ORDER BY f.event_type""".stripMargin
  }

  val psiSql: String = {
    val p = s"(s1 + 1)::DOUBLE / (n1 + $Buckets)::DOUBLE"
    val q = s"(s2 + 1)::DOUBLE / (n2 + $Buckets)::DOUBLE"
    s"""WITH span AS (
       |  SELECT ((min(epoch_us(ts)) + max(epoch_us(ts))) // 2)::BIGINT AS mid
       |  FROM events
       |), counts AS MATERIALIZED (
       |  SELECT event_type, value,
       |         sum(CASE WHEN epoch_us(ts) < span.mid THEN 1 ELSE 0 END)::BIGINT AS c1,
       |         sum(CASE WHEN epoch_us(ts) < span.mid THEN 0 ELSE 1 END)::BIGINT AS c2
       |  FROM events CROSS JOIN span
       |  WHERE value IS NOT NULL
       |  GROUP BY event_type, value
       |), tot AS MATERIALIZED (
       |  SELECT event_type, sum(c1)::BIGINT AS n1, sum(c2)::BIGINT AS n2
       |  FROM counts GROUP BY event_type
       |), run AS (
       |  SELECT c.event_type, c.value, c.c1, c.c2, t.n1,
       |         sum(c.c1) OVER (PARTITION BY c.event_type ORDER BY c.value
       |                         ROWS UNBOUNDED PRECEDING)::BIGINT AS r1
       |  FROM counts c JOIN tot t USING (event_type)
       |), edges AS MATERIALIZED (
       |  SELECT event_type, k, min(value) AS edge
       |  FROM run CROSS JOIN (SELECT unnest(range(1, $Buckets)) AS k)
       |  WHERE r1 * $Buckets >= k * n1
       |  GROUP BY event_type, k
       |), bucketed AS (
       |  SELECT event_type, bucket, sum(c1)::BIGINT AS s1, sum(c2)::BIGINT AS s2
       |  FROM (
       |    SELECT c.event_type, c.value, c.c1, c.c2,
       |           coalesce(sum(CASE WHEN c.value > e.edge THEN 1 ELSE 0 END), 0)::BIGINT AS bucket
       |    FROM counts c LEFT JOIN edges e ON e.event_type = c.event_type
       |    GROUP BY c.event_type, c.value, c.c1, c.c2
       |  ) GROUP BY event_type, bucket
       |), cells AS (
       |  SELECT g.event_type, g.n1, g.n2,
       |         coalesce(b.s1, 0)::BIGINT AS s1, coalesce(b.s2, 0)::BIGINT AS s2
       |  FROM (SELECT event_type, n1, n2, unnest(range(0, $Buckets)) AS bucket
       |        FROM tot) g
       |  LEFT JOIN bucketed b ON b.event_type = g.event_type AND b.bucket = g.bucket
       |), folded AS (
       |  SELECT event_type, max(n1)::BIGINT AS n_ref, max(n2)::BIGINT AS n_cur,
       |         sum(floor(($p - $q) * ln(($p) / ($q)) * 1000000.0 + 0.5)::BIGINT)::BIGINT AS pm
       |  FROM cells GROUP BY event_type
       |)
       |SELECT event_type, n_ref, n_cur,
       |       CASE WHEN n_ref > 0 AND n_cur > 0 THEN pm END AS psi_micro,
       |       CASE WHEN n_ref > 0 AND n_cur > 0 THEN
       |         CASE WHEN pm >= $ShiftMicro THEN 'shifted'
       |              WHEN pm >= $WatchMicro THEN 'watch'
       |              ELSE 'stable' END END AS verdict
       |FROM folded
       |ORDER BY event_type""".stripMargin
  }
}
