package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Two-sided CUSUM drift monitor (Page 1954) over the dense hourly
  * series — the SUSTAINED-small-shift detector the volume family
  * lacked: `q_anomaly`/`q_anomaly_mad` score hours one at a time (a
  * +30% shift never clears a per-hour threshold), `q_changepoint`
  * locates one retrospective break; CUSUM accumulates the excess
  * over a reference mean hour by hour, so a small persistent drift
  * crosses the decision line within a few hours while noise resets
  * to zero — the classic SPC monitor a feed-health page runs.
  *
  * Parameterization (documented, integer-exact): reference window =
  * the first half of the span; μ₀ = reference mean (micro,
  * div-floor); allowance k = μ₀/10 (drift below 10% of baseline is
  * tolerated); decision h = μ₀ + 1e6 (one baseline-mean PLUS one
  * absolute event-hour of accumulated excess — the +1e6 keeps an
  * all-zero reference from alarming on the first event). Up and
  * down sides run simultaneously:
  * S⁺ₜ = max(0, S⁺ₜ₋₁ + yₜ·1e6 − μ₀ − k),
  * S⁻ₜ = max(0, S⁻ₜ₋₁ + μ₀ − yₜ·1e6 − k).
  *
  * Determinism: every quantity is a BIGINT in micro units — no σ
  * estimate, no sqrt, nothing to diverge; the recursion is the
  * [[Ewma]] executor-fold class (inherently sequential in t, folded
  * per type inside `mapGroups` over the TIME-bounded dense cell
  * frame — never event volume; one corpus scan total, span riding it
  * as Observation metrics), mirrored by a recursive-CTE oracle whose arm
  * computes each new state once in a subquery (the HoltWinters
  * rule). Spans too short to split (< 4 hours) report NULLs.
  */
object Cusum {

  private val HourUs = 3600000000L

  def cusumQuery(s: SparkSession, d: String): DataFrame =
    cusum(Tables.events(s, d))

  def cusum(ev: DataFrame): DataFrame =
    cusumFromCells(Changepoint.cells(ev))

  /** The monitor over a maintained `(h, event_type, y)` cell frame —
    * the SAME state [[graft.streaming.StreamingChangepoint.cells]]
    * keeps, so a per-trigger streamed CUSUM re-decides without
    * touching raw events (streamed ≡ batch asserted in CusumSpec).
    */
  def cusumFromCells(cellsRaw: DataFrame): DataFrame = {
    val s = cellsRaw.sparkSession
    import s.implicits._
    // ONE scan materializes the TIME-bounded sparse cells (span rides
    // it as Observation metrics); the sequential monitor runs per type
    // INSIDE mapGroups — executor-side, densified per group
    val (cells, lo, nH) = Changepoint.cellSpan(cellsRaw)
    if (nH == 0)
      return s.emptyDataFrame.select(lit("").as("event_type"),
        lit(0L).as("n_hours"), lit(0L).as("n_ref"), lit(0L).as("mu0_micro"),
        lit(0L).as("max_up_micro"), lit(0L).as("max_down_micro"),
        lit(0L).as("first_alarm"), lit(0).as("drifted"))
    val n0 = nH / 2
    cells.as[(String, Long, Long)]
      .groupByKey(_._1)
      .mapGroups { (tpe, it) =>
        val ys = Array.fill(nH)(0L)
        it.foreach { case (_, hu, y) => ys(((hu - lo) / HourUs).toInt) = y }
        if (nH < 4) (tpe, nH.toLong, n0.toLong, None: Option[Long], 0L, 0L,
          None: Option[Long], 0)
        else {
          val mu0 = (ys.take(n0).sum * 1000000L) / n0
          val k = mu0 / 10L
          val h = mu0 + 1000000L
          var sp = 0L; var sn = 0L; var msp = 0L; var msn = 0L
          var alarm: Option[Long] = None
          for (t <- n0 until nH) {
            sp = math.max(0L, sp + ys(t) * 1000000L - mu0 - k)
            sn = math.max(0L, sn + mu0 - ys(t) * 1000000L - k)
            msp = math.max(msp, sp); msn = math.max(msn, sn)
            if (alarm.isEmpty && (sp > h || sn > h)) alarm = Some(t.toLong)
          }
          (tpe, nH.toLong, n0.toLong, Some(mu0), msp, msn, alarm,
            if (alarm.isDefined) 1 else 0)
        }
      }
      .toDF("event_type", "n_hours", "n_ref", "mu0_micro",
        "max_up_micro", "max_down_micro", "first_alarm", "drifted")
      .select(col("event_type"), col("n_hours"), col("n_ref"),
        col("mu0_micro"), col("max_up_micro"), col("max_down_micro"),
        col("first_alarm"), col("drifted"))
  }

  val cusumSql: String =
    s"""WITH RECURSIVE span AS (
       |  SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
       |  FROM events
       |), hours AS (
       |  SELECT h, (row_number() OVER (ORDER BY h) - 1)::BIGINT AS t
       |  FROM (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h FROM span)
       |), nh AS (
       |  SELECT max(t) + 1 AS n_hours, (max(t) + 1) // 2 AS n0 FROM hours
       |), agg AS (
       |  SELECT date_trunc('hour', ts) AS h, event_type, count(*)::BIGINT AS y
       |  FROM events GROUP BY 1, 2
       |), cells AS MATERIALIZED (
       |  SELECT ty.event_type, hours.t, coalesce(agg.y, 0)::BIGINT AS y
       |  FROM hours CROSS JOIN (SELECT DISTINCT event_type FROM events) ty
       |  LEFT JOIN agg ON agg.h = hours.h AND agg.event_type = ty.event_type
       |), ref AS MATERIALIZED (
       |  -- n0 > 0 gate mirrors the Scala nH < 4 NULL path: a corpus
       |  -- spanning a single hour has n0 = 0, and ref must still emit
       |  -- a row per type (NULL mu0) rather than divide by zero /
       |  -- vanish while the Scala side returns gated rows.
       |  SELECT ty.event_type,
       |         CASE WHEN nh.n0 > 0
       |              THEN (coalesce(s.sy, 0) * 1000000) // nh.n0
       |              END::BIGINT AS mu0
       |  FROM (SELECT DISTINCT event_type FROM events) ty
       |  CROSS JOIN nh
       |  LEFT JOIN (SELECT c.event_type, sum(c.y) AS sy
       |             FROM cells c CROSS JOIN nh WHERE c.t < nh.n0
       |             GROUP BY c.event_type) s ON s.event_type = ty.event_type
       |), cu(event_type, t, sp, sn, msp, msn, alarm) AS (
       |  SELECT event_type, n0 - 1, 0::BIGINT, 0::BIGINT, 0::BIGINT,
       |         0::BIGINT, NULL::BIGINT
       |  FROM ref CROSS JOIN nh
       |  UNION ALL
       |  SELECT event_type, t, nsp, nsn,
       |         greatest(msp, nsp), greatest(msn, nsn),
       |         CASE WHEN alarm IS NOT NULL THEN alarm
       |              WHEN nsp > mu0 + 1000000 OR nsn > mu0 + 1000000 THEN t
       |              END
       |  FROM (
       |    SELECT c.event_type, c.t, e.msp, e.msn, e.alarm, r.mu0,
       |           greatest(0, e.sp + c.y * 1000000 - r.mu0 - r.mu0 // 10) AS nsp,
       |           greatest(0, e.sn + r.mu0 - c.y * 1000000 - r.mu0 // 10) AS nsn
       |    FROM cu e
       |    JOIN cells c ON c.event_type = e.event_type AND c.t = e.t + 1
       |    JOIN ref r ON r.event_type = e.event_type)
       |), last AS (
       |  SELECT e.event_type, e.msp, e.msn, e.alarm
       |  FROM cu e CROSS JOIN nh WHERE e.t = nh.n_hours - 1
       |)
       |SELECT r.event_type, nh.n_hours::BIGINT AS n_hours,
       |       nh.n0::BIGINT AS n_ref,
       |       CASE WHEN nh.n_hours >= 4 THEN r.mu0 END AS mu0_micro,
       |       CASE WHEN nh.n_hours >= 4 THEN l.msp ELSE 0 END AS max_up_micro,
       |       CASE WHEN nh.n_hours >= 4 THEN l.msn ELSE 0 END AS max_down_micro,
       |       CASE WHEN nh.n_hours >= 4 THEN l.alarm END AS first_alarm,
       |       (CASE WHEN nh.n_hours >= 4 AND l.alarm IS NOT NULL
       |             THEN 1 ELSE 0 END)::INT AS drifted
       |FROM ref r CROSS JOIN nh
       |LEFT JOIN last l ON l.event_type = r.event_type
       |ORDER BY r.event_type""".stripMargin
}
