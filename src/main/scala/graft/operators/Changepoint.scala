package graft.operators

import graft.Tables
import graft.functions.TextSim
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Offline change-point detection over the hourly event series — the
  * first split of binary segmentation (Scott & Knott 1974; the CUSUM
  * statistic's least-squares form): for each event type, find the cut
  * that maximizes the between-segment sum-of-squares gain
  * `S_k²/k + (S_n−S_k)²/(n−k) − S_n²/n`, i.e. the single level shift
  * that explains the most variance. This is the REGIME answer next to
  * the point answers the engine already has: [[Events.anomaly]] flags
  * single weird hours against a global baseline, `q_trend_slope` fits
  * one global drift line — a deploy/outage/holiday that moves the
  * BASELINE itself is invisible to both (the shifted level inflates
  * the anomaly stddev and averages into the slope) and is exactly
  * what the split finds. `explained` = gain / total SSE (the η² of
  * the one-split model) grades how step-like the series is: ≈1 a
  * clean level shift, ≈0 noise around a flat mean.
  *
  * Determinism: the dense grid (missing hours are y = 0 — the
  * q_gapfill lesson), prefix sums S_k, and totals are exact BIGINTs;
  * gain and η² divide them in double with ONE r6 round each, and the
  * argmax ties on the ROUNDED gain to the earliest cut
  * (`max(struct(gain, -k))` — the house rounded-decision rule), so
  * the chosen cut is engine-identical. Degenerate flat series (total
  * SSE = 0) reports NULL explained — the `q_abtest` guard — with
  * gain 0 and cut at the earliest hour by the tie rule.
  *
  * Scale shape: one corpus fold to (type, hour) counts; everything
  * after runs on the |types|·H cell frame. The prefix-sum window
  * partitions by event_type with H rows of state — bounded by the
  * TIME span, not the corpus (at 100 TB events, H is still the
  * number of hours in the window); the totals frame is ≤|types| rows
  * and broadcasts back. The corpus never shuffles by event id.
  */
object Changepoint {

  /** Per-type single change point over any `(event_type, ts)` frame:
    * `(event_type, n_hours, cut_k, cut_hour, mean_before, mean_after,
    * gain, explained)` — cut AFTER the k'th dense hour, `cut_hour`
    * the first hour of the new regime.
    */
  def changepoint(ev: DataFrame): DataFrame =
    detect(cells(ev))

  /** Sparse per-(type, hour) counts — the maintained state a STREAM
    * keeps incrementally ([[graft.streaming.StreamingChangepoint]]);
    * the batch form is one corpus fold.
    */
  def cells(ev: DataFrame): DataFrame =
    ev.groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
      .agg(count(lit(1)).cast("long").as("y"))

  /** Materialized sparse cells + hour span of a `(h, event_type, y)`
    * cell frame, for the time-series folds over a dense hour grid
    * ([[Ewma]], [[Cusum]], [[HoltWinters]], [[Backtest]], [[Autocorr]],
    * [[Seasonal]]): ONE job materializes the
    * TIME-bounded `(event_type, hu, y)` frame, and the span rides that
    * same job as Observation metrics, so deriving `lo`/`nH` adds NO
    * extra job and the returned frame's consumers re-read H·|types|
    * materialized rows, never events.
    * Returns `(cells, loMicros, nHours)`; `nHours = 0` on empty. An
    * observed node whose stage AQE dropped reports no metrics (the
    * hole [[IncrementalRunner.runWithStats]] covers): the span is then
    * read off the materialized cells.
    */
  def cellSpan(cellFrame: DataFrame): (DataFrame, Long, Int) = {
    val span = Seq(count(lit(1)).as("n"), min(col("hu")).as("lo"),
      max(col("hu")).as("hi"))
    val obs = org.apache.spark.sql.Observation()
    val c = Iterate.materialize(
      cellFrame
        .select(col("event_type"), unix_micros(col("h")).as("hu"), col("y"))
        .observe(obs, span.head, span.tail: _*))
    val m = obs.get
    val r = if (m.contains("n")) Row(m("n"), m("lo"), m("hi"))
      else c.agg(span.head, span.tail: _*).head()
    if (r.getLong(0) == 0L) (c, 0L, 0)
    else (c, r.getLong(1), ((r.getLong(2) - r.getLong(1)) / 3600000000L).toInt + 1)
  }

  /** Detection over a sparse `(h, event_type, y)` cell frame: densify
    * over the observed span (missing hours are y = 0), then the
    * prefix-sum argmax. Runs on H·|types| rows — the shape a
    * per-trigger streaming detector re-runs without touching events.
    */
  def detect(aggRaw: DataFrame): DataFrame = {
    // barrier: span, the type list, and the grid join all read the
    // cell frame — unmaterialized, each reference re-derives the whole
    // events fold (3 corpus scans, caught by the ExplainAudit bounded-
    // scan invariant). A lineage cut, NOT persist: a per-trigger
    // streaming detector calls this every batch, and CacheManager
    // entries are never auto-released — local checkpoint blocks are
    // GC'd with the frame reference (the ContextCleaner contract), so
    // a long-lived monitor cannot accumulate cache entries.
    val agg = Iterate.materialize(aggRaw)
    val span = agg.agg(min(col("h")).as("lo"), max(col("h")).as("hi"))
    val hours = span.select(
      explode(sequence(col("lo"), col("hi"), expr("interval 1 hour"))).as("h"))
    // alias through a fresh attribute: the grid branch and the cell
    // branch both descend from `agg`, and a VIEW input (the streaming
    // per-trigger sink) hits the conflicting-reference check without it
    val types = agg.select(col("event_type").as("et")).distinct()
      .select(col("et").as("event_type"))
    val grid = hours.crossJoin(types)
    val cells = grid.join(agg, Seq("h", "event_type"), "left")
      .withColumn("y", coalesce(col("y"), lit(0L)))
    val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
    val pre = cells
      .withColumn("k", row_number().over(w).cast("long"))
      .withColumn("sk", sum(col("y")).over(w))
    val tot = cells.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("sn"),
        sum(col("y") * col("y")).as("syy"))
    val dbl = (c: org.apache.spark.sql.Column) => c.cast("double")
    val gain = TextSim.r6(
      dbl(col("sk")) * dbl(col("sk")) / dbl(col("k")) +
        dbl(col("sn") - col("sk")) * dbl(col("sn") - col("sk")) /
          dbl(col("n") - col("k")) -
        dbl(col("sn")) * dbl(col("sn")) / dbl(col("n")))
    val scored = pre.join(broadcast(tot), Seq("event_type"))
      .filter(col("k") < col("n"))
      .withColumn("gain", gain)
    scored
      .groupBy(col("event_type"))
      .agg(max(struct(col("gain").as("g"), (-col("k")).as("nk"),
        col("sk").as("sk"), col("h").as("h"), col("n").as("n"),
        col("sn").as("sn"), col("syy").as("syy"))).as("m"))
      .select(col("event_type"),
        col("m.n").as("n_hours"),
        (-col("m.nk")).as("cut_k"),
        date_format(col("m.h") + expr("interval 1 hour"),
          "yyyy-MM-dd HH:mm:ss").as("cut_hour"),
        TextSim.r6(dbl(col("m.sk")) / dbl(-col("m.nk"))).as("mean_before"),
        TextSim.r6(dbl(col("m.sn") - col("m.sk")) /
          dbl(col("m.n") + col("m.nk"))).as("mean_after"),
        col("m.g").as("gain"),
        when(dbl(col("m.syy")) - dbl(col("m.sn")) * dbl(col("m.sn")) /
          dbl(col("m.n")) > 0d,
          TextSim.r6(col("m.g") / (dbl(col("m.syy")) -
            dbl(col("m.sn")) * dbl(col("m.sn")) / dbl(col("m.n")))))
          .as("explained"))
  }

  /** q_changepoint — [[changepoint]] over the events table. */
  def changepointQuery(s: SparkSession, d: String): DataFrame =
    changepoint(Tables.events(s, d)).orderBy(col("event_type"))

  val changepointSql: String =
    s"""WITH span AS (
       |  SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
       |  FROM events
       |), hours AS (
       |  SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h FROM span
       |), grid AS (
       |  SELECT hours.h, ty.event_type
       |  FROM hours CROSS JOIN (SELECT DISTINCT event_type FROM events) ty
       |), agg AS (
       |  SELECT date_trunc('hour', ts) AS h, event_type, count(*)::BIGINT AS y
       |  FROM events GROUP BY 1, 2
       |), cells AS (
       |  SELECT grid.event_type, grid.h, coalesce(agg.y, 0)::BIGINT AS y
       |  FROM grid LEFT JOIN agg ON grid.h = agg.h AND grid.event_type = agg.event_type
       |), pre AS (
       |  SELECT event_type, h,
       |         row_number() OVER (PARTITION BY event_type ORDER BY h)::BIGINT AS k,
       |         sum(y) OVER (PARTITION BY event_type ORDER BY h
       |                      ROWS UNBOUNDED PRECEDING)::BIGINT AS sk
       |  FROM cells
       |), tot AS (
       |  SELECT event_type, count(*)::BIGINT AS n, sum(y)::BIGINT AS sn,
       |         sum(y * y)::BIGINT AS syy
       |  FROM cells GROUP BY event_type
       |), scored AS (
       |  SELECT pre.event_type, h, k, sk, n, sn, syy,
       |         ${TextSim.r6Sql(
      "sk::DOUBLE * sk::DOUBLE / k::DOUBLE " +
        "+ (sn - sk)::DOUBLE * (sn - sk)::DOUBLE / (n - k)::DOUBLE " +
        "- sn::DOUBLE * sn::DOUBLE / n::DOUBLE")} AS gain
       |  FROM pre JOIN tot ON pre.event_type = tot.event_type
       |  WHERE k < n
       |), best AS (
       |  SELECT event_type,
       |         max({'g': gain, 'nk': -k, 'sk': sk, 'h': h,
       |              'n': n, 'sn': sn, 'syy': syy}) AS m
       |  FROM scored GROUP BY event_type
       |)
       |SELECT event_type,
       |       m.n AS n_hours,
       |       -(m.nk) AS cut_k,
       |       strftime(m.h + INTERVAL 1 HOUR, '%Y-%m-%d %H:%M:%S') AS cut_hour,
       |       ${TextSim.r6Sql("m.sk::DOUBLE / (-(m.nk))::DOUBLE")} AS mean_before,
       |       ${TextSim.r6Sql("(m.sn - m.sk)::DOUBLE / (m.n + m.nk)::DOUBLE")} AS mean_after,
       |       m.g AS gain,
       |       CASE WHEN m.syy::DOUBLE - m.sn::DOUBLE * m.sn::DOUBLE / m.n::DOUBLE > 0
       |            THEN ${TextSim.r6Sql(
      "m.g / (m.syy::DOUBLE - m.sn::DOUBLE * m.sn::DOUBLE / m.n::DOUBLE)")}
       |       END AS explained
       |FROM best
       |ORDER BY event_type""".stripMargin
}
