package graft.operators

import graft.Tables
import graft.functions.GridWindow
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** q_concurrency — the concurrent-session timeline: for every hour of
  * the span, how many sessions (the `q_sessionize` 30-minute-gap
  * sessions) were live, started, and ended. The capacity-planning
  * face of the events family: `q_events_hourly` counts events (a
  * chatty user inflates it), this counts concurrent USERS-IN-SESSION —
  * the number a connection pool or serving fleet is actually sized
  * by; its max over the grid is the peak-load watermark.
  *
  * The classic sweep-line (+1 at session start, −1 after its end)
  * made distributed: each session EXPLODES to its ≤3 delta rows in
  * the same projection that built it (one pass, no self-union that
  * would re-run the sessionize window), the deltas fold map-side to
  * the ≤span-hours cell frame, and the ONLY sequential step — the
  * cumulative sum — runs on that bounded grid (GridWindow), never the
  * corpus. Integer hour indexes (epoch µs div 3600e6, the Seasonal
  * convention — no calendar functions), exact integer counts, nothing
  * to round.
  *
  * Scale: one user-keyed sessionize exchange (already paid by any
  * session analytics; bucket by user at 100 TB), one bounded-cell
  * checkpoint barrier feeding grid bounds + the join, output
  * span-hours rows.
  */
object Concurrency {

  def concurrencyQuery(s: SparkSession, d: String): DataFrame =
    concurrency(Tables.events(s, d))

  /** Timeline over any `(user_id, event_id, ts)` frame. */
  def concurrency(ev: DataFrame): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val sess = ev
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 1800000000L,
          1).otherwise(0))
      .withColumn("session_seq",
        sum(col("new_session")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(expr("min(unix_micros(ts)) div 3600000000").as("h0"),
        expr("max(unix_micros(ts)) div 3600000000").as("h1"))
    val cells = Iterate.materialize(
      sess.select(explode(array(
        struct(col("h0").as("h"), lit(1L).as("d"), lit(1L).as("st"), lit(0L).as("en")),
        struct(col("h1").as("h"), lit(0L).as("d"), lit(0L).as("st"), lit(1L).as("en")),
        struct((col("h1") + 1L).as("h"), lit(-1L).as("d"), lit(0L).as("st"), lit(0L).as("en"))))
        .as("u"))
        .select(col("u.h").as("h"), col("u.d").as("d"),
          col("u.st").as("st"), col("u.en").as("en"))
        .groupBy(col("h"))
        .agg(sum(col("d")).cast("long").as("delta"),
          sum(col("st")).cast("long").as("started"),
          sum(col("en")).cast("long").as("ended")))
    val bounds = cells.agg(min(when(col("started") > 0, col("h"))).as("h_lo"),
      max(when(col("ended") > 0, col("h"))).as("h_hi"))
    bounds.select(explode(sequence(col("h_lo"), col("h_hi"))).as("h"))
      .join(cells, Seq("h"), "left")
      .select(col("h"),
        coalesce(col("delta"), lit(0L)).as("delta"),
        coalesce(col("started"), lit(0L)).as("started"),
        coalesce(col("ended"), lit(0L)).as("ended"))
      .withColumn("active",
        sum(col("delta")).over(GridWindow.ord(col("h"))))
      .select(col("h"), col("started"), col("ended"), col("active"))
  }

  val concurrencySql: String =
    s"""WITH marked AS (
       |  SELECT user_id, event_id, ts,
       |         CASE WHEN lag(ts) OVER w IS NULL
       |                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
       |              THEN 1 ELSE 0 END AS new_session
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
       |), sess AS MATERIALIZED (
       |  SELECT min(epoch_us(ts)) // 3600000000 AS h0,
       |         max(epoch_us(ts)) // 3600000000 AS h1
       |  FROM (
       |    SELECT user_id, ts,
       |           (sum(new_session) OVER (PARTITION BY user_id
       |              ORDER BY ts, event_id
       |              ROWS UNBOUNDED PRECEDING))::BIGINT AS session_seq
       |    FROM marked)
       |  GROUP BY user_id, session_seq
       |), cells AS MATERIALIZED (
       |  SELECT h, sum(d)::BIGINT AS delta, sum(st)::BIGINT AS started,
       |         sum(en)::BIGINT AS ended
       |  FROM (
       |    SELECT h0 AS h, 1 AS d, 1 AS st, 0 AS en FROM sess
       |    UNION ALL
       |    SELECT h1, 0, 0, 1 FROM sess
       |    UNION ALL
       |    SELECT h1 + 1, -1, 0, 0 FROM sess
       |  ) GROUP BY h
       |), grid AS (
       |  SELECT unnest(generate_series(
       |    (SELECT min(CASE WHEN started > 0 THEN h END) FROM cells),
       |    (SELECT max(CASE WHEN ended > 0 THEN h END) FROM cells))) AS h
       |)
       |SELECT g.h,
       |       coalesce(c.started, 0)::BIGINT AS started,
       |       coalesce(c.ended, 0)::BIGINT AS ended,
       |       sum(coalesce(c.delta, 0)) OVER (ORDER BY g.h)::BIGINT AS active
       |FROM grid g LEFT JOIN cells c ON c.h = g.h
       |ORDER BY g.h""".stripMargin
}
