package graft.operators

import graft.Tables
import graft.functions.TextSim
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Session-path mining — the first-order Markov transition table of
  * user journeys: within a session (the `q_sessionize` 30-min gap
  * rule), which event type follows which, how often, and with what
  * conditional probability. The user-journey counterpart of
  * [[CorpusStats.pmi]]'s word collocations: `q_funnel` checks ONE
  * prescribed stage order; this discovers what orders actually occur
  * (drop-off loops, self-transitions, unexpected back-edges — the
  * journey-design input).
  *
  * A transition is a CONSECUTIVE event pair of one user with gap ≤ 30
  * min — exactly the pairs the gap-rule sessionizer keeps in one
  * session, so no session-id materialization is needed: one per-user
  * window (the sessionize shuffle), then one partial-agg fold to the
  * ≤|types|² transition frame; per-source totals broadcast back for
  * the conditional probabilities.
  */
object Paths {

  val GapUs = 1800000000L

  /** Transition table over an events frame. */
  def transitions(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val trans = events
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("prev_type", lag(col("event_type"), 1).over(byUser))
      .filter(col("prev_ts").isNotNull &&
        unix_micros(col("ts")) - unix_micros(col("prev_ts")) <= GapUs)
      .select(col("prev_type").as("from_type"), col("event_type").as("to_type"))
    val counts = trans.groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val fromTotals = counts.groupBy(col("from_type"))
      .agg(sum(col("n")).as("t"))
    counts.join(broadcast(fromTotals), Seq("from_type"))
      .select(col("from_type"), col("to_type"), col("n"),
        TextSim.r6(col("n").cast("double") / col("t")).as("p_next"))
  }

  /** q_session_paths — the transition table of the events stream. */
  def sessionPaths(s: SparkSession, d: String): DataFrame =
    transitions(Tables.events(s, d))

  val sessionPathsSql: String =
    s"""WITH marked AS (
       |  SELECT event_type,
       |         lag(event_type) OVER w AS prev_type,
       |         lag(ts) OVER w AS prev_ts,
       |         ts
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
       |), trans AS (
       |  SELECT prev_type AS from_type, event_type AS to_type
       |  FROM marked
       |  WHERE prev_ts IS NOT NULL
       |    AND epoch_us(ts) - epoch_us(prev_ts) <= $GapUs
       |), counts AS (
       |  SELECT from_type, to_type, count(*)::BIGINT AS n
       |  FROM trans GROUP BY 1, 2
       |), tot AS (
       |  SELECT from_type, sum(n)::BIGINT AS t FROM counts GROUP BY from_type
       |)
       |SELECT c.from_type, c.to_type, c.n,
       |       ${TextSim.r6Sql("c.n::DOUBLE / t.t")} AS p_next
       |FROM counts c JOIN tot t USING (from_type)
       |ORDER BY c.from_type, c.to_type""".stripMargin
}
