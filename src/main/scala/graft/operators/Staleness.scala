package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** q_staleness — corpus freshness report off the re-fetch log: per
  * source, exact p50/p90/max of "how long since this doc's latest
  * fetch" (staleness = horizon − latest fetch tick) and the fraction
  * within the freshness SLO. The operations face of the snapshot
  * family — `q_snapshot_dedup` picks the latest content, this says
  * whether "latest" is actually RECENT, per source: the number a
  * recrawl scheduler budgets against (a source whose p90 staleness
  * grows is falling out of the refetch rotation — exactly the
  * reference pipeline's incremental-manifest blind spot when a page
  * stops appearing in deltas).
  *
  * Determinism: all integer tick arithmetic; percentiles are the
  * exact order statistics at integer ranks (p50 = element at
  * ⌈n/2⌉ = (n+1) div 2, p90 at ⌈9n/10⌉ = (9n+9) div 10 — the element
  * rule, no interpolation); fresh share is one integer micro
  * division. Scale: one doc-keyed latest-fetch fold (checkpointed —
  * the barrier feeds the horizon AND the join, the q_heaps lesson);
  * per-SOURCE rank windows run parallel across sources; output
  * |sources| rows.
  */
object Staleness {

  /** Freshness SLO in fetch ticks. */
  val FreshWithin = 150L

  def stalenessQuery(s: SparkSession, d: String): DataFrame = {
    val latest = Iterate.materialize(
      Snapshots.fetchLog(s, d).groupBy(col("doc_id"))
        .agg(max(col("ts")).cast("long").as("ts")))
    val horizon = latest.agg(max(col("ts")).as("h"))
    val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
    val stal = latest.crossJoin(broadcast(horizon))
      .join(src, Seq("doc_id"))
      .select(col("source"), col("doc_id"), (col("h") - col("ts")).as("stale"))
    val w = Window.partitionBy(col("source"))
    stal
      .withColumn("rk", row_number().over(w.orderBy(col("stale"), col("doc_id"))))
      .withColumn("n", count(lit(1)).over(w))
      .groupBy(col("source"))
      .agg(max(col("n")).cast("long").as("n_docs"),
        max(when(col("rk") === expr("(n + 1) div 2"), col("stale")))
          .as("p50_stale"),
        max(when(col("rk") === expr("(9 * n + 9) div 10"), col("stale")))
          .as("p90_stale"),
        max(col("stale")).as("max_stale"),
        sum(when(col("stale") <= FreshWithin, 1L).otherwise(0L))
          .cast("long").as("n_fresh"))
      .select(col("source"), col("n_docs"), col("p50_stale"),
        col("p90_stale"), col("max_stale"),
        expr("(1000000 * n_fresh) div n_docs").as("fresh_micro"))
      .orderBy(col("source"))
  }

  val stalenessSql: String =
    s"""WITH ${Snapshots.fetchLogSql},
       |latest AS MATERIALIZED (
       |  SELECT doc_id, max(ts)::BIGINT AS ts FROM snapshots GROUP BY doc_id
       |), stal AS (
       |  SELECT d.source, l.doc_id,
       |         (SELECT max(ts) FROM latest) - l.ts AS stale
       |  FROM latest l JOIN documents d USING (doc_id)
       |), ranked AS (
       |  SELECT source, stale,
       |         row_number() OVER (PARTITION BY source
       |                            ORDER BY stale, doc_id) AS rk,
       |         count(*) OVER (PARTITION BY source) AS n
       |  FROM stal
       |)
       |SELECT source, max(n)::BIGINT AS n_docs,
       |       max(CASE WHEN rk = (n + 1) // 2 THEN stale END)::BIGINT AS p50_stale,
       |       max(CASE WHEN rk = (9 * n + 9) // 10 THEN stale END)::BIGINT AS p90_stale,
       |       max(stale)::BIGINT AS max_stale,
       |       ((1000000 * sum(CASE WHEN stale <= $FreshWithin THEN 1 ELSE 0 END))
       |         // max(n))::BIGINT AS fresh_micro
       |FROM ranked
       |GROUP BY source
       |ORDER BY source""".stripMargin
}
