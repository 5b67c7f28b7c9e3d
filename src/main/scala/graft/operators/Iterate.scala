package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions.{coalesce, lit}

/** graft's one lineage cut. Iterative drivers (BFS frontier, Lloyd
  * rounds, label propagation) cut every hop — at depth 20 over 100 TB
  * of edges one recursive plan would not even compile — and mint fresh
  * attribute ids so hop N+1's self-joins aren't ambiguous. So does a
  * frame read more than once, memoized across `clearCache()`, or whose
  * source is about to be overwritten or dropped; an output of this cut
  * (e.g. [[Components.minLabel]]'s) needs no second one.
  *
  * The strategy follows the session, never a per-call argument:
  * reliable `checkpoint` happens iff the SparkContext has a checkpoint
  * directory, and `localCheckpoint` otherwise. graft never sets one —
  * a cluster deployment sets it once, before any job (Spark's
  * `spark.checkpoint.dir` conf, or the SparkContext setter), so
  * concurrent driver chains never rewrite shared session state.
  * - `localCheckpoint`: blocks cached on executors. Fast, but NOT
  *   fault-tolerant — losing an executor loses lineage-less blocks
  *   and kills the job. Right for local/interactive runs.
  * - reliable `checkpoint`: blocks written to shared storage
  *   (HDFS/S3 on a cluster); an executor loss just re-reads. Right
  *   for long multi-hour iterative jobs at scale. Spark deletes the
  *   files only under `spark.cleaner.referenceTracking.cleanCheckpoints`
  *   (graft never sets it): per-trigger cuts ([[Changepoint.detect]],
  *   [[Psi]]) leave files until the deployment cleans the directory.
  */
object Iterate {

  def materialize(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint()
    else df.localCheckpoint()

  /** [[materialize]] with one long aggregate `metric` over `df` riding
    * the same job as an observe() metric — the per-hop frontier size
    * or changed-label count costs no extra scan. An empty frame
    * observes 0. `keep` (all columns when empty) projects the frame
    * after the metric is observed, so a bookkeeping column the metric
    * reads is never materialized.
    */
  def materialize(df: DataFrame, metric: Column,
    keep: Column*): (DataFrame, Long) = {
    val obs = Observation()
    val observed = df.observe(obs, coalesce(metric, lit(0L)).as("m"))
    val out = materialize(if (keep.isEmpty) observed else observed.select(keep: _*))
    (out, obs.get("m").asInstanceOf[Long])
  }
}
