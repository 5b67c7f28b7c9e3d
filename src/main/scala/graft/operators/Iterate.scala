package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.functions.{coalesce, lit}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag

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
  *
  * The size rule: a round whose carried state (a BFS's visited set plus
  * frontier, ...) fits under `spark.sql.autoBroadcastJoinThreshold`
  * keeps that state on the driver and runs as one scan of the
  * persisted large side plus one collect ([[fitsDriver]], [[maxRows]],
  * [[collectIfFits]]) — the size Spark already agrees to hold on the
  * driver for a broadcast, measured the way its broadcast rule measures
  * it (plan statistics; rows × the schema's per-row size), times the
  * [[HeldOverhead]] of rows held as objects. A threshold ≤ 0 means
  * never. Above it the round stays a distributed plan of
  * cut rounds, so the plans at scale do not change. graft never sets
  * the threshold: a deployment or a test session does. Its users:
  * [[Crawl.bfs]]'s frontier, [[Components.minLabel]]'s labels and edges
  * (and [[Components.mergePairs]]' batch), and the vectors of
  * [[KMeansVec]]'s Lloyd loop, counted at their real width
  * ([[takeWithin]]) since Spark's estimate counts one array element.
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

  private def threshold(df: DataFrame): Long =
    df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold

  /** Driver bytes per byte of Spark's row-size estimate for a row held
    * on the driver. A broadcast keeps compact UnsafeRow bytes; a held
    * `(node, depth)` row is a boxed `Row` (object, value array, boxed
    * longs) plus its key tuple and hash-set entry — about 155 bytes by
    * object layout where Spark estimates 24 — and a round adds
    * transient copies (the frontier's tuples, the scan's `isin` list).
    */
  val HeldOverhead = 8

  /** The size rule by `df`'s plan statistics — Spark's broadcast test,
    * with the held rows' [[HeldOverhead]].
    */
  def fitsDriver(df: DataFrame): Boolean = {
    val t = threshold(df)
    t > 0 && df.queryExecution.optimizedPlan.stats.sizeInBytes * HeldOverhead <= t
  }

  /** The size rule in rows: the most rows of `df`'s schema it keeps on
    * the driver; -1 when it keeps none.
    */
  def maxRows(df: DataFrame): Long = {
    val t = threshold(df)
    if (t <= 0) -1L
    else t / (EstimationUtils.getSizePerRow(df.queryExecution.analyzed.output).toLong *
      HeldOverhead)
  }

  /** `df`'s rows in one job, or None when they would not fit the size
    * rule. Each of the P partitions sends at most its share of the
    * rule's rows plus one, and a partition that fills that share says
    * no, so telling costs the driver at most the rule's rows plus P.
    */
  def collectIfFits(df: DataFrame): Option[Array[Row]] = {
    val cap = maxRows(df)
    if (cap < 0) None
    else {
      val rdd = df.rdd
      val share = math.min(cap / math.max(rdd.getNumPartitions, 1) + 1,
        Int.MaxValue.toLong).toInt
      val parts = rdd.mapPartitions(it => Iterator(it.take(share).toArray)).collect()
      Option.when(parts.forall(_.length < share))(parts.flatten)
    }
  }

  /** The size rule in bytes of compactly held rows (primitive arrays,
    * not boxed values): the threshold over [[HeldOverhead]]; -1 when it
    * keeps none.
    */
  def maxBytes(df: DataFrame): Long = {
    val t = threshold(df)
    if (t <= 0) -1L else t / HeldOverhead
  }

  /** A result built on the driver as a local relation in one partition —
    * what adaptive execution makes of a distributed result this small,
    * so a writer downstream writes the same one file.
    */
  def local(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema).coalesce(1)

  /** `rdd`'s items in one job, or None when their total `weight` would
    * pass `budget`: each of the P partitions sends items while their
    * weight stays within its share, budget / P, and says no at the
    * first item past it. A weight of `Long.MaxValue` never fits. The
    * weighted form of [[collectIfFits]], for rows whose size Spark's
    * per-row estimate does not see (arrays).
    */
  def takeWithin[T: ClassTag](rdd: RDD[T], budget: Long)(
    weight: T => Long): Option[Array[T]] = {
    val share = budget / math.max(rdd.getNumPartitions, 1)
    val parts = rdd.mapPartitions { it =>
      val kept = ArrayBuffer.empty[T]
      var left = share
      var fits = true
      while (fits && it.hasNext) {
        val x = it.next()
        val w = weight(x)
        fits = w <= left
        if (fits) { left -= w; kept += x }
      }
      Iterator((fits, kept.toArray))
    }.collect()
    Option.when(parts.forall(_._1))(parts.flatMap(_._2))
  }

  /** Types whose driver-side equality and order are Spark's join,
    * distinct and min semantics ([[order]]); anything else (floating
    * point, binary, collated strings, nested) stays distributed.
    */
  def exactEq(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType | BooleanType |
      DateType | TimestampType | TimestampNTZType | StringType | _: DecimalType => true
    case _ => false
  }

  /** Spark's order on the external values of an [[exactEq]] type:
    * strings by their UTF-8 bytes, everything else by its own
    * `compareTo`.
    */
  def order(t: DataType): Ordering[Any] = t match {
    case StringType => Ordering.by((s: Any) => UTF8String.fromString(s.asInstanceOf[String]))
    case _ => (a: Any, b: Any) => a.asInstanceOf[Comparable[Any]].compareTo(b)
  }
}
