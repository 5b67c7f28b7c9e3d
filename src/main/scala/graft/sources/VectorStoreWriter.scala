package graft.sources

import graft.operators.Iterate
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, StringType}

/** Vector-store sink with upsert semantics (reference: per-file vector
  * store files, deleted+reuploaded when a source changes —
  * Notion_openai_vector_etl.py:329-344, 609-614, 708-715).
  *
  * Layout: parquet partitioned by `bucket = pmod(hash(src_id), N)`,
  * `src_id` an ordinary data column. [[init]] fixes `N` from the rows'
  * size estimate over `spark.sql.files.maxPartitionBytes` (at least 1)
  * and records it in the store's `_buckets` entry, which Spark's reader
  * skips; upserts never change it. So a store holds about one scan
  * split per bucket, however many sources it has: a 600-source store of
  * 1 MB is one bucket, its read lists one directory on the driver, and
  * no listing job runs (Spark lists more than
  * `spark.sql.sources.parallelPartitionDiscovery.threshold` directories
  * with a job of one task per directory — one directory per source
  * made every read of a 600-source store a 600-task job).
  *
  * [[upsert]] replaces exactly the delta's sources (the reference's
  * delete-changed + insert) by rewriting only the buckets they hash to:
  * the delta's buckets are collected on the driver, only those buckets
  * are read (the filter lands in the scan's PartitionFilters), their
  * rows whose `src_id` is in the broadcast delta ids are dropped, and
  * the delta rows are unioned in. A delta source that produced no rows
  * (blank text) is not in the delta frame, so its old rows stay.
  *
  * Crash safety. A rewritten bucket also holds sources the delta never
  * named, and nothing re-derives those, so a bucket is never replaced
  * in place. The merged buckets are written to `_staging/`, which the
  * write job's commit seals with `_SUCCESS`; only then is each live
  * bucket swapped (delete the old directory, rename the staged one into
  * place) and the staging directory removed. [[read]] and [[upsert]]
  * first roll a sealed staging directory forward — the swap is
  * idempotent, so a crash anywhere in it is finished by the next call —
  * and remove an unsealed one, whose upsert never happened. A crash
  * thus leaves either the old store or the new one, never a bucket
  * without its untouched sources.
  */
object VectorStoreWriter {
  private val Bucket = "bucket"
  private val Count = "_buckets"
  private val Staging = "_staging"

  private def bucketOf(n: Int): Column = pmod(hash(col("src_id")), lit(n))

  /** Spark's per-row size estimate (8 bytes plus each column's default
    * size), with strings and binaries measured instead of assumed.
    */
  private def rowBytes(df: DataFrame): Column =
    df.schema.fields.map { f =>
      f.dataType match {
        case _: StringType | BinaryType => coalesce(octet_length(df(f.name)), lit(0))
        case t => lit(t.defaultSize)
      }
    }.foldLeft(lit(8L))(_ + _)

  /** Full (re)initialization of the store: one file per bucket. */
  def init(df: DataFrame, path: String): Unit = {
    val spark = df.sparkSession
    val (rows, bytes) = Iterate.materialize(df, sum(rowBytes(df)))
    val split = spark.sessionState.conf.filesMaxPartitionBytes
    val n = math.max(1L, math.min((bytes + split - 1) / split, Int.MaxValue)).toInt
    rows.withColumn(Bucket, bucketOf(n)).repartition(n, col(Bucket))
      .write.partitionBy(Bucket).mode(SaveMode.Overwrite).parquet(path)
    val out = Generations.fsOf(spark, path).create(new Path(path, Count), true)
    try out.write(n.toString.getBytes("UTF-8")) finally out.close()
  }

  private def bucketCount(spark: SparkSession, path: String): Int = {
    val f = new Path(path, Count)
    val fs = Generations.fsOf(spark, path)
    if (!fs.exists(f)) throw new IllegalStateException(
      s"$path records no bucket count: initialise it with VectorStoreWriter.init")
    val in = fs.open(f)
    try new String(in.readAllBytes(), "UTF-8").trim.toInt finally in.close()
  }

  /** Upsert: replace exactly the sources present in `delta`, keep every
    * other source's rows as they are. Idempotent — re-running the same
    * delta yields the same rows.
    */
  def upsert(delta: DataFrame, path: String): Unit = {
    rollForward(delta.sparkSession, path)
    stage(delta, path)
    rollForward(delta.sparkSession, path)
  }

  def read(spark: SparkSession, path: String): DataFrame = {
    rollForward(spark, path)
    spark.read.parquet(path).drop(Bucket)
  }

  /** The merged rows of the buckets `delta` touches, `bucket` column
    * included; None when the delta has no rows. The delta is cut once
    * ([[Iterate.materialize]]): its buckets ride that job as an
    * observed set, and the merge reads the cut rows twice.
    */
  private[graft] def merged(delta: DataFrame, path: String): Option[DataFrame] = {
    val spark = delta.sparkSession
    val obs = Observation()
    val rows = Iterate.materialize(delta.withColumn(Bucket, bucketOf(bucketCount(spark, path)))
      .observe(obs, collect_set(col(Bucket)).as("b")))
    // AQE can optimize an observed node away: ask the cut rows then
    val touched = (obs.get.get("b") match {
      case Some(b: Iterable[_]) => b.map(_.asInstanceOf[Int]).toSeq
      case _ => rows.select(col(Bucket)).distinct().collect().map(_.getInt(0)).toSeq
    }).sorted
    Option.when(touched.nonEmpty) {
      spark.read.parquet(path).filter(col(Bucket).isin(touched: _*))
        .join(broadcast(rows.select(col("src_id").as("__delta_src"))),
          col("src_id") === col("__delta_src"), "left_anti")
        .unionByName(rows)
        .coalesce(touched.size)
    }
  }

  /** Write the merged buckets into `_staging/`, sealed by the job
    * commit's `_SUCCESS`; no live bucket is touched.
    */
  private[graft] def stage(delta: DataFrame, path: String): Unit =
    merged(delta, path).foreach(_.write.partitionBy(Bucket)
      .mode(SaveMode.Overwrite).parquet(s"$path/$Staging"))

  /** Finish a sealed staging directory — replace each live bucket it
    * holds by the staged one — and drop the staging directory, sealed
    * or not.
    */
  private[graft] def rollForward(spark: SparkSession, path: String): Unit = {
    val fs = Generations.fsOf(spark, path)
    val staging = new Path(path, Staging)
    if (fs.exists(staging)) {
      if (fs.exists(new Path(staging, "_SUCCESS")))
        fs.listStatus(staging).map(_.getPath)
          .filter(_.getName.startsWith(s"$Bucket=")).foreach { staged =>
            val live = new Path(path, staged.getName)
            fs.delete(live, true)
            if (!fs.rename(staged, live))
              throw new java.io.IOException(s"could not move $staged to $live")
          }
      fs.delete(staging, true)
    }
  }
}
