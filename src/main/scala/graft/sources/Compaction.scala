package graft.sources

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** q_compaction — the small-files compaction PLANNER: which files in
  * each partition directory merge into which target-sized output bin
  * (the lakehouse OPTIMIZE/binpack step, planned as a query). A 100 TB
  * table ingested by streaming micro-batches accretes millions of
  * KB-sized parquet files; every scan then pays one open + footer read
  * per file and the NameNode/object-store pays the listing — compaction
  * is what keeps [[Layout]]'s stats-pruning story real (row-group
  * min/max stats only help once row groups are full-sized).
  *
  * Policy (the Delta/Iceberg binpack shape, made deterministic):
  * per partition, files ≥ [[KeepBytes]] are left alone (`keep` —
  * rewriting an already-healthy file is pure write amplification);
  * smaller files sort by (bytes DESC, id) — first-fit-DECREASING
  * flavor, big files seed bins so the tail backfills — and bin =
  * ⌊prefix_sum_before / TargetBytes⌋ (the `q_pack` prefix-sum rule:
  * one window, no sequential state; a bin may overshoot by < one
  * file, the accepted binpack tolerance). Every number is integer
  * arithmetic on byte counts — no floats anywhere.
  *
  * Scale shape: the planner runs on the FILE MANIFEST, not the data —
  * metadata-sized input (the Delta-log grain, ~1 row per 128 MB of
  * table). One source-keyed exchange for the per-partition window,
  * one broadcast-back of the per-bin rollup. The data itself moves
  * only when the plan executes, and then exactly once per compacted
  * file.
  */
object Compaction {

  /** Target output-bin size (bytes — stands in for the 128 MB
    * production target at fixture scale).
    */
  val TargetBytes = 1024L

  /** Files at or above this are healthy: rewriting them is write
    * amplification, not compaction (¾ of a real target less slack).
    */
  val KeepBytes = 400L

  def compactionQuery(s: SparkSession, d: String): DataFrame =
    plan(Tables.documents(s, d)
      .select(col("source"), col("doc_id").as("file_id"),
        col("n_chars").as("bytes")),
      TargetBytes, KeepBytes)

  /** Compaction plan over a `(source, file_id, bytes)` manifest frame:
    * per file its action (`keep`/`compact`) and bin, with the bin's
    * file count and total bytes riding every row (NULL bin for keeps —
    * their "bin" is themselves).
    */
  def plan(files: DataFrame, target: Long, keep: Long): DataFrame = {
    val small = files.filter(col("bytes") < keep)
    val prior = Window.partitionBy(col("source"))
      .orderBy(col("bytes").desc, col("file_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val binned = small.withColumn("bin",
      floor(coalesce(sum(col("bytes")).over(prior), lit(0L)) / target)
        .cast("long"))
    val binStats = Window.partitionBy(col("source"), col("bin"))
    val compact = binned
      .withColumn("bin_files", count(lit(1)).over(binStats).cast("long"))
      .withColumn("bin_bytes", sum(col("bytes")).over(binStats).cast("long"))
      .select(col("source"), col("file_id"), col("bytes"),
        lit("compact").as("action"), col("bin"),
        col("bin_files"), col("bin_bytes"))
    val keeps = files.filter(col("bytes") >= keep)
      .select(col("source"), col("file_id"), col("bytes"),
        lit("keep").as("action"), lit(null).cast("long").as("bin"),
        lit(1L).as("bin_files"), col("bytes").as("bin_bytes"))
    compact.unionAll(keeps)
  }

  val compactionSql: String =
    s"""WITH files AS (
       |  SELECT source, doc_id AS file_id, n_chars::BIGINT AS bytes
       |  FROM documents
       |), binned AS (
       |  SELECT source, file_id, bytes,
       |         floor(coalesce(sum(bytes) OVER (PARTITION BY source
       |                 ORDER BY bytes DESC, file_id
       |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |               / $TargetBytes)::BIGINT AS bin
       |  FROM files WHERE bytes < $KeepBytes
       |), compact AS (
       |  SELECT source, file_id, bytes, 'compact' AS action, bin,
       |         count(*) OVER (PARTITION BY source, bin)::BIGINT AS bin_files,
       |         sum(bytes) OVER (PARTITION BY source, bin)::BIGINT AS bin_bytes
       |  FROM binned
       |)
       |SELECT * FROM compact
       |UNION ALL
       |SELECT source, file_id, bytes, 'keep' AS action, NULL::BIGINT AS bin,
       |       1::BIGINT AS bin_files, bytes AS bin_bytes
       |FROM files WHERE bytes >= $KeepBytes
       |ORDER BY source, action, bin, file_id""".stripMargin
}
