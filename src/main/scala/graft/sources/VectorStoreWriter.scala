package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Vector-store sink with upsert semantics (reference: per-file vector
  * store files, deleted+reuploaded when a source changes —
  * Notion_openai_vector_etl.py:329-344, 609-614, 708-715).
  *
  * Layout: parquet partitioned by `src_id` — one partition per source
  * mirrors the reference's one-vector-file-per-source model, and makes
  * upsert = dynamic partition overwrite: only the partitions present in
  * the delta are replaced, unchanged sources are untouched on disk
  * (delete-changed + append, never a full rewrite).
  *
  * 100 TB note: per-source partitions assume source-level granularity
  * stays in the millions, like the reference's workspace model. For
  * billions of tiny sources the same delta semantics run against
  * `pmod(hash(src_id), N)` bucket partitions (rewrite = affected
  * buckets) or a merge-on-read table format; the writer's contract
  * (idempotent upsert of a delta frame) is unchanged.
  */
object VectorStoreWriter {

  /** Full (re)initialization of the store. */
  def init(df: DataFrame, path: String): Unit =
    df.write.partitionBy("src_id").mode("overwrite").parquet(path)

  /** Upsert: replace exactly the `src_id` partitions present in
    * `delta`, keep every other partition as-is. Idempotent — re-running
    * the same delta rewrites the same partitions to the same bytes.
    */
  def upsert(delta: DataFrame, path: String): Unit =
    delta.write.partitionBy("src_id").mode("overwrite")
      .option("partitionOverwriteMode", "dynamic").parquet(path)

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)
}
