package graft.sources

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Oracle-served READ-BACK censuses over the write-path stores — the
  * r10 verdict's item 6: [[IndexStore]]/[[PostingsStore]] were the
  * largest suite-only block, verified by specs but never hash-pinned
  * the way `q_upsert_state` pins the manifest. Each census runs a
  * real store LIFECYCLE (build → append → forget/compact → vacuum)
  * into a scratch directory, then reads the PHYSICAL files back and
  * aggregates them; the DuckDB oracle recomputes the expected
  * contents from the base tables alone. A divergence in any layout
  * step — a lost append row, a forget that misses a partition, a
  * compact that drops or duplicates postings, a generation resolved
  * to the wrong dir — lands directly in the hash.
  *
  * Mirrors the reference's vector-store upsert contract
  * (Notion_openai_vector_etl.py:600-614: the store, not the caller,
  * is the identity authority) the same way `q_etl_e2e` mirrors its
  * run loop: as one hash-checked query over storage-backed state.
  *
  * Scale shape: both censuses aggregate the store's own narrow
  * tables (PQ codes / posting rows), never the corpus; the oracle
  * side is one fold over the base table. The lifecycle writes are
  * the object under test, so their cost IS the query's cost class
  * (the q_etl_e2e discipline, documented in SURVEY).
  */
object StoreCensus {

  /** Buckets for the census store — small enough that every bucket
    * is populated at sf0.001 (stable census width), large enough to
    * exercise multi-bucket pruning layout.
    */
  val CensusBuckets = 16

  /** IVF index lifecycle census: build on 3/4 of embeddings
    * (vec_id % 4 ≠ 3), append the remaining quarter (an id-disjoint
    * batch — the store is the identity authority), forget every
    * vec_id % 10 == 0 (the right-to-be-forgotten campaign), compact
    * to a sealed generation, vacuum the old one; then read the
    * CURRENT generation's list table back and fold it to one row.
    * Every column is layout-independent of the k-means routing
    * (counts/extremes/sum over vec_id + the PQ code width), so the
    * oracle derives it from `embeddings` alone; `gen` pins the
    * sealed compacted generation and `vacuum` guarantees the read dir
    * is that one.
    */
  def indexCensus(s: SparkSession, d: String): DataFrame = {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_index_census").toString
    val emb = Tables.embeddings(s, d)
    IndexStore.build(emb.filter(col("vec_id") % 4 =!= 3), dir, dim = 64)
    IndexStore.append(emb.filter(col("vec_id") % 4 === 3), dir)
    IndexStore.forget(s, dir, emb.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id")))
    IndexStore.compact(s, dir)
    IndexStore.vacuum(s, dir)
    val gen = IndexStore.currentGen(s, dir)
    s.read.parquet(IndexStore.listsPath(s, dir))
      .agg(
        count(lit(1)).cast("long").as("n_live"),
        countDistinct(col("vec_id")).cast("long").as("n_ids"),
        min(col("vec_id")).cast("long").as("min_id"),
        max(col("vec_id")).cast("long").as("max_id"),
        sum(col("vec_id")).cast("long").as("id_sum"),
        max(size(col("codes"))).cast("int").as("code_width"))
      .select(lit(gen).cast("long").as("gen"), col("n_live"), col("n_ids"),
        col("min_id"), col("max_id"), col("id_sum"), col("code_width"))
  }

  /** One compact after one forget campaign: generation 1. */
  val indexCensusSql: String =
    """SELECT 1::BIGINT AS gen,
      |       count(*)::BIGINT AS n_live,
      |       count(DISTINCT vec_id)::BIGINT AS n_ids,
      |       min(vec_id)::BIGINT AS min_id,
      |       max(vec_id)::BIGINT AS max_id,
      |       sum(vec_id)::BIGINT AS id_sum,
      |       8::INT AS code_width
      |FROM embeddings WHERE vec_id % 10 <> 0""".stripMargin

  /** Postings-store lifecycle census: build on even doc_ids, append
    * the odd half as a committed batch, compact to generation 1,
    * vacuum; then read the sealed postings back and census them PER
    * BUCKET — distinct terms, posting rows, summed tf, and the
    * bucket's max document frequency. The bucket key is part of the
    * census, so the oracle re-derives the [[graft.functions.Md5Kit]]
    * partition arithmetic from scratch: a drifting bucket function
    * (the pruning contract) shows up as rows swapping buckets, not
    * just as a slow store.
    */
  def postingsCensus(s: SparkSession, d: String): DataFrame = {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_postings_census").toString
    val docs = Tables.documents(s, d)
    PostingsStore.build(docs.filter(col("doc_id") % 2 === 0), dir,
      nBuckets = CensusBuckets)
    PostingsStore.append(docs.filter(col("doc_id") % 2 === 1), dir,
      batchId = Some(1L))
    PostingsStore.compact(s, dir)
    PostingsStore.vacuum(s, dir)
    val gen = PostingsStore.currentGen(s, dir)
    s.read.parquet(PostingsStore.postingsPath(s, dir))
      .groupBy(col("bkt").cast("long").as("bkt"), col("term"))
      .agg(count(lit(1)).cast("long").as("df"),
        sum(col("tf")).cast("long").as("tfs"))
      .groupBy(col("bkt"))
      .agg(count(lit(1)).cast("long").as("n_terms"),
        sum(col("df")).cast("long").as("n_postings"),
        sum(col("tfs")).cast("long").as("tf_sum"),
        max(col("df")).cast("long").as("max_df"))
      .select(col("bkt"), lit(gen).cast("long").as("gen"), col("n_terms"),
        col("n_postings"), col("tf_sum"), col("max_df"))
      .orderBy(col("bkt"))
  }

  /** Shard-export census: write `documents` through the real
    * [[ShardWriter]] (range-partitioned on doc_id, ~[[ShardTarget]]
    * files at every SF via a corpus-scaled record cap), read the
    * PHYSICAL shard files back with `input_file_name()`, and fold to
    * one row — content totals the oracle recomputes from `documents`
    * alone (rows, distinct/min/max/sum ids, character mass) plus the
    * two shard-discipline invariants pinned at 0: `oversize_files`
    * (a file exceeding the record cap — the data-loader stall the cap
    * exists to prevent) and `range_overlaps` (files ordered by their
    * min id whose range intersects the previous file's — doc_id is
    * unique and ranges sort, so sorted chunks must be disjoint; a
    * writer that lost the range exchange or the within-partition sort
    * lands here). A dropped/duplicated row lands in the content
    * totals. Same one-scan read-back shape as [[indexCensus]].
    */
  val ShardTarget = 64

  def shardCensus(s: SparkSession, d: String): DataFrame = {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_shard_census").toString + "/shards"
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("text"), col("n_chars"))
    // ONE count serves both the record cap and the range count —
    // leaving numRanges to default made ShardWriter re-count the
    // corpus (a second full pass) to derive the same number
    val cnt = docs.count()
    val cap = math.max(16L, cnt / ShardTarget)
    ShardWriter.write(docs, dir, col("doc_id"), cap,
      numRanges = math.max(1, math.min(10000, (cnt / cap).toInt + 1)))
    val back = s.read.parquet(dir)
      .select(col("doc_id"), col("n_chars"), input_file_name().as("f"))
    val perFile = back.groupBy(col("f"))
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("lo"),
        max(col("doc_id")).as("hi"))
      .withColumn("prev_hi", lag(col("hi"), 1)
        .over(graft.functions.GridWindow.ord(col("lo"), col("f"))))
    val discipline = perFile.agg(
      sum(when(col("n") > cap, 1L).otherwise(0L)).as("oversize_files"),
      sum(when(col("lo") <= col("prev_hi"), 1L).otherwise(0L))
        .as("range_overlaps"))
    back.agg(
      count(lit(1)).cast("long").as("n_rows"),
      countDistinct(col("doc_id")).cast("long").as("n_ids"),
      min(col("doc_id")).cast("long").as("min_id"),
      max(col("doc_id")).cast("long").as("max_id"),
      sum(col("doc_id")).cast("long").as("id_sum"),
      sum(col("n_chars")).cast("long").as("char_sum"))
      .crossJoin(broadcast(discipline))
      .select(col("n_rows"), col("n_ids"), col("min_id"), col("max_id"),
        col("id_sum"), col("char_sum"),
        col("oversize_files").cast("long").as("oversize_files"),
        col("range_overlaps").cast("long").as("range_overlaps"))
  }

  /** Content totals from `documents`; discipline columns are exact-0
    * invariants (the q_upsert_state constant-pin pattern). */
  val shardCensusSql: String =
    """SELECT count(*)::BIGINT AS n_rows,
      |       count(DISTINCT doc_id)::BIGINT AS n_ids,
      |       min(doc_id)::BIGINT AS min_id,
      |       max(doc_id)::BIGINT AS max_id,
      |       sum(doc_id)::BIGINT AS id_sum,
      |       sum(n_chars)::BIGINT AS char_sum,
      |       0::BIGINT AS oversize_files,
      |       0::BIGINT AS range_overlaps
      |FROM documents""".stripMargin

  /** Tokenization, tf fold, and the md5 top-28 bucket re-derived in
    * SQL (`('0x' || substr(md5(term), 1, 7))::BIGINT % nBuckets` —
    * the [[graft.functions.Md5Kit]] window-0 contract).
    */
  val postingsCensusSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(str_split(text, ' '), w -> w <> '') AS t
       |  FROM documents
       |), nz AS (
       |  SELECT doc_id, t FROM toks WHERE len(t) >= 1
       |), posting AS (
       |  SELECT doc_id, term, count(*)::BIGINT AS tf
       |  FROM (SELECT doc_id, unnest(t) AS term FROM nz)
       |  GROUP BY doc_id, term
       |), bucketed AS (
       |  SELECT term, tf,
       |         ('0x' || substr(md5(term), 1, 7))::BIGINT % $CensusBuckets AS bkt
       |  FROM posting
       |), df AS (
       |  SELECT bkt, term, count(*)::BIGINT AS df, sum(tf)::BIGINT AS tfs
       |  FROM bucketed GROUP BY bkt, term
       |)
       |SELECT bkt, 1::BIGINT AS gen, count(*)::BIGINT AS n_terms,
       |       sum(df)::BIGINT AS n_postings, sum(tfs)::BIGINT AS tf_sum,
       |       max(df)::BIGINT AS max_df
       |FROM df GROUP BY bkt ORDER BY bkt""".stripMargin
}
