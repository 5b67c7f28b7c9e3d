package graft.sources

import graft.functions.{Md5Buckets, Md5Kit, TextSim}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The STORED lexical index — the [[SignatureStore]]/[[IndexStore]]
  * pattern applied to keyword retrieval: postings are computed once
  * and written partitioned by a term hash-bucket, so a query reads
  * only its terms' buckets (a partition-pruned scan of ≤|terms|/nBkts
  * of storage) and scores BM25 from stored statistics — no corpus
  * pass, no recompute, arbitrary ad-hoc terms (where
  * [[graft.operators.Relevance.bm25]] is the one-pass form for a
  * FIXED term set).
  *
  * Layout under `path`:
  *   - `postings/` (generation 0) or `postings_g<n>/` (written by
  *     [[compact]]) — `(doc_id, term, tf, dl)` partitioned by
  *     `bkt = md5-bucket(term) % nBuckets` ([[Md5Buckets]]; the
  *     driver computes the same bucket per query term via
  *     [[Md5Kit.bucketOfString]] — same digest arithmetic by
  *     construction, which IS the pruning contract). `dl` — the
  *     document's token length — is DENORMALIZED onto every posting
  *     row (+8 bytes each): BM25's length normalization then needs no
  *     side table, so a query never touches a corpus-sized frame.
  *   - `stats_g<n>/` — one row `(n_docs, dl_sum, last_batch)`. Each
  *     writer seals a NEW generation; readers take the highest sealed
  *     one ([[Generations]]), so a crash mid-write leaves an unsealed
  *     dir that readers skip — stats are at worst stale by one batch,
  *     never absent.
  *   - `commits/b<id>` — empty marker files recording fully-applied
  *     streaming batch ids (the replay guard for [[append]]).
  *   - `meta/` — the store-owned bucket spec (`n_buckets`).
  *
  * Scale shape: build is one explode + one partial-agg groupBy on
  * (doc_id, term) (tf), then a by-bucket write. Search reads the
  * pruned buckets, derives per-term df by counting that term's
  * postings (exact — rows are re-aggregated per (doc, term) first,
  * see [[search]]), broadcasts the ≤|terms| df rows and the 1-row
  * stats past the postings, and the only shuffle keys on the
  * MATCHING docs (docs sharing ≥1 query term), never the corpus. At
  * 100 TB the bucket count scales with vocabulary so a bucket stays
  * a few GB — the knob is `nBuckets`, everything else is unchanged.
  */
object PostingsStore {

  val K1 = graft.operators.Relevance.K1
  val B = graft.operators.Relevance.B
  val DefaultBuckets = 64

  private val Postings = Generations("postings")
  private val Stats = Generations("stats", bareZero = false)

  /** `(doc_id, t)` token arrays; empty docs dropped (they carry no
    * postings and would only distort avgdl).
    */
  private def tokenize(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), TextSim.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 1)

  /** One posting row per (doc, term): tf by count, dl carried through
    * the explode and folded with `max` (constant per doc, so max ≡
    * the value — it just avoids widening the groupBy key).
    */
  private def postingsOf(toks: DataFrame, nBuckets: Int): DataFrame =
    toks
      .select(col("doc_id"), size(col("t")).cast("long").as("dl"),
        explode(col("t")).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).cast("long").as("tf"), max(col("dl")).as("dl"))
      .withColumn("bkt",
        element_at(Md5Buckets.salted(array(col("term")), "", nBuckets.toLong), 1))

  /** Current postings generation (0 = the `postings/` dir from
    * [[build]]; `postings_g<n>` from [[compact]]).
    */
  def currentGen(spark: SparkSession, path: String): Long =
    Postings.current(spark, path)

  /** The current generation's postings directory. */
  def postingsPath(spark: SparkSession, path: String): String =
    Postings.dir(path, currentGen(spark, path))

  private def readStats(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(Stats.dir(path, Stats.current(spark, path)))

  private def writeStatsGen(spark: SparkSession, path: String,
    nDocs: Long, dlSum: Long, lastBatch: Long, gen: Long): Unit = {
    import spark.implicits._
    Stats.write(Seq((nDocs, dlSum, lastBatch))
      .toDF("n_docs", "dl_sum", "last_batch").coalesce(1).write, path, gen)
  }

  /** Drop stats generations older than `current - 1` (one grace
    * generation for readers that resolved the gen just before a
    * writer sealed a new one).
    */
  private def pruneStatsGens(spark: SparkSession, path: String): Unit =
    Stats.dropBelow(spark, path, Stats.current(spark, path) - 1L)

  private def markerPath(path: String, batchId: Long): Path =
    new Path(s"$path/commits/b$batchId")

  /** True iff `batchId` was fully applied (marker written LAST in
    * [[append]], so a present marker proves postings + stats landed).
    */
  def committed(spark: SparkSession, path: String, batchId: Long): Boolean =
    Generations.fsOf(spark, path).exists(markerPath(path, batchId))

  private def writeMarker(spark: SparkSession, path: String,
    batchId: Long): Unit = {
    val fs = Generations.fsOf(spark, path)
    val p = markerPath(path, batchId)
    fs.mkdirs(p.getParent)
    val out = fs.create(p, true)
    out.close()
  }

  /** Everything [[build]]'s own overwrites don't cover: postings and
    * stats generations above 0, commit markers. Without
    * this a rebuild would leave a stale higher generation shadowing
    * the fresh one.
    */
  private def resetLayout(spark: SparkSession, path: String): Unit =
    Generations.reset(spark, path, Seq(Postings, Stats),
      Set("commits", "doclens"))

  /** Runs `write` over the token frame with the corpus stats
    * `(n_docs, dl_sum)` riding it as an `observe()` metric (every
    * tokenized row flows through the node on its way into the explode)
    * — one action instead of write + a second full agg pass over the
    * tokens. A batch with no token rows (empty, or every text blank)
    * reports no metrics at all — the hole
    * [[graft.operators.IncrementalRunner.runWithStats]] covers for
    * AQE-dropped stages — so a missing metric counts the tokens again;
    * a sum over no rows is 0.
    */
  private def writeCounting(toks: DataFrame)(write: DataFrame => Unit): (Long, Long) = {
    val stats = Seq(count(lit(1)).cast("long").as("n_docs"),
      sum(size(col("t"))).cast("long").as("dl_sum"))
    val obs = org.apache.spark.sql.Observation()
    write(toks.observe(obs, stats.head, stats.tail: _*))
    val m = obs.get
    val r = if (m.contains("n_docs")) Row(m("n_docs"), m("dl_sum"))
      else toks.agg(stats.head, stats.tail: _*).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  def build(docs: DataFrame, path: String,
    nBuckets: Int = DefaultBuckets): Unit = {
    val spark = docs.sparkSession
    resetLayout(spark, path)
    val (nDocs, dlSum) = writeCounting(tokenize(docs)) { toks =>
      Postings.write(postingsOf(toks, nBuckets).write.partitionBy("bkt"), path, 0L)
    }
    writeStatsGen(spark, path, nDocs, dlSum, lastBatch = -1L, gen = 0L)
    // the bucket spec is part of the STORE, not a caller argument:
    // append/search read it back, so a mismatched count can't silently
    // route new postings into buckets pruning will never read (the
    // SignatureStore.append lesson, applied from the start)
    import spark.implicits._
    Seq(nBuckets).toDF("n_buckets")
      .write.mode("overwrite").parquet(s"$path/meta")
  }

  private def bucketsOf(spark: SparkSession, path: String): Int =
    spark.read.parquet(s"$path/meta").collect()(0).getInt(0)

  /** Incremental ingest — the [[SignatureStore.append]] contract for
    * the lexical index: a new batch's postings land in their term
    * buckets (a partitioned APPEND — old buckets' files are never
    * rewritten) and the 1-row stats merge by addition
    * ([[graft.operators.Relevance.mergeBm25Stats]]'s raw-sum
    * principle) into a NEW sealed stats generation. Old documents are
    * never rescanned; df needs no stored update at all because
    * [[search]] derives it from the postings it reads — append-only
    * storage keeps it exact.
    *
    * Idempotence (`batchId` from a streaming replay): the write order
    * is postings → stats → commit marker, and each step makes the
    * earlier ones recoverable —
    *   - marker present: batch fully applied, the whole call is a
    *     no-op.
    *   - marker lost but the current stats row's `last_batch` equals
    *     `batchId`: postings and stats are durable (stats are written
    *     after postings), so only the marker is re-written.
    *   - crash between postings and stats: the replay re-appends the
    *     batch's postings (duplicating them on disk) and merges stats
    *     once. The duplicates are invisible to [[search]] (it
    *     re-aggregates per (doc_id, term) — doc_id is the identity
    *     authority, so a duplicate row is always an exact replay) and
    *     are physically removed by the next [[compact]].
    * Batch-mode callers (no `batchId`) have no replay concept and
    * skip the guards.
    */
  def append(docs: DataFrame, path: String,
    batchId: Option[Long] = None): Unit = {
    val spark = docs.sparkSession
    if (batchId.exists(committed(spark, path, _))) return
    val statsGen = Stats.current(spark, path)
    val statsRow = readStats(spark, path).collect()(0)
    val statsApplied =
      batchId.exists(_ == statsRow.getAs[Long]("last_batch"))
    if (!statsApplied) {
      val nBuckets = bucketsOf(spark, path)
      val (nDocs, dlSum) = writeCounting(tokenize(docs)) { toks =>
        postingsOf(toks, nBuckets)
          .write.mode("append").partitionBy("bkt")
          .parquet(postingsPath(spark, path))
      }
      writeStatsGen(spark, path,
        statsRow.getAs[Long]("n_docs") + nDocs,
        statsRow.getAs[Long]("dl_sum") + dlSum,
        lastBatch = batchId.getOrElse(-1L), gen = statsGen + 1L)
      pruneStatsGens(spark, path)
    }
    batchId.foreach(writeMarker(spark, path, _))
  }

  /** Delete documents from the stored index — the lexical side of the
    * right-to-be-forgotten pass ([[IndexStore.forget]]'s contract,
    * same shape). A deleted doc's postings are scattered across the
    * term buckets its vocabulary hashes into; a column-pruned
    * (doc_id, dl, bkt) scan finds the affected buckets AND the exact
    * stats decrement (dl is denormalized onto every posting row, so
    * one distinct-per-doc fold recovers each deleted doc's length
    * without touching text). Only affected buckets are rewritten
    * (dynamic partition overwrite); stats seal as a new generation
    * AFTER the postings commit, so a crash between the two leaves
    * avgdl/n_docs stale by one op but df/tf/scores already exact
    * (search derives df from the postings it reads — the append-side
    * recovery story, in reverse).
    *
    * WRITER CONTRACT: single writer, serialized with append/compact.
    */
  def forget(spark: SparkSession, path: String, ids: DataFrame): Long = {
    val pp = postingsPath(spark, path)
    val del = ids.select(col("doc_id")).distinct()
    val post = spark.read.parquet(pp)
    val hit = post.select(col("doc_id"), col("dl"), col("bkt"))
      .join(del, Seq("doc_id")).persist()
    val affected = hit.select(col("bkt")).distinct()
      .collect().map(_.getInt(0))
    if (affected.isEmpty) { hit.unpersist(); return 0L }
    // per-doc dl (constant per doc, max ≡ the value) → exact decrement
    val st = hit.groupBy(col("doc_id")).agg(max(col("dl")).as("dl"))
      .agg(count(lit(1)).cast("long").as("n"), sum(col("dl")).cast("long").as("s"))
      .collect()(0)
    hit.unpersist()
    val survivors = post
      .filter(col("bkt").isin(affected.map(Integer.valueOf): _*))
      .join(del, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("term"), col("tf"), col("dl"), col("bkt"))
      .persist()
    val keptBkts = survivors.select(col("bkt")).distinct()
      .collect().map(_.getInt(0)).toSet
    survivors.repartition(col("bkt"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("bkt").parquet(pp)
    survivors.unpersist()
    Generations.dropPartitions(spark, pp, "bkt", affected.filterNot(keptBkts))
    val statsGen = Stats.current(spark, path)
    val statsRow = readStats(spark, path).collect()(0)
    writeStatsGen(spark, path,
      statsRow.getAs[Long]("n_docs") - st.getLong(0),
      statsRow.getAs[Long]("dl_sum") - st.getLong(1),
      lastBatch = statsRow.getAs[Long]("last_batch"), gen = statsGen + 1L)
    pruneStatsGens(spark, path)
    st.getLong(0)
  }

  /** Rewrite the current postings generation as generation `n+1`:
    * one file per bucket (append debris merged), (doc_id, term) rows
    * re-aggregated so any replay-duplicated postings are physically
    * dropped. Same sealed-generation convention as the stats row —
    * readers resolve the highest sealed dir, so a crash mid-compact
    * leaves them on generation `n`. Same single-writer
    * contract as [[IndexStore.compact]]: serialize with ingest (a
    * batch appended to gen `n` after the rewrite's snapshot would be
    * absent from `n+1`). Returns the new generation.
    */
  def compact(spark: SparkSession, path: String): Long = {
    val next = currentGen(spark, path) + 1L
    // ONE exchange, not two: repartitioning by bkt FIRST satisfies the
    // (bkt, doc_id, term) aggregate's clustering requirement (bkt is a
    // prefix of the grouping key), so the groupBy re-aggregation and
    // the one-file-per-bucket write layout ride the same shuffle —
    // the old groupBy-then-repartition shape shuffled the postings
    // twice (guide §2.4 "two operations keyed the same way can share
    // one exchange").
    Postings.write(spark.read.parquet(Postings.dir(path, next - 1))
      .repartition(col("bkt"))
      .groupBy(col("bkt"), col("doc_id"), col("term"))
      .agg(max(col("tf")).as("tf"), max(col("dl")).as("dl"))
      .write.partitionBy("bkt"), path, next)
    next
  }

  /** Delete postings generations older than the current one — the
    * reader grace window is controlled by the caller, exactly as in
    * [[IndexStore.vacuum]].
    */
  def vacuum(spark: SparkSession, path: String): Unit =
    Postings.dropBelow(spark, path, currentGen(spark, path))

  /** Compact iff any bucket of the current generation has accumulated
    * more than `maxFilesPerBucket` files — the scheduled-maintenance
    * policy loop ([[IndexStore.maintain]]'s shape): the check is a
    * directory listing, the expensive rewrite runs only when append
    * debris actually threatens query latency. Also prunes old stats
    * generations. Returns the new generation if one was written.
    */
  def maintain(spark: SparkSession, path: String,
    maxFilesPerBucket: Int = 8): Option[Long] = {
    pruneStatsGens(spark, path)
    if (Generations.overFileBudget(spark, postingsPath(spark, path), "bkt",
      maxFilesPerBucket)) Some(compact(spark, path))
    else None
  }

  /** BM25 top-k for ad-hoc `terms`: a partition-pruned postings read,
    * df derived from the read postings, the same idf/saturation
    * arithmetic as [[graft.operators.Relevance.bm25Score]]. Terms
    * absent from the corpus contribute nothing (df = 0 rows simply
    * never join). Returns `(doc_id, matched, score)` ranked
    * (score desc, doc_id) — a TakeOrdered partial top-k.
    *
    * The ONLY tables touched are the pruned postings buckets and the
    * 1-row stats — doc length rides on the posting rows, so no
    * corpus-sized frame appears anywhere in the plan. The initial
    * (doc_id, term) re-aggregation dedups any replay-duplicated
    * postings ([[append]]'s crash window) before df is counted; it
    * keys on the pruned rows only, so its shuffle is bounded by the
    * matching docs, never the corpus.
    */
  def search(spark: SparkSession, path: String, terms: Seq[String],
    k: Int = 10): DataFrame = {
    val nBuckets = bucketsOf(spark, path)
    val bkts = terms.map(t => Md5Kit.bucketOfString(t, nBuckets.toLong))
      .distinct.sorted
    val post = spark.read.parquet(postingsPath(spark, path))
      .filter(col("bkt").isin(bkts.map(_.toInt): _*))
      .filter(col("term").isin(terms: _*))
      .groupBy(col("doc_id"), col("term"))
      .agg(max(col("tf")).as("tf"), max(col("dl")).as("dl"))
    val df = post.groupBy(col("term"))
      .agg(count(lit(1)).cast("long").as("df"))
    val stats = readStats(spark, path).select(col("n_docs"), col("dl_sum"))
    val avgdl = col("dl_sum").cast("double") / col("n_docs")
    val idf = log(lit(1.0) +
      ((col("n_docs") - col("df")).cast("double") + 0.5) /
        (col("df").cast("double") + 0.5))
    val denom = col("tf").cast("double") +
      ((col("dl").cast("double") / avgdl) * B + (1.0 - B)) * K1
    post
      .join(broadcast(df), "term")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"),
        (idf * (col("tf").cast("double") * (K1 + 1.0)) / denom).as("c"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("matched"),
        TextSim.r6(sum(col("c"))).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }
}
