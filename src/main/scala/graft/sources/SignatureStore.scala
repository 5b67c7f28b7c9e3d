package graft.sources

import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SaveMode, SparkSession}

/** Storage-backed signature table — the cluster-scale form of the
  * persist barrier in [[Dedup.minhashSignatures]].
  *
  * Locally a `persist()` stops Catalyst's project-collapse from
  * re-inlining the md5 hash family into every band lambda; on a
  * 1000-executor run against 100 TB the same barrier should be a table
  * written ONCE and read by every consumer (the band join, the verify
  * re-join, a later `q_dedup_keep` pass, next week's incremental run) —
  * executor loss doesn't recompute it, and separate jobs can share it.
  * Bucketing by doc_id pre-partitions the verify re-joins
  * (candidates ⋈ signatures on doc_id) on the sig side.
  */
object SignatureStore {

  /** Compute and write the minhash signature table `(doc_id, sh, sig)`
    * for a `(doc_id, text)` corpus, bucketed by doc_id.
    */
  def build(docs: DataFrame, table: String, buckets: Int = 16): Unit =
    buildFromSignatures(
      Dedup.minhashSignatures(Dedup.shingleDocs(docs)), table, buckets)

  /** [[build]] from an already-computed (persisted) signature frame —
    * the [[incrementalPairsFrom]] discipline applied to bootstrap: a
    * caller that also derives the first batch's pairs computes the
    * signature pass ONCE and both the table write and the pair
    * derivation read the same cached frame.
    */
  def buildFromSignatures(sig: DataFrame, table: String,
    buckets: Int = 16): Unit =
    sig.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, "doc_id").sortBy("doc_id")
      .saveAsTable(table)

  private def tombTable(table: String): String = s"${table}_del"

  /** `df`'s writer carrying the bucket spec stored on catalog table
    * `table` — an append with a DIFFERENT bucket count than the build
    * would fail at runtime (or silently break the bucket-pruned verify
    * joins), so the store, not the caller, is the authority on its own
    * layout.
    */
  private def bucketedWriter(df: DataFrame, table: String): DataFrameWriter[Row] = {
    val spark = df.sparkSession
    val spec = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(table))
      .bucketSpec.getOrElse(throw new IllegalArgumentException(
        s"$table is not a bucketed signature store"))
    val w = df.write.bucketBy(spec.numBuckets, spec.bucketColumnNames.head,
      spec.bucketColumnNames.tail: _*)
    if (spec.sortColumnNames.nonEmpty)
      w.sortBy(spec.sortColumnNames.head, spec.sortColumnNames.tail: _*)
    else w
  }

  /** Replace catalog table `table` with `w`'s output: write
    * `<table>_next`, then drop `table` and rename. `table` stays intact
    * until the write has committed, so `w` may read it. A swap that
    * stopped between the drop and the rename is finished first
    * ([[rollForward]]).
    */
  private[graft] def replaceTable(spark: SparkSession, table: String,
    w: DataFrameWriter[Row]): Unit = {
    rollForward(spark, table)
    w.mode(SaveMode.Overwrite).saveAsTable(s"${table}_next")
    spark.sql(s"DROP TABLE $table")
    spark.sql(s"ALTER TABLE ${table}_next RENAME TO $table")
  }

  /** Finishes a [[replaceTable]] that stopped between its drop and its
    * rename: `table` is missing and `<table>_next` holds its committed
    * replacement, which takes the name. Otherwise a no-op. Readers of
    * a swapped table call it before they read.
    */
  private[graft] def rollForward(spark: SparkSession, table: String): Unit =
    if (!spark.catalog.tableExists(table) && spark.catalog.tableExists(s"${table}_next"))
      spark.sql(s"ALTER TABLE ${table}_next RENAME TO $table")

  /** [[rollForward]] of both swapped tables of a store, the signatures
    * ([[compactTombstones]]) and the tombstones ([[appendSignatures]]):
    * every entry point that reads or writes either one calls it first,
    * so a stranded `<sig>_del_next` is renamed in, not hidden from the
    * anti-join and then overwritten by the next swap.
    */
  private def rollForwardStore(spark: SparkSession, table: String): Unit = {
    rollForward(spark, table)
    rollForward(spark, tombTable(table))
  }

  /** Stored signatures minus tombstoned docs — what every consumer
    * reads. Deletion is a broadcast anti-join against the (bounded)
    * tombstone table, not a table rewrite: a bucketed catalog table
    * cannot be partially overwritten, so [[forget]] records intent in
    * O(deletes) and [[compactTombstones]] folds it in physically on
    * the maintenance schedule — the tombstone design every
    * append-only store (and the IndexStore generation pattern)
    * converges on.
    */
  def liveSignatures(spark: SparkSession, table: String): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    rollForwardStore(spark, table)
    val sigs = spark.table(table)
    if (!spark.catalog.tableExists(tombTable(table))) sigs
    else sigs.join(broadcast(spark.table(tombTable(table))),
      Seq("doc_id"), "left_anti")
  }

  /** Tombstone docs — the dedup-store leg of the right-to-be-forgotten
    * pass ([[IndexStore.forget]] / [[PostingsStore.forget]] are the
    * physical-delete legs; here the bucketed layout makes logical
    * deletion + scheduled compaction the cheaper contract). Effective
    * immediately: [[pairs]] / [[incrementalPairs]] read through
    * [[liveSignatures]].
    */
  def forget(ids: DataFrame, table: String): Unit = {
    rollForwardStore(ids.sparkSession, table)
    ids.select("doc_id").distinct()
      .write.mode(SaveMode.Append).saveAsTable(tombTable(table))
  }

  /** Fold tombstones into the physical table: rewrite the signature
    * table filtered (same bucket spec, read off the catalog) and drop
    * the tombstone table. Run on the compaction schedule, not per
    * delete.
    */
  def compactTombstones(spark: SparkSession, table: String): Unit = {
    rollForwardStore(spark, table)
    if (!spark.catalog.tableExists(tombTable(table))) return
    replaceTable(spark, table,
      bucketedWriter(liveSignatures(spark, table), table))
    spark.sql(s"DROP TABLE ${tombTable(table)}")
  }

  /** Verified near-dup pairs reading signatures from the store — no
    * signature recompute, identical output to [[Dedup.minhashPairs]].
    */
  def pairs(spark: SparkSession, table: String): DataFrame =
    Dedup.minhashPairsFrom(liveSignatures(spark, table))

  /** Incremental dedup — the operator a weekly ingest actually runs:
    * near-dup pairs INVOLVING A NEW DOC, from a new `(doc_id, text)`
    * batch against the stored signature corpus, without recomputing or
    * rescanning old×old (those pairs were emitted when their batch
    * arrived). Returns `(a_id, b_id, jaccard)` with a_id < b_id.
    *
    * Scale shape: new signatures are computed once (batch-sized);
    * new×new goes through the salted self-join; new×old BROADCASTS the
    * new band table against the stored one — an incremental batch is
    * bounded (day's crawl), the corpus isn't, so the stream-past join
    * touches no stored-side shuffle at all. Verification joins the
    * union signature table on candidate ids only. Caller appends the
    * new signatures via [[append]] after a successful run — ids must
    * be new (the store is the identity authority, mirroring the
    * reference manifest's incremental contract).
    */
  def incrementalPairs(spark: SparkSession, newDocs: DataFrame,
    table: String): DataFrame =
    incrementalPairsFrom(spark,
      Dedup.minhashSignatures(Dedup.shingleDocs(newDocs)), table)

  /** [[incrementalPairs]] over an ALREADY-COMPUTED batch signature
    * frame — the form [[graft.operators.IncrementalCurator.ingest]]
    * uses so one shingle+minhash pass serves both the pair derivation
    * and the store append (computing it twice doubled the dominant
    * batch-side cost, measured in the curator rehearsal stage).
    * Unordered.
    */
  def incrementalPairsFrom(spark: SparkSession, newSig: DataFrame,
    table: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val oldSig = liveSignatures(spark, table)
    val newNew = Dedup.minhashPairsFrom(newSig)
    val cand = Dedup.bandsOf(oldSig).as("o")
      .join(broadcast(Dedup.bandsOf(newSig).as("n")), Seq("band", "bsig"))
      .select(least(col("o.doc_id"), col("n.doc_id")).as("a_id"),
        greatest(col("o.doc_id"), col("n.doc_id")).as("b_id"))
      // a doc present on BOTH sides (the caller broke the ids-must-be-new
      // contract, or read this frame lazily after its own append) would
      // otherwise emit a degenerate (x, x) self-pair
      .filter(col("a_id") =!= col("b_id"))
      .distinct()
    val newOld = Dedup.verifyJaccard(cand,
      oldSig.select(col("doc_id"), col("sh"))
        .unionByName(newSig.select(col("doc_id"), col("sh"))))
    newNew.unionByName(newOld)
  }

  /** Append a new batch's signatures to the store, reading the bucket
    * spec off the existing catalog table.
    */
  def append(newDocs: DataFrame, table: String): Unit =
    appendSignatures(Dedup.minhashSignatures(Dedup.shingleDocs(newDocs)),
      newDocs, table)

  /** [[append]] over an already-computed signature frame (see
    * [[incrementalPairsFrom]]); `newDocs` still supplies the id set
    * for the tombstone-resurrection rule.
    */
  def appendSignatures(newSig: DataFrame, newDocs: DataFrame,
    table: String): Unit = {
    val spark = newDocs.sparkSession
    rollForwardStore(spark, table)
    bucketedWriter(newSig, table).mode(SaveMode.Append).saveAsTable(table)
    // a NEW observation of an id supersedes its tombstone (re-consent /
    // takedown reversal): without this, a doc forgotten then re-ingested
    // before the next compaction would stay hidden by the anti-join and
    // then be PERMANENTLY erased when compactTombstones folds in — the
    // tombstone table is bounded, so the rewrite is O(deletes)
    if (spark.catalog.tableExists(tombTable(table))) {
      import org.apache.spark.sql.functions.col
      replaceTable(spark, tombTable(table), spark.table(tombTable(table))
        .join(newDocs.select(col("doc_id")).distinct(), Seq("doc_id"), "left_anti")
        .write)
    }
  }
}
