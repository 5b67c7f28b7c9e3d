package graft.operators

import graft.sources.SignatureStore
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The incremental curation loop composed END-TO-END — the r7 gap:
  * every piece existed and was parity-tested in isolation
  * ([[graft.sources.SignatureStore.incrementalPairs]] for delta
  * pairs, [[Components.mergePairs]] for label maintenance,
  * [[Dedup.keepFromLabels]] for the survivor last mile) but nothing
  * ran ingest-batch → signature-append → label-merge → keeper-refresh
  * as one operation the way [[IncrementalRunner]] does for the
  * reference ETL surface (reference analogue: `run_etl`'s
  * manifest-driven incremental contract,
  * Notion_openai_vector_etl.py:617-779 — the batch frame here is
  * exactly what [[Etl.manifestDelta]] classifies as needing work).
  *
  * State is two catalog tables, both storage-backed so a weekly run
  * survives the session: the bucketed signature store (the identity
  * authority — ids must be new to [[ingest]], its contract) and the
  * label table (the CC fixpoint over every pair ever observed, pair
  * members only — the isolated majority never occupies a row).
  *
  * The cost shape that matters at 100 TB: one ingested batch computes
  * batch-sized signatures, joins new bands BROADCAST against the
  * stored band table (no stored-side shuffle), merges delta pairs
  * into labels over the label-CONTRACTED graph (bounded by 2·|batch
  * pairs|, never the corpus — [[Components.mergePairs]]), and the
  * keeper refresh is one left join. Nothing old×old is ever
  * recomputed; the rehearsal stage (`curator_delta` vs
  * `curator_full`) measures the gap at 4×/10× replication.
  * IncrementalCuratorSpec asserts the COMPOSITION's fixpoint: after
  * any batch schedule, [[curated]] ≡ the full one-shot recompute,
  * row for row.
  */
object IncrementalCurator {

  /** Bootstrap the curator from the first corpus batch: build the
    * signature store, derive its pairs, store the CC fixpoint.
    */
  def init(spark: SparkSession, docs: DataFrame, sigTable: String,
    labelTable: String): Unit = {
    val sig = Dedup.minhashSignatures(Dedup.shingleDocs(docs))
    SignatureStore.buildFromSignatures(sig, sigTable)
    val pairs = Dedup.minhashPairsFrom(sig)
      .select(col("a_id"), col("b_id"))
    Components.fromPairs(pairs)
      .write.mode(SaveMode.Overwrite).saveAsTable(labelTable)
  }

  /** Ingest one batch end-to-end: delta pairs (new×new + new×old,
    * stored side never shuffled) → label merge over the contracted
    * delta graph → label-table swap → signature append. The pair
    * frame is MATERIALIZED before the append: `incrementalPairs`
    * reads the store lazily, and appending first would violate its
    * ids-must-be-new contract mid-plan.
    * The append commits only after the swap: a replay after a failure
    * between them finds the batch's ids still new, and re-merging
    * merged pairs leaves the labels as they are. A swap that stopped
    * after dropping the old labels is rolled forward before the labels
    * are read, here and in [[curated]].
    */
  def ingest(spark: SparkSession, newDocs: DataFrame, sigTable: String,
    labelTable: String): Unit =
    ingestSig(spark,
      Iterate.materialize(Dedup.minhashSignatures(Dedup.shingleDocs(newDocs))),
      newDocs, sigTable, labelTable)

  /** [[ingest]] over an ALREADY-MATERIALIZED batch signature frame —
    * signatures depend only on the batch text, not on store state, so
    * a caller with several queued batches computes them concurrently
    * up front (guide §2.6) while only the store mutations serialize.
    *
    * The signature frame must be eagerly materialized
    * ([[Iterate.materialize]] / storage-backed): one shingle+minhash
    * pass is the dominant batch-side cost and both the pair derivation
    * and the append need it — and AQE materializes independent
    * broadcast stages (old×new bands, verify sides) concurrently, where
    * concurrent first readers of a LAZY persist race the cache
    * (measured: +18 jobs, 2× input bytes on q_curator_e2e without the
    * checkpoint).
    */
  def ingestSig(spark: SparkSession, newSig: DataFrame, newDocs: DataFrame,
    sigTable: String, labelTable: String): Unit = {
    SignatureStore.rollForward(spark, labelTable)
    val pairs = Iterate.materialize(
      SignatureStore.incrementalPairsFrom(spark, newSig, sigTable)
        .select(col("a_id"), col("b_id")))
    val merged = Iterate.materialize(
      Components.mergePairs(spark.table(labelTable), pairs))
    SignatureStore.replaceTable(spark, labelTable, merged.write)
    SignatureStore.appendSignatures(newSig, newDocs, sigTable)
  }

  /** Keeper refresh — the curated corpus over everything ingested so
    * far: every live doc id labeled with its cluster's keeper via one
    * left join against the maintained labels (no pair recompute, no
    * iteration). `filter(is_kept)` is the training set.
    */
  def curated(spark: SparkSession, sigTable: String,
    labelTable: String): DataFrame = {
    SignatureStore.rollForward(spark, labelTable)
    Dedup.keepFromLabels(
      SignatureStore.liveSignatures(spark, sigTable)
        .select(col("doc_id")).distinct(),
      spark.table(labelTable))
  }

  /** Batches the e2e query slices the corpus into (mod split, so the
    * planted dup pairs straddle batches and every ingest exercises
    * cross-batch label merging).
    */
  val NumBatches = 3

  /** q_curator_e2e — the WHOLE incremental curation loop as one
    * hash-checked query (the [[IncrementalRunner.etlE2e]] recipe
    * applied to this composition): bootstrap from batch 0, ingest the
    * remaining [[NumBatches]]−1 batches through the real
    * storage-backed state (catalog signature store + label table,
    * run-unique names, dropped after the readout materializes), then
    * emit the final keeper frame with the run counters riding every
    * row. The oracle is the FULL ONE-SHOT recompute (the
    * IncrementalCuratorSpec fixpoint, now hash-pinned per SF): minhash
    * LSH pairs → transitive closure → min-id keeper per cluster — if
    * any ingest lost a cross-batch pair, double-merged a label, or
    * resurrected a tombstone, some row's keep_id diverges and the
    * hash fails.
    *
    * Scale: each ingest is batch-sized work against broadcast-joined
    * stored bands (nothing old×old recomputed — the weekly-corpus
    * contract); the readout is one left join + a 2-value fold.
    */
  def curatorE2e(s: SparkSession, d: String): DataFrame = {
    val docs = Iterate.materialize(graft.Tables.docsAug(s, d)
      .select(col("doc_id"), col("text")))
    val tag = java.lang.Long.toHexString(System.nanoTime())
    val sigT = s"cur_e2e_sigs_$tag"
    val lblT = s"cur_e2e_labels_$tag"
    def batch(i: Int) =
      docs.filter(pmod(col("doc_id"), lit(NumBatches)) === i)
    init(s, batch(0), sigT, lblT)
    (1 until NumBatches).foreach(i => ingest(s, batch(i), sigT, lblT))
    // the keeper frame feeds TWO consumers (the broadcast counts fold
    // and the readout rows) — persist so the second pass reuses the
    // first's work instead of re-running the distinct + label join
    // (guide §5 caching note)
    val cur = curated(s, sigT, lblT).persist()
    val counts = cur.agg(count(lit(1)).cast("long").as("n_docs"),
      sum((!col("is_kept")).cast("long")).cast("long").as("n_dropped"))
    val out = Iterate.materialize(cur.crossJoin(broadcast(counts))
      .withColumn("n_batches", lit(NumBatches.toLong))
      .select(col("doc_id"), col("keep_id"), col("is_kept"),
        col("n_batches"), col("n_docs"), col("n_dropped"))
      .orderBy(col("doc_id"))) // state tables drop below; the frame survives
    cur.unpersist()
    Seq(sigT, s"${sigT}_del", lblT, s"${lblT}_next")
      .foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    out
  }

  val curatorE2eSql: String =
    s"""WITH RECURSIVE ${Dedup.minhashCandSql},
       |sym AS (
       |  SELECT a_id AS src, b_id AS dst FROM verified
       |  UNION ALL
       |  SELECT b_id, a_id FROM verified
       |), walk(id, r) AS (
       |  SELECT doc_id, doc_id FROM docs_aug
       |  UNION
       |  SELECT w.id, s.dst FROM walk w JOIN sym s ON s.src = w.r
       |), lab AS (
       |  SELECT id AS doc_id, min(r) AS keep_id, min(r) = id AS is_kept
       |  FROM walk GROUP BY id
       |), cnt AS (
       |  SELECT count(*)::BIGINT AS n_docs,
       |         sum(CASE WHEN is_kept THEN 0 ELSE 1 END)::BIGINT AS n_dropped
       |  FROM lab
       |)
       |SELECT l.doc_id, l.keep_id, l.is_kept,
       |       $NumBatches::BIGINT AS n_batches, c.n_docs, c.n_dropped
       |FROM lab l CROSS JOIN cnt c
       |ORDER BY l.doc_id""".stripMargin

  /** sf1-gate twin served from the shared `walk_labels` temp table
    * ([[Dedup.walkLabelsTableSql]]) — same readout, closure paid once.
    */
  val curatorE2eSqlServed: String =
    s"""WITH lab AS (
       |  SELECT id AS doc_id, lbl AS keep_id, lbl = id AS is_kept
       |  FROM walk_labels
       |), cnt AS (
       |  SELECT count(*)::BIGINT AS n_docs,
       |         sum(CASE WHEN is_kept THEN 0 ELSE 1 END)::BIGINT AS n_dropped
       |  FROM lab
       |)
       |SELECT l.doc_id, l.keep_id, l.is_kept,
       |       $NumBatches::BIGINT AS n_batches, c.n_docs, c.n_dropped
       |FROM lab l CROSS JOIN cnt c
       |ORDER BY l.doc_id""".stripMargin
}
