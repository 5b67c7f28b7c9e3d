package graft.operators

import graft.Tables
import graft.functions.TextSim
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact repeated-substring detection — the substring-level dedup of
  * Lee et al., "Deduplicating Training Data Makes Language Models
  * Better" (2022) — re-expressed scan-shaped for Spark instead of a
  * suffix array. A character k-gram occurring more than once anywhere
  * in the corpus marks every position it covers as duplicated text;
  * overlapping flagged positions merge into maximal spans per
  * document. (Reference corpus analogue: repeated chunk content across
  * pages, Notion_openai_vector_etl.py:189-213 chunking surface.)
  *
  * Scale shape:
  *   - Grams are a flatMap on the scan (`sequence` + `explode`,
  *     codegen); the shuffle rows carry `(xxhash64 gram, doc_id, pos)`
  *     — 8-byte hashes, never text.
  *   - The duplicated-gram set is one partial-agg groupBy on the hash
  *     (`HAVING count >= 2`); the hit join is hash-co-partitioned on
  *     the same key. The gram projection is deliberately recomputed on
  *     the join side rather than persisted: a scan-side flatMap costs
  *     less than materializing the full gram table (contrast the
  *     minhash persist barrier, whose signatures feed MANY band
  *     probes; grams feed exactly two consumers once).
  *   - A suffix array is a pointer-chasing global structure Spark
  *     cannot build or probe scan-shaped; the k-gram formulation is
  *     embarrassingly partition-parallel and loses only the ability to
  *     find duplicated runs SHORTER than k, which substring dedup
  *     does not want anyway (k IS the minimum-match-length knob).
  *   - At 100 TB stride sampling is NOT sound (two copies of a run at
  *     different alignments sample disjoint positions); `modP` is
  *     0-mod-p CONTENT sampling (the MOSS / winnowing family,
  *     Schleimer et al. 2003): keep a gram iff `hash % p == 0`.
  *     Selection depends only on gram content, so every copy of a
  *     duplicated run keeps the same grams — cross-copy detection
  *     survives sampling, gram volume drops p×, and a run of length L
  *     is detected with probability 1-(1-1/p)^(L-k+1) (≥ 99% for
  *     L ≥ k + 4.6·p). Flagged spans then cover the sampled grams
  *     only, so reported `dup_chars` is a lower bound on the exact
  *     mode's — asserted in [[graft.SubstrSpec]].
  *   - Islands per doc: one shuffle on doc_id, O(1) window state (a
  *     running max of span ends), per-group width bounded by document
  *     length. Output is one row per flagged document.
  */
object Substr {

  /** Minimum duplicated-run length in characters (the Lee et al.
    * equivalent knob is 50 BPE tokens; 40 chars ≈ 8-10 tokens, scaled
    * to this corpus's ~300-char documents).
    */
  val GramLen = 40

  /** Per-position k-gram hashes: `(doc_id, pos, g)`, one row per
    * position with a full gram to its right. The hash array is the
    * one-pass native [[graft.functions.GramHash]] sliding-window
    * expression — the composable `xxhash64(substring(text, pos+1, k))`
    * form is quadratic in doc length (each substring call re-scans
    * for the char boundary and allocates a 40-byte copy per gram).
    * `modP > 1` applies 0-mod-p content sampling (see object doc).
    */
  def gramHashes(docs: DataFrame, k: Int = GramLen, modP: Int = 1): DataFrame = {
    val g = docs
      .select(col("doc_id"),
        posexplode(graft.functions.GramHash(col("text"), k)).as(Seq("pos", "g")))
    if (modP <= 1) g else g.filter(pmod(col("g"), lit(modP.toLong)) === 0)
  }

  /** Per-document duplicated-span report over any `(doc_id, text)`
    * frame: `(doc_id, n_spans, dup_chars, dup_frac)` for every doc
    * containing at least one corpus-duplicated k-gram. Adjacent and
    * overlapping flagged grams merge into maximal spans (running-max
    * island detection), so `dup_chars` counts each duplicated
    * character once.
    */
  def substrStats(docs: DataFrame, k: Int = GramLen, modP: Int = 1): DataFrame = {
    val grams = gramHashes(docs, k, modP)
    // Duplicated grams: count >= 2 over ALL occurrences (a within-doc
    // repeat is duplicated text too). In a mostly-unique corpus this
    // frame is far smaller than the gram frame; locally AQE may
    // broadcast it, at scale it stays a co-partitioned hash join on g.
    val dup = grams.groupBy(col("g"))
      .agg(count(lit(1)).as("n")).filter(col("n") >= 2)
      .select(col("g"))
    val hits = grams.join(dup, "g").select(col("doc_id"), col("pos"))
    val perDoc = mergedSpans(hits, k).groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("end") - col("start")).as("dup_chars"))
    perDoc
      .join(docs.select(col("doc_id"), length(col("text")).as("len")), "doc_id")
      .select(col("doc_id"), col("n_spans"), col("dup_chars"),
        TextSim.r6(col("dup_chars").cast("double") / col("len")).as("dup_frac"))
  }

  /** Maximal merged spans from flagged gram positions: `(doc_id,
    * start, end)` with end exclusive, spans disjoint with ≥ 1
    * unflagged char between them. Running-max island detection — one
    * shuffle on doc_id, O(1) window state, per-group width bounded by
    * document length.
    */
  private def mergedSpans(hits: DataFrame, k: Int): DataFrame = {
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    val prevEnd = byDoc.rowsBetween(Window.unboundedPreceding, -1)
    val runSum = byDoc.rowsBetween(Window.unboundedPreceding, 0)
    hits
      // new island iff this gram starts past every previous gram's end
      .withColumn("is_new",
        when(col("pos") > coalesce(max(col("pos") + k).over(prevEnd), lit(-1)), 1L)
          .otherwise(0L))
      .withColumn("island", sum(col("is_new")).over(runSum))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).cast("long").as("start"),
        (max(col("pos")) + k).cast("long").as("end"))
      .select(col("doc_id"), col("start"), col("end"))
  }

  /** The Lee et al. TRANSFORMATION the span report feeds: delete every
    * duplicated run from the corpus, keeping its FIRST occurrence
    * (minimum `(doc_id, pos)` over the occurrences of each duplicated
    * gram). Returns every document as `(doc_id, text, removed_chars)`
    * with the removal spans spliced out — a full clone of an earlier
    * doc comes back empty, the earliest copy comes back intact, and
    * non-duplicated docs pass through unchanged.
    *
    * Shape on top of [[substrStats]]'s: the keeper is a min_by inside
    * the same dup-gram aggregate (no extra shuffle); splicing
    * collects each doc's spans into one row (bounded by doc length /
    * k — a DOC-bounded list, unlike a corpus-bounded one) and rebuilds
    * the text with a single `aggregate` HOF pass — per-row, no UDF.
    *
    * Seam caveat: deleting a span abuts the text on either side of
    * it, which can form NEW k-grams across the seam; one pass removes
    * all pre-existing duplication but is not idempotent in the
    * pathological case (asserted directionally in SubstrSpec —
    * corpus-wide dup_chars strictly shrinks).
    */
  def dropDupSpans(docs: DataFrame, k: Int = GramLen, modP: Int = 1): DataFrame = {
    val grams = gramHashes(docs, k, modP)
    val keepers = grams.groupBy(col("g"))
      .agg(count(lit(1)).as("n"),
        min(struct(col("doc_id"), col("pos"))).as("keep"))
      .filter(col("n") >= 2)
      .select(col("g"), col("keep.doc_id").as("keep_doc"),
        col("keep.pos").as("keep_pos"))
    val removeHits = grams.join(keepers, "g")
      .filter(!(col("doc_id") === col("keep_doc") && col("pos") === col("keep_pos")))
      .select(col("doc_id"), col("pos"))
    val spans = mergedSpans(removeHits, k)
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("start"), col("end")))).as("spans"))
    docs.join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("spans").isNull, col("text")).otherwise(
          // splice: carry (text-so-far, cursor); each span appends the
          // clean stretch before it and jumps the cursor past it
          concat(
            aggregate(col("spans"),
              struct(lit("").as("acc"), lit(0L).as("cur")),
              (a, s) => struct(
                concat(a.getField("acc"),
                  col("text").substr((a.getField("cur") + 1).cast("int"),
                    (s.getField("start") - a.getField("cur")).cast("int")))
                  .as("acc"),
                s.getField("end").as("cur")),
              a => a.getField("acc")),
            col("text").substr(
              (element_at(col("spans"), -1).getField("end") + 1).cast("int"),
              length(col("text"))))).as("text"),
        coalesce(aggregate(col("spans"), lit(0L),
          (a, s) => a + s.getField("end") - s.getField("start")), lit(0L))
          .as("removed_chars"))
  }

  /** q_substr_dedup — [[substrStats]] on the duplicate-injected corpus
    * (exact mode: every gram, the DuckDB-mirrorable semantics).
    */
  def substrDedup(s: SparkSession, d: String): DataFrame =
    substrStats(Tables.docsAug(s, d))

  val substrDedupSql: String =
    s"""WITH ${Tables.docsAugSql},
       |positions AS (
       |  SELECT doc_id, text, unnest(range(0, len(text) - ${GramLen - 1})) AS pos
       |  FROM docs_aug WHERE len(text) >= $GramLen
       |), grams AS (
       |  SELECT doc_id, pos, substr(text, pos::INT + 1, $GramLen) AS g FROM positions
       |), dup AS (
       |  SELECT g FROM grams GROUP BY g HAVING count(*) >= 2
       |), hits AS (
       |  SELECT doc_id, pos FROM grams WHERE g IN (SELECT g FROM dup)
       |), islands AS (
       |  SELECT doc_id, pos,
       |         CASE WHEN pos > coalesce(max(pos + $GramLen) OVER (
       |           PARTITION BY doc_id ORDER BY pos
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
       |         THEN 1 ELSE 0 END AS is_new
       |  FROM hits
       |), numbered AS (
       |  SELECT doc_id, pos, sum(is_new) OVER (
       |    PARTITION BY doc_id ORDER BY pos
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
       |  FROM islands
       |), spans AS (
       |  SELECT doc_id, island, (max(pos) + $GramLen - min(pos))::BIGINT AS span_chars
       |  FROM numbered GROUP BY doc_id, island
       |), per_doc AS (
       |  SELECT doc_id, count(*)::BIGINT AS n_spans, sum(span_chars)::BIGINT AS dup_chars
       |  FROM spans GROUP BY doc_id
       |)
       |SELECT p.doc_id, n_spans, dup_chars,
       |       ${TextSim.r6Sql(s"dup_chars::DOUBLE / len(a.text)")} AS dup_frac
       |FROM per_doc p JOIN docs_aug a ON p.doc_id = a.doc_id
       |ORDER BY p.doc_id""".stripMargin
}
