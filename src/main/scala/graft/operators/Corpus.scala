package graft.operators

import graft.Tables
import graft.functions.TextSim
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators — the steps between "deduplicated corpus"
  * and "training mix" in a large-scale pretraining pipeline: stable
  * splits, domain mixing stats, benchmark-contamination screening, and
  * token-budget sequence binning. No reference analogue (the reference
  * stops at vector upload); these extend the LLM-training-data surface
  * alongside the dedup/ANN/text-analysis blocks.
  *
  * All arithmetic is md5-derived integers + explicit rounding, shared
  * with the DuckDB oracle like the rest of the engine.
  */
object Corpus {

  val TrainPct = 80
  val ValPct = 10 // remainder is test
  val SeqTokens = 2048
  val EvalMod = 97 // doc_id % 97 = 0 -> the held-out "benchmark" set
  val MinSharedShingles = 3

  /** q_split — deterministic train/val/test assignment by content-free
    * id hash: bucket = first-28-bits(md5('split:' || doc_id)) % 100.
    * Stable across runs/engines, uncorrelated with any content feature,
    * and adding documents never reshuffles existing assignments —
    * THE property a reproducible training corpus needs (a rand() or
    * row_number split breaks on every re-run or upstream insert).
    * Pure per-row map, no shuffle.
    */
  def split(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        (conv(substring(md5(concat(lit("split:"), col("doc_id"))), 1, 7), 16, 10)
          .cast("long") % 100).as("bucket"))
      .select(col("doc_id"), col("bucket"),
        when(col("bucket") < TrainPct, "train")
          .when(col("bucket") < TrainPct + ValPct, "val")
          .otherwise("test").as("split"))
      .orderBy(col("doc_id"))

  val splitSql: String =
    s"""SELECT doc_id,
       |       ('0x' || substr(md5('split:' || doc_id), 1, 7))::BIGINT % 100 AS bucket,
       |       CASE WHEN ('0x' || substr(md5('split:' || doc_id), 1, 7))::BIGINT % 100 < $TrainPct THEN 'train'
       |            WHEN ('0x' || substr(md5('split:' || doc_id), 1, 7))::BIGINT % 100 < ${TrainPct + ValPct} THEN 'val'
       |            ELSE 'test' END AS split
       |FROM documents
       |ORDER BY doc_id""".stripMargin

  /** q_domain_mix — per-source (domain) corpus composition: doc count,
    * token count, share of total tokens, mean doc length. The frame a
    * mixing/weighting step consumes. One partial-agg groupBy over a
    * per-row token count; the share window runs over the already-
    * aggregated |domains|-row frame (tiny by construction), not the
    * corpus.
    */
  def domainMix(s: SparkSession, d: String): DataFrame = {
    val perDoc = Tables.documents(s, d)
      .select(col("source"), size(TextSim.tokens(col("text"))).cast("long").as("n_toks"))
    val agg = perDoc.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))
    // corpus total as a broadcast scalar, NOT an unpartitioned window:
    // a global window funnels every domain row through one task, which
    // breaks exactly when domains number in the millions
    val total = agg.agg(sum(col("n_tokens")).as("total_tokens"))
    agg.crossJoin(broadcast(total))
      .withColumn("token_share",
        TextSim.r6(col("n_tokens").cast("double") / col("total_tokens")))
      .withColumn("avg_doc_tokens",
        TextSim.r6(col("n_tokens").cast("double") / col("n_docs")))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("token_share"), col("avg_doc_tokens"))
      .orderBy(col("source"))
  }

  val domainMixSql: String =
    s"""WITH per_doc AS (
       |  SELECT source,
       |         len(list_filter(string_split(text, ' '), x -> x <> ''))::BIGINT AS n_toks
       |  FROM documents
       |), agg AS (
       |  SELECT source, count(*) AS n_docs, sum(n_toks)::BIGINT AS n_tokens
       |  FROM per_doc GROUP BY source
       |)
       |SELECT source, n_docs, n_tokens,
       |       ${TextSim.r6Sql("n_tokens::DOUBLE / (sum(n_tokens) OVER ())::DOUBLE")} AS token_share,
       |       ${TextSim.r6Sql("n_tokens::DOUBLE / n_docs")} AS avg_doc_tokens
       |FROM agg
       |ORDER BY source""".stripMargin

  /** q_contamination — benchmark-contamination screen: which training
    * documents share >= $MinSharedShingles word-3-gram shingles with a
    * held-out eval document (doc_id % $EvalMod = 0). Inverted-index
    * join on the shingle key.
    *
    * The eval side IS broadcast — deliberately, in contrast to the
    * ngram rare-shingle set: a benchmark suite is bounded by
    * construction (thousands of documents, not a function of corpus
    * size), so its shingle table stays broadcastable at any corpus
    * scale. The corpus side streams past it with no shuffle of the
    * postings; only the (train_id, eval_id) count groupBy shuffles —
    * candidate pairs only.
    */
  def contamination(s: SparkSession, d: String): DataFrame = {
    val sh = Tables.documents(s, d)
      .select(col("doc_id"), TextSim.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"), explode(TextSim.shingles3(col("t"))).as("shingle"))
    val evalSh = sh.filter(col("doc_id") % EvalMod === 0)
      .select(col("doc_id").as("eval_id"), col("shingle"))
    val trainSh = sh.filter(col("doc_id") % EvalMod =!= 0)
      .select(col("doc_id").as("train_id"), col("shingle"))
    trainSh.join(broadcast(evalSh), "shingle")
      .groupBy(col("train_id"), col("eval_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= MinSharedShingles)
      .orderBy(col("train_id"), col("eval_id"))
  }

  val contaminationSql: String =
    s"""WITH sh AS (
       |  SELECT doc_id, unnest(${TextSim.shingles3Sql("t")}) AS shingle
       |  FROM (
       |    SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
       |    FROM documents)
       |  WHERE len(t) >= 3
       |)
       |SELECT a.doc_id AS train_id, b.doc_id AS eval_id,
       |       count(*) AS n_shared
       |FROM sh a JOIN sh b ON a.shingle = b.shingle
       |WHERE a.doc_id % $EvalMod <> 0 AND b.doc_id % $EvalMod = 0
       |GROUP BY train_id, eval_id
       |HAVING count(*) >= $MinSharedShingles
       |ORDER BY train_id, eval_id""".stripMargin

  val DsirBuckets = 512

  /** q_dsir — hashed n-gram importance weights (the DSIR family, Xie
    * et al. 2023: select pretraining data that LOOKS LIKE a target
    * distribution by importance resampling over hashed n-gram
    * features). Feature space: word bigrams hashed to
    * [[DsirBuckets]] md5 buckets. The target distribution is the
    * held-out eval-like set (doc_id % [[EvalMod]] = 0), raw is the
    * rest; per-bucket Laplace-smoothed log-likelihood ratios
    * λ_b = ln p_target(b) − ln p_raw(b) score each raw doc as
    * Σ_grams λ_bucket(g) — docs that look like the target float up.
    *
    * Scale shape: calibration is ONE explode + partial-agg groupBy to
    * ≤B rows (collected under the same bounded-statistic contract as
    * the [[Quantize]] min/max frame and the IVF centroid matrix);
    * scoring is a pure per-row fold against the B-entry λ table,
    * constant-folded into the projection — the corpus never shuffles.
    * λ is fixed to integer micro-units on BOTH engines before the
    * per-doc sum, so the fold is exact long arithmetic and
    * order-independent (the decimal-sum rule; a double Σ would differ
    * between Spark's doc-order fold and the oracle's join order).
    */
  def dsir(s: SparkSession, d: String): DataFrame =
    dsirWeights(Tables.documents(s, d)).orderBy(col("doc_id"))

  /** Frame-based [[dsir]] over any `(doc_id, text)` corpus (target =
    * doc_id % [[EvalMod]] = 0, raw = rest).
    */
  def dsirWeights(docs: DataFrame): DataFrame = {
    val B = DsirBuckets
    // bigram buckets in ONE native pass per row ([[Md5Buckets]] reads
    // the 28-bit value off digest bytes and never materializes the
    // bigram strings) — the interpreted concat_ws + md5-hex + conv
    // chain was most of the query's runtime at sf0.1
    val toks = docs
      .select(col("doc_id"), TextSim.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), (size(col("t")) - 1).cast("long").as("n_grams"),
        graft.functions.Md5Buckets.pairGrams(col("t"), B).as("bs"))
    val counts = toks
      .select(col("doc_id"), explode(col("bs")).as("b"))
      .groupBy(col("b"))
      .agg(sum(when(col("doc_id") % EvalMod === 0, 1L).otherwise(0L)).as("tc"),
        sum(when(col("doc_id") % EvalMod =!= 0, 1L).otherwise(0L)).as("rc"))
      .collect()
    val tcM = counts.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rcM = counts.map(r => r.getLong(0) -> r.getLong(2)).toMap
    val tt = tcM.values.sum
    val tr = rcM.values.sum
    val lam: Array[Long] = Array.tabulate(B) { b =>
      val l = math.log((tcM.getOrElse(b.toLong, 0L) + 1).toDouble / (tt + B)) -
        math.log((rcM.getOrElse(b.toLong, 0L) + 1).toDouble / (tr + B))
      math.floor(l * 1e6 + 0.5).toLong
    }
    val lut = array(lam.toSeq.map(lit): _*) // constant-folds to one literal
    toks.filter(col("doc_id") % EvalMod =!= 0)
      .select(col("doc_id"), col("n_grams"),
        aggregate(col("bs"), lit(0L), (acc, b) =>
          acc + element_at(lut, (b + 1).cast("int"))).as("w_micro"))
      .withColumn("w_per_gram",
        TextSim.r6((col("w_micro").cast("double") / 1000000.0) / col("n_grams")))
  }

  val dsirSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
       |  FROM documents
       |), bg AS (
       |  SELECT doc_id,
       |         ('0x' || substr(md5(g), 1, 7))::BIGINT % $DsirBuckets AS b
       |  FROM (SELECT doc_id,
       |               unnest([t[i] || ' ' || t[i+1] for i in range(1, len(t))]) AS g
       |        FROM toks WHERE len(t) >= 2)
       |), counts AS (
       |  SELECT b,
       |         sum(CASE WHEN doc_id % $EvalMod = 0 THEN 1 ELSE 0 END)::BIGINT AS tc,
       |         sum(CASE WHEN doc_id % $EvalMod <> 0 THEN 1 ELSE 0 END)::BIGINT AS rc
       |  FROM bg GROUP BY b
       |), tot AS (
       |  SELECT sum(tc)::BIGINT AS tt, sum(rc)::BIGINT AS tr FROM counts
       |), lam AS (
       |  SELECT b,
       |         floor((ln((tc + 1)::DOUBLE / (tt + $DsirBuckets))
       |                - ln((rc + 1)::DOUBLE / (tr + $DsirBuckets)))
       |               * 1000000.0 + 0.5)::BIGINT AS lam_micro
       |  FROM counts, tot
       |)
       |SELECT doc_id, count(*)::BIGINT AS n_grams,
       |       sum(lam_micro)::BIGINT AS w_micro,
       |       ${TextSim.r6Sql("(sum(lam_micro)::DOUBLE / 1000000.0) / count(*)")} AS w_per_gram
       |FROM bg JOIN lam USING (b)
       |WHERE doc_id % $EvalMod <> 0
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  /** Bloom-screen form of [[contamination]] — the 100 TB shape: the
    * eval set compresses to an m-bit [[graft.functions.Bloom.Filter]]
    * (built by one map-side-combined aggregation over eval shingles)
    * and the corpus is screened by a per-row codegen'd membership probe
    * riding the scan — NO corpus-shingle shuffle, no join, the exact
    * screen's broadcast-rows join replaced by m/8 bytes of bits. False
    * positives are bounded (size mBits ~16× the eval shingle count for
    * <1%) and land on the exact verify; false negatives are impossible,
    * so the screen never leaks contamination past itself.
    *
    * Returns (doc_id, n_hits, flagged): `n_hits` counts the doc's
    * distinct shingles present in the eval union; `flagged` applies
    * `minHits` (the [[MinSharedShingles]] analogue against the union —
    * a superset screen of the exact per-eval-doc rule at minHits = 1).
    */
  def contaminationBloom(docs: DataFrame, evalDocs: DataFrame,
    mBits: Int = 1 << 17, minHits: Int = 1): DataFrame = {
    val sh: DataFrame = evalDocs
      .select(TextSim.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 3)
      .select(explode(TextSim.shingles3(col("t"))).as("shingle"))
    val f = graft.functions.Bloom.fit(sh, "shingle", mBits)
    docs
      .select(col("doc_id"), TextSim.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"),
        graft.functions.Bloom.hits(TextSim.shingles3(col("t")), f)
          .cast("long").as("n_hits"))
      .withColumn("flagged", col("n_hits") >= minHits)
  }

  /** q_domain_cap — per-domain downsampling: keep at most `DomainCap`
    * docs per source, chosen by md5-hash order (an unbiased,
    * deterministic sample — doc_id order would bias toward old
    * documents, rand() wouldn't reproduce). The standard fix for an
    * over-represented domain in the training mix. One window shuffle on
    * source; a skewed mega-domain salts like any hot key.
    */
  def domainCap(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(col("pick_hash"), col("doc_id"))
    Tables.documents(s, d)
      .select(col("source"), col("doc_id"),
        md5(concat(lit("cap:"), col("doc_id"))).as("pick_hash"))
      .withColumn("pick_rank", row_number().over(w).cast("long"))
      .filter(col("pick_rank") <= DomainCap)
      .select(col("source"), col("doc_id"), col("pick_rank"))
      .orderBy(col("source"), col("pick_rank"))
  }

  val DomainCap = 15

  val domainCapSql: String =
    s"""SELECT source, doc_id, pick_rank
       |FROM (
       |  SELECT source, doc_id,
       |         row_number() OVER (PARTITION BY source
       |                            ORDER BY md5('cap:' || doc_id), doc_id)::BIGINT AS pick_rank
       |  FROM documents)
       |WHERE pick_rank <= $DomainCap
       |ORDER BY source, pick_rank""".stripMargin

  /** q_histogram — document-length histogram (20-token bins) with
    * corpus share: the distribution a quality-filter threshold is read
    * off of. Per-row bin id + one partial-agg groupBy into a handful
    * of bins; the share window runs over the aggregated bins only.
    */
  def histogram(s: SparkSession, d: String): DataFrame = {
    val binned = Tables.documents(s, d)
      .select((floor(size(TextSim.tokens(col("text"))) / 20) * 20)
        .cast("long").as("bin_lo"))
      .groupBy(col("bin_lo"))
      .agg(count(lit(1)).as("n_docs"))
    val total = binned.agg(sum(col("n_docs")).as("total_docs"))
    binned.crossJoin(broadcast(total))
      .withColumn("share",
        TextSim.r6(col("n_docs").cast("double") / col("total_docs")))
      .select(col("bin_lo"), col("n_docs"), col("share"))
      .orderBy(col("bin_lo"))
  }

  val histogramSql: String =
    s"""WITH binned AS (
       |  SELECT (floor(len(list_filter(string_split(text, ' '), x -> x <> '')) / 20) * 20)::BIGINT AS bin_lo,
       |         count(*) AS n_docs
       |  FROM documents
       |  GROUP BY 1
       |)
       |SELECT bin_lo, n_docs,
       |       ${TextSim.r6Sql("n_docs::DOUBLE / (sum(n_docs) OVER ())::DOUBLE")} AS share
       |FROM binned
       |ORDER BY bin_lo""".stripMargin

  /** q_pack — token-budget sequence binning: within each source, docs
    * (in doc_id order) are assigned to the training sequence their
    * token prefix-sum lands in (`floor(tokens_before / $SeqTokens)`).
    * Set-at-a-time: one window shuffle on source; a bin can overflow by
    * at most one document, the standard scalable approximation — exact
    * greedy packing is a sequential fold (the [[Etl.chunkLinear]]
    * pattern) if byte-exact budgets ever matter.
    */
  def pack(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.documents(s, d)
      .select(col("source"), col("doc_id"),
        size(TextSim.tokens(col("text"))).cast("long").as("n_tokens"))
      .withColumn("seq_id",
        floor(coalesce(sum(col("n_tokens")).over(w), lit(0L)) / SeqTokens))
      .orderBy(col("source"), col("doc_id"))
  }

  /** Typed rows for [[packGreedy]]. */
  case class DocTok(source: String, doc_id: Long, n_tokens: Long)
  case class PackedDoc(source: String, doc_id: Long, n_tokens: Long, seq_id: Long)

  /** EXACT greedy sequence packing — the [[Etl.chunkLinear]] pattern
    * lifted to documents: repartition by source, sort within partitions
    * on (source, doc_id), then one streaming pass that closes a
    * sequence when the next doc would overflow the budget. Unlike
    * [[pack]]'s prefix-sum approximation, no sequence ever exceeds
    * `budget` (except a single over-budget doc alone in its sequence).
    * One shuffle + per-partition sort; constant memory per task.
    */
  def packGreedy(docs: org.apache.spark.sql.Dataset[DocTok],
    budget: Long): org.apache.spark.sql.Dataset[PackedDoc] = {
    implicit val enc = org.apache.spark.sql.Encoders.product[PackedDoc]
    docs.repartition(col("source"))
      .sortWithinPartitions(col("source"), col("doc_id"))
      .mapPartitions { it =>
        var curSource: String = null
        var seq = 0L
        var fill = 0L
        it.map { d =>
          if (d.source != curSource) { curSource = d.source; seq = 0L; fill = 0L }
          else if (fill + d.n_tokens > budget && fill > 0) { seq += 1; fill = 0L }
          fill += d.n_tokens
          PackedDoc(d.source, d.doc_id, d.n_tokens, seq)
        }
      }
  }

  val packSql: String =
    s"""WITH per_doc AS (
       |  SELECT source, doc_id,
       |         len(list_filter(string_split(text, ' '), x -> x <> ''))::BIGINT AS n_tokens
       |  FROM documents
       |)
       |SELECT source, doc_id, n_tokens,
       |       floor(coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
       |                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |             / $SeqTokens)::BIGINT AS seq_id
       |FROM per_doc
       |ORDER BY source, doc_id""".stripMargin

  /** Vocabulary head size for [[vocab]]. */
  val VocabTopK = 50

  /** Target per-domain doc count for [[mixSample]]'s rate curve. */
  val MixTarget = 15

  /** q_mix_sample — temperature-scaled domain sampling (the T5/Pile
    * mixing move): domain d keeps each doc with rate
    * `min(1, sqrt(MixTarget / n_d))` — alpha = 0.5 between "cap every
    * domain" (alpha=1, [[domainCap]]) and "keep everything" (alpha=0) —
    * so over-represented domains shrink sub-linearly while small
    * domains survive whole. The keep decision is the stable md5 bucket
    * of the doc id against `floor(rate·10⁴ + 0.5)`: reproducible,
    * content-free, and adding documents only moves a domain's RATE,
    * never which bucket a doc hashes to.
    *
    * Determinism note: alpha is pinned to 0.5 because IEEE `sqrt` is
    * correctly rounded in every engine; a general `pow(x, alpha)` is
    * libm-dependent and may differ in the last ulp — exactly the kind
    * of boundary that flips a `<` threshold on one engine only.
    *
    * Scale: one tiny per-domain agg broadcast back over a per-row
    * map — same shape as [[domainMix]]; no corpus-sized shuffle.
    */
  def mixSample(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("source"), col("doc_id"),
        (conv(substring(md5(concat(lit("mix:"), col("doc_id"))), 1, 7), 16, 10)
          .cast("long") % 10000).as("bucket"))
    val rates = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("keep_below",
        least(lit(10000L),
          floor(sqrt(lit(MixTarget.toDouble) / col("n_docs").cast("double")) * 1e4 + lit(0.5))))
    docs.join(broadcast(rates), "source")
      .filter(col("bucket") < col("keep_below"))
      .select(col("source"), col("doc_id"), col("bucket"), col("keep_below"))
      .orderBy(col("source"), col("doc_id"))
  }

  val mixSampleSql: String =
    s"""WITH docs AS (
       |  SELECT source, doc_id,
       |         ('0x' || substr(md5('mix:' || doc_id), 1, 7))::BIGINT % 10000 AS bucket
       |  FROM documents
       |), rates AS (
       |  SELECT source, count(*) AS n_docs,
       |         least(10000, floor(sqrt($MixTarget.0 / count(*)::DOUBLE) * 10000.0 + 0.5))::BIGINT AS keep_below
       |  FROM docs GROUP BY source
       |)
       |SELECT d.source, d.doc_id, d.bucket, r.keep_below
       |FROM docs d JOIN rates r ON d.source = r.source
       |WHERE d.bucket < r.keep_below
       |ORDER BY d.source, d.doc_id""".stripMargin

  /** q_vocab — corpus vocabulary head: term frequency + document
    * frequency for the top-$VocabTopK terms by tf (term tiebreak, so
    * the cut is deterministic). The frame tokenizer coverage, stopword
    * lists, and quality thresholds are derived from.
    *
    * Scale: explode → ONE partial-agg groupBy on the term key (tf is
    * map-side combined; df's distinct carries (term, doc_id) — the
    * standard price). The head cut IS a per-partition top-k merge:
    * Spark compiles `orderBy.limit` over the aggregated rows to
    * `TakeOrderedAndProject` — each partition keeps its own top-50 and
    * the driver merges k·partitions rows; no global sort, no exchange
    * of the vocabulary (plan-asserted in ScaleSpec/ExplainAudit).
    */
  def vocab(s: SparkSession, d: String): DataFrame =
    vocabHead(vocabCounts(Tables.documents(s, d)))

  /** Full `(term, tf, df)` vocabulary table of a document batch — the
    * INCREMENTAL unit of vocab maintenance: `tf` is a plain sum and
    * `df` counts distinct docs WITHIN the batch, so under the
    * append-only ingest contract (batches carry disjoint, new doc_ids
    * — the `SignatureStore.append` identity authority) both merge by
    * addition and [[mergeVocab]] never rescans old documents. One
    * map-side-combined groupBy per batch; the stored table is
    * vocabulary-sized data, never driver state.
    */
  def vocabCounts(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), explode(TextSim.tokens(col("text"))).as("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("tf"), count_distinct(col("doc_id")).as("df"))

  /** Merge vocabulary tables of DISJOINT document batches (counts
    * add; associative and order-insensitive — asserted in CorpusSpec).
    */
  def mergeVocab(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy(col("term"))
      .agg(sum(col("tf")).as("tf"), sum(col("df")).as("df"))

  /** Top-`k` head of a vocabulary table by tf (term tiebreak) — a
    * TakeOrdered partial top-k merge, never a full sort.
    */
  def vocabHead(counts: DataFrame, k: Int = VocabTopK): DataFrame =
    counts.orderBy(desc("tf"), col("term")).limit(k)

  val vocabSql: String =
    s"""WITH terms AS (
       |  SELECT doc_id,
       |         unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
       |  FROM documents
       |)
       |SELECT term, count(*) AS tf, count(DISTINCT doc_id) AS df
       |FROM terms GROUP BY term
       |ORDER BY tf DESC, term LIMIT $VocabTopK""".stripMargin

  /** Coverage-curve checkpoints (the fixture vocabulary holds 31
    * terms at every SF; a real corpus would use 2^10..2^17).
    */
  val CoverageKs: Seq[Int] = Seq(4, 8, 16, 24)

  /** q_vocab_coverage — token-coverage curve of the vocabulary head:
    * what fraction of ALL corpus tokens the top-k terms cover, at the
    * [[CoverageKs]] checkpoints — the tokenizer-SIZING input (`q_vocab`
    * lists the head, `q_zipf` fits the curve's slope; this reads the
    * budget question off it directly: a 4096-entry word vocab covering
    * 97% projects a 3% OOV/byte-fallback rate, and the marginal gain
    * between checkpoints says where growth stops paying — the same
    * elbow logic [[Bpe]] training walks implicitly).
    *
    * Scale: the corpus folds once to the |vocab| count frame; the rank
    * window and cumulative sum run over that bounded frame only, under
    * the (tf desc, term) total order shared with `q_vocab`.
    */
  def vocabCoverage(s: SparkSession, d: String): DataFrame = {
    val counts = vocabCounts(Tables.documents(s, d)).persist()
    val tot = counts.agg(sum(col("tf")).as("total"))
    // head first (TakeOrdered partial merge — the q_vocab plan), THEN
    // the rank/cumsum window over the ≤max(k) head rows only: a global
    // window over the full vocab frame would single-partition a frame
    // that grows with the corpus
    val head = counts.orderBy(col("tf").desc, col("term"))
      .limit(CoverageKs.max)
    val w = graft.functions.GridWindow.ord(col("tf").desc, col("term"))
    val ranked = head.withColumn("rk", row_number().over(w))
      .withColumn("cum", sum(col("tf")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
    ranked.filter(col("rk").isin(CoverageKs: _*))
      .crossJoin(broadcast(tot))
      .select(col("rk").cast("long").as("k"), col("cum").as("cum_tf"),
        col("total").as("total_tf"),
        TextSim.r6(col("cum").cast("double") / col("total")).as("coverage"))
      .orderBy(col("k"))
  }

  val vocabCoverageSql: String = {
    val ks = CoverageKs.mkString(", ")
    s"""WITH terms AS (
       |  SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
       |  FROM documents
       |), counts AS (
       |  SELECT term, count(*)::BIGINT AS tf FROM terms GROUP BY term
       |), ranked AS (
       |  SELECT tf,
       |         row_number() OVER (ORDER BY tf DESC, term) AS rk,
       |         sum(tf) OVER (ORDER BY tf DESC, term
       |                       ROWS UNBOUNDED PRECEDING)::BIGINT AS cum
       |  FROM counts
       |), tot AS (
       |  SELECT sum(tf)::BIGINT AS total FROM counts
       |)
       |SELECT rk::BIGINT AS k, cum AS cum_tf, total AS total_tf,
       |       ${TextSim.r6Sql("cum::DOUBLE / total")} AS coverage
       |FROM ranked CROSS JOIN tot
       |WHERE rk IN ($ks)
       |ORDER BY k""".stripMargin
  }

  /** Per-source LEXICAL DIVERSITY report — type-token ratio and hapax
    * fraction by domain: the Heaps'-law observability the mixing stage
    * reads next to [[domainMix]]'s volume shares (a domain with
    * collapsing TTR at volume is template/boilerplate mass — cap it;
    * a high-hapax domain is vocabulary the tokenizer hasn't priced —
    * see q_fertility). Two partial-agg groupBys: (source, term) term
    * frequencies fold map-side, then ≤|vocab| aggregated rows fold to
    * ≤|domains|; the per-source doc counts broadcast back. The corpus
    * never shuffles on doc_id.
    */
  def lexicalDiversity(docs: DataFrame): DataFrame = {
    val tf = docs
      .select(col("source"), explode(TextSim.tokens(col("text"))).as("term"))
      .groupBy(col("source"), col("term"))
      .agg(count(lit(1)).cast("long").as("tf"))
    val perSource = tf.groupBy(col("source"))
      .agg(sum(col("tf")).cast("long").as("n_tokens"),
        count(lit(1)).cast("long").as("n_terms"),
        sum(when(col("tf") === 1L, 1L).otherwise(0L)).cast("long").as("hapax"))
    val nd = docs.groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("n_docs"))
    perSource.join(broadcast(nd), "source")
      .select(col("source"), col("n_docs"), col("n_tokens"), col("n_terms"),
        TextSim.r6(col("n_terms").cast("double") / col("n_tokens")).as("ttr"),
        col("hapax"),
        TextSim.r6(col("hapax").cast("double") / col("n_terms"))
          .as("hapax_frac"))
  }

  /** q_lexical_diversity — [[lexicalDiversity]] over the documents
    * corpus.
    */
  def lexicalDiversityQuery(s: SparkSession, d: String): DataFrame =
    lexicalDiversity(Tables.documents(s, d)).orderBy(col("source"))

  val lexicalDiversitySql: String =
    s"""WITH terms AS (
       |  SELECT source, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
       |  FROM documents
       |), tf AS (
       |  SELECT source, term, count(*)::BIGINT AS tf
       |  FROM terms GROUP BY source, term
       |), per_source AS (
       |  SELECT source, sum(tf)::BIGINT AS n_tokens, count(*)::BIGINT AS n_terms,
       |         sum(CASE WHEN tf = 1 THEN 1 ELSE 0 END)::BIGINT AS hapax
       |  FROM tf GROUP BY source
       |), nd AS (
       |  SELECT source, count(*)::BIGINT AS n_docs FROM documents GROUP BY source
       |)
       |SELECT p.source, nd.n_docs, p.n_tokens, p.n_terms,
       |       ${TextSim.r6Sql("p.n_terms::DOUBLE / p.n_tokens")} AS ttr,
       |       p.hapax,
       |       ${TextSim.r6Sql("p.hapax::DOUBLE / p.n_terms")} AS hapax_frac
       |FROM per_source p JOIN nd ON nd.source = p.source
       |ORDER BY p.source""".stripMargin

  /** Semantic mix audit: the [[domainMix]] report keyed by EMBEDDING
    * CLUSTER × source instead of metadata alone — the view behind
    * cluster-balanced sampling (is one semantic region dominated by a
    * single source? is a source contributing nothing to a region the
    * mix wants?). Metadata mixing balances where documents CAME from;
    * this exposes what they're ABOUT.
    *
    * Scale shape: assignment is the shuffle-free broadcast argmax
    * ([[graft.functions.NearestCentroids]]); the id join co-locates by
    * doc/vec id (bucket both tables by id at 100 TB and it's
    * exchange-free); the group fold is one partial agg to
    * ≤ nlist × |sources| rows, and per-cluster totals broadcast back.
    */
  def clusterMix(docs: DataFrame, vectors: DataFrame,
    cents: DataFrame): DataFrame = {
    val assigned = vectors
      .withColumn("nc",
        graft.functions.NearestCentroids.fromFrame(col("embedding"), cents, 1))
      .select(col("vec_id"),
        element_at(col("nc"), 1).getField("cent_id").as("cent_id"))
    val counts = assigned
      .join(docs.select(col("doc_id").as("vec_id"), col("source")), "vec_id")
      .groupBy(col("cent_id"), col("source"))
      .agg(count(lit(1)).cast("long").as("n_docs"))
    val totals = counts.groupBy(col("cent_id"))
      .agg(sum(col("n_docs")).cast("long").as("t"))
    counts.join(broadcast(totals), "cent_id")
      .select(col("cent_id"), col("source"), col("n_docs"),
        TextSim.r6(col("n_docs").cast("double") / col("t")).as("share"))
  }

  /** q_cluster_mix — [[clusterMix]] over the documents ⋈ embeddings
    * corpus (vec_id = doc_id) with the deterministic mod-25 centroids
    * shared with q_ann_ivf.
    */
  def clusterMixQuery(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      .withColumn("nrm", Ann.norm(col("embedding")))
    val cents = e.filter(col("vec_id") % 25 === 0)
      .select(col("vec_id").as("cent_id"), col("embedding").as("c_emb"),
        col("nrm").as("c_nrm"))
    clusterMix(Tables.documents(s, d), e, cents)
  }

  val clusterMixSql: String = {
    import Ann.{cosineSql, dotSql}
    val nrm = s"sqrt(${dotSql("embedding", "embedding")})"
    s"""WITH e AS (
       |  SELECT vec_id, embedding, $nrm AS nrm FROM embeddings
       |), cents AS (
       |  SELECT vec_id AS cent_id, embedding AS c_emb, nrm AS c_nrm
       |  FROM e WHERE vec_id % 25 = 0
       |), assigned AS (
       |  SELECT vec_id, cent_id FROM (
       |    SELECT e.vec_id, c.cent_id,
       |           row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |             ${cosineSql("e.embedding", "e.nrm", "c.c_emb", "c.c_nrm")} DESC,
       |             c.cent_id) AS rk
       |    FROM e CROSS JOIN cents c)
       |  WHERE rk = 1
       |), counts AS (
       |  SELECT a.cent_id, d.source, count(*)::BIGINT AS n_docs
       |  FROM assigned a JOIN documents d ON d.doc_id = a.vec_id
       |  GROUP BY a.cent_id, d.source
       |), tot AS (
       |  SELECT cent_id, sum(n_docs)::BIGINT AS t FROM counts GROUP BY cent_id
       |)
       |SELECT c.cent_id, c.source, c.n_docs,
       |       ${TextSim.r6Sql("c.n_docs::DOUBLE / t.t")} AS share
       |FROM counts c JOIN tot t ON t.cent_id = c.cent_id
       |ORDER BY c.cent_id, c.source""".stripMargin
  }

  /** Expected sample size for [[sampleWeighted]]. */
  val SampleTarget = 500

  /** q_sample_weighted — per-DOCUMENT importance sampling by quality
    * (the doc-level complement of q_mix_sample's per-DOMAIN rate
    * curve): each doc is kept with probability ∝ its own quality
    * score, expected total [[SampleTarget]] — quality-weighted corpus
    * subsampling, the data-selection primitive behind
    * sample-then-train pipelines. Deterministic Bernoulli via the
    * house hash: the doc's 28-bit md5 bucket is compared against
    * `⌊N·w·2²⁸/Σw⌉`; the weight is the ROUNDED (r6) q_quality
    * composite — already proven engine-identical — and Σw folds in
    * decimal (exact, order-free), so the cutoff arithmetic sees
    * identical doubles on both engines. No coordination between rows:
    * weights ride the scan, Σw is the bm25-style 1-row broadcast
    * stats frame, the keep decision is a per-row compare — corpus
    * never shuffles; an exact-size variant would pay a global top-N
    * on the priority key instead (TakeOrdered merge, still no full
    * sort).
    */
  def sampleWeighted(s: SparkSession, d: String): DataFrame = {
    val q = TextAnalysis.qualityScores(s, d).select(col("doc_id"), col("quality"))
    val tot = q.agg(TextSim.dsum(col("quality")).as("sw"))
    q.crossJoin(broadcast(tot))
      .withColumn("bucket",
        conv(substring(md5(concat(lit("samp:"), col("doc_id").cast("string"))), 1, 7), 16, 10)
          .cast("long"))
      .withColumn("cutoff",
        floor(lit(SampleTarget.toDouble) * col("quality") * lit(268435456.0) / col("sw") + lit(0.5))
          .cast("long"))
      .filter(col("bucket") < col("cutoff"))
      .select(col("doc_id"), col("quality"), col("bucket"), col("cutoff"))
      .orderBy(col("doc_id"))
  }

  /** Exact-N weighted-sample size. */
  val TopWN = 200

  /** q_sample_topw — EXACT-N weighted sampling without replacement
    * (Efraimidis–Spirakis A-ES, 2006): each doc draws rank
    * ln(u)/w from its deterministic md5 uniform u and its quality
    * weight w, and the N LARGEST ranks are the sample — the missing
    * cell of the sampling matrix (`q_sample_weighted` is
    * weighted-but-expected-size, `q_audit_sample` exact-size-but-
    * uniform). A-ES's theorem makes this a true weighted sample
    * without replacement: P(doc in sample) is what sequential
    * weighted draws would give. Zero-weight docs rank −∞ (excluded by
    * construction).
    *
    * Determinism: u = (28-bit md5 bucket + 0.5)/2²⁸ is an exactly-
    * representable double, the weight is the ROUNDED r6 composite,
    * and the rank is micro-rounded before the cut (one libm ln per
    * row — the bm25 rounding rule), ties to smallest doc_id. Plans as
    * TakeOrdered: per-partition partial top-N, never a global sort;
    * ranks ride the scan (no shuffle before the cut).
    */
  def sampleTopW(s: SparkSession, d: String): DataFrame =
    TextAnalysis.qualityScores(s, d).select(col("doc_id"), col("quality"))
      .filter(col("quality") > 0)
      .withColumn("bucket",
        conv(substring(md5(concat(lit("aes:"), col("doc_id").cast("string"))), 1, 7), 16, 10)
          .cast("long"))
      .withColumn("rank_micro",
        floor(lit(1e6) * log((col("bucket").cast("double") + 0.5) / 268435456.0)
          / col("quality") + 0.5).cast("long"))
      .select(col("doc_id"), col("quality"), col("rank_micro"))
      .orderBy(col("rank_micro").desc, col("doc_id"))
      .limit(TopWN)

  val sampleTopWSql: String =
    s"""WITH ${TextAnalysis.qualityScoreCtesSql("documents")},
       |q AS (SELECT doc_id, quality FROM q_scores WHERE quality > 0),
       |ranked AS (
       |  SELECT doc_id, quality,
       |         floor(1000000.0 * ln((('0x' || substr(md5('aes:' || doc_id), 1, 7))::BIGINT::DOUBLE + 0.5) / 268435456.0)
       |               / quality + 0.5)::BIGINT AS rank_micro
       |  FROM q
       |)
       |SELECT doc_id, quality, rank_micro
       |FROM ranked
       |ORDER BY rank_micro DESC, doc_id
       |LIMIT $TopWN""".stripMargin

  /** Audit-sample size. */
  val AuditN = 200

  /** q_audit_sample — exact-N deterministic global sample: the N docs
    * with the smallest md5 rank hash — a uniform reproducible audit
    * slice (human eval, manual QA, labeling batches) that is STABLE
    * under corpus growth in the bottom-k sense: an insert displaces at
    * most one sampled doc. The rate-based samplers (`q_mix_sample`,
    * `q_sample_weighted`) give EXPECTED counts; audits need exactly N.
    * Plans as TakeOrdered — per-partition partial top-N, k·partitions
    * rows to the driver-side merge, never a global sort.
    */
  def auditSample(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        md5(concat(lit("audit:"), col("doc_id"))).as("rk"))
      .orderBy(col("rk"))
      .limit(AuditN)

  val auditSampleSql: String =
    s"""SELECT doc_id, source, md5('audit:' || doc_id) AS rk
       |FROM documents
       |ORDER BY rk
       |LIMIT $AuditN""".stripMargin

  /** q_split_stratified — EXACT per-source proportional split: within
    * each source, docs rank by the same content-free split hash as
    * [[split]], and rank ranges realize the 80/10/10 to ±1 doc per
    * stratum. [[split]]'s pure-map form gives EXPECTED proportions —
    * fine globally, but a 1% source can land 70/30 by luck; benchmark
    * slices and per-domain eval sets want the stratified guarantee.
    *
    * Scale shape: the global per-stratum rank DECOMPOSES — rank(doc)
    * = (rows of the stratum in earlier hash-prefix buckets) + (rank
    * within its bucket). The bucket histogram is a bounded partial
    * agg (4096·|sources| rows, window'd and broadcast at that size),
    * and the row_number window partitions by (source, bucket) — 4096
    * balanced partitions per stratum, so a 90%-of-corpus source never
    * lands on one reducer (the whole-stratum `Window.partitionBy
    * (source)` sort this replaces is exactly the skew shape
    * `sampleGroup` documents against). Rows carry (doc_id, source,
    * rank hash) only, never text. Stability is per-stratum
    * bottom-k-ish: an insert into a source shifts only that source's
    * boundary docs (±1 at each cut), other strata are byte-identical.
    */
  def splitStratified(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        md5(concat(lit("split:"), col("doc_id"))).as("rk"))
      .withColumn("bkt", substring(col("rk"), 1, 3))
    // ordering by rk orders by its prefix first, so per-bucket ranks
    // offset by the earlier-buckets count reproduce the stratum rank
    val hist = base.groupBy(col("source"), col("bkt"))
      .agg(count(lit(1)).as("c"))
    val bw = Window.partitionBy(col("source")).orderBy(col("bkt"))
    val cum = hist
      .withColumn("cum_before", sum(col("c")).over(bw) - col("c"))
      .withColumn("cnt", sum(col("c")).over(Window.partitionBy(col("source"))))
      .select(col("source"), col("bkt"), col("cum_before"), col("cnt"))
    val rw = Window.partitionBy(col("source"), col("bkt")).orderBy(col("rk"))
    base
      .withColumn("rib", row_number().over(rw))
      .join(broadcast(cum), Seq("source", "bkt"))
      .withColumn("rn", col("cum_before") + col("rib"))
      .select(col("doc_id"), col("source"),
        when(col("rn") <= expr(s"cnt * $TrainPct div 100"), "train")
          .when(col("rn") <= expr(s"cnt * ${TrainPct + ValPct} div 100"), "val")
          .otherwise("test").as("split"))
      .orderBy(col("doc_id"))
  }

  val splitStratifiedSql: String =
    s"""SELECT doc_id, source,
       |       CASE WHEN rn <= cnt * $TrainPct // 100 THEN 'train'
       |            WHEN rn <= cnt * ${TrainPct + ValPct} // 100 THEN 'val'
       |            ELSE 'test' END AS split
       |FROM (
       |  SELECT doc_id, source,
       |         row_number() OVER (PARTITION BY source
       |                            ORDER BY md5('split:' || doc_id)) AS rn,
       |         count(*) OVER (PARTITION BY source) AS cnt
       |  FROM documents)
       |ORDER BY doc_id""".stripMargin

  /** Negatives per anchor for [[negSample]]. */
  val NegK = 4

  /** q_neg_sample — deterministic negative sampling for contrastive /
    * embedding training: each anchor doc draws [[NegK]] pseudo-random
    * partner docs by hashing (anchor, j) into the dense doc_id space
    * (self-collisions step to the next id). Content-free and
    * reproducible across engines and runs — the [[split]] rule applied
    * to pair generation.
    *
    * Scale shape: candidate generation is a per-row map (explode ×K);
    * the only shuffle is the equi-join that resolves each neg_id to
    * its row — bucket both sides by id at 100 TB and it's
    * exchange-free. The library face [[negativesFor]] composes an
    * anti-join against a near-dup pair table so a positive can never
    * be served as a negative.
    */
  /** Shared candidate generation for [[negSample]]/[[negativesFor]]:
    * (anchor, j) hashes into [0, n) via 15 md5 hex chars (60 bits —
    * a 7-char/28-bit draw would CAP the reachable id space at 2^28
    * and silently bias any corpus beyond ~268 M docs), with the
    * self-collision stepped forward.
    */
  private def negCandidates(docs: DataFrame, k: Int): DataFrame = {
    val nRow = docs.agg(count(lit(1)).cast("long").as("n"))
    docs.select(col("doc_id"))
      .crossJoin(broadcast(nRow))
      .select(col("doc_id"), col("n"),
        explode(sequence(lit(1), lit(k))).as("j"))
      .select(col("doc_id"), col("j"), col("n"),
        (conv(substring(md5(concat(lit("ns:"), col("doc_id"), lit(":"), col("j"))),
          1, 15), 16, 10).cast("long") % col("n")).as("r"))
      .select(col("doc_id"), col("j"),
        when(col("r") === col("doc_id"), (col("r") + 1) % col("n"))
          .otherwise(col("r")).as("neg_id"))
  }

  def negSample(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    negCandidates(docs, NegK)
      .join(docs.select(col("doc_id").as("neg_id"), col("source").as("neg_source")),
        Seq("neg_id"))
      .select(col("doc_id"), col("j").cast("long").as("j"), col("neg_id"),
        col("neg_source"))
      .orderBy(col("doc_id"), col("j"))
  }

  /** [[negSample]] over any `(doc_id, source)` frame, with near-dup
    * positives excluded. Two one-pass drops instead of re-draws (a
    * training loader over-samples K and takes what survives):
    * candidates that resolve to no document (the frame's ids need not
    * be dense 0..n-1 — a filtered or re-keyed corpus draws into holes)
    * go via the id-resolving semi-join, and candidates whose
    * (anchor, negative) appears in `pairs` (either orientation) go
    * via the anti-join.
    */
  def negativesFor(docs: DataFrame, pairs: DataFrame, k: Int = NegK): DataFrame = {
    val cand = negCandidates(docs, k)
      .join(docs.select(col("doc_id").as("neg_id")), Seq("neg_id"), "left_semi")
    val sym = pairs.select(col("a_id").as("doc_id"), col("b_id").as("neg_id"))
      .unionByName(pairs.select(col("b_id").as("doc_id"), col("a_id").as("neg_id")))
    cand.join(sym, Seq("doc_id", "neg_id"), "left_anti")
  }

  val negSampleSql: String =
    s"""WITH nn AS (SELECT count(*)::BIGINT AS n FROM documents),
       |cand AS (
       |  SELECT d.doc_id, j.j, nn.n,
       |         ('0x' || substr(md5('ns:' || d.doc_id || ':' || j.j), 1, 15))::BIGINT % nn.n AS r
       |  FROM documents d, (SELECT unnest(range(1, ${NegK + 1})) AS j) j, nn
       |)
       |SELECT c.doc_id, c.j, c.neg_id, neg.source AS neg_source
       |FROM (SELECT doc_id, j,
       |             CASE WHEN r = doc_id THEN (r + 1) % n ELSE r END AS neg_id
       |      FROM cand) c
       |JOIN documents neg ON neg.doc_id = c.neg_id
       |ORDER BY c.doc_id, c.j""".stripMargin

  /** Per-group sample size for [[sampleGroup]]. */
  val GroupSampleK = 25

  /** q_sample_group — exact-k PER-SOURCE stratified audit sample: the
    * k docs with the smallest md5 rank hash within each source. The
    * global [[auditSample]] under-represents small sources (a 1%
    * source expects 2 of 200 rows); per-stratum exact-k is what a
    * balanced human-eval or labeling batch actually wants, with the
    * same bottom-k stability (an insert into a source displaces at
    * most one of THAT source's rows, other strata untouched).
    *
    * Scale shape: [[graft.functions.BottomKByHash]] plans as
    * ObjectHashAggregate with a map-side partial pass — each partition
    * reduces to ≤ k rows per source before the shuffle, so the
    * exchange carries k·partitions rows per source, never the corpus.
    * The row_number window it replaces would exchange and sort EVERY
    * row on the skewed source key.
    */
  def sampleGroup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val agg = new graft.functions.BottomKByHash(GroupSampleK)
    Tables.documents(s, d)
      .select(col("source").as("key"),
        md5(concat(lit("audit:"), col("doc_id"))).as("h"),
        col("doc_id").cast("double").as("v"))
      .as[graft.functions.HashedVal]
      .groupByKey(_.key)
      .agg(agg.toColumn.name("kept"))
      .toDF("key", "kept")
      .select(col("key").as("source"), explode(col("kept")).as("kv"))
      .select(col("source"), col("kv.v").cast("long").as("doc_id"),
        col("kv.h").as("rk"))
      .orderBy(col("source"), col("rk"))
  }

  val sampleGroupSql: String =
    s"""SELECT source, doc_id, rk FROM (
       |  SELECT source, doc_id, md5('audit:' || doc_id) AS rk,
       |         row_number() OVER (PARTITION BY source ORDER BY md5('audit:' || doc_id)) AS rn
       |  FROM documents)
       |WHERE rn <= $GroupSampleK
       |ORDER BY source, rk""".stripMargin

  // the quality composite comes from the ONE shared CTE definition
  // (TextAnalysis.qualityScoreCtesSql) — no second hand-maintained copy
  val sampleWeightedSql: String =
    s"""WITH ${TextAnalysis.qualityScoreCtesSql("documents")},
       |q AS (SELECT doc_id, quality FROM q_scores),
       |tot AS (
       |  SELECT ${TextSim.dsumSql("quality")} AS sw FROM q
       |)
       |SELECT doc_id, quality,
       |       ('0x' || substr(md5('samp:' || doc_id), 1, 7))::BIGINT AS bucket,
       |       floor($SampleTarget.0 * quality * 268435456.0 / sw + 0.5)::BIGINT AS cutoff
       |FROM q CROSS JOIN tot
       |WHERE ('0x' || substr(md5('samp:' || doc_id), 1, 7))::BIGINT <
       |      floor($SampleTarget.0 * quality * 268435456.0 / sw + 0.5)::BIGINT
       |ORDER BY doc_id""".stripMargin
}
