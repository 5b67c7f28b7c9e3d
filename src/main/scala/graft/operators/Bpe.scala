package graft.operators

import graft.Tables
import graft.functions.TextSim
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** BPE tokenizer TRAINING — the iterative loop whose single first
  * round is [[TextAnalysis.bpeMerges]] (q_bpe_merges): each round
  * counts corpus-weighted adjacent symbol pairs, folds the top pair
  * into the symbol inventory, and re-segments — the learning face of
  * the tokenizer whose cost [[TextAnalysis.fertility]] measures
  * (re-expressing the tokenization the reference delegates to its
  * embedding API, `Notion_openai_vector_etl.py:329-344`).
  *
  * Scale shape (the part that matters at 100 TB): the corpus is
  * touched EXACTLY ONCE — one explode + one partial-agg groupBy folds
  * it to the `(word, tf)` vocabulary, after which every training
  * round runs over the |vocab|-sized symbol table: pair enumeration
  * explodes |vocab| rows, the winner is a TakeOrdered top-1, and the
  * re-segmentation is a per-row array fold. Rounds never rescan or
  * reshuffle documents. Each round's vocab is materialized through
  * [[Iterate.materialize]] (the BFS/Lloyd lineage rule: N rounds of
  * stacked higher-order functions would otherwise re-inline into one
  * unplannable expression tree — the q_cdc lesson).
  */
object Bpe {

  /** `(syms, tf)` — each distinct corpus word as its character-symbol
    * sequence, weighted by corpus frequency. Words of one character
    * carry no pairs and are dropped (matching
    * [[TextAnalysis.bpeMerges]]'s vocabulary).
    */
  def initVocab(docs: DataFrame): DataFrame =
    docs.select(explode(TextSim.tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).cast("long").as("tf"))
      .filter(length(col("w")) >= 2)
      .select(transform(sequence(lit(1), length(col("w"))),
        i => col("w").substr(i, lit(1))).as("syms"), col("tf"))

  /** Adjacent-pair counts over a `(syms, tf)` frame — overlapping
    * occurrences count individually, exactly as the sequential BPE
    * `get_stats` does.
    */
  def pairCounts(vocab: DataFrame): DataFrame =
    vocab
      // fully-merged single-symbol words carry no pairs — and must be
      // dropped BEFORE the sequence() enumeration: sequence(1, 0)
      // counts DOWN in Spark, so it would probe past the array
      .filter(size(col("syms")) >= 2)
      .select(col("tf"), explode(transform(
        sequence(lit(1), size(col("syms")) - 1),
        i => struct(element_at(col("syms"), i).as("a"),
          element_at(col("syms"), (i + 1).cast("int")).as("b")))).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum(col("tf")).cast("long").as("n"))

  /** Greedy left-to-right merge of adjacent `(a, b)` into the single
    * symbol `a+b` within one symbol array — the standard BPE
    * re-segmentation semantics: a freshly merged symbol is not
    * re-merged with the following element in the same pass, so
    * `aaaa` under `(a,a)` becomes `[aa, aa]`, not `[aaa, a]`.
    */
  private def mergeFold(syms: Column, a: String, b: String): Column = {
    val merged = a + b
    aggregate(syms,
      array().cast("array<string>"),
      (acc, x) => when(
        size(acc) >= 1 && element_at(acc, -1) === lit(a) && x === lit(b),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(merged))))
        .otherwise(concat(acc, array(x))))
  }

  /** Train `rounds` merges. Returns the merge table
    * `(rank, left, right, merged, n)` in learned order — the artifact
    * a tokenizer ships. Stops early if no pair remains (every word
    * fully merged).
    */
  def train(docs: DataFrame, rounds: Int): DataFrame =
    trainVocab(initVocab(docs), rounds)

  /** [[train]] over a caller-built `(syms, tf)` vocabulary — the entry
    * [[bpeEncode]] needs (its vocab carries extra constraints and is
    * reused for the census).
    */
  def trainVocab(vocab0: DataFrame, rounds: Int): DataFrame = {
    val spark = vocab0.sparkSession
    var vocab = Iterate.materialize(vocab0.select(col("syms"), col("tf")))
    var merges = Vector.empty[(Int, String, String, String, Long)]
    var done = false
    var r = 0
    while (r < rounds && !done) {
      // top-1 pair: ties broken (n desc, a, b) — deterministic
      val top = pairCounts(vocab)
        .orderBy(col("n").desc, col("a"), col("b"))
        .limit(1).collect()
      if (top.isEmpty) done = true
      else {
        val (a, b, n) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges :+= ((r + 1, a, b, a + b, n))
        val prev = vocab
        vocab = Iterate.materialize(
          vocab.select(mergeFold(col("syms"), a, b).as("syms"), col("tf")))
        prev.unpersist()
      }
      r += 1
    }
    import spark.implicits._
    merges.toDF("rank", "left", "right", "merged", "n")
  }

  /** Merge rounds [[bpeEncode]] trains — a design constant (the SQL
    * mirror unrolls exactly this many rounds), never data-derived.
    */
  val EncodeRounds = 8

  /** q_bpe_encode — the trained tokenizer APPLIED corpus-wide: train
    * [[EncodeRounds]] merges on the corpus vocabulary, segment every
    * word under the learned inventory, and report the per-source
    * token census — the fertility counterpart of q_bpe_merges
    * (which ranks the FIRST round's candidates) and q_fertility
    * (which scores a FIXED segmenter): `(source, n_words, n_chars,
    * bpe_tokens, tokens_per_word_micro, chars_per_token_micro)`.
    *
    * Scale: the corpus folds ONCE to `(source, word, tf)`; training
    * and segmentation run over the |vocab|-sized symbol table
    * (tokenizer vocabularies are bounded by design), and the census
    * is one broadcast join of the ≤|vocab| `(word, n_tok)` frame back
    * into the per-source counts — the corpus never reshuffles. At an
    * extreme open vocabulary the broadcast degrades to a shuffle
    * hash join on `w`; nothing else changes.
    *
    * Oracle parity: the DuckDB mirror unrolls the [[EncodeRounds]]
    * training rounds over a `'||'`-bounded string representation
    * (`'||a||b||c||'`) where one greedy [[mergeFold]] pass ≡ ONE
    * `replace(s, '|a||b|', '|ab|')` pass: plain replace scans
    * left-to-right non-overlapping without rescanning its own output
    * (exactly the fold's no-remerge rule), the double boundary means
    * adjacent element-pair matches never share a character (a
    * single-pipe encoding provably diverges: in `a a a a a` under
    * `(a,a)` the consumed shared separator makes replace pair
    * elements (1,2),(4,5) while greedy pairs (1,2),(3,4) — caught by
    * BpeSpec before it shipped), each match consumes only the INNER
    * pipe of each boundary so the `'||'` invariant survives
    * replacement, and full-symbol anchoring can't match inside longer
    * symbols (BpeSpec sweeps the adversarial shapes: odd same-symbol
    * runs, alternations, prefix/suffix collisions, plus a randomized
    * sweep). Words containing the separator are excluded from the
    * vocabulary on BOTH sides — a declared contract, not a data
    * assumption.
    */
  def bpeEncode(s: SparkSession, d: String): DataFrame = {
    val words = Iterate.materialize(Tables.documents(s, d)
      .select(col("source"), explode(TextSim.tokens(col("text"))).as("w"))
      .filter(!col("w").contains("|"))
      .groupBy(col("source"), col("w"))
      .agg(count(lit(1)).cast("long").as("tf")))
    val vocab = Iterate.materialize(words.groupBy(col("w"))
      .agg(sum(col("tf")).cast("long").as("tf"))
      .select(col("w"),
        transform(sequence(lit(1), length(col("w"))),
          i => col("w").substr(i, lit(1))).as("syms"),
        col("tf")))
    val merges = trainVocab(vocab, EncodeRounds).collect()
      .sortBy(_.getInt(0))
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val toks = segment(vocab.select(col("w"), col("syms"), col("tf")), merges)
      .select(col("w"), size(col("syms")).cast("long").as("n_tok"))
    words.join(broadcast(toks), Seq("w"))
      .groupBy(col("source"))
      .agg(sum(col("tf")).cast("long").as("n_words"),
        sum(col("tf") * length(col("w"))).cast("long").as("n_chars"),
        sum(col("tf") * col("n_tok")).cast("long").as("bpe_tokens"))
      .withColumn("tokens_per_word_micro",
        expr("(bpe_tokens * 1000000) div n_words"))
      .withColumn("chars_per_token_micro",
        expr("(n_chars * 1000000) div bpe_tokens"))
      .orderBy(col("source"))
  }

  val bpeEncodeSql: String = {
    // one unrolled training round: pair counts over v{r-1}, top-1 by
    // (n desc, a, b), one boundary-anchored replace pass over the
    // double-pipe representation; an empty candidate set (fully merged
    // vocab) degrades to the identity via the LEFT JOIN — exactly
    // trainVocab's early stop
    def round(r: Int): String = {
      val prev = s"v${r - 1}"
      s"""p$r AS (
         |  SELECT a, b, sum(tf)::BIGINT AS n FROM (
         |    SELECT tf,
         |      unnest([l[i] for i in range(2, len(l) - 1)]) AS a,
         |      unnest([l[i + 1] for i in range(2, len(l) - 1)]) AS b
         |    FROM (SELECT tf, string_split(s, '||') AS l FROM $prev))
         |  GROUP BY a, b
         |), t$r AS (
         |  SELECT '|' || a || '||' || b || '|' AS pat, '|' || a || b || '|' AS rep
         |  FROM p$r ORDER BY n DESC, a, b LIMIT 1
         |), v$r AS MATERIALIZED (
         |  SELECT v.w, CASE WHEN t.pat IS NULL THEN v.s
         |              ELSE replace(v.s, t.pat, t.rep) END AS s, v.tf
         |  FROM $prev v LEFT JOIN t$r t ON TRUE
         |)""".stripMargin
    }
    s"""WITH words AS MATERIALIZED (
       |  SELECT source, w, count(*)::BIGINT AS tf FROM (
       |    SELECT source,
       |           unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
       |    FROM documents)
       |  WHERE w NOT LIKE '%|%'
       |  GROUP BY source, w
       |), v0 AS MATERIALIZED (
       |  SELECT w, '||' || regexp_replace(w, '(.)', '\\1||', 'g') AS s,
       |         sum(tf)::BIGINT AS tf
       |  FROM words GROUP BY w
       |),
       |${(1 to EncodeRounds).map(round).mkString(",\n")},
       |toks AS MATERIALIZED (
       |  SELECT w, (len(string_split(s, '||')) - 2)::BIGINT AS n_tok
       |  FROM v$EncodeRounds
       |)
       |SELECT w.source, sum(w.tf)::BIGINT AS n_words,
       |       sum(w.tf * len(w.w))::BIGINT AS n_chars,
       |       sum(w.tf * t.n_tok)::BIGINT AS bpe_tokens,
       |       (sum(w.tf * t.n_tok)::BIGINT * 1000000)
       |         // sum(w.tf)::BIGINT AS tokens_per_word_micro,
       |       (sum(w.tf * len(w.w))::BIGINT * 1000000)
       |         // sum(w.tf * t.n_tok)::BIGINT AS chars_per_token_micro
       |FROM words w JOIN toks t ON t.w = w.w
       |GROUP BY w.source
       |ORDER BY w.source""".stripMargin
  }

  /** The trained segmentation itself: apply an ordered merge table to
    * a fresh `(syms, tf)` vocabulary — how a shipped tokenizer
    * re-tokenizes NEW text with the learned inventory. Per-row folds,
    * no shuffle; materialized every `block` merges so a long merge
    * table can't re-inline into one unplannable HOF tree (the q_cdc
    * lesson again — stacked `aggregate` calls are the exact shape
    * that blew up there).
    */
  def segment(vocab: DataFrame, merges: Seq[(String, String)],
    block: Int = 8): DataFrame =
    merges.grouped(block).foldLeft(vocab) { (v0, grp) =>
      Iterate.materialize(
        grp.foldLeft(v0) { case (v, (a, b)) =>
          // withColumn, not select: carrier columns (the word itself,
          // per-source keys) ride through the segmentation untouched
          v.withColumn("syms", mergeFold(col("syms"), a, b))
        })
    }
}
