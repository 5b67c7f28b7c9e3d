package graft.operators

import graft.Tables
import graft.functions.TextSim
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus cleaning operators a large-scale training-data pipeline runs
  * between crawl and tokenize: corpus-level boilerplate discovery,
  * intra-document repetition removal, and PII scrubbing. All three are
  * per-row maps except the boilerplate count, whose only shuffle is a
  * partial-agg-friendly groupBy on the unit key.
  *
  * "Units" are non-overlapping W-word windows of the token stream —
  * this corpus has no sentence punctuation (TESTDATA.md word soup), so
  * fixed windows stand in for the line/sentence split a web pipeline
  * (C4, CCNet, RefinedWeb) would use. The window width is a parameter;
  * the operator shape is identical for real line splits.
  */
object Scrub {

  /** Boilerplate unit width (words) and doc-frequency threshold. */
  val BoilerWidth = 8
  val BoilerMinDocs = 2

  /** Intra-doc repetition unit width. */
  val ParaWidth = 2

  /** Non-overlapping `w`-word units of a token array; ragged tail
    * dropped (a partial window has no stable identity across edits).
    */
  def units(toks: Column, w: Int): Column =
    when(size(toks) >= w,
      transform(sequence(lit(0L), floor(size(toks).cast("double") / w).cast("long") - 1),
        j => concat_ws(" ", slice(toks, (j * w + 1).cast("int"), lit(w)))))
      .otherwise(array().cast("array<string>"))

  /** SQL mirror of [[units]] over a list column `t`. */
  def unitsSql(t: String, w: Int): String =
    s"[array_to_string($t[(j*$w+1):(j*$w+$w)], ' ') for j in range(0, len($t)//$w)]"

  /** Units appearing in at least `minDocs` DISTINCT documents — the
    * corpus boilerplate table (nav bars, license headers, injected
    * templates) a cleaning pass subtracts before dedup/tokenization.
    *
    * Scale: explode → one groupBy on the unit key with partial
    * (map-side) distinct-count — no joins, no window. At 100 TB the
    * unit key is md5-hashed to fix width; text is kept here because
    * the output IS the human-audited blocklist.
    */
  def boilerplateUnits(docs: DataFrame, w: Int = BoilerWidth,
    minDocs: Int = BoilerMinDocs): DataFrame =
    docs
      .select(col("doc_id"), explode(units(TextSim.tokens(col("text")), w)).as("unit"))
      .groupBy(col("unit"))
      .agg(count_distinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") >= minDocs)

  /** q_boilerplate — [[boilerplateUnits]] on the dup-injected corpus
    * (copies guarantee cross-doc repeats; the organic word soup
    * contributes its own).
    */
  def boilerplate(s: SparkSession, d: String): DataFrame =
    boilerplateUnits(Tables.docsAug(s, d))

  val boilerplateSql: String =
    s"""WITH ${Tables.docsAugSql},
       |toks AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
       |  FROM docs_aug
       |), u AS (
       |  SELECT doc_id, unnest(${unitsSql("t", BoilerWidth)}) AS unit
       |  FROM toks
       |)
       |SELECT unit, count(DISTINCT doc_id) AS n_docs
       |FROM u GROUP BY unit
       |HAVING count(DISTINCT doc_id) >= $BoilerMinDocs
       |ORDER BY n_docs DESC, unit""".stripMargin

  /** Intra-document repetition stats + the deduplicated content
    * identity: unit count, distinct-unit count, repeated fraction
    * (the Gopher/RefinedWeb within-doc repetition signal at unit
    * granularity), and the md5 of the doc's sorted distinct units —
    * the identity under which two docs differing only by internal
    * repetition collide. Pure per-row map, no shuffle.
    *
    * Sorted (not first-occurrence) order for the identity: DuckDB's
    * `list_distinct` does not guarantee first-occurrence order, so the
    * engine-portable contract is the ORDER-FREE unit set.
    */
  def paraDedupStats(docs: DataFrame, w: Int = ParaWidth): DataFrame =
    docs
      .select(col("doc_id"), units(TextSim.tokens(col("text")), w).as("us"))
      .filter(size(col("us")) >= 1)
      .select(col("doc_id"),
        size(col("us")).cast("long").as("n_units"),
        size(array_distinct(col("us"))).cast("long").as("n_unique"),
        TextSim.r6(lit(1.0) - size(array_distinct(col("us"))).cast("double") /
          size(col("us"))).as("rep_ratio"),
        md5(concat_ws(" ", array_sort(array_distinct(col("us"))))).as("clean_hash"))

  /** q_para_dedup — [[paraDedupStats]] on the plain corpus. */
  def paraDedup(s: SparkSession, d: String): DataFrame =
    paraDedupStats(Tables.documents(s, d))

  val paraDedupSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
       |  FROM documents
       |), u AS (
       |  SELECT doc_id, ${unitsSql("t", ParaWidth)} AS us FROM toks
       |)
       |SELECT doc_id,
       |       len(us)::BIGINT AS n_units,
       |       len(list_distinct(us))::BIGINT AS n_unique,
       |       ${TextSim.r6Sql("1.0 - len(list_distinct(us))::DOUBLE / len(us)")} AS rep_ratio,
       |       md5(array_to_string(list_sort(list_distinct(us)), ' ')) AS clean_hash
       |FROM u WHERE len(us) >= 1
       |ORDER BY doc_id""".stripMargin

  /** Fuzzy-pair grain constants: unit df cap for the inverted-index
    * blocking and the verify threshold — a one-word edit of a
    * [[BoilerWidth]]-word unit keeps ≥ 3 of its ~6 word-3-grams, so
    * exact Jaccard lands at ≥ 1/3; 0.3 admits exactly that band.
    */
  val ParaFuzzyMaxDf = 5
  val ParaFuzzyJ = 0.3

  /** Near-duplicate PARAGRAPH pairs across the corpus — the fuzzy
    * complement of [[boilerplateUnits]]/[[paraDedupStats]]'s exact
    * hashing (the r5 verdict gap: a lightly-edited boilerplate
    * paragraph escapes an exact unit hash; this catches it). Same
    * machinery as [[Dedup.ngramPairs]] one grain down: units →
    * DISTINCT unit texts (exact copies collapse first, so the
    * injected boilerplate costs ONE row however many docs carry it) →
    * word-3-gram shingles → rare-shingle (df ∈ [2, [[ParaFuzzyMaxDf]]])
    * inverted-index blocking, salted — deterministic-complete for any
    * pair sharing a rare shingle, which a one-word edit always leaves
    * behind — → exact-Jaccard verify ≥ [[ParaFuzzyJ]]. Each surviving
    * pair carries both units' doc frequencies (the blocklist-utility
    * signal: a high-df × high-df near-pair is a template family).
    *
    * Scale: the distinct-unit fold is one partial-agg groupBy; the
    * self-join runs on bare (shingle, unit-key) postings bounded by
    * the df cap; verify touches candidates only. Text rides as its
    * own key here (the output IS the audited pair list); at 100 TB
    * the unit key is md5-fixed and text looked up on the final
    * candidate-sized frame only.
    */
  def paraFuzzyPairs(docs: DataFrame, w: Int = BoilerWidth): DataFrame = {
    val uniq = docs
      .select(col("doc_id"), explode(units(TextSim.tokens(col("text")), w)).as("unit"))
      .groupBy(col("unit"))
      .agg(count_distinct(col("doc_id")).cast("long").as("n_docs"))
      .withColumn("sh", TextSim.shingles3(TextSim.tokens(col("unit"))))
      .persist() // barrier: postings + both verify sides read this
    val postings = uniq.select(col("unit"), explode(col("sh")).as("shingle"))
    val rare = postings.groupBy(col("shingle"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= ParaFuzzyMaxDf)
    val rp = postings.join(rare.hint("shuffle_hash"), "shingle")
      .select(col("shingle"), col("unit"))
    val cand = Skew.saltedSelfJoin(rp, "unit", Seq("shingle"), Dedup.LshSalt)
      .select(col("a.unit").as("a_unit"), col("b.unit").as("b_unit"))
      .distinct()
    val ua = uniq.select(col("unit").as("a_unit"), col("sh").as("sh_a"),
      col("n_docs").as("a_docs"))
    val ub = uniq.select(col("unit").as("b_unit"), col("sh").as("sh_b"),
      col("n_docs").as("b_docs"))
    cand.join(ua, "a_unit").join(ub, "b_unit")
      .select(col("a_unit"), col("b_unit"),
        TextSim.r6(size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b")))).as("jaccard"),
        col("a_docs"), col("b_docs"))
      .filter(col("jaccard") >= ParaFuzzyJ)
  }

  /** q_para_dedup_fuzzy — [[paraFuzzyPairs]] on the dup-injected
    * corpus (near-dup docs guarantee edited-unit pairs).
    */
  def paraDedupFuzzy(s: SparkSession, d: String): DataFrame =
    paraFuzzyPairs(Tables.docsAug(s, d))

  val paraDedupFuzzySql: String = {
    val ut = "list_filter(string_split(unit, ' '), x -> x <> '')"
    val jacc = "len(list_intersect(x.sh, y.sh))::DOUBLE / " +
      "len(list_distinct(list_concat(x.sh, y.sh)))"
    s"""WITH ${Tables.docsAugSql},
       |toks AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
       |  FROM docs_aug
       |), eu AS (
       |  SELECT doc_id, unnest(${unitsSql("t", BoilerWidth)}) AS unit FROM toks
       |), uniq AS MATERIALIZED (
       |  SELECT unit, count(DISTINCT doc_id)::BIGINT AS n_docs,
       |         ${TextSim.shingles3Sql(ut)} AS sh
       |  FROM eu GROUP BY unit
       |), postings AS (
       |  SELECT unit, unnest(sh) AS shingle FROM uniq
       |), rare AS (
       |  SELECT shingle FROM postings GROUP BY shingle
       |  HAVING count(*) >= 2 AND count(*) <= $ParaFuzzyMaxDf
       |), cand AS (
       |  SELECT DISTINCT a.unit AS a_unit, b.unit AS b_unit
       |  FROM (SELECT p.* FROM postings p JOIN rare r ON r.shingle = p.shingle) a
       |  JOIN (SELECT p.* FROM postings p JOIN rare r ON r.shingle = p.shingle) b
       |    ON a.shingle = b.shingle AND a.unit < b.unit
       |)
       |SELECT c.a_unit, c.b_unit, ${TextSim.r6Sql(jacc)} AS jaccard,
       |       x.n_docs AS a_docs, y.n_docs AS b_docs
       |FROM cand c
       |JOIN uniq x ON x.unit = c.a_unit
       |JOIN uniq y ON y.unit = c.b_unit
       |WHERE ${TextSim.r6Sql(jacc)} >= $ParaFuzzyJ
       |ORDER BY a_unit, b_unit""".stripMargin
  }

  // Shared regex constants — the SAME pattern string goes to Spark
  // (java.util.regex) and DuckDB (RE2); only syntax valid and
  // identically-interpreted in both engines is used (char classes,
  // bounded repetition, \b word boundary — no lookaround, no backrefs).
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\+[0-9]{1,3}-[0-9]{3}-[0-9]{4}"
  val IpRe = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  /** The redaction chain as a column: emails → phones → IPv4, fixed
    * order so replacements can't create or destroy later matches.
    */
  def redact(t: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(t, EmailRe, "<EMAIL>"),
        PhoneRe, "<PHONE>"),
      IpRe, "<IP>")

  /** Any `(doc_id, text, ...)` frame with `text` redacted in place —
    * the form the rest of the pipeline (dedup, chunking, tokenize)
    * consumes. Scrub BEFORE dedup: per-document PII (emails, account
    * ids) makes otherwise-identical documents distinct, so unscrubbed
    * dedup under-merges ([[graft.ScrubSpec]] asserts this end to end).
    */
  def scrubbedDocs(docs: DataFrame): DataFrame =
    docs.withColumn("text", redact(col("text")))

  /** PII scrub report over any `(doc_id, text)` frame: match counts
    * per category + the md5 of the redacted text. Per-row map — the
    * regex chain rides the scan projection; at 100 TB this is the
    * shape that matters (no shuffle, no UDF, codegen'd regexp).
    * Counts are computed against the original text.
    */
  def scrubPii(docs: DataFrame): DataFrame = {
    val t = col("text")
    docs.select(
      col("doc_id"),
      regexp_count(t, lit(EmailRe)).cast("long").as("n_emails"),
      regexp_count(t, lit(PhoneRe)).cast("long").as("n_phones"),
      regexp_count(t, lit(IpRe)).cast("long").as("n_ips"),
      md5(redact(t)).as("scrub_hash"))
  }

  /** q_pii_scrub — [[scrubPii]] over the corpus with deterministically
    * injected PII (the test corpus is PII-free word soup, so the
    * operator's work — match, count, redact — is exercised by
    * synthesizing one email/phone/IP per doc from doc_id; the
    * injection is mirrored verbatim in the oracle).
    */
  def piiScrub(s: SparkSession, d: String): DataFrame = {
    val injected = Tables.documents(s, d).select(
      col("doc_id"),
      concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@mail.example.com or call +1-555-"),
        lpad(((col("doc_id") * 7) % 10000).cast("string"), 4, "0"),
        lit(" from 10."), (col("doc_id") % 256).cast("string"),
        lit(".0."), (col("doc_id") % 100).cast("string"),
        lit(" end")).as("text"))
    scrubPii(injected)
  }

  val piiScrubSql: String =
    s"""WITH injected AS (
       |  SELECT doc_id,
       |         text || ' contact user' || doc_id::VARCHAR ||
       |         '@mail.example.com or call +1-555-' ||
       |         lpad(((doc_id * 7) % 10000)::VARCHAR, 4, '0') ||
       |         ' from 10.' || (doc_id % 256)::VARCHAR ||
       |         '.0.' || (doc_id % 100)::VARCHAR || ' end' AS text
       |  FROM documents
       |)
       |SELECT doc_id,
       |       len(regexp_extract_all(text, '$EmailRe'))::BIGINT AS n_emails,
       |       len(regexp_extract_all(text, '$PhoneRe'))::BIGINT AS n_phones,
       |       len(regexp_extract_all(text, '$IpRe'))::BIGINT AS n_ips,
       |       md5(regexp_replace(regexp_replace(regexp_replace(
       |         text, '$EmailRe', '<EMAIL>', 'g'),
       |         '$PhoneRe', '<PHONE>', 'g'),
       |         '$IpRe', '<IP>', 'g')) AS scrub_hash
       |FROM injected
       |ORDER BY doc_id""".stripMargin

  /** Candidate payment-card pattern: 13–19 digit runs (ISO/IEC 7812
    * PAN lengths). Detection alone over-redacts — invoice ids and
    * timestamps are digit runs too — so candidates are CHECKSUM-
    * validated below; only Luhn-passing runs are card-like.
    */
  val CardRe = "[0-9]{13,19}"

  /** Luhn checksum validity of a digit-run column, no UDF: digits via
    * split (empty-string artifacts filtered — Spark's limit=-1 split
    * keeps a trailing ""), the double-every-second-from-the-right
    * rule as an indexed transform, the sum one aggregate fold — all
    * codegen'd HOFs riding the scan projection.
    */
  def luhnValid(num: Column): Column = {
    val digits = filter(split(reverse(num), ""), c => c =!= lit(""))
    val terms = transform(digits, (c, i) => {
      val d = ascii(c) - lit(48)
      when(i % 2 === 1,
        when(d * 2 > 9, d * 2 - 9).otherwise(d * 2)).otherwise(d)
    })
    aggregate(terms, lit(0), (a, x) => a + x) % 10 === 0
  }

  /** Card-number screen over any `(doc_id, text)` frame: one row per
    * candidate digit run — masked tail, run length, Luhn verdict.
    * Per-row projection (regex extract + HOF fold), no shuffle.
    */
  def cardScreen(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        explode(expr(s"regexp_extract_all(text, '$CardRe', 0)")).as("num"))
      .select(col("doc_id"),
        concat(lit("****"), substring(col("num"), -4, 4)).as("masked"),
        length(col("num")).cast("long").as("n_digits"),
        luhnValid(col("num")).as("luhn_valid"))

  /** q_pii_luhn — [[cardScreen]] over the corpus with one
    * deterministically synthesized 16-digit candidate appended to
    * every 13th doc (the corpus is digit-free word soup; the
    * injection is mirrored verbatim in the oracle). Roughly a tenth
    * of the synthesized runs pass Luhn — the screen's value is that
    * the rest do NOT get redacted.
    */
  def piiLuhn(s: SparkSession, d: String): DataFrame = {
    val injected = Tables.documents(s, d).select(col("doc_id"),
      when(col("doc_id") % 13 === 0,
        concat(col("text"), lit(" card "),
          lpad(((col("doc_id") * 7919) % lit(10000000000000000L))
            .cast("string"), 16, "0")))
        .otherwise(col("text")).as("text"))
    cardScreen(injected).orderBy(col("doc_id"), col("masked"))
  }

  val piiLuhnSql: String = {
    val digit = "substring(reverse(num), i, 1)::INT"
    val luhn =
      s"""list_sum(list_transform(range(1, length(num) + 1), i ->
         |  CASE WHEN i % 2 = 0
         |       THEN CASE WHEN 2 * $digit > 9 THEN 2 * $digit - 9
         |                 ELSE 2 * $digit END
         |       ELSE $digit END)) % 10 = 0""".stripMargin
    s"""WITH injected AS (
       |  SELECT doc_id,
       |         CASE WHEN doc_id % 13 = 0
       |              THEN text || ' card ' ||
       |                   lpad(((doc_id * 7919) % 10000000000000000)::VARCHAR, 16, '0')
       |              ELSE text END AS text
       |  FROM documents
       |), cands AS (
       |  SELECT doc_id, unnest(regexp_extract_all(text, '$CardRe')) AS num
       |  FROM injected
       |)
       |SELECT doc_id,
       |       '****' || substring(num, length(num) - 3, 4) AS masked,
       |       length(num)::BIGINT AS n_digits,
       |       ($luhn) AS luhn_valid
       |FROM cands
       |ORDER BY doc_id, masked""".stripMargin
  }
}
