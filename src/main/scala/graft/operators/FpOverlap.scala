package graft.operators

import graft.Tables
import graft.functions.TextSim
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Fingerprint-overlap CONTAINMENT detection — the MOSS use of the
  * winnowing fingerprints ([[TextAnalysis.fingerprint]], Schleimer et
  * al. SIGMOD'03): two documents sharing many selected fingerprints
  * overlap in content even when whole-document Jaccard is low — the
  * copied-section / quote-farm / partial-mirror case every whole-doc
  * detector (minhash, simhash, embedding) structurally misses.
  * Containment `shared / min(|A|, |B|)` is the asymmetric measure: a
  * paragraph wholly lifted into a much larger doc still scores ≈ 1.
  *
  * Scale shape = the [[Dedup.ngramPairs]] inverted-index discipline:
  * fingerprints are already a ~2/W content sample (winnowing's
  * guarantee), postings keep only discriminative fingerprints
  * (2 ≤ df ≤ [[MaxDf]] — df=1 can't pair, viral boilerplate prints
  * are dropped BEFORE the self-join, bounding any bucket at MaxDf²
  * pairs), the df join is a pinned shuffle_hash (the qualifying-print
  * set grows with the corpus — never broadcastable), and the band
  * self-join is salted. Pair scoring folds shared-print counts with a
  * partial agg — the fingerprint SETS never re-join; only the two
  * per-doc size scalars do.
  */
object FpOverlap {

  /** Fingerprints occurring in more than this many docs are
    * boilerplate, not evidence of copying.
    */
  val MaxDf = 10

  /** Minimum shared fingerprints for a reported pair. */
  val MinShared = 3

  import TextAnalysis.{K, W}

  /** `(doc_id, fp)` winnowing fingerprint postings — the exploded form
    * of [[TextAnalysis.fingerprint]]'s per-doc set, via the fused
    * native [[graft.functions.WinnowFps]] kernel (bit-identical to the
    * composed md5-chargram → window-min → distinct chain the oracle
    * mirrors; one byte-array pass per doc, no persist barrier — the
    * HOF chain needed one to stop project-collapse re-deriving the
    * gram array per window slice).
    */
  private def prints(docs: DataFrame): DataFrame =
    docs
      .filter(length(col("text")) >= K + W - 1)
      .select(col("doc_id"),
        explode(graft.functions.WinnowFps(col("text"), K, W)).as("fp"))

  /** Containment pairs over any `(doc_id, text)` frame:
    * `(doc_a, doc_b, shared, containment)`, `doc_a < doc_b`,
    * `shared >= minShared`.
    */
  def overlapPairs(docs: DataFrame, maxDf: Int = MaxDf,
    minShared: Int = MinShared): DataFrame = {
    val p = prints(docs)
    val keep = p.groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= maxDf)
    // barrier: postings feed the self-join (twice), and the per-doc
    // kept-print counts — one computation, three reads
    val post = p.join(keep.hint("shuffle_hash"), "fp")
      .select(col("fp"), col("doc_id")).persist()
    val shared = Skew.saltedSelfJoin(post, "doc_id", Seq("fp"), salt = 4)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).cast("long").as("shared"))
      .filter(col("shared") >= minShared)
    // containment denominator counts the SAME filtered universe as the
    // numerator (kept prints) — counting dropped boilerplate prints in
    // the denominator would dilute a true clone below detection on a
    // repetitive corpus
    val nk = post.groupBy(col("doc_id")).agg(count(lit(1)).cast("long").as("n_fp"))
    val na = nk.select(col("doc_id").as("doc_a"), col("n_fp").as("na"))
    val nb = nk.select(col("doc_id").as("doc_b"), col("n_fp").as("nb"))
    shared.join(na, "doc_a").join(nb, "doc_b")
      .select(col("doc_a"), col("doc_b"), col("shared"),
        TextSim.r6(col("shared").cast("double") / least(col("na"), col("nb")))
          .as("containment"))
  }

  /** q_fp_overlap — [[overlapPairs]] on the dup-injected corpus:
    * exact clones land at containment 1.0, the appended-suffix near
    * copies contain their base ≈ 1.0 from the smaller side.
    */
  def overlapQuery(s: SparkSession, d: String): DataFrame =
    overlapPairs(Tables.docsAug(s, d))

  val overlapSql: String =
    s"""WITH ${Tables.docsAugSql},
       |h AS (
       |  SELECT doc_id,
       |         [('0x' || substr(md5(substr(text, i, $K)), 1, 7))::BIGINT
       |          for i in range(1, len(text) - ${K - 1} + 1)] AS h
       |  FROM docs_aug WHERE len(text) >= ${K + W - 1}
       |), fpsets AS (
       |  SELECT doc_id,
       |         list_distinct([list_min(h[i : i + ${W - 1}])
       |                        for i in range(1, len(h) - ${W - 1} + 1)]) AS fps
       |  FROM h
       |), p AS (
       |  SELECT doc_id, unnest(fps) AS fp FROM fpsets
       |), keep AS (
       |  SELECT fp FROM p GROUP BY fp
       |  HAVING count(*) >= 2 AND count(*) <= $MaxDf
       |), post AS (
       |  SELECT p.fp, p.doc_id FROM p JOIN keep USING (fp)
       |), nkept AS (
       |  SELECT doc_id, count(*)::BIGINT AS n_fp FROM post GROUP BY doc_id
       |), shared AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::BIGINT AS shared
       |  FROM post a JOIN post b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |  HAVING count(*) >= $MinShared
       |)
       |SELECT s.doc_a, s.doc_b, s.shared,
       |       ${TextSim.r6Sql("s.shared::DOUBLE / least(x.n_fp, y.n_fp)")} AS containment
       |FROM shared s
       |JOIN (SELECT doc_id AS doc_a, n_fp FROM nkept) x USING (doc_a)
       |JOIN (SELECT doc_id AS doc_b, n_fp FROM nkept) y USING (doc_b)
       |ORDER BY doc_a, doc_b""".stripMargin
}
