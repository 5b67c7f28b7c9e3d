package graft.operators

import graft.Tables
import graft.functions.DHash64
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Perceptual image near-duplicate detection over opaque binary
  * payloads — the multimodal pillar's answer to "a re-encoded or
  * resized image escapes the exact digest" (`q_media_meta` hashes
  * bytes; [[graft.functions.DHash64]] hashes the picture).
  *
  * Detector: 64-bit dHash signature per payload (one codegen'd
  * expression over the scan — no decode round-trip), then the
  * [[Dedup.simhashPairs]] LSH shape at image grain: [[Bands]]
  * 16-bit Hamming bands → salted bucket self-join → exact Hamming
  * verify ≤ [[MaxHamming]].
  *
  * Completeness is PROVABLE, not tuned: a pair within Hamming ≤ 3 can
  * flip bits in at most 3 of the 4 bands, so at least one band
  * matches exactly — banding finds EVERY qualifying pair (the
  * pigeonhole argument, asserted against brute force in
  * MediaDedupSpec).
  *
  * Scale shape: signatures are a per-row map over the scan (payloads
  * never shuffle); the band table carries bare (media_id, band, bval)
  * rows; the one exchange is the salted band self-join
  * ([[Skew.saltedSelfJoin]] — a viral bucket splits across
  * [[Dedup.LshSalt]] reducers); verify is bit_count on the joined
  * 8-byte signatures, never a payload comparison.
  */
object MediaDedup {

  /** 4 bands × 16 bits over the 64-bit signature: complete for
    * Hamming ≤ 3 by pigeonhole.
    */
  val Bands = 4
  val BandBits = 16
  val MaxHamming = 3

  /** (media_id, sig) signature table — one codegen'd expression per
    * payload row. Zero-length payloads get NO signature row (they
    * carry no picture to compare; the SQL mirror's `WHERE n > 0`
    * drops them identically — without this filter two empty payloads
    * would pair at Hamming 0 in the Scala path only, a latent
    * batch-vs-oracle divergence).
    */
  def signatures(media: DataFrame): DataFrame =
    media.filter(octet_length(col("payload")) > 0)
      .select(col("media_id"), DHash64.dhash64(col("payload")).as("sig"))

  /** Near-dup pairs `(a_id, b_id, hamming)` with Hamming ≤
    * [[MaxHamming]] over any `(media_id, payload binary)` frame,
    * unordered.
    */
  def nearDupPairs(media: DataFrame): DataFrame = {
    val sigs = signatures(media)
    val bandCols = (0 until Bands).map { b =>
      struct(lit(b).as("band"),
        shiftright(col("sig"), BandBits * b).bitwiseAND(lit(65535L)).as("bval"))
    }
    val bands = sigs
      .select(col("media_id"), col("sig"), explode(array(bandCols: _*)).as("bb"))
      .select(col("media_id"), col("sig"),
        col("bb.band").as("band"), col("bb.bval").as("bval"))
    Skew.saltedSelfJoin(bands, "media_id", Seq("band", "bval"), Dedup.LshSalt)
      .select(col("a.media_id").as("a_id"), col("b.media_id").as("b_id"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= MaxHamming)
  }

  /** q_media_keep — the perceptual detector feeding the standard
    * survivor machinery: near-dup pairs → connected components →
    * every payload labeled with its cluster's keeper
    * ([[Dedup.keepFrom]] unchanged — the multimodal pillar composes
    * with the text pillar's pair→cluster→keeper last mile, one code
    * path for every detector family). `filter(is_kept)` is the
    * deduplicated media corpus.
    */
  def mediaKeep(s: SparkSession, d: String): DataFrame =
    Dedup.keepFrom(
      Tables.mediaAug(s, d).select(col("media_id").as("doc_id")),
      nearDupPairs(Tables.mediaAug(s, d)).select(col("a_id"), col("b_id")))
      .select(col("doc_id").as("media_id"), col("keep_id"), col("is_kept"))

  /** q_media_neardup — [[nearDupPairs]] on the perceptual-dup-injected
    * media corpus ([[Tables.mediaAug]]): planted re-encodes land at
    * Hamming 0-1 and 2×-upsamples at exactly 0 (fixed-grid resampling
    * is scale-invariant), while unrelated payloads sit at ≥ 12 —
    * measured at sf0.01, asserted in MediaDedupSpec.
    */
  def mediaNearDup(s: SparkSession, d: String): DataFrame =
    nearDupPairs(Tables.mediaAug(s, d))

  /** q_media_dupstats — the duplication-inflation report at media
    * grain (the [[Dedup.dupStats]] twin with BYTE mass): cluster-size
    * histogram of the perceptual survivor labeling, with payload
    * bytes and REMOVABLE bytes per size bucket — "how much of the
    * media store is perceptual duplication, and how many bytes does
    * dedup delete" as one bounded frame (storage-budget bytes are the
    * media pillar's cost unit the way tokens are text's).
    */
  def mediaDupStats(s: SparkSession, d: String): DataFrame = {
    val media = Tables.mediaAug(s, d)
    val keep = Dedup.keepFrom(
      media.select(col("media_id").as("doc_id")),
      nearDupPairs(media).select(col("a_id"), col("b_id")))
    val bytes = media.select(col("media_id").as("doc_id"),
      octet_length(col("payload")).cast("long").as("n_bytes"))
    val clusters = keep.join(bytes, "doc_id")
      .groupBy(col("keep_id"))
      .agg(count(lit(1)).cast("long").as("sz"),
        sum(col("n_bytes")).cast("long").as("c_bytes"),
        sum(when(!col("is_kept"), col("n_bytes")).otherwise(0L))
          .cast("long").as("c_dup"))
    clusters.groupBy(col("sz").as("cluster_size"))
      .agg(count(lit(1)).cast("long").as("n_clusters"),
        sum(col("sz")).cast("long").as("n_media"),
        sum(col("c_bytes")).cast("long").as("n_bytes"),
        sum(col("c_dup")).cast("long").as("dup_bytes"))
      .orderBy(col("cluster_size"))
  }

  /** Shared SQL prelude: mediaAug → per-payload dHash signatures →
    * 16-bit band keys (consumed by [[mediaNearDupSql]] and
    * [[mediaKeepSql]]).
    */
  private val sigCtesSql: String = {
    val S = DHash64.Samples
    val C = DHash64.CellSamples
    s"""${Tables.mediaAugSql},
       |m AS (
       |  SELECT media_id, hex(payload) AS hx,
       |         octet_length(payload)::BIGINT AS n
       |  FROM media
       |), g AS (
       |  SELECT media_id, unnest(range(0, $S)) AS smp, hx, n FROM m
       |), samples AS (
       |  SELECT media_id, smp // $C AS cell,
       |         ('0x' || substr(hx, (2*((smp*n)//$S)+1)::INT, 2))::BIGINT AS v
       |  FROM g WHERE n > 0
       |), cells AS (
       |  SELECT media_id, cell, sum(v)::BIGINT AS s
       |  FROM samples GROUP BY media_id, cell
       |), sigs AS (
       |  SELECT a.media_id,
       |         sum(CASE WHEN b.s > a.s
       |                  THEN CASE WHEN a.cell = 63
       |                            THEN (-9223372036854775807 - 1)::HUGEINT
       |                       ELSE (1::BIGINT << a.cell)::HUGEINT END
       |                  ELSE 0::HUGEINT END)::BIGINT AS sig
       |  FROM cells a JOIN cells b
       |    ON b.media_id = a.media_id AND b.cell = a.cell + 1
       |  GROUP BY a.media_id
       |), bands AS (
       |  SELECT media_id, sig, b, (sig >> ($BandBits*b)) & 65535 AS bval
       |  FROM sigs CROSS JOIN (SELECT unnest(range(0, $Bands)) AS b)
       |)""".stripMargin
  }

  val mediaNearDupSql: String =
    s"""WITH $sigCtesSql
       |SELECT DISTINCT a.media_id AS a_id, b.media_id AS b_id,
       |       bit_count(xor(a.sig, b.sig))::BIGINT AS hamming
       |FROM bands a JOIN bands b
       |  ON a.b = b.b AND a.bval = b.bval AND a.media_id < b.media_id
       |WHERE bit_count(xor(a.sig, b.sig)) <= $MaxHamming
       |ORDER BY a_id, b_id""".stripMargin

  val mediaKeepSql: String =
    s"""WITH RECURSIVE $sigCtesSql,
       |verified AS (
       |  SELECT DISTINCT a.media_id AS a_id, b.media_id AS b_id
       |  FROM bands a JOIN bands b
       |    ON a.b = b.b AND a.bval = b.bval AND a.media_id < b.media_id
       |  WHERE bit_count(xor(a.sig, b.sig)) <= $MaxHamming
       |), sym AS (
       |  SELECT a_id AS src, b_id AS dst FROM verified
       |  UNION ALL
       |  SELECT b_id, a_id FROM verified
       |), walk(id, r) AS (
       |  SELECT media_id, media_id FROM media
       |  UNION
       |  SELECT w.id, s.dst FROM walk w JOIN sym s ON s.src = w.r
       |)
       |SELECT id AS media_id, min(r) AS keep_id, min(r) = id AS is_kept
       |FROM walk GROUP BY id ORDER BY media_id""".stripMargin

  val mediaDupStatsSql: String =
    s"""WITH RECURSIVE $sigCtesSql,
       |verified AS (
       |  SELECT DISTINCT a.media_id AS a_id, b.media_id AS b_id
       |  FROM bands a JOIN bands b
       |    ON a.b = b.b AND a.bval = b.bval AND a.media_id < b.media_id
       |  WHERE bit_count(xor(a.sig, b.sig)) <= $MaxHamming
       |), sym AS (
       |  SELECT a_id AS src, b_id AS dst FROM verified
       |  UNION ALL
       |  SELECT b_id, a_id FROM verified
       |), walk(id, r) AS (
       |  SELECT media_id, media_id FROM media
       |  UNION
       |  SELECT w.id, s.dst FROM walk w JOIN sym s ON s.src = w.r
       |), labels AS (
       |  SELECT id, min(r) AS keep_id FROM walk GROUP BY id
       |), per AS (
       |  SELECT l.id, l.keep_id, (l.keep_id = l.id) AS is_kept,
       |         octet_length(m2.payload)::BIGINT AS n_bytes
       |  FROM labels l JOIN media m2 ON m2.media_id = l.id
       |), clusters AS (
       |  SELECT keep_id, count(*)::BIGINT AS sz,
       |         sum(n_bytes)::BIGINT AS c_bytes,
       |         sum(CASE WHEN NOT is_kept THEN n_bytes ELSE 0 END)::BIGINT AS c_dup
       |  FROM per GROUP BY keep_id
       |)
       |SELECT sz AS cluster_size, count(*)::BIGINT AS n_clusters,
       |       sum(sz)::BIGINT AS n_media, sum(c_bytes)::BIGINT AS n_bytes,
       |       sum(c_dup)::BIGINT AS dup_bytes
       |FROM clusters GROUP BY sz ORDER BY cluster_size""".stripMargin
}
