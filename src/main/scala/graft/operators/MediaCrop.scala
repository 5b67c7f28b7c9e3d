package graft.operators

import graft.Tables
import graft.functions.DHash64
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Crop-robust perceptual near-dup tier — the transform axis the
  * whole-payload dHash ([[MediaDedup]]) provably lacks: dHash
  * resamples the WHOLE payload to a fixed grid, so re-encodes and
  * integer upsamples hash equal, but a 10–25% crop RESCALES every
  * sample position and flips most gradient cells (MediaCropSpec
  * asserts the miss — the commonest real-world image dup transform
  * after re-encode escapes the detector).
  *
  * Detector: END-ANCHORED TILES with a k-of-n vote. Each payload
  * carries [[NTiles]] = 4 tile signatures — two front-anchored
  * ([0, m), [m, 2m)) and two back-anchored ([n−2m, n−m), [n−m, n))
  * windows of [[TileBytes]] ABSOLUTE bytes, each hashed with the same
  * [[DHash64]] kernel. Anchoring to the ends is what buys crop
  * robustness: an end crop leaves both front tiles byte-identical
  * (Hamming 0), a front crop both back tiles — so a same-position
  * tile match at Hamming ≤ [[MediaDedup.MaxHamming]] on ≥ [[VoteK]]
  * = 2 tiles finds every single-sided crop STRUCTURALLY, not by
  * threshold luck. (Absolute tile size trades away the upsample
  * invariance — a 2× resize shifts the byte windows — which is why
  * this is a SEPARATE detector composing with [[MediaDedup]]'s
  * scale-robust one, not a replacement: the two cover complementary
  * transform axes, the standard multi-detector union of
  * `q_dedup_eval`.)
  *
  * LSH machinery unchanged: per (tile, 16-bit band) bucket join —
  * banding is pigeonhole-complete for Hamming ≤ 3 PER TILE, so the
  * vote sees every qualifying tile pair; the self-join is salted
  * ([[Skew.saltedSelfJoin]]); payloads never shuffle (signatures
  * ride the scan); verify is bit_count on 8-byte signatures.
  *
  * Scale: 4 tiles × 4 bands = 16 bare (id, t, band, bval) rows per
  * payload; everything downstream is the [[MediaDedup]] shape.
  */
object MediaCrop {

  /** Absolute tile window in bytes (front- and back-anchored). */
  val TileBytes = 128L
  val NTiles = 4

  /** Tiles that must match (at Hamming ≤ MaxHamming each) for a pair
    * to qualify: 2 = exactly what a one-sided crop preserves.
    */
  val VoteK = 2

  /** (media_id, t, sig): per-tile dHash signatures. Degenerate
    * windows (empty tile on a tiny payload) get no row — the empty-
    * payload rule of [[MediaDedup.signatures]] at tile grain.
    */
  def tileSignatures(media: DataFrame): DataFrame = {
    val n = octet_length(col("payload")).cast("long")
    val m = lit(TileBytes)
    def tile(t: Int, st: org.apache.spark.sql.Column,
      en: org.apache.spark.sql.Column) =
      struct(lit(t).as("t"), st.as("off"), (en - st).as("len"))
    val tiles = array(
      tile(0, lit(0L), least(m, n)),
      tile(1, least(m, n), least(m * 2, n)),
      tile(2, greatest(n - m * 2, lit(0L)), greatest(n - m, lit(0L))),
      tile(3, greatest(n - m, lit(0L)), n))
    media.select(col("media_id"), col("payload"), explode(tiles).as("tl"))
      .filter(col("tl.len") > 0L)
      .select(col("media_id"), col("tl.t").as("t"),
        DHash64.dhash64(expr(
          "substring(payload, cast(tl.off as int) + 1, cast(tl.len as int))"))
          .as("sig"))
  }

  /** Qualifying pairs `(a_id, b_id, tiles_matched)` — ≥ [[VoteK]]
    * same-position tiles within Hamming ≤ [[MediaDedup.MaxHamming]].
    * Unordered.
    */
  def cropPairs(media: DataFrame): DataFrame = {
    val sigs = tileSignatures(media)
    val bandCols = (0 until MediaDedup.Bands).map { b =>
      struct(lit(b).as("band"),
        shiftright(col("sig"), MediaDedup.BandBits * b)
          .bitwiseAND(lit(65535L)).as("bval"))
    }
    val bands = sigs
      .select(col("media_id"), col("t"), col("sig"),
        explode(array(bandCols: _*)).as("bb"))
      .select(col("media_id"), col("t"), col("sig"),
        col("bb.band").as("band"), col("bb.bval").as("bval"))
    Skew.saltedSelfJoin(bands, "media_id", Seq("t", "band", "bval"),
      Dedup.LshSalt)
      .select(col("a.media_id").as("a_id"), col("b.media_id").as("b_id"),
        col("a.t").as("t"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).cast("long")
          .as("hamming"))
      .distinct()
      .filter(col("hamming") <= MediaDedup.MaxHamming)
      .groupBy(col("a_id"), col("b_id"))
      .agg(countDistinct(col("t")).cast("long").as("tiles_matched"))
      .filter(col("tiles_matched") >= VoteK.toLong)
  }

  /** q_media_crop — the tiled vote over the crop-planted corpus
    * ([[Tables.mediaCropAug]]): every planted front/end crop
    * qualifies via its preserved end's two byte-identical tiles.
    */
  def mediaCrop(s: SparkSession, d: String): DataFrame =
    cropPairs(Tables.mediaCropAug(s, d))
      .orderBy(col("a_id"), col("b_id"))

  val mediaCropSql: String = {
    val S = DHash64.Samples
    val C = DHash64.CellSamples
    val M = TileBytes
    s"""WITH ${Tables.mediaCropAugSql},
       |m AS (
       |  SELECT media_id, hex(payload) AS hx,
       |         octet_length(payload)::BIGINT AS n
       |  FROM mediac
       |), tiles AS (
       |  SELECT media_id, hx, t, st AS off, en - st AS len FROM (
       |    SELECT media_id, hx, t,
       |      CASE t WHEN 0 THEN 0 WHEN 1 THEN least($M, n)
       |             WHEN 2 THEN greatest(n - ${2 * M}, 0)
       |             ELSE greatest(n - $M, 0) END AS st,
       |      CASE t WHEN 0 THEN least($M, n) WHEN 1 THEN least(${2 * M}, n)
       |             WHEN 2 THEN greatest(n - $M, 0)
       |             ELSE n END AS en
       |    FROM m CROSS JOIN (SELECT unnest(range(0, ${NTiles})) AS t))
       |), g AS (
       |  SELECT media_id, t, off, len, hx, unnest(range(0, $S)) AS smp
       |  FROM tiles WHERE len > 0
       |), samples AS (
       |  SELECT media_id, t, smp // $C AS cell,
       |         ('0x' || substr(hx, (2*(off + (smp*len)//$S)+1)::INT, 2))::BIGINT AS v
       |  FROM g
       |), cells AS (
       |  SELECT media_id, t, cell, sum(v)::BIGINT AS s
       |  FROM samples GROUP BY media_id, t, cell
       |), sigs AS (
       |  SELECT a.media_id, a.t,
       |         sum(CASE WHEN b.s > a.s
       |                  THEN CASE WHEN a.cell = 63
       |                            THEN (-9223372036854775807 - 1)::HUGEINT
       |                       ELSE (1::BIGINT << a.cell)::HUGEINT END
       |                  ELSE 0::HUGEINT END)::BIGINT AS sig
       |  FROM cells a JOIN cells b
       |    ON b.media_id = a.media_id AND b.t = a.t AND b.cell = a.cell + 1
       |  GROUP BY a.media_id, a.t
       |), bands AS (
       |  SELECT media_id, t, sig, b,
       |         (sig >> (${MediaDedup.BandBits}*b)) & 65535 AS bval
       |  FROM sigs CROSS JOIN (SELECT unnest(range(0, ${MediaDedup.Bands})) AS b)
       |), cand AS (
       |  SELECT DISTINCT a.media_id AS a_id, b.media_id AS b_id, a.t,
       |         bit_count(xor(a.sig, b.sig))::BIGINT AS hamming
       |  FROM bands a JOIN bands b
       |    ON a.t = b.t AND a.b = b.b AND a.bval = b.bval
       |       AND a.media_id < b.media_id
       |  WHERE bit_count(xor(a.sig, b.sig)) <= ${MediaDedup.MaxHamming}
       |)
       |SELECT a_id, b_id, count(DISTINCT t)::BIGINT AS tiles_matched
       |FROM cand GROUP BY a_id, b_id
       |HAVING count(DISTINCT t) >= $VoteK
       |ORDER BY a_id, b_id""".stripMargin
  }
}
