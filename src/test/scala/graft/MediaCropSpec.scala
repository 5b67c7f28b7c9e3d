package graft

import graft.functions.DHash64
import graft.operators.{MediaCrop, MediaDedup}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The crop axis: whole-payload dHash provably misses 10–25% crops
  * (fixed-grid resampling rescales every sample position), the
  * end-anchored tiled vote finds them structurally (a one-sided crop
  * preserves two tiles byte-identically). The r6 discipline: assert
  * the MISS, then assert the catch.
  */
class MediaCropSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  // payloads long enough that the preserved side still covers both of
  // its anchored tiles: end crop keeps 4n/5 >= 256, front crop keeps
  // n - 3n/20 >= 256
  private val MinLen = 320L

  test("planted crops: whole-image dHash misses, tiled vote finds every long-doc plant") {
    val media = Tables.mediaCropAug(spark, sf)
    val lens = media.select(col("media_id"),
      octet_length(col("payload")).cast("long").as("n"))
      .as[(Long, Long)].collect().toMap
    // planted pairs (orig, crop) where the ORIGINAL is long enough
    val planted = lens.keys.filter(_ >= 3000000L)
      .map(c => (c % 1000000L, c))
      .filter { case (o, _) => lens(o) >= MinLen }
      .toSet
    assert(planted.size >= 20, s"fixture too small: ${planted.size} plants")

    val tiled = MediaCrop.cropPairs(media)
      .select(col("a_id"), col("b_id")).as[(Long, Long)].collect().toSet
    val missedByTiled = planted.filterNot(tiled)
    assert(missedByTiled.isEmpty,
      s"tiled vote missed ${missedByTiled.take(5)} of ${planted.size}")

    // the whole-image detector (same corpus) must miss these — the
    // gap this tier exists for. Repetitive payloads can survive a
    // crop by accident, so assert the MISS RATE, not every pair.
    val whole = MediaDedup.nearDupPairs(media)
      .select(col("a_id"), col("b_id")).as[(Long, Long)].collect().toSet
    val caughtByWhole = planted.count(whole)
    assert(caughtByWhole * 2 < planted.size,
      s"whole-image dHash caught $caughtByWhole/${planted.size} crops — " +
        "the planted transform no longer demonstrates the gap")
  }

  test("structural: a 20% end crop of a gradient payload flips the whole hash, not the front tiles") {
    // strictly-varying content so the hash carries signal everywhere
    val base = Array.tabulate(1000)(i => ((i * 37 + (i * i) % 251) % 256).toByte)
    val cropped = base.take(800)
    val df = Seq((1L, base), (2L, cropped)).toDF("media_id", "payload")
    val wholeH = df.select(col("media_id"),
      DHash64.dhash64(col("payload")).as("h")).as[(Long, Long)].collect().toMap
    val hamming = java.lang.Long.bitCount(wholeH(1L) ^ wholeH(2L))
    assert(hamming > MediaDedup.MaxHamming,
      s"whole-image Hamming $hamming — crop did not break the fixed-grid hash")
    val pairs = MediaCrop.cropPairs(df)
      .as[(Long, Long, Long)].collect()
    assert(pairs.length == 1 && pairs.head._1 == 1L && pairs.head._2 == 2L)
    assert(pairs.head._3 >= MediaCrop.VoteK,
      s"front tiles should both match byte-identically: ${pairs.head}")
  }

  test("unrelated payloads do not vote through") {
    val a = Array.tabulate(600)(i => ((i * 7) % 256).toByte)
    val b = Array.tabulate(600)(i => ((i * 11 + 3) % 256).toByte)
    val df = Seq((1L, a), (2L, b)).toDF("media_id", "payload")
    assert(MediaCrop.cropPairs(df).count() == 0L)
  }
}
