package graft

import graft.operators.{Dedup, PrefixJoin}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class PrefixJoinSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  /** Brute-force exact-Jaccard ≥ 0.8 pairs — the oracle the prefix
    * filter must reproduce exactly (test-only all-pairs).
    */
  private def brutePairs(docs: org.apache.spark.sql.DataFrame) = {
    val sh = Dedup.shingleDocs(docs)
    val a = sh.select(col("doc_id").as("a_id"), col("sh").as("sh_a"))
    val b = sh.select(col("doc_id").as("b_id"), col("sh").as("sh_b"))
    a.crossJoin(b).filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        graft.functions.TextSim.r6(
          size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
            size(array_union(col("sh_a"), col("sh_b")))).as("j"))
      .filter(col("j") >= 0.8)
  }

  test("prefix join equals brute-force exact pairs on a mixed corpus") {
    val base = (1 to 40).map { i =>
      (i.toLong, s"alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima unique$i token$i tail$i")
    }
    // clones, one-word edits (still >= 0.8), and genuinely distinct docs
    val clones = Seq((101L, base(4)._2), (102L, base(4)._2))
    val near = Seq((201L, base(7)._2.replace("tail8", "edited")))
    val docs = (base ++ clones ++ near).toDF("doc_id", "text")
    val got = PrefixJoin.prefixPairs(docs)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val want = brutePairs(docs).select("a_id", "b_id")
      .as[(Long, Long)].collect().toSet
    assert(got == want, s"missing=${want -- got} extra=${got -- want}")
    assert(want.nonEmpty, "fixture must contain qualifying pairs")
  }

  test("completeness on the fixture: minhash-verified pairs are a subset") {
    val docs = Tables.docsAug(spark, sf)
    val truth = PrefixJoin.prefixPairs(docs)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val det = Dedup.minhashPairs(docs)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(det.subsetOf(truth),
      s"detector found pairs the complete join missed: ${det -- truth}")
    assert(truth.nonEmpty)
  }

  test("detector audit: precision 1, recall in (0,1], counts consistent") {
    val r = PrefixJoin.detectorEval(spark, sf)
      .as[(String, Long, Long, Long, Long, Double, Double)].collect()
    assert(r.length == 1)
    val (_, nTruth, nDet, nHit, nMissed, recall, precision) = r.head
    assert(nTruth > 0 && nDet > 0)
    assert(nHit == nDet, "verified detector pairs must all be true pairs")
    assert(precision == 1.0)
    assert(nMissed == nTruth - nHit)
    assert(recall > 0.0 && recall <= 1.0)
  }

  test("plan: no cartesian/nested-loop under broadcast kill; df join stays shuffled") {
    BroadcastThreshold(spark, -1) {
      val out = PrefixJoin.prefixPairs(Tables.docsAug(spark, sf))
      out.count()
      val plan = out.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), "cartesian product in plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"), "nested loop in plan")
    }
  }

  test("prefix length arithmetic is integer-exact at the n % 5 == 0 boundary") {
    // n = 5: ceil(0.8*5) = 4 exactly; a binary-double 0.8*5 can land at
    // 4.000000000000001 and ceil to 5, shrinking the prefix to 1 short
    val n = 5L
    val k = n - ((PrefixJoin.TauNum * n + PrefixJoin.TauDen - 1) / PrefixJoin.TauDen) + 1
    assert(k == 2L)
  }
}
