package graft

import graft.operators.FpOverlap
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class FpOverlapSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  test("lifted paragraph scores containment 1.0 inside a larger doc") {
    val para = "the quick brown fox jumps over the lazy dog again and again today"
    val docs = Seq(
      (1L, para),
      (2L, s"completely unrelated framing text first $para and then a very long trailing section about architecture diagrams and deployment pipelines"),
      (3L, "nothing in common with either of the other documents at all here")
    ).toDF("doc_id", "text")
    val r = FpOverlap.overlapPairs(docs, maxDf = 10, minShared = 3)
      .as[(Long, Long, Long, Double)].collect()
    val m = r.map(x => (x._1, x._2) -> x._4).toMap
    assert(m.get((1L, 2L)).contains(1.0),
      s"containment of the lifted paragraph must be 1.0: $r")
    assert(!m.contains((1L, 3L)) && !m.contains((2L, 3L)))
  }

  test("fixture: every clone pair with enough evidence at containment 1.0") {
    val r = FpOverlap.overlapQuery(spark, sf)
      .as[(Long, Long, Long, Double)].collect()
    val clones = r.filter(x => x._2 == x._1 + 1000000L && x._1 < 1000000L)
    assert(clones.length >= 45, s"only ${clones.length} clone pairs found")
    clones.foreach { case (a, b, sh, c) =>
      assert(c == 1.0, s"clone pair ($a,$b) containment $c")
      assert(sh >= FpOverlap.MinShared)
    }
    val nears = r.filter(x => x._2 == x._1 + 2000000L && x._1 < 1000000L)
    assert(nears.length >= 60)
    assert(r.forall { case (a, b, _, c) => a < b && c <= 1.0 })
  }

  test("plan: no cartesian/nested-loop; df join stays a shuffle join under broadcast kill") {
    BroadcastThreshold(spark, -1) {
      val out = FpOverlap.overlapPairs(Tables.docsAug(spark, sf))
      out.count()
      val plan = out.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), "cartesian product in plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"), "nested loop in plan")
    }
  }

  test("viral boilerplate fingerprints are cut before the self-join") {
    // 30 docs sharing one boilerplate sentence + unique tails: the
    // boilerplate prints have df=30 > maxDf and must produce NO pairs
    val boiler = "subscribe to our newsletter for updates and offers every week"
    val docs = (1L to 30L).map(i =>
      (i, s"$boiler unique tail number $i with extra words ${i * 7} ${i * 13}"))
      .toDF("doc_id", "text")
    val r = FpOverlap.overlapPairs(docs, maxDf = 10, minShared = 3).collect()
    assert(r.isEmpty, s"boilerplate-only overlap must not pair: ${r.length} pairs")
  }
}
