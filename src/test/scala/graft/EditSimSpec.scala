package graft

import graft.operators.EditSim
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class EditSimSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  test("exact copies at dist 0, suffix near-copies at suffix length, unrelated cut") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"), // exact copy
      (3L, "alpha beta gamma delta epsilon zeta eta theta EXTRA"), // +6 edit
      (4L, "alpha beta gamma delta WHOLLY DIFFERENT TAIL THAT IS WAY TOO FAR TO MATCH THE THRESHOLD HERE"),
      (5L, "completely different text that shares no prefix at all")
    ).toDF("doc_id", "text")
    val pairs = EditSim.editPairs(docs, prefixLen = 16, maxDist = 10)
      .as[(Long, Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L, 0L), (1L, 3L, 6L), (2L, 3L, 6L)))
  }

  test("two-sided pass catches head-edited pairs the prefix pass misses") {
    val docs = Seq(
      (1L, "HEAD-A shared middle body of the document and a common long tail section"),
      (2L, "HEAD-B shared middle body of the document and a common long tail section"),
      (3L, "totally different text with nothing shared at all in any region here")
    ).toDF("doc_id", "text")
    val oneSided = EditSim.editPairs(docs, prefixLen = 16, maxDist = 10)
      .select(col("doc_a"), col("doc_b")).as[(Long, Long)].collect().toSet
    assert(oneSided.isEmpty, "prefix blocking must miss the head edit")
    val twoSided = EditSim.editPairsTwoSided(docs, blockLen = 16, maxDist = 10)
      .select(col("doc_a"), col("doc_b")).as[(Long, Long)].collect().toSet
    assert(twoSided == Set((1L, 2L)))
  }

  test("pair is symmetric-free: doc_a < doc_b always") {
    val r = EditSim.editDedup(spark, sf)
      .select(col("doc_a"), col("doc_b")).as[(Long, Long)].collect()
    assert(r.nonEmpty)
    assert(r.forall { case (a, b) => a < b })
  }

  test("fixture pairs: every exact-dup clone found at dist 0, near-dups at 29") {
    val r = EditSim.editDedup(spark, sf)
      .as[(Long, Long, Long)].collect()
    val byPair = r.map { case (a, b, d) => (a, b) -> d }.toMap
    val base = graft.Tables.documents(spark, sf)
      .select(col("doc_id")).as[Long].collect()
    base.filter(_ % 10 == 0).foreach { id =>
      assert(byPair.get((id, id + 1000000L)).contains(0L),
        s"exact clone of $id missing or nonzero")
    }
    // " near duplicate suffix marker" = 29 appended chars
    base.filter(_ % 7 == 0).foreach { id =>
      assert(byPair.get((id, id + 2000000L)).contains(29L),
        s"near clone of $id missing or wrong dist")
    }
  }

  // AQE wraps the plan: descend through AdaptiveSparkPlanExec /
  // materialized query stages to reach the actual exchanges
  private def shuffles(p: org.apache.spark.sql.execution.SparkPlan)
    : Seq[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec] =
    p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        shuffles(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        shuffles(q.plan)
      case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
        s +: s.children.flatMap(shuffles)
      case other => other.children.flatMap(shuffles)
    }

  test("text never rides the blocking self-join: prefix-keyed exchanges carry ids only") {
    // kill broadcast so the plan takes the shuffle shape it would at
    // scale — that's the shape the invariant is about
    BroadcastThreshold(spark, -1) {
      checkBandExchanges()
    }
  }

  private def checkBandExchanges(): Unit = {
    val out = EditSim.editPairs(Tables.docsAug(spark, sf))
    out.count()
    val exchanges = shuffles(out.queryExecution.executedPlan)
    assert(exchanges.nonEmpty)
    // the by-id re-joins legitimately ship text (keyed on doc_id); the
    // blocking self-join exchanges (keyed on the prefix k) must not
    val bandExchanges = exchanges.filter(
      _.outputPartitioning.toString.contains("k#"))
    assert(bandExchanges.nonEmpty, "expected prefix-keyed band exchanges")
    bandExchanges.foreach { e =>
      assert(!e.output.exists(a => a.name == "text" || a.name == "ta" || a.name == "tb"),
        s"text in band exchange: ${e.output.map(_.name)}")
    }
  }
}
