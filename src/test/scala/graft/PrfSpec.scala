package graft

import graft.operators.{Prf, Relevance}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class PrfSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  test("feedback co-occurrence pulls in a doc the base query cannot see") {
    // 5 "relevant" docs pair the query terms with 'shuffle'; doc 100
    // says ONLY 'shuffle' — base BM25 gives it no score at all (zero
    // matched terms), PRF must rank it via the mined expansion term.
    // Background docs keep df statistics honest.
    val fb = (0L until 5L).map(i =>
      (i, "spark query join stream shuffle shuffle pipeline"))
    val target = Seq((100L, "shuffle shuffle shuffle shuffle"))
    val bg = (200L until 260L).map(i => (i, s"filler${i % 7} prose text ordinary"))
    val docs = (fb ++ target ++ bg).toDF("doc_id", "text")
    val page = Prf.prf(docs).collect()
    val ids = page.map(_.getAs[Long]("doc_id")).toSet
    assert(ids.contains(100L), s"expansion miss: $ids")
    // and it matched only expansion terms, never an original
    val row = page.find(_.getAs[Long]("doc_id") == 100L).get
    assert(row.getAs[Double]("base_bm25") == 0.0)
    assert(row.getAs[Double]("prf_score") > 0.0)
  }

  test("page is a valid ranking: rank dense from 1, scores non-increasing") {
    val page = Prf.prfQuery(spark, sf).orderBy("rank").collect()
    assert(page.map(_.getAs[Long]("rank")).toSeq == (1L to page.length).toSeq)
    val scores = page.map(_.getAs[Double]("prf_score")).toSeq
    assert(scores == scores.sorted.reverse)
    assert(page.length == Prf.PageK)
  }

  test("expanded page dominates the base page in base-retrievable mass") {
    // every base-matched doc keeps its original-term contributions
    // (weight 1e6 exactly), so a doc in both pages has prf >= a pure
    // weighted base relation on originals; spot-check the invariant
    // that original query terms never leave the expanded query
    val docs = Tables.documents(spark, sf)
    val page = Prf.prf(docs).collect()
    val base = Relevance.bm25(spark, sf)
      .filter(col("matched") >= 1).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("bm25")).toMap
    // base scores surfaced on the page must agree with q_bm25's own
    for (r <- page; b <- base.get(r.getAs[Long]("doc_id")))
      assert(r.getAs[Double]("base_bm25") == b)
  }
}
