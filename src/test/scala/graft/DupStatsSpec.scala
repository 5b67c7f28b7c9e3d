package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DupStatsSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  test("histogram accounts for every doc; dup mass only in size>=2 buckets") {
    val out = Dedup.dupStats(spark, sf)
      .select(col("cluster_size"), col("n_clusters"), col("n_docs"),
        col("n_tokens"), col("dup_tokens"))
      .as[(Long, Long, Long, Long, Long)].collect()
    val total = Tables.docsAug(spark, sf).count()
    assert(out.map(_._3).sum == total, "every doc lands in exactly one bucket")
    out.foreach { r =>
      assert(r._3 == r._1 * r._2, s"n_docs != size*clusters in $r")
      if (r._1 == 1L) assert(r._5 == 0L, "singletons have no removable mass")
      else assert(r._5 > 0L, s"size-${r._1} clusters must carry dup mass")
      assert(r._5 < r._4, "removable mass strictly below bucket mass (keepers stay)")
    }
    // the injected exact+near copies guarantee multi-doc clusters exist
    assert(out.exists(_._1 >= 2L), "fixture must produce non-trivial clusters")
  }

  test("report from maintained labels equals the direct path") {
    val docs = Tables.docsAug(spark, sf)
    val toks = docs.select(col("doc_id"),
      size(graft.functions.TextSim.tokens(col("text"))).cast("long").as("n_toks"))
    val pairs = Dedup.minhashPairs(docs).select(col("a_id"), col("b_id"))
    val labels = graft.operators.Components.fromPairs(pairs)
    val viaLabels = Dedup
      .dupStatsFromLabels(docs.select(col("doc_id")), labels, toks)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq.sorted
    val direct = Dedup.dupStats(spark, sf)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq.sorted
    assert(viaLabels == direct)
  }
}
