package graft

import graft.operators.Ann
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class MmrSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private def vecFrame(vs: Seq[(Long, Seq[Float])]): DataFrame =
    vs.toDF("vec_id", "embedding")

  /** Two tight clusters along different axes + the query near cluster
    * A: plain top-k fills the page with cluster A; MMR must cross over.
    */
  private val dim = 8
  private def unit(axis: Int, jitter: Float, id: Int): Seq[Float] = {
    val v = Array.fill(dim)(0.02f * ((id % 3) + 1))
    v(axis) = 1f
    v((axis + 1) % dim) = jitter * (1 + id % 4)
    v.toSeq
  }
  private val clusterA = (0 until 6).map(i => (100L + i, unit(0, 0.01f, i)))
  private val clusterB = (0 until 6).map(i => (200L + i, unit(3, 0.01f, i)))
  private val corpus = vecFrame(clusterA ++ clusterB)
  private val query = vecFrame(Seq((9000L, unit(0, 0.05f, 1))))

  private def shortlist: DataFrame =
    Ann.topKNeighbors(spark, corpus, query, k = 12)

  private def picks(df: DataFrame): Seq[Long] =
    df.orderBy("query_id", "rank").select("vec_id").as[Long].collect().toSeq

  test("lambda = 1 reduces exactly to relevance order") {
    val plain = shortlist.filter(col("rank") <= 5)
    val mmr = Ann.mmrRerank(spark, corpus, shortlist, k = 5, lambda = 1.0)
    assert(picks(mmr) == picks(plain))
    // and the mmr_score IS the relevance at lambda = 1
    val scores = mmr.select("cos_sim", "mmr_score").as[(Double, Double)].collect()
    scores.foreach { case (rel, m) => assert(math.abs(rel - m) < 1e-9) }
  }

  test("diversity: MMR page spans both clusters where plain top-k is single-cluster") {
    val plainTop = picks(shortlist.filter(col("rank") <= 4))
    assert(plainTop.forall(_ < 200L), "sanity: relevance page is all cluster A")
    val mmr = picks(Ann.mmrRerank(spark, corpus, shortlist, k = 4, lambda = 0.5))
    assert(mmr.exists(_ >= 200L), "MMR must reach cluster B")
    assert(mmr.head == plainTop.head, "first pick is the most relevant")
  }

  test("mean pairwise similarity of the MMR page never exceeds the plain page") {
    def meanPairSim(ids: Seq[Long]): Double = {
      val m = (clusterA ++ clusterB).toMap
      val ps = for { a <- ids; b <- ids if a < b } yield {
        val (x, y) = (m(a), m(b))
        val d = x.zip(y).map { case (p, q) => p.toDouble * q.toDouble }.sum
        d / (math.sqrt(x.map(p => p.toDouble * p).sum) * math.sqrt(y.map(p => p.toDouble * p).sum))
      }
      ps.sum / ps.size
    }
    val plain = meanPairSim(picks(shortlist.filter(col("rank") <= 5)))
    val diverse = meanPairSim(picks(Ann.mmrRerank(spark, corpus, shortlist, k = 5, lambda = 0.5)))
    assert(diverse <= plain + 1e-12, s"diverse=$diverse plain=$plain")
  }

  test("matches a quadratic sequential reference on the embeddings fixture") {
    val vectors = Tables.embeddings(spark, sf)
    val queries = vectors.filter(col("vec_id") % 100 === 0)
    val sl = Ann.topKNeighbors(spark, vectors, queries, k = 15)
    val got = Ann.mmrRerank(spark, vectors, sl, k = 5, lambda = 0.7)
      .select("query_id", "rank", "vec_id").as[(Long, Long, Long)].collect()
      .groupBy(_._1).map { case (q, rs) => q -> rs.sortBy(_._2).map(_._3).toSeq }
    // reference: collect candidates per query, run the O(k·n²) textbook
    // greedy with fresh max computations each step
    val emb = vectors.select("vec_id", "embedding").as[(Long, Seq[Float])]
      .collect().toMap
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    def cos(a: Seq[Float], b: Seq[Float]) = {
      val d = a.zip(b).map { case (p, q) => p.toDouble * q.toDouble }.sum
      r6(d / (math.sqrt(a.map(p => p.toDouble * p).sum) * math.sqrt(b.map(p => p.toDouble * p).sum)))
    }
    val cands = sl.select("query_id", "vec_id", "cos_sim")
      .as[(Long, Long, Double)].collect().groupBy(_._1)
    cands.foreach { case (q, rows) =>
      var pool = rows.map(r => (r._2, r._3)).sortBy(r => (-r._2, r._1)).toList
      var sel = List.empty[Long]
      while (sel.size < 5 && pool.nonEmpty) {
        val scored = pool.map { case (v, rel) =>
          val div = if (sel.isEmpty) 0.0
            else sel.map(s => cos(emb(v), emb(s))).max
          (v, r6(0.7 * rel - 0.3 * div))
        }
        val best = scored.minBy { case (v, m) => (-m, v) }._1
        sel = sel :+ best
        pool = pool.filterNot(_._1 == best)
      }
      assert(got(q) == sel, s"query $q")
    }
  }

  test("k beyond the shortlist returns every candidate once") {
    val mmr = Ann.mmrRerank(spark, corpus, shortlist, k = 50, lambda = 0.5)
    val ids = picks(mmr)
    assert(ids.size == ids.distinct.size)
    assert(ids.toSet == picks(shortlist).toSet)
  }

  test("q_mmr_rerank served query: MmrK distinct shortlist picks, rank-1 = relevance top") {
    val vectors = Tables.embeddings(spark, sf)
    val queries = vectors.filter(col("vec_id") % 100 === 0)
    val sl = Ann.topKNeighbors(spark, vectors, queries, k = Ann.TopK)
      .select("query_id", "rank", "vec_id")
      .as[(Long, Long, Long)].collect().groupBy(_._1)
    val served = Ann.mmrServed(spark, sf)
      .select("query_id", "rank", "vec_id")
      .as[(Long, Long, Long)].collect().groupBy(_._1)
    assert(served.keySet == sl.keySet)
    served.foreach { case (q, rows) =>
      val byRank = rows.sortBy(_._2)
      assert(byRank.map(_._2).toSeq == (1L to Ann.MmrK).toSeq, s"query $q ranks")
      assert(byRank.map(_._3).distinct.length == Ann.MmrK, s"query $q dup pick")
      val slIds = sl(q).map(_._3).toSet
      assert(byRank.forall(r => slIds(r._3)), s"query $q pick outside shortlist")
      // first pick is pure λ-scaled relevance = the shortlist's top hit
      assert(byRank.head._3 == sl(q).minBy(_._2)._3, s"query $q rank-1")
    }
  }
}
