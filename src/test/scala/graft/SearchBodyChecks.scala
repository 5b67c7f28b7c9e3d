package graft

import graft.operators.Ann
import graft.sources.IndexStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.Assertions._

/** The contract of [[IndexStore.Handle]]'s one search body, checked on
  * any store kind (flat, OPQ, routed): `searchFiltered` is `search`
  * restricted to the allowed ids, and `searchExpanded` only adds
  * candidates. `fullProbe` and `fullRoute` are the probe and route
  * widths that make a search read every list.
  */
object SearchBodyChecks {
  import SparkTestSession._
  import spark.implicits._

  private type Hit = (Long, Long, Long, Double)

  private def hits(df: DataFrame): Seq[Hit] =
    df.select("query_id", "rank", "vec_id", "cos_sim").as[Hit]
      .collect().toSeq.sorted

  def check(kind: String, path: String, vecs: DataFrame, queries: DataFrame,
    fullProbe: Int, fullRoute: Int = IndexStore.RouteWidth): Unit = {
    val h = IndexStore.open(spark, path)

    // every id allowed: the semi-join drops nothing
    val all = hits(h.searchFiltered(queries, vecs.select("vec_id"), k = 10,
      nprobe = 2))
    assert(all.nonEmpty)
    assert(all == hits(h.search(queries, k = 10, nprobe = 2)),
      s"$kind: searchFiltered over every id must equal search")

    // a filtered subset at full width equals the brute-filtered
    // baseline: rank every code, then keep the allowed ids
    val allowed = vecs.filter(col("vec_id") % 3 === 0).select("vec_id")
    val allowedIds = allowed.as[Long].collect().toSet
    val n = spark.read.parquet(IndexStore.listsPath(spark, path)).count().toInt
    val brute = hits(h.search(queries, k = n, nprobe = fullProbe,
      routeWidth = fullRoute))
      .filter(x => allowedIds(x._3))
      .groupBy(_._1).toSeq.flatMap { case (_, qs) =>
        qs.sortBy(_._2).take(10).zipWithIndex.map { case (x, i) =>
          (x._1, i + 1L, x._3, x._4)
        }
      }.sorted
    val filtered = hits(h.searchFiltered(queries, allowed, k = 10,
      nprobe = fullProbe, routeWidth = fullRoute))
    assert(filtered.nonEmpty)
    assert(filtered == brute,
      s"$kind: full-width filtered search must equal the brute-filtered " +
        s"ranking (first diff: ${filtered.zip(brute).find(p => p._1 != p._2)})")

    // expansion only adds candidates: its exact recall after rerank is
    // at least plain search's
    IndexStore.buildNeighbors(vecs, path, r = 8, nprobe = fullProbe)
    val truth = Ann.topKNeighbors(spark, vecs, queries, k = 10)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    def recall(short: DataFrame): Double = {
      val got = Ann.rerank(spark, vecs, queries,
        short.select(col("query_id"), col("vec_id")), k = 10)
        .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
      (got & truth).size.toDouble / truth.size
    }
    val plain = recall(h.search(queries, k = 10, nprobe = 1))
    val expanded = recall(h.searchExpanded(queries, k = 10, nprobe = 1))
    assert(expanded >= plain,
      s"$kind: expanded recall $expanded must not trail plain recall $plain")
  }
}
