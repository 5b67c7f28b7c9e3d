package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Item-item collaborative filtering over order baskets — the
  * co-occurrence recommender (Sarwar et al. 2001, the
  * "people-who-bought-X" workhorse): parts bought together in one
  * order vote for each other; neighbor strength is the cosine over
  * binary basket vectors, cos(a,b) = n_ab / √(n_a·n_b). The
  * recommendation face of the association family — [[q_assoc]]'s
  * lift/confidence score RULES, this ranks per-item NEIGHBOR LISTS
  * (the artifact a serving layer ships).
  *
  * Exactness: √ never evaluates — the ranking is by cos², which is
  * exact on the integer lattice (cos2_micro = n_ab²·1e6 div
  * (n_a·n_b)), and ranking by cos² ≡ ranking by cos (both sides
  * nonnegative, x² monotone). Ties: (cos2 desc, n_pair desc,
  * neighbor asc) — fully deterministic.
  *
  * Scale: the basket self-join keys on the ORDER (co-partitioned,
  * baskets are bounded — a TPC-H order has ≤7 lines; a retail basket
  * tens — so per-order pair fan-out is a small constant, never a
  * corpus square); pair counts fold map-side; per-item support n_i is
  * one broadcastable |items|-row frame joined back twice; the top-k
  * cut is a window partitioned by the item (each partition ≤ that
  * item's distinct co-items). Nothing shuffles on the raw line level
  * after the first distinct.
  */
object ItemCf {

  /** Neighbors kept per item. */
  val TopK = 3

  def itemCf(s: SparkSession, d: String): DataFrame = {
    val baskets = Iterate.materialize(Tables.lineitem(s, d)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("part"))
      .distinct()) // read three times: pairs + two support joins
    val support = baskets.groupBy(col("part"))
      .agg(count(lit(1)).cast("long").as("n_ord"))
    val pairs = baskets.as("x").join(baskets.as("y"),
      col("x.ok") === col("y.ok") && col("x.part") =!= col("y.part"))
      .groupBy(col("x.part").as("part"), col("y.part").as("neighbor"))
      .agg(count(lit(1)).cast("long").as("n_pair"))
    val scored = pairs
      .join(support.select(col("part"), col("n_ord").as("n_a")), Seq("part"))
      .join(support.select(col("part").as("neighbor"),
        col("n_ord").as("n_b")), Seq("neighbor"))
      .withColumn("cos2_micro",
        expr("(n_pair * n_pair * 1000000) div (n_a * n_b)"))
    scored.withColumn("rnk", row_number().over(
      Window.partitionBy(col("part"))
        .orderBy(col("cos2_micro").desc, col("n_pair").desc,
          col("neighbor"))))
      .filter(col("rnk") <= TopK)
      .select(col("part"), col("rnk").cast("long").as("rnk"),
        col("neighbor"), col("n_pair"), col("n_a"), col("n_b"),
        col("cos2_micro"))
      .orderBy(col("part"), col("rnk"))
  }

  val itemCfSql: String =
    s"""WITH baskets AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS part FROM lineitem
       |), support AS (
       |  SELECT part, count(*)::BIGINT AS n_ord FROM baskets GROUP BY part
       |), pairs AS (
       |  SELECT x.part AS part, y.part AS neighbor, count(*)::BIGINT AS n_pair
       |  FROM baskets x JOIN baskets y
       |    ON y.ok = x.ok AND y.part <> x.part
       |  GROUP BY 1, 2
       |), scored AS (
       |  SELECT p.part, p.neighbor, p.n_pair,
       |         a.n_ord AS n_a, b.n_ord AS n_b,
       |         (p.n_pair * p.n_pair * 1000000) // (a.n_ord * b.n_ord)
       |           AS cos2_micro
       |  FROM pairs p
       |  JOIN support a ON a.part = p.part
       |  JOIN support b ON b.part = p.neighbor
       |)
       |SELECT part, rnk, neighbor, n_pair, n_a, n_b, cos2_micro
       |FROM (
       |  SELECT *, row_number() OVER (PARTITION BY part
       |    ORDER BY cos2_micro DESC, n_pair DESC, neighbor)::BIGINT AS rnk
       |  FROM scored)
       |WHERE rnk <= $TopK
       |ORDER BY part, rnk""".stripMargin
}
