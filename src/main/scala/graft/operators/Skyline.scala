package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Skyline / Pareto-frontier operator (Börzsönyi–Kossmann–Stocker
  * 2001) — the classic multi-criteria DB operator: the set of points
  * no other point dominates (≥ in both coordinates, > in at least
  * one). Run per market segment over orders in the (price, recency)
  * plane: "the most expensive AND most recent orders" — the frontier
  * an account team works, the RFM intuition (`q_rfm`) as an exact
  * operator instead of a quantile grid.
  *
  * The naive formulation is the O(n²) dominance self-join; this one
  * is the MONOTONE-SCAN form: compact to the per-(segment, x) max-y
  * frame (only a bucket's best y can be on the frontier; equal-(x,y)
  * duplicates are counted, not listed — neither dominates the other),
  * then one cumulative max over x-descending ROWS — a point survives
  * iff its y strictly exceeds every y at strictly greater x. One
  * window, no self-join, O(n log n).
  *
  * Determinism: coordinates are exact integers — price in cents
  * (⌊100·p + 0.5⌋, both engines), recency in epoch DAYS (integer
  * div of epoch-µs) — so dominance is integer comparison and the
  * frontier is bit-stable.
  *
  * Scale: the compaction is one map-side-combinable fold to
  * |segments|·|distinct prices| rows; the window partitions by
  * segment (never global). The frontier of independently-distributed
  * dimensions is O(log n) points per segment — output is tiny. The
  * published partition-then-merge skyline (local frontier per
  * partition, union, re-scan) drops in if a single segment's
  * compacted grid ever outgrows a partition.
  */
object Skyline {

  def skyline(s: SparkSession, d: String): DataFrame = {
    val seg = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_mktsegment").as("segment"))
    val pts = Tables.orders(s, d)
      .join(broadcast(seg), col("o_custkey") === col("c_custkey"))
      .select(col("segment"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long").as("x"),
        // o_orderdate resolves TIMESTAMP_NTZ; session tz is pinned UTC
        // by every entry point, so the cast is lossless (Tables rule)
        expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000")
          .as("y"))
    skylineOf(pts)
      .select(col("segment"), col("x").as("price_cents"),
        col("y").as("order_day"), col("n_points").as("n_orders"))
  }

  /** Per-group 2-D maximization skyline over a (segment, x, y) frame;
    * returns frontier coordinates with their point multiplicity.
    */
  private[graft] def skylineOf(pts: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val compact = pts.groupBy(col("segment"), col("x"))
      .agg(max(col("y")).as("y"))
    val w = Window.partitionBy(col("segment")).orderBy(col("x").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val kept = compact
      .withColumn("m1", max(col("y")).over(w))
      .filter(col("m1").isNull || col("y") > col("m1"))
    // multiplicity = points AT the frontier coordinate (same x AND y);
    // the frontier is tiny — broadcast it past the fact-sized fold
    pts.groupBy(col("segment"), col("x"), col("y"))
      .agg(count(lit(1)).cast("long").as("n_points"))
      .join(broadcast(kept.select(col("segment"), col("x"), col("y"))),
        Seq("segment", "x", "y"))
      .select(col("segment"), col("x"), col("y"), col("n_points"))
  }

  val skylineSql: String =
    s"""WITH pts AS (
       |  SELECT c_mktsegment AS segment,
       |         floor(o_totalprice * 100 + 0.5)::BIGINT AS x,
       |         (epoch_us(o_orderdate) // 86400000000)::BIGINT AS y
       |  FROM orders JOIN customer ON c_custkey = o_custkey
       |), compact AS (
       |  SELECT segment, x, max(y)::BIGINT AS y
       |  FROM pts GROUP BY 1, 2
       |), kept AS (
       |  SELECT segment, x, y
       |  FROM (
       |    SELECT segment, x, y,
       |           max(y) OVER (PARTITION BY segment ORDER BY x DESC
       |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS m1
       |    FROM compact)
       |  WHERE m1 IS NULL OR y > m1
       |), mult AS (
       |  SELECT segment, x, y, count(*)::BIGINT AS n_points
       |  FROM pts GROUP BY 1, 2, 3
       |)
       |SELECT k.segment, k.x AS price_cents, k.y AS order_day,
       |       m.n_points AS n_orders
       |FROM kept k JOIN mult m ON m.segment = k.segment
       |  AND m.x = k.x AND m.y = k.y
       |ORDER BY k.segment, k.x DESC""".stripMargin
}
