package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** q_edge_support — per-EDGE triangle support |N(u) ∩ N(v)| and the
  * local-bridge flag (support 0): the edge-grain twin of
  * `q_triangles`' node clustering. Support is the k-truss building
  * block and the Easley–Kleinberg local-bridge detector — a 0-support
  * edge is the only path between its endpoints' neighborhoods
  * (information brokerage; in a crawl graph, the link that reaches an
  * otherwise-disconnected cluster and the cut that partitions it).
  *
  * Computed from the SAME degree-oriented closed-triangle list as
  * `q_triangles` (each triangle found once at its (deg, id)-least
  * apex — the cost is the standard oriented wedge join, never
  * all-pairs): each closed triangle credits +1 to its three canonical
  * edges, one groupBy folds the credits, and the canonical edge set
  * left-joins them (0-support edges must appear — the bridges ARE the
  * finding). Exact integers end to end.
  *
  * Scale: the wedge join is the triangle-counting exchange already
  * paid by `q_triangles` (bucket by node at 100 TB); the support fold
  * is edge-keyed map-side combine; output |E| rows.
  */
object EdgeSupport {

  def edgeSupportQuery(s: SparkSession, d: String): DataFrame =
    edgeSupport(Tables.edgesShared(s, d))

  /** Per-edge support over any `(src, dst)` frame (undirected view). */
  def edgeSupport(edges: DataFrame): DataFrame = {
    val und = Iterate.materialize(Graph.undirected(edges))
    val tris = Graph.closedTriangles(und)
    val credits = tris.select(explode(array(
      struct(least(col("x"), col("y1")).as("a"),
        greatest(col("x"), col("y1")).as("b")),
      struct(least(col("x"), col("y2")).as("a"),
        greatest(col("x"), col("y2")).as("b")),
      struct(least(col("y1"), col("y2")).as("a"),
        greatest(col("y1"), col("y2")).as("b")))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).cast("long").as("support"))
    und.join(credits, Seq("a", "b"), "left")
      .select(col("a"), col("b"),
        coalesce(col("support"), lit(0L)).as("support"))
      .withColumn("local_bridge", col("support") === 0L)
  }

  val edgeSupportSql: String =
    s"""WITH ${Tables.edgesSql},
       |und AS MATERIALIZED (
       |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |  FROM edges WHERE src <> dst
       |), deg AS (
       |  SELECT node, count(*)::BIGINT AS deg FROM (
       |    SELECT a AS node FROM und UNION ALL SELECT b AS node FROM und
       |  ) GROUP BY node
       |), oriented AS (
       |  SELECT CASE WHEN (da < db) OR (da = db AND a < b) THEN a ELSE b END AS x,
       |         CASE WHEN (da < db) OR (da = db AND a < b) THEN b ELSE a END AS y,
       |         CASE WHEN (da < db) OR (da = db AND a < b) THEN db ELSE da END AS dy
       |  FROM und
       |  JOIN (SELECT node AS a, deg AS da FROM deg) USING (a)
       |  JOIN (SELECT node AS b, deg AS db FROM deg) USING (b)
       |), tris AS (
       |  SELECT w.x, w.y1, w.y2 FROM (
       |    SELECT e1.x, e1.y AS y1, e2.y AS y2
       |    FROM oriented e1 JOIN oriented e2 ON e1.x = e2.x
       |    WHERE (e1.dy < e2.dy) OR (e1.dy = e2.dy AND e1.y < e2.y)
       |  ) w JOIN oriented c ON w.y1 = c.x AND w.y2 = c.y
       |), credits AS (
       |  SELECT a, b, count(*)::BIGINT AS support FROM (
       |    SELECT least(x, y1) AS a, greatest(x, y1) AS b FROM tris
       |    UNION ALL SELECT least(x, y2), greatest(x, y2) FROM tris
       |    UNION ALL SELECT least(y1, y2), greatest(y1, y2) FROM tris
       |  ) GROUP BY a, b
       |)
       |SELECT u.a, u.b, coalesce(c.support, 0)::BIGINT AS support,
       |       coalesce(c.support, 0) = 0 AS local_bridge
       |FROM und u LEFT JOIN credits c ON c.a = u.a AND c.b = u.b
       |ORDER BY u.a, u.b""".stripMargin
}
