package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** q_closeness — LANDMARK closeness/harmonic centrality over the crawl
  * link graph: how quickly the rest of the graph reaches each page,
  * the "is this page central or peripheral" score that complements
  * [[Crawl.pageRank]]'s link-endorsement view (a page can be
  * high-PageRank yet far from everything outside its cluster; a
  * low-eccentricity connector scores here). Exact all-pairs closeness
  * is |V| BFS sweeps — O(|V|·|E|), unpayable at crawl scale; the
  * landmark estimate (Potamias et al., CIKM'09) runs k ≪ |V| sweeps
  * from a deterministic sample and scores every node from its
  * landmark distances. k is the precision dial, not a correctness
  * cap.
  *
  * Determinism: landmarks are the k lowest nodes by (md5(node), node)
  * — the house seeded-sample discipline, identical in both engines;
  * distances are exact BFS hop counts (first visit = min depth by the
  * anti-join construction, mirrored as min(depth) over the recursive
  * walk in the oracle); the scores are pure integer micro-units —
  * harmonic = Σ 1e6 div d (finite, d ≥ 1) and closeness =
  * (reached·1e6) div Σd — NO floating point anywhere; unreachable
  * nodes report 0/NULL, never inf.
  *
  * Scale shape: the edge frame persists across hops ([[Crawl.bfs]]);
  * each hop is ONE job — the (root, node)-keyed frontier joins edges
  * on src (both sides bucket by node id at 100 TB), the frontier size
  * rides an Observation metric (no extra isEmpty scan), and hop
  * lineage is cut by checkpoint. Total state ≤ k·|V| rows — linear in
  * the graph, never the all-pairs |V|² matrix.
  */
object Closeness {

  /** Landmark count: the estimate averages over this many BFS sources. */
  val NumLandmarks = 8
  /** Hop cap, matching [[Crawl]]'s crawl-depth guard. */
  val MaxDepth = 20

  /** Exact per-landmark BFS distances with provenance: one row per
    * (root, node) reached within `maxDepth`, depth = exact hop count —
    * [[Crawl.bfs]] keyed by `root`.
    */
  def landmarkDistances(edges: DataFrame, landmarks: DataFrame,
    maxDepth: Int): DataFrame =
    Crawl.bfs(edges, landmarks.select(col("root"), col("root").as("node")),
      maxDepth)

  def closenessQuery(s: SparkSession, d: String): DataFrame =
    closeness(Tables.edgesShared(s, d), NumLandmarks, MaxDepth)

  /** Landmark centrality report over a directed `(src, dst)` edge
    * frame: per node, how many landmarks reach it, the distance sum,
    * harmonic centrality Σ 1e6 div d, and closeness
    * (reached·1e6) div Σd (NULL when nothing reaches it).
    */
  def closeness(edges: DataFrame, k: Int, maxDepth: Int): DataFrame = {
    val nodes = edges.select(col("src").as("node"))
      .unionAll(edges.select(col("dst").as("node"))).distinct()
    val lm = nodes
      .orderBy(md5(col("node").cast("string")), col("node")).limit(k)
      .select(col("node").as("root"))
    val agg = landmarkDistances(edges, lm, maxDepth)
      .filter(col("depth") > 0)
      .groupBy(col("node"))
      .agg(count(lit(1)).cast("long").as("n_reached"),
        sum(col("depth")).cast("long").as("dist_sum"),
        sum(expr("1000000 div depth")).cast("long").as("harmonic_micro"))
    nodes.join(agg, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("n_reached"), lit(0L)).as("n_reached"),
        coalesce(col("dist_sum"), lit(0L)).as("dist_sum"),
        coalesce(col("harmonic_micro"), lit(0L)).as("harmonic_micro"),
        when(col("dist_sum") > 0,
          expr("(n_reached * 1000000) div dist_sum")).as("closeness_micro"))
  }

  val closenessSql: String =
    s"""WITH RECURSIVE ${Tables.edgesSql},
       |nodes AS (
       |  -- NOT `a UNION b` at the CTE top level: under WITH RECURSIVE
       |  -- DuckDB gives any top-level-UNION CTE recursive-union
       |  -- semantics (no dedup), silently duplicating every node
       |  SELECT DISTINCT node FROM (
       |    SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)
       |), lm AS (
       |  SELECT node AS root FROM nodes
       |  ORDER BY md5(node::VARCHAR), node LIMIT $NumLandmarks
       |), walk(root, node, depth) AS (
       |  SELECT root, root, 0::BIGINT FROM lm
       |  UNION
       |  SELECT w.root, e.dst, w.depth + 1
       |  FROM walk w JOIN edges e ON e.src = w.node
       |  WHERE w.depth < $MaxDepth
       |), dist AS (
       |  SELECT root, node, min(depth) AS d FROM walk GROUP BY root, node
       |), agg AS (
       |  SELECT node, count(*)::BIGINT AS n_reached,
       |         sum(d)::BIGINT AS dist_sum,
       |         sum(1000000 // d)::BIGINT AS harmonic_micro
       |  FROM dist WHERE d > 0 GROUP BY node
       |)
       |SELECT n.node,
       |       coalesce(a.n_reached, 0)::BIGINT AS n_reached,
       |       coalesce(a.dist_sum, 0)::BIGINT AS dist_sum,
       |       coalesce(a.harmonic_micro, 0)::BIGINT AS harmonic_micro,
       |       CASE WHEN a.dist_sum > 0
       |            THEN (a.n_reached * 1000000) // a.dist_sum
       |       END AS closeness_micro
       |FROM nodes n LEFT JOIN agg a ON a.node = n.node
       |ORDER BY n.node""".stripMargin
}
