package graft.operators

import graft.Tables
import graft.functions.TextSim
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph analytics over the crawl link graph beyond reachability
  * ([[Crawl]]): triangle counting and local clustering coefficients —
  * the community-structure observability of a crawled corpus (a page
  * whose neighborhood is dense is inside a topical cluster; a hub with
  * cc ≈ 0 is a directory page). Reference context: the Notion page
  * graph the crawler walks (Notion_openai_vector_etl.py:480-596).
  *
  * Scale design — the MapReduce triangle-counting shape (Suri &
  * Vassilvitskii, WWW'11 "Counting triangles and the curse of the last
  * reducer"): orient every undirected edge from its LOWER endpoint in
  * the total order (degree, node). Each vertex's OUT-degree is then
  * O(√m) regardless of its true degree — a hub of degree d keeps its
  * edges mostly INcoming, so the wedge join (out-neighbor pairs per
  * vertex, the only super-linear step) costs Σ outdeg² ≤ O(m^1.5)
  * total and its per-key skew is bounded: the curse-of-the-last-reducer
  * hub key simply cannot exist after orientation. Every triangle is
  * generated exactly once (its (deg,id)-minimum corner is the wedge
  * apex), so no distinct over candidates. All joins are key-partitioned
  * (apex id for wedges, (lo,hi) edge pair for closure) — at 100 TB each
  * is one hash shuffle of id pairs, never an all-pairs product.
  */
object Graph {

  /** q_triangles — per-node triangle count + degree + local clustering
    * coefficient over the (undirected) crawl graph. Nodes with no
    * triangles are kept (count 0); cc = 2T/(deg·(deg−1)), 0 below
    * degree 2, r6-rounded on both engines.
    */
  def trianglesQuery(s: SparkSession, d: String): DataFrame =
    triangles(Tables.edgesShared(s, d)).orderBy(col("node"))

  /** Frame-based [[trianglesQuery]] over any `(src, dst)` edge frame
    * (treated as undirected; self-loops and duplicate/reverse edges
    * collapse).
    */
  def triangles(edges: DataFrame): DataFrame = {
    val und = undirected(edges)
    val deg = und.select(col("a").as("node"))
      .unionAll(und.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    // orientation: edge points from the smaller (deg, id) endpoint.
    // deg joins are id-keyed hash joins (the degree table is
    // |V|-sized — co-partitioned with the edge endpoints at scale).
    val withDeg = und
      .join(deg.select(col("node").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("deg").as("db")), Seq("b"))
    val aFirst = (col("da") < col("db")) ||
      (col("da") === col("db") && col("a") < col("b"))
    val oriented = withDeg.select(
      when(aFirst, col("a")).otherwise(col("b")).as("x"),
      when(aFirst, col("b")).otherwise(col("a")).as("y"),
      when(aFirst, col("db")).otherwise(col("da")).as("dy"))
    // wedges at apex x: ordered out-neighbor pairs (y1 before y2 in
    // (deg, id)) — each triangle appears at exactly one apex
    val e1 = oriented.select(col("x"), col("y").as("y1"), col("dy").as("dy1"))
    val e2 = oriented.select(col("x"), col("y").as("y2"), col("dy").as("dy2"))
    val wedges = e1.join(e2, Seq("x"))
      .filter((col("dy1") < col("dy2")) ||
        (col("dy1") === col("dy2") && col("y1") < col("y2")))
      .select(col("x"), col("y1"), col("y2"))
    // closure: the wedge's far pair must be an edge. Oriented rows are
    // unique and (y1,y2) respects the orientation order, so an inner
    // join on the oriented set matches at most once — no distinct.
    val tris = wedges.join(
      oriented.select(col("x").as("cx"), col("y").as("cy")),
      col("y1") === col("cx") && col("y2") === col("cy"))
      .select(col("x"), col("y1"), col("y2"))
    perNodeOf(tris, deg)
  }

  /** Canonical undirected edge set of a `(src, dst)` frame: one row
    * per unordered pair, self-loops dropped.
    */
  private[operators] def undirected(edges: DataFrame): DataFrame =
    edges
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()

  /** The closed-triangle list `(x, y1, y2)` of a canonical undirected
    * edge frame — each triangle exactly once, at its (deg, id)-least
    * apex. Shared by [[triangles]] (per-node fold) and
    * [[EdgeSupport]] (per-edge fold).
    */
  private[operators] def closedTriangles(und: DataFrame): DataFrame = {
    val deg = und.select(col("a").as("node"))
      .unionAll(und.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val withDeg = und
      .join(deg.select(col("node").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("deg").as("db")), Seq("b"))
    val aFirst = (col("da") < col("db")) ||
      (col("da") === col("db") && col("a") < col("b"))
    val oriented = withDeg.select(
      when(aFirst, col("a")).otherwise(col("b")).as("x"),
      when(aFirst, col("b")).otherwise(col("a")).as("y"),
      when(aFirst, col("db")).otherwise(col("da")).as("dy"))
    val e1 = oriented.select(col("x"), col("y").as("y1"), col("dy").as("dy1"))
    val e2 = oriented.select(col("x"), col("y").as("y2"), col("dy").as("dy2"))
    val wedges = e1.join(e2, Seq("x"))
      .filter((col("dy1") < col("dy2")) ||
        (col("dy1") === col("dy2") && col("y1") < col("y2")))
      .select(col("x"), col("y1"), col("y2"))
    wedges.join(
      oriented.select(col("x").as("cx"), col("y").as("cy")),
      col("y1") === col("cx") && col("y2") === col("cy"))
      .select(col("x"), col("y1"), col("y2"))
  }

  private def perNodeOf(tris: DataFrame, deg: DataFrame): DataFrame = {
    val perNode = tris
      .select(explode(array(col("x"), col("y1"), col("y2"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        when(col("deg") >= 2,
          TextSim.r6(coalesce(col("n_tri"), lit(0L)) * 2.0 /
            (col("deg") * (col("deg") - 1))))
          .otherwise(lit(0.0)).as("cc"))
  }

  val trianglesSql: String =
    s"""WITH ${Tables.edgesSql},
       |und AS (
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
       |  SELECT e1.x, e1.y AS y1, e2.y AS y2
       |  FROM oriented e1
       |  JOIN oriented e2 ON e1.x = e2.x
       |   AND ((e1.dy < e2.dy) OR (e1.dy = e2.dy AND e1.y < e2.y))
       |  JOIN oriented c ON c.x = e1.y AND c.y = e2.y
       |), per_node AS (
       |  SELECT node, count(*)::BIGINT AS n_tri FROM (
       |    SELECT unnest([x, y1, y2]) AS node FROM tris
       |  ) GROUP BY node
       |)
       |SELECT deg.node, deg.deg,
       |       coalesce(per_node.n_tri, 0)::BIGINT AS n_tri,
       |       CASE WHEN deg.deg >= 2
       |            THEN ${TextSim.r6Sql("coalesce(per_node.n_tri, 0) * 2.0 / (deg.deg * (deg.deg - 1))")}
       |            ELSE 0.0 END AS cc
       |FROM deg LEFT JOIN per_node USING (node)
       |ORDER BY node""".stripMargin

  val LpaRounds = 3

  /** Synchronous label-propagation communities (Raghavan et al. 2007)
    * over the undirected graph: labels init to node ids; each round
    * every node adopts the MAJORITY label among its neighbors, ties to
    * the smallest label. Fixed [[LpaRounds]] rounds with deterministic
    * tie-breaks — fully reproducible (free-running async LPA is run-
    * order dependent and can oscillate; fixed-round synchronous LPA
    * with total-order ties is the oracle-able form). Communities are
    * denser than connected components ([[Components]]): a bridge edge
    * doesn't merge two tight clusters.
    *
    * Scale shape: each round is one edge-join keyed on the label side
    * + one partial-agg groupBy on (node, label) + one groupBy(node)
    * picking the argmax via `max(struct(c, -label))` — NO window, so
    * the round is two map-side-combined aggregates and every exchange
    * keys on node ids. Rounds are lineage-cut ([[Iterate.materialize]])
    * like every iterative driver here.
    */
  def labelProp(edges: DataFrame, rounds: Int = LpaRounds): DataFrame = {
    val sym = edges
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"))
      .unionAll(edges.filter(col("src") =!= col("dst"))
        .select(col("dst").as("src"), col("src").as("dst")))
      .distinct().persist()
    var labels = Iterate.materialize(
      sym.select(col("src").as("node")).distinct()
        .select(col("node"), col("node").as("label")))
    for (_ <- 1 to rounds) {
      val next = labels.join(sym, labels("node") === sym("src"))
        .groupBy(sym("dst").as("node"), labels("label"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("node"))
        .agg(max(struct(col("c"), (-col("label")).as("nl"))).as("best"))
        .select(col("node"), (-col("best.nl")).as("label"))
      labels = Iterate.materialize(next)
    }
    sym.unpersist()
    labels
  }

  /** q_labelprop — [[labelProp]] on a thinned crawl subgraph
    * (`(src+dst) % 4 = 0` — the dense fixture graph collapses to one
    * community in 3 rounds, which exercises nothing; the thinned form
    * holds 4 stable communities at every SF), with final community
    * sizes joined back (size keys on the label — a |labels|-bounded
    * aggregate).
    */
  def labelPropQuery(s: SparkSession, d: String): DataFrame = {
    val l = labelProp(Tables.edgesShared(s, d)
      .filter((col("src") + col("dst")) % 4 === 0))
    val sizes = l.groupBy(col("label")).agg(count(lit(1)).as("csize"))
    l.join(sizes, "label")
      .select(col("node"), col("label"), col("csize"))
      .orderBy(col("node"))
  }

  val labelPropSql: String = {
    val rounds = (1 to LpaRounds).map { i =>
      s"""l$i AS (
         |  SELECT node, label FROM (
         |    SELECT s.dst AS node, l.label, count(*) AS c,
         |           row_number() OVER (PARTITION BY s.dst
         |             ORDER BY count(*) DESC, l.label) AS rk
         |    FROM l${i - 1} l JOIN sym s ON s.src = l.node
         |    GROUP BY s.dst, l.label)
         |  WHERE rk = 1
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${Tables.edgesSql},
       |thinned AS (
       |  SELECT src, dst FROM edges WHERE (src + dst) % 4 = 0
       |),
       |sym AS (
       |  SELECT src, dst FROM thinned
       |  UNION
       |  SELECT dst AS src, src AS dst FROM thinned
       |), l0 AS (
       |  SELECT DISTINCT src AS node, src AS label FROM sym
       |),
       |$rounds
       |SELECT l.node, l.label, s.csize
       |FROM l$LpaRounds l
       |JOIN (SELECT label, count(*)::BIGINT AS csize
       |      FROM l$LpaRounds GROUP BY label) s USING (label)
       |ORDER BY l.node""".stripMargin
  }

  /** k for `q_kcore`. */
  val KcoreK = 3

  /** Peel-round bound. The oracle unrolls exactly this many rounds;
    * peeling is monotone and idempotent at its fixpoint, so the early
    * exit below (first round removing nothing) and the oracle's full
    * unroll compute the same set — rounds past the fixpoint are
    * no-ops by construction.
    */
  val KcoreRounds = 8

  /** Bounded-round k-core peel over any `(src, dst)` edge frame
    * (undirected; duplicates/reverses collapse): repeatedly delete
    * every node whose degree in the surviving subgraph is below `k`.
    * The k-core is the standard "dense backbone" extractor — crawl
    * spam farms and isolated tendrils fall out of the core while
    * topically-linked clusters stay — and the peel CASCADES: removing
    * a tendril can drop its attachment point below k the next round,
    * which is what distinguishes it from a one-shot degree filter.
    *
    * Scale shape: each round is two semi-joins of the edge set
    * against the shrinking survivor set (id-keyed hash shuffles, the
    * CC/LPA round shape) + one partial-agg degree count; rounds are
    * lineage-cut ([[Iterate.materialize]]). The survivor count rides
    * each round's materialization as an observe() metric — the
    * fixpoint test (nobody peeled) costs zero extra jobs.
    */
  def kcore(edges: DataFrame, k: Int = KcoreK,
    rounds: Int = KcoreRounds): DataFrame = {
    val und = edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct().persist()
    val nodes = und.select(col("a").as("node"))
      .unionAll(und.select(col("b").as("node"))).distinct().persist()
    var (alive, aliveN) = Iterate.materialize(nodes, count(lit(1)))
    var round = 0
    var done = false
    while (round < rounds && !done) {
      val live = und
        .join(alive.select(col("node").as("a")), Seq("a"), "left_semi")
        .join(alive.select(col("node").as("b")), Seq("b"), "left_semi")
      val deg = live.select(col("a").as("node"))
        .unionAll(live.select(col("b").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      val (next, n) = Iterate.materialize(
        alive.join(deg, Seq("node"), "left_outer")
          .filter(coalesce(col("deg"), lit(0L)) >= k)
          .select(col("node")), count(lit(1)))
      alive = next
      round += 1
      done = n == aliveN
      aliveN = n
    }
    val out = nodes
      .join(alive.select(col("node"), lit(true).as("core")),
        Seq("node"), "left_outer")
      .select(col("node"), coalesce(col("core"), lit(false)).as("in_core"))
    und.unpersist()
    out
  }

  /** q_kcore — [[kcore]] on the thinned crawl subgraph (the
    * `q_labelprop` thinning: the full fixture graph is dense enough
    * that nothing peels, which exercises nothing; the thinned form
    * peels tendrils over multiple cascade rounds at every SF).
    */
  def kcoreQuery(s: SparkSession, d: String): DataFrame =
    kcore(Tables.edgesShared(s, d).filter((col("src") + col("dst")) % 4 === 0))
      .orderBy(col("node"))

  val kcoreSql: String = {
    // AS MATERIALIZED: each round references the previous twice; the
    // default CTE inlining would expand a8 into 2^8 copies of the
    // whole chain (and 2^8 opens of the events scan)
    val rounds = (1 to KcoreRounds).map { i =>
      s"""a$i AS MATERIALIZED (
         |  SELECT node FROM (
         |    SELECT u.a AS node FROM und u
         |    JOIN a${i - 1} x ON u.a = x.node JOIN a${i - 1} y ON u.b = y.node
         |    UNION ALL
         |    SELECT u.b AS node FROM und u
         |    JOIN a${i - 1} x ON u.a = x.node JOIN a${i - 1} y ON u.b = y.node
         |  ) GROUP BY node HAVING count(*) >= $KcoreK
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${Tables.edgesSql},
       |thinned AS (
       |  SELECT src, dst FROM edges WHERE (src + dst) % 4 = 0
       |), und AS MATERIALIZED (
       |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |  FROM thinned
       |), a0 AS MATERIALIZED (
       |  SELECT DISTINCT node FROM (
       |    SELECT a AS node FROM und UNION ALL SELECT b AS node FROM und
       |  )
       |),
       |$rounds
       |SELECT n.node, (e.node IS NOT NULL) AS in_core
       |FROM a0 n LEFT JOIN a$KcoreRounds e ON e.node = n.node
       |ORDER BY n.node""".stripMargin
  }

  /** Per-node in/out degrees over a directed `(src, dst)` edge frame —
    * zero-degree sides kept (a dangling node IS the observation:
    * PageRank's leak term, a crawl frontier edge). Two partial-agg
    * groupBys on the edge endpoints + id-keyed joins against the
    * |V|-sized node universe.
    */
  def degrees(edges: DataFrame): DataFrame = {
    val nodes = edges.select(col("src").as("node"))
      .unionAll(edges.select(col("dst").as("node"))).distinct()
    val outd = edges.groupBy(col("src").as("node"))
      .agg(count(lit(1)).cast("long").as("out_deg"))
    val ind = edges.groupBy(col("dst").as("node"))
      .agg(count(lit(1)).cast("long").as("in_deg"))
    nodes.join(outd, Seq("node"), "left_outer")
      .join(ind, Seq("node"), "left_outer")
      .select(col("node"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"))
  }

  /** q_degree_dist — the degree-distribution histogram of the crawl
    * graph: for each degree value, how many nodes have that out-degree
    * and how many that in-degree (the degree-0 out bucket = dangling
    * mass, the q_pagerank leak term made visible; a heavy tail =
    * hubs, the salting/orientation rationale made measurable). Edge
    * folds are map-side partial aggs; the histogram is a fold of the
    * |V|-sized degree frame to ≤|distinct degrees| rows.
    */
  def degreeDistQuery(s: SparkSession, d: String): DataFrame = {
    val deg = degrees(Tables.edgesShared(s, d))
    val outH = deg.groupBy(col("out_deg").as("degree"))
      .agg(count(lit(1)).cast("long").as("n_out_nodes"))
    val inH = deg.groupBy(col("in_deg").as("degree"))
      .agg(count(lit(1)).cast("long").as("n_in_nodes"))
    outH.join(inH, Seq("degree"), "full_outer")
      .select(col("degree"),
        coalesce(col("n_out_nodes"), lit(0L)).as("n_out_nodes"),
        coalesce(col("n_in_nodes"), lit(0L)).as("n_in_nodes"))
      .orderBy(col("degree"))
  }

  val degreeDistSql: String =
    s"""WITH ${Tables.edgesSql},
       |nodes AS (
       |  SELECT DISTINCT node FROM (
       |    SELECT src AS node FROM edges UNION ALL SELECT dst AS node FROM edges
       |  )
       |), degs AS (
       |  SELECT n.node,
       |         coalesce(o.c, 0)::BIGINT AS out_deg,
       |         coalesce(i.c, 0)::BIGINT AS in_deg
       |  FROM nodes n
       |  LEFT JOIN (SELECT src, count(*)::BIGINT AS c FROM edges GROUP BY 1) o
       |    ON o.src = n.node
       |  LEFT JOIN (SELECT dst, count(*)::BIGINT AS c FROM edges GROUP BY 1) i
       |    ON i.dst = n.node
       |), oh AS (
       |  SELECT out_deg AS degree, count(*)::BIGINT AS n_out_nodes
       |  FROM degs GROUP BY 1
       |), ih AS (
       |  SELECT in_deg AS degree, count(*)::BIGINT AS n_in_nodes
       |  FROM degs GROUP BY 1
       |)
       |SELECT coalesce(oh.degree, ih.degree) AS degree,
       |       coalesce(n_out_nodes, 0)::BIGINT AS n_out_nodes,
       |       coalesce(n_in_nodes, 0)::BIGINT AS n_in_nodes
       |FROM oh FULL OUTER JOIN ih ON oh.degree = ih.degree
       |ORDER BY degree""".stripMargin
}
