package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Betweenness centrality of the directed crawl graph — the broker /
  * chokepoint score the centrality family lacked ([[Crawl.pageRank]]
  * ranks by mass received, [[Closeness]] by distance, [[Hits]] by
  * endorsement; none sees "how much traffic MUST pass through v").
  * A crawl operator reads it to find the hub pages whose removal
  * fragments the frontier; a link-spam screen reads it because farms
  * have high degree but near-zero brokerage.
  *
  * Algorithm: Brandes' dependency accumulation (Brandes 2001) with
  * the two standard scale reductions, both published approximations:
  * PIVOT SAMPLING (Brandes–Pich 2007 — accumulate from a fixed pivot
  * set, here node % [[PivotMod]] = 0) and a DISTANCE BOUND
  * (k-betweenness, Borgatti–Everett — only shortest paths of length
  * ≤ [[MaxDepth]] count; brokerage along 5+-hop geodesics is noise
  * for crawl scheduling). Forward pass: level-synchronous WALK
  * counting — the count of length-d walks to a node FIRST reached at
  * depth d equals its shortest-path count σ (a walk of length
  * dist(v) cannot revisit anything), so each round is one unguarded
  * edge join + partial-agg sum, no visited-set bookkeeping.
  * Backward pass: δ(v) = Σ_{w ∈ succ(v), dist(w)=dist(v)+1}
  * σ(v)·(1 + δ(w))/σ(w), accumulated layer by layer.
  *
  * Determinism: δ rides the INTEGER LATTICE — each edge term is
  * (σ_v·(1e6 + δ_w)) `div` σ_w in micro units, exact long
  * arithmetic, so the result is bit-identical on any engine and
  * partitioning (a double δ would diverge in partition order). The
  * per-term floor under-counts by < 1e-6·terms — documented bias,
  * same on both engines, irrelevant for ranking.
  *
  * Scale: every frame is ≤ |pivots|·|V| rows; forward and backward
  * are each [[MaxDepth]] rounds of (edge join + partial-agg fold),
  * the [[Crawl.pageRank]] exchange shape — at 10^10 nodes both
  * sides bucket by node and the per-round exchange co-locates.
  * Walk counts fit comfortably: ≤ |V|^[[MaxDepth]] per cell.
  */
object Betweenness {

  /** Distance bound on counted geodesics. */
  val MaxDepth = 4
  /** Pivot set: node % PivotMod == 0. */
  val PivotMod = 10L

  def betweennessQuery(s: SparkSession, d: String): DataFrame =
    betweenness(Tables.edgesShared(s, d)).orderBy(col("node"))

  def betweenness(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst")).persist()
    val nodes = e.select(col("src").as("node"))
      .unionAll(e.select(col("dst").as("node"))).distinct().persist()
    // forward: walk counts per depth; depth-d rows for a node first
    // reached at d ARE its shortest-path counts
    var w = Iterate.materialize(pivotWalks(nodes))
    var all = w
    for (d <- 1 to MaxDepth) {
      w = Iterate.materialize(walkRound(w, e, d))
      all = all.unionAll(w)
    }
    val dists = all.groupBy(col("p"), col("v")).agg(min(col("d")).as("dist"))
    val sigma = Iterate.materialize(
      dists.join(all.select(col("p").as("ap"), col("v").as("av"),
        col("w").as("sigma"), col("d").as("ad")),
        col("ap") === col("p") && col("av") === col("v") &&
          col("ad") === col("dist"))
        .select(col("p"), col("v"), col("dist"), col("sigma")))
    // backward: integer-lattice dependency accumulation, deepest
    // layer first (delta at the horizon is 0 by the distance bound)
    var deltas = List.empty[DataFrame]
    var deeper: Option[DataFrame] = None
    for (d <- (MaxDepth - 1) to 1 by -1) {
      val succ = sigma.filter(col("dist") === (d + 1).toLong)
        .select(col("p").as("tp"), col("v").as("tv"), col("sigma").as("tsigma"))
      val succD = deeper match {
        case Some(dd) => succ.join(
          dd.select(col("p").as("dp"), col("v").as("dv"), col("delta")),
          col("dp") === col("tp") && col("dv") === col("tv"), "left")
          .select(col("tp"), col("tv"), col("tsigma"),
            coalesce(col("delta"), lit(0L)).as("tdelta"))
        case None => succ.select(col("tp"), col("tv"), col("tsigma"),
          lit(0L).as("tdelta"))
      }
      val cur = Iterate.materialize(
        sigma.filter(col("dist") === d.toLong)
          .join(e, sigma("v") === e("src"))
          .join(succD, col("tp") === sigma("p") && col("tv") === e("dst"))
          .select(sigma("p"), sigma("v"),
            expr("(sigma * (1000000 + tdelta)) div tsigma").as("t"))
          .groupBy(col("p"), col("v")).agg(sum(col("t")).as("delta")))
      deltas = cur :: deltas
      deeper = Some(cur)
    }
    val btw = deltas.reduce(_ unionAll _)
      .groupBy(col("v")).agg(sum(col("delta")).as("b"))
    val out = nodes
      .join(btw.select(col("v").as("node"), col("b")), Seq("node"), "left")
      .select(col("node"), coalesce(col("b"), lit(0L)).as("btw_micro"))
    nodes.unpersist(); e.unpersist()
    out
  }

  /** Depth-0 walks `(p, v, w, d)`: one unit walk per pivot node. */
  private[graft] def pivotWalks(nodes: DataFrame): DataFrame =
    nodes.filter(col("node") % PivotMod === 0)
      .select(col("node").as("p"), col("node").as("v"), lit(1L).as("w"),
        lit(0L).as("d"))

  /** One forward round: depth-`d` walk counts from the depth-`d-1` `w`. */
  private[graft] def walkRound(w: DataFrame, e: DataFrame, d: Int): DataFrame =
    w.join(e, w("v") === e("src"))
      .groupBy(col("p"), e("dst").as("v"))
      .agg(sum(col("w")).as("w"))
      .select(col("p"), col("v"), col("w"), lit(d.toLong).as("d"))

  val betweennessSql: String = {
    // forward rounds as MATERIALIZED CTEs (the q_markov unroll rule:
    // DuckDB inlines CTEs by default and an iterative chain expands
    // exponentially without the hint)
    val fwd = (1 to MaxDepth).map { d =>
      s"""w$d AS MATERIALIZED (
         |  SELECT g.p, e.dst AS v, sum(g.w)::BIGINT AS w, $d::BIGINT AS d
         |  FROM w${d - 1} g JOIN edges e ON e.src = g.v
         |  GROUP BY g.p, e.dst
         |)""".stripMargin
    }.mkString(",\n")
    val allw = (0 to MaxDepth).map(d => s"SELECT * FROM w$d")
      .mkString(" UNION ALL ")
    val bwd = ((MaxDepth - 1) to 1 by -1).map { d =>
      val deeperJoin =
        if (d == MaxDepth - 1) "0::BIGINT AS tdelta"
        else s"coalesce(dd.delta, 0)::BIGINT AS tdelta"
      val deeperFrom =
        if (d == MaxDepth - 1) ""
        else s"LEFT JOIN d${d + 1} dd ON dd.p = t.p AND dd.v = t.v"
      s"""d$d AS MATERIALIZED (
         |  SELECT s.p, s.v,
         |         sum((s.sigma * (1000000 + x.tdelta)) // x.tsigma)::BIGINT
         |           AS delta
         |  FROM sigma s
         |  JOIN edges e ON e.src = s.v
         |  JOIN (
         |    SELECT t.p, t.v, t.sigma AS tsigma, $deeperJoin
         |    FROM sigma t $deeperFrom
         |    WHERE t.dist = ${d + 1}
         |  ) x ON x.p = s.p AND x.v = e.dst
         |  WHERE s.dist = $d
         |  GROUP BY s.p, s.v
         |)""".stripMargin
    }.mkString(",\n")
    val alld = ((MaxDepth - 1) to 1 by -1).map(d => s"SELECT * FROM d$d")
      .mkString(" UNION ALL ")
    s"""WITH ${graft.Tables.edgesSql},
       |nodes AS (
       |  SELECT DISTINCT node FROM (
       |    SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)
       |), w0 AS MATERIALIZED (
       |  SELECT node AS p, node AS v, 1::BIGINT AS w, 0::BIGINT AS d
       |  FROM nodes WHERE node % $PivotMod = 0
       |),
       |$fwd,
       |allw AS MATERIALIZED ($allw),
       |dists AS (
       |  SELECT p, v, min(d) AS dist FROM allw GROUP BY p, v
       |), sigma AS MATERIALIZED (
       |  SELECT dd.p, dd.v, dd.dist, a.w AS sigma
       |  FROM dists dd JOIN allw a
       |    ON a.p = dd.p AND a.v = dd.v AND a.d = dd.dist
       |),
       |$bwd,
       |btw AS (
       |  SELECT v, sum(delta)::BIGINT AS b FROM ($alld) GROUP BY v
       |)
       |SELECT n.node, coalesce(b.b, 0)::BIGINT AS btw_micro
       |FROM nodes n LEFT JOIN btw b ON b.v = n.node
       |ORDER BY n.node""".stripMargin
  }
}
