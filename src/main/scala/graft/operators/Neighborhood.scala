package graft.operators

import graft.Tables
import graft.functions.TextSim
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Graph neighborhood function N(t) = #{(x,y) : dist(x,y) ≤ t} and
  * the effective diameter read off it (Palmer et al. KDD'02; Boldi &
  * Vigna's HyperBall, WSDM'11) — the whole-graph DISTANCE profile
  * next to the engine's local structure ([[Graph.triangles]], k-core,
  * degrees) and single-source reach ([[Crawl.bfs]]): how many hops
  * does this crawl graph actually span, and at what radius does
  * reachability saturate — the number that decides an iteration
  * budget for every multi-hop operator (BFS depth caps, label-prop
  * rounds, graph-lite neighbor expansion).
  *
  * Two faces, the house exact-audit / sketch-scale split:
  * - [[neighborhoodExact]] (the oracle query): all-pairs min-distance
  *   by iterative frontier expansion — pair state, O(reachable pairs)
  *   rows. Exact, integer counts; the audit form, quadratic by
  *   NATURE of the answer it checks.
  * - [[hyperBall]] (the 100 TB path): one [[Hll]] register table PER
  *   NODE (m·|V| rows total), each round folding every node's sketch
  *   with its out-neighbors' by per-bucket MAX — B(x,t+1) =
  *   B(x,t) ∪ ⋃ B(y,t) becomes a union of HLLs, which max-merge
  *   computes LOSSLESSLY (the sketch of a union IS the max of the
  *   sketches — HyperBallSpec asserts round-t registers
  *   register-identical to sketching the exact ball). Per round: one
  *   edges ⋈ regs join (same key layout every round — bucket both by
  *   node at scale and the exchange disappears) + one partial-agg
  *   max fold; linear state, no pair frame ever exists.
  *
  * Determinism: exact counts are integers; frac divides once (r6);
  * the effective diameter compares ROUNDED fractions (house
  * rounded-decision rule). HyperBall registers are integer md5
  * arithmetic ([[Hll]]'s idiom) — bit-identical anywhere.
  */
object Neighborhood {

  /** Iteration cap (the crawl-BFS depth cap). */
  val MaxT = 20

  /** Effective-diameter quantile. */
  val EffQ = 0.9

  /** All-pairs min-distance frame `(x, node, depth)` over `(src,
    * dst)` edges — every ordered pair with dist ≤ maxT, exact:
    * [[Crawl.bfs]] keyed by source `x`, seeded at every node.
    */
  def pairBalls(edges: DataFrame, maxT: Int = MaxT): DataFrame = {
    val nodes = edges.select(col("src").as("node"))
      .unionAll(edges.select(col("dst").as("node"))).distinct()
    Crawl.bfs(edges, nodes.select(col("node").as("x"), col("node")), maxT)
  }

  /** Exact neighborhood function: per radius t (0..saturation),
    * cumulative reachable pairs, fraction of the closure, and the
    * effective-diameter flag (first t whose ROUNDED frac ≥ 0.9).
    */
  def neighborhoodExact(edges: DataFrame, maxT: Int = MaxT): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val byT = pairBalls(edges, maxT)
      .groupBy(col("depth")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val maxD = byT.keys.max
    val rows = (0L to maxD).scanLeft(0L) { case (acc, t) =>
      acc + byT.getOrElse(t, 0L)
    }.drop(1).zipWithIndex.map { case (cum, t) => (t.toLong, cum) }
    val total = rows.last._2
    def r6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    val effT = rows.find { case (_, c) =>
      r6(c.toDouble / total.toDouble) >= EffQ
    }.map(_._1).getOrElse(maxD)
    rows.map { case (t, c) =>
      (t, c, r6(c.toDouble / total.toDouble), if (t == effT) 1 else 0)
    }.toSeq.toDF("t", "n_pairs", "frac", "is_eff_diameter")
  }

  /** q_neighborhood — [[neighborhoodExact]] over the crawl graph. */
  def neighborhoodQuery(s: SparkSession, d: String): DataFrame =
    neighborhoodExact(Tables.edgesShared(s, d)).orderBy(col("t"))

  val neighborhoodSql: String =
    s"""WITH RECURSIVE ${Tables.edgesSql},
       |nodes AS (
       |  SELECT DISTINCT src AS node FROM edges
       |  UNION SELECT DISTINCT dst FROM edges
       |), walk(x, node, depth) AS (
       |  SELECT node, node, 0::BIGINT FROM nodes
       |  UNION
       |  SELECT w.x, e.dst, w.depth + 1
       |  FROM walk w JOIN edges e ON e.src = w.node
       |  WHERE w.depth < $MaxT
       |), mind AS (
       |  SELECT x, node, min(depth)::BIGINT AS d FROM walk GROUP BY x, node
       |), radii AS (
       |  SELECT DISTINCT d AS t FROM mind
       |), cum AS (
       |  SELECT r.t, (SELECT count(*) FROM mind WHERE mind.d <= r.t)::BIGINT AS n_pairs
       |  FROM radii r
       |), tot AS (
       |  SELECT max(n_pairs) AS total FROM cum
       |), frac AS (
       |  SELECT t, n_pairs,
       |         ${TextSim.r6Sql("n_pairs::DOUBLE / total::DOUBLE")} AS frac
       |  FROM cum CROSS JOIN tot
       |), eff AS (
       |  SELECT min(t) AS eff_t FROM frac WHERE frac >= $EffQ
       |)
       |SELECT t, n_pairs, frac,
       |       (CASE WHEN t = eff_t THEN 1 ELSE 0 END)::INT AS is_eff_diameter
       |FROM frac CROSS JOIN eff
       |ORDER BY t""".stripMargin

  /** HyperBall register tables per node, per round: `(t, node,
    * bucket, max_rho)` for t in 0..rounds — round t's registers ARE
    * the HLL sketch of the exact radius-t out-ball (max-merge is the
    * lossless union of sketches). Estimates via [[Hll.estimate]]'s
    * formula read per node.
    */
  def hyperBall(edges: DataFrame, rounds: Int, m: Int = Hll.M): DataFrame = {
    edges.persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = edges.select(col("src").as("node"))
      .unionAll(edges.select(col("dst").as("node"))).distinct()
    var regs = Iterate.materialize(Hll.sketchBy(nodes, "node", col("node"), m))
    var out = regs.withColumn("t", lit(0L))
    var t = 0
    while (t < rounds) {
      t += 1
      val received = edges
        .join(regs.withColumnRenamed("node", "dst"), "dst")
        .select(col("src").as("node"), col("bucket"), col("max_rho"))
      regs = Iterate.materialize(
        regs.unionAll(received)
          .groupBy(col("node"), col("bucket"))
          .agg(max(col("max_rho")).as("max_rho")))
      out = out.unionAll(regs.withColumn("t", lit(t.toLong)))
    }
    edges.unpersist()
    out.select(col("t"), col("node"), col("bucket"), col("max_rho"))
  }

  /** Per-(t, node) HLL ball-size estimates off [[hyperBall]]
    * registers, with the small-range linear-counting correction
    * (Flajolet et al. 2007) — ball sizes start at 1 ≪ m, squarely in
    * the regime where raw HLL is biased ~50× high; Σ over nodes at
    * fixed t estimates N(t).
    */
  def hyperBallEstimates(regs: DataFrame, m: Int = Hll.M): DataFrame =
    regs.groupBy(col("t"), col("node"))
      .agg((lit(Hll.alpha(m) * m * m) /
        sum(pow(lit(2.0), -col("max_rho")))).as("raw"),
        sum(when(col("max_rho") === 0, 1L).otherwise(0L)).as("zeros"))
      .select(col("t"), col("node"),
        when(col("zeros") > 0 && col("raw") <= 2.5 * m,
          lit(m.toDouble) * log(lit(m.toDouble) / col("zeros")))
          .otherwise(col("raw")).as("est"))
}
