package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Personalized PageRank — topic-conditioned page importance for the
  * crawl graph. [[Crawl.pageRank]] answers "which page matters
  * globally"; a real crawl/curation loop just as often asks "which
  * page matters RELATIVE TO a seed set" (the workspace roots the
  * reference crawl starts from — NotionCrawler.crawl, reference
  * Notion_openai_vector_etl.py:480-596 — or a trusted-domain
  * whitelist, or last week's high-quality survivors): restrict the
  * teleport to the seeds and rank mass decays with link distance from
  * them. The classic uses downstream of a 100 TB crawl: seed-biased
  * fetch prioritization, trust-rank style spam damping (pages
  * unreachable from any trusted seed get EXACTLY zero), and
  * domain-conditioned mix weights.
  *
  * Same fixed-point integer discipline as [[Crawl.pageRank]] (1e-12
  * units, every step `div`, bit-identical on any engine/partitioning):
  * only the teleport term changes — `base = 0.15/|S|` on seed nodes,
  * 0 elsewhere, start mass `1/|S|` on seeds. Uniform damping 0.85
  * as 850/1000. Dangling mass leaks (the oracle-checked simplified
  * standard, as in the leaking `q_pagerank` form).
  *
  * Scale shape: identical to PageRank — per round one join on src
  * (bucketable layout, constant across rounds) + one partial-agg
  * groupBy(dst) + a left join back to the node set; rank frames
  * materialized every second round ([[Iterate.materialize]]). The
  * seed predicate is a node-local column, never a shuffle.
  */
object Ppr {

  val Scale: Long = Crawl.PrScale // 1e12 fixed-point units
  val Iters: Int = Crawl.PrIters
  val SeedMod: Long = 7L // q_ppr's seed set: node % 7 == 0

  /** PPR over `edges(src, dst)` with teleport restricted to the nodes
    * satisfying `seedPred` (a predicate over the `node` column).
    * Returns (node, pr) for every node of the graph; nodes with no
    * directed path from any seed hold exactly 0.
    */
  def personalizedPageRank(edges: DataFrame, seedPred: Column,
    iters: Int = Iters): DataFrame = {
    val e = edges.select(col("src"), col("dst")).persist()
    val nodes = seededNodes(e, seedPred).persist()
    val nSeeds = nodes.filter(col("is_seed")).count()
    require(nSeeds > 0, "personalizedPageRank: empty seed set")
    val base = (3L * Scale) / (20L * nSeeds) // 0.15/|S| in fixed point
    var pr = nodes.select(col("node"), col("is_seed"),
      when(col("is_seed"), lit(Scale / nSeeds)).otherwise(lit(0L)).as("pr"))
    for (i <- 1 to iters) {
      val next = round(pr, nodes, e, base)
      // rank frames are constant-size: two rounds of lineage are safe,
      // halve the eager-materialization jobs (the pageRank schedule)
      pr = if (i % 2 == 0 || i == iters) Iterate.materialize(next) else next
    }
    nodes.unpersist(); e.unpersist()
    pr.select(col("node"), col("pr"))
  }

  /** Every node of `e` as `(node, is_seed)`. */
  private[graft] def seededNodes(e: DataFrame, seedPred: Column): DataFrame =
    e.select(col("src").as("node"))
      .unionAll(e.select(col("dst").as("node"))).distinct()
      .select(col("node"), seedPred.as("is_seed"))

  /** Mass `(node, m)` each node receives over `e` from `(node, pr)`
    * ranks: one edge-keyed join + a partial-agg sum.
    */
  private[graft] def received(pr: DataFrame, e: DataFrame): DataFrame = {
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    pr.join(e, pr("node") === e("src")).join(outdeg, "src")
      .select(col("dst").as("node"), expr("pr div outdeg").as("c"))
      .groupBy(col("node")).agg(sum(col("c")).as("m"))
  }

  /** One PPR round: teleport `base` on seeds plus damped [[received]]. */
  private[graft] def round(pr: DataFrame, nodes: DataFrame, e: DataFrame,
    base: Long): DataFrame =
    nodes.join(received(pr, e), Seq("node"), "left")
      .select(col("node"), col("is_seed"),
        (when(col("is_seed"), lit(base)).otherwise(lit(0L))
          + expr("(850 * coalesce(m, 0)) div 1000")).as("pr"))

  /** q_ppr — PPR on the crawl edge graph seeded at node % 7 == 0,
    * 5 rounds, 1e-12 integer units.
    */
  def pprQuery(s: SparkSession, d: String): DataFrame =
    personalizedPageRank(Tables.edgesShared(s, d),
      col("node") % SeedMod === 0).orderBy(col("node"))

  val pprSql: String = {
    // unrolled rounds, the q_pagerank oracle shape with the teleport
    // term gated on seed membership; `//` floor == `div` on the
    // nonnegative ranks
    val rounds = (1 to Iters).map { i =>
      s"""pr$i AS (
         |  SELECT n.node,
         |         (CASE WHEN n.node % $SeedMod = 0 THEN base ELSE 0 END)
         |           + (850 * coalesce(s.m, 0)) // 1000 AS pr
         |  FROM nodes n
         |  CROSS JOIN consts
         |  LEFT JOIN (
         |    SELECT e.dst AS node, sum(p.pr // d.outdeg)::BIGINT AS m
         |    FROM pr${i - 1} p
         |    JOIN edges e ON e.src = p.node
         |    JOIN outdeg d ON d.src = p.node
         |    GROUP BY e.dst) s ON s.node = n.node
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${graft.Tables.edgesSql},
       |nodes AS (
       |  SELECT DISTINCT node FROM (
       |    SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)
       |), seeds AS (
       |  SELECT node FROM nodes WHERE node % $SeedMod = 0
       |), outdeg AS (
       |  SELECT src, count(*)::BIGINT AS outdeg FROM edges GROUP BY src
       |), consts AS (
       |  SELECT (3 * ${Scale}::BIGINT) // (20 * count(*)) AS base,
       |         ${Scale}::BIGINT // count(*) AS pr0
       |  FROM seeds
       |), pr0 AS (
       |  SELECT n.node,
       |         CASE WHEN n.node % $SeedMod = 0 THEN pr0 ELSE 0 END AS pr
       |  FROM nodes n CROSS JOIN consts
       |),
       |$rounds
       |SELECT node, pr FROM pr$Iters
       |ORDER BY node""".stripMargin
  }
}
