package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Distributed graph crawl — the reference's recursive page traversal
  * (NotionCrawler.crawl_page/crawl_blocks/crawl_database,
  * Notion_openai_vector_etl.py:480-596) re-expressed as frontier BFS:
  * a visited set and a frontier, each hop one scan of the edges on the
  * driver while they are small and one join once they are not.
  *
  * Scale: while the visited set plus frontier fits under the broadcast
  * threshold ([[Iterate]]'s size rule) they stay on the driver, and a
  * hop is one filtered scan of the persisted edges plus a collect —
  * the reference's one-machine crawl, with no per-hop shuffle jobs.
  * Past it they are DataFrames: each hop shuffles only the frontier
  * (broadcast when small), visited accumulates via union + anti-join
  * on the node key, and each hop's frontier is cut via
  * checkpoint-like materialization to stop lineage growth — at depth
  * 20 on 100 TB of edges the alternative (one giant recursive plan)
  * would not compile, let alone run.
  */
object Crawl {

  /** Min-depth BFS from `roots` over `edges(src, dst)`.
    *
    * Every column of `roots` other than `node` is a source KEY carried
    * through each hop: one BFS per distinct key, all run as one frame —
    * `(key…, node, depth)` rows, depth = exact hop count from that
    * key's roots. Node-only roots give the single-source `(node,
    * depth)` crawl; a `(root, node)` seed gives per-landmark distances
    * ([[Closeness.landmarkDistances]]); an all-nodes `(x, node)` seed
    * gives all-pairs balls ([[Neighborhood.pairBalls]]).
    *
    * Rounds run on the driver first, while the state fits
    * [[Iterate]]'s size rule ([[Held]]: roots whose plan statistics fit
    * and whose rows collect within the rule). The first round that
    * would outgrow it hands the state over to the distributed [[hop]],
    * and the run stays there. Each distributed hop's frontier is
    * materialized via [[Iterate.materialize]]: cuts the iterative
    * lineage and mints fresh attribute ids (so hop N+1's join with
    * `edges` isn't an ambiguous self-join); the frontier size rides
    * that one job as an observe() metric instead of a separate
    * isEmpty scan. A run that ends on the driver returns a local
    * relation, which the caller reads without a job. Either way the
    * frame, schema included, is the same.
    */
  def bfs(edges: DataFrame, roots: DataFrame, maxDepth: Int): DataFrame = {
    val keys = roots.columns.toSeq.filter(_ != "node")
    edges.persist(StorageLevel.MEMORY_AND_DISK)
    val seed = roots.select(keys.map(col) :+ col("node") :+ lit(0L).as("depth"): _*)
    val Seq(src, dst) = Seq("src", "dst").map(c => edges.select(col(c)).schema.head)
    val node = seed.schema(keys.size)
    // past the seed, the node column is the union of the roots' and dst
    val grown = StructType(seed.schema.updated(keys.size,
      node.copy(nullable = node.nullable || dst.nullable)))
    val held = Option.when(seed.schema.forall(f => Iterate.exactEq(f.dataType)) &&
      Seq(src, dst).forall(_.dataType == node.dataType) && Iterate.fitsDriver(seed))(())
      .flatMap(_ => Iterate.collectIfFits(seed)).map(new Held(seed, grown, _))
    var depth = 0L
    for (h <- held)
      while (depth < maxDepth && h.frontierN > 0 && h.hop(edges, depth + 1)) depth += 1
    var (visited, frontier, frontierN) = held match {
      case Some(h) => (h.frame, h.frontierFrame, h.frontierN)
      case None =>
        val (s, n) = Iterate.materialize(seed, count(lit(1)))
        (s, s, n)
    }
    while (depth < maxDepth && frontierN > 0) {
      depth += 1
      val (next, n) = Iterate.materialize(
        hop(frontier, edges, visited, keys, depth), count(lit(1)))
      if (n > 0) {
        // plain union: both inputs are already materialized, so the
        // visited lineage stays a shallow tree of checkpointed hops —
        // no extra materialization job per hop needed
        visited = visited.unionAll(next)
      }
      frontier = next
      frontierN = n
    }
    edges.unpersist()
    visited
  }

  /** [[bfs]]'s state while it fits the driver: the visited frame's rows
    * in visit order — duplicate roots keep their duplicate depth-0
    * rows — whose last round, from `from` on, is the frontier. Null
    * semantics are the distributed hop's: a null node has no
    * out-edges, and a `(key…, node)` holding a null is never visited,
    * so it is new in every round that reaches it (the anti-join never
    * matches a null), once per round (distinct groups nulls).
    */
  private final class Held(seed: DataFrame, grownSchema: StructType,
    seedRows: Array[Row]) {
    private val rows = ArrayBuffer.from(seedRows)
    private val seen = mutable.HashSet.from(rows.iterator.map(tuple))
    private val seedN = rows.size
    private val cap = Iterate.maxRows(seed)
    private var from = 0
    private def tuple(r: Row): Seq[Any] = r.toSeq.init

    def frontierN: Long = rows.size - from

    /** One hop on the driver: the frontier's out-edges in one scan of
      * `edges`, deduplicated against the visited set here. False, with
      * the state unchanged, when the collect or the grown state
      * (visited plus the new frontier) would not fit the size rule.
      */
    def hop(edges: DataFrame, depth: Long): Boolean = {
      val frontier = rows.view.slice(from, rows.size).map(tuple).toSeq
      val nodes = frontier.map(_.last).filter(_ != null).distinct
      val out = if (nodes.isEmpty) Some(Array.empty[Row])
        else Iterate.collectIfFits(outEdges(edges, nodes))
      out.exists { es =>
        val adj = es.groupMap(_.get(0))(_.get(1))
        val fresh = mutable.LinkedHashSet.empty[Seq[Any]]
        val fits = (for (f <- frontier.iterator;
          d <- adj.getOrElse(f.last, Array.empty[Any])) yield f.init :+ d).forall { c =>
          if (c.contains(null) || !seen(c)) fresh += c
          rows.size + 2L * fresh.size <= cap
        }
        if (fits) {
          from = rows.size
          rows ++= fresh.iterator.map(c => Row.fromSeq(c :+ depth))
          seen ++= fresh
        }
        fits
      }
    }

    /** The visited frame and the frontier as local relations, with the
      * distributed frame's schema: the seed's until a round adds rows.
      */
    def frame: DataFrame = local(rows)
    def frontierFrame: DataFrame = local(rows.drop(from))

    private def local(rs: collection.Seq[Row]): DataFrame =
      seed.sparkSession.createDataFrame(rs.asJava,
        if (rows.size > seedN) grownSchema else seed.schema)
  }

  /** A driver round's scan: the out-edges of `nodes`, one filter on the
    * persisted edges — no join, no exchange (ExplainAudit pins that).
    */
  private[graft] def outEdges(edges: DataFrame, nodes: Seq[Any]): DataFrame =
    edges.filter(col("src").isin(nodes: _*)).select(col("src"), col("dst"))

  /** One distributed [[bfs]] hop: the frontier's out-neighbors per key,
    * minus every `(key…, node)` already visited, at `depth`. Each hop
    * is an equi-join on `node` = `src` (both sides bucket by node id at
    * scale) plus one anti-join keyed on `(key…, node)` — ExplainAudit
    * pins that shape.
    */
  private[graft] def hop(frontier: DataFrame, edges: DataFrame,
    visited: DataFrame, keys: Seq[String], depth: Long): DataFrame =
    frontier.join(edges, frontier("node") === edges("src"))
      .select(keys.map(frontier(_)) :+ edges("dst").as("node"): _*).distinct()
      .join(visited, keys :+ "node", "left_anti")
      .select(keys.map(col) :+ col("node") :+ lit(depth).as("depth"): _*)

  /** q_crawl_bfs — reachable set with first-visit depth from node 0. */
  def crawlBfs(s: SparkSession, d: String): DataFrame =
    bfs(Tables.edgesShared(s, d),
      s.range(1).select(lit(0L).as("node")), maxDepth = 20)
      .orderBy(col("node"))

  /** Page-limited crawl — the reference's MAX_PAGES guard
    * (Notion_openai_vector_etl.py:600-655 config + crawl loop): BFS,
    * then a deterministic trim to the `maxPages` first-visited nodes
    * (by depth, then node id — the distributed analogue of the
    * reference's insertion-order cutoff).
    */
  val PrScale = 1000000000000L // 1e12 fixed-point units
  val PrIters = 5

  /** Damped PageRank over a link graph in FIXED-POINT INTEGER
    * arithmetic — the crawl-prioritization / doc-importance score of a
    * crawl pipeline (which page to fetch next, how to weight a page's
    * text in the mix). Ranks live in 1e-12 units as BIGINTs and every
    * step is integer division (`div`), so the result is bit-identical
    * on any engine and any partitioning — a double-summed PageRank
    * differs in the last ulps per partition order, which a hash oracle
    * cannot tolerate. Dangling-node mass leaks by default (the
    * simplified standard, and the oracle-checked form);
    * `conserveDangling = true` redistributes each round's dangling
    * mass uniformly instead, keeping Σpr a proper distribution (within
    * integer-floor rounding) — use it when absolute rank VALUES are
    * consumed (mix weights, sampling temperatures) rather than order.
    *
    * Scale shape: each round is one join (ranks ⋈ edges on src — the
    * same key layout every round, so at 100 TB both sides bucket by
    * node and the per-round exchange disappears) + one partial-agg
    * groupBy on dst + a left join back to the node set, materialized
    * per round ([[Iterate.materialize]]) — the BFS discipline applied
    * to rank propagation. The leaking form IS [[Ppr]] with every node
    * a seed (base 0.15/N, start 1/N), so it delegates there.
    */
  def pageRank(edges: DataFrame, iters: Int = PrIters,
    conserveDangling: Boolean = false): DataFrame =
    if (!conserveDangling) Ppr.personalizedPageRank(edges, lit(true), iters)
    else {
      val e = edges.select(col("src"), col("dst")).persist()
      val nodes = e.select(col("src").as("node"))
        .unionAll(e.select(col("dst").as("node"))).distinct().persist()
      val n = nodes.count()
      val base = (3L * PrScale) / (20L * n) // 0.15/N in fixed point
      // the node frame carries a static has_out flag so each round's
      // dangling mass can ride the round's materialization as an
      // observe() metric (the Components-fixpoint discipline) — round
      // i needs only Σ pr_{i-1}[¬has_out], which round i-1's action
      // already computed. No per-round aggregate job, no broadcast
      // subtree re-deriving unmaterialized lineage.
      val nodesF = nodes
        .join(e.select(col("src").as("node")).distinct()
          .withColumn("has_out", lit(true)), Seq("node"), "left")
        .select(col("node"), coalesce(col("has_out"), lit(false)).as("has_out"))
        .persist()
      // round 1's mass is exact without a scan: every node starts at
      // the same literal, so dm = |dangling| · (PrScale div n)
      var dm: Long = nodesF.filter(!col("has_out")).count() * (PrScale / n)
      var pr = nodes.select(col("node"), lit(PrScale / n).as("pr"))
      for (_ <- 1 to iters) {
        // each node receives an equal integer share of the stranded
        // mass; the < n units lost to the floor are the "within
        // fixed-point rounding" of the conservation theorem. dm is a
        // driver-side long (bounded statistic), so the share is a
        // constant-folded literal.
        val next = nodesF.join(Ppr.received(pr, e), Seq("node"), "left")
          .select(col("node"), col("has_out"),
            (lit(base) + expr(
              s"(850 * (coalesce(m, 0) + ${dm / n}L)) div 1000")).as("pr"))
        // conserve rounds materialize EVERY round: the next round's dm
        // rides this action as an observation instead of costing a job
        val (ranked, nextDm) = Iterate.materialize(next,
          sum(when(!col("has_out"), col("pr")).otherwise(0L)))
        pr = ranked.select(col("node"), col("pr"))
        dm = nextDm
      }
      nodesF.unpersist(); nodes.unpersist(); e.unpersist()
      pr
    }

  /** q_pagerank — [[pageRank]] on the crawl edge graph, 5 rounds. */
  def pageRankQuery(s: SparkSession, d: String): DataFrame =
    pageRank(Tables.edgesShared(s, d)).orderBy(col("node"))

  val pageRankSql: String = {
    // unrolled iteration CTEs (pr0..pr5): DuckDB's recursive CTE can't
    // reference the working table twice (join + agg), and 5 fixed
    // rounds mirror the Spark driver loop exactly. `//` is DuckDB's
    // integer floor division = Spark's `div` on the nonnegative ranks.
    val rounds = (1 to PrIters).map { i =>
      s"""pr$i AS (
         |  SELECT n.node,
         |         base + (850 * coalesce(s.m, 0)) // 1000 AS pr
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
       |), outdeg AS (
       |  SELECT src, count(*)::BIGINT AS outdeg FROM edges GROUP BY src
       |), consts AS (
       |  SELECT (3 * ${PrScale}::BIGINT) // (20 * count(*)) AS base,
       |         ${PrScale}::BIGINT // count(*) AS pr0
       |  FROM nodes
       |), pr0 AS (
       |  SELECT node, pr0 AS pr FROM nodes CROSS JOIN consts
       |),
       |$rounds
       |SELECT node, pr FROM pr$PrIters
       |ORDER BY node""".stripMargin
  }

  /** q_pagerank_conserve — [[pageRank]] with `conserveDangling`: the
    * mass-preserving variant, oracle-checked bit-for-bit like the
    * leaking form (same fixed-point arithmetic, one extra dangling-sum
    * CTE per unrolled round).
    */
  def pageRankConserveQuery(s: SparkSession, d: String): DataFrame =
    pageRank(Tables.edgesShared(s, d), conserveDangling = true)
      .orderBy(col("node"))

  val pageRankConserveSql: String = {
    // the leaking unroll plus, per round, the previous round's rank
    // mass stranded on dangling nodes (no out-edges), folded back
    // uniformly: base + 850·(m + dm//N) // 1000 — the exact Spark
    // expression, in the exact evaluation order
    val rounds = (1 to PrIters).map { i =>
      s"""dm$i AS (
         |  SELECT coalesce(sum(p.pr), 0)::BIGINT AS dm
         |  FROM pr${i - 1} p
         |  WHERE p.node NOT IN (SELECT src FROM edges)
         |), pr$i AS (
         |  SELECT n.node,
         |         base + (850 * (coalesce(s.m, 0) + (SELECT dm FROM dm$i) // nn)) // 1000 AS pr
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
       |), outdeg AS (
       |  SELECT src, count(*)::BIGINT AS outdeg FROM edges GROUP BY src
       |), consts AS (
       |  SELECT (3 * ${PrScale}::BIGINT) // (20 * count(*)) AS base,
       |         ${PrScale}::BIGINT // count(*) AS pr0,
       |         count(*)::BIGINT AS nn
       |  FROM nodes
       |), pr0 AS (
       |  SELECT node, pr0 AS pr FROM nodes CROSS JOIN consts
       |),
       |$rounds
       |SELECT node, pr FROM pr$PrIters
       |ORDER BY node""".stripMargin
  }

  def crawlLimited(edges: DataFrame, roots: DataFrame, maxDepth: Int,
    maxPages: Int): DataFrame =
    bfs(edges, roots, maxDepth)
      .orderBy(col("depth"), col("node"))
      .limit(maxPages)

  /** q_crawl_limited — the MAX_PAGES guard as an oracle query: BFS from
    * node 0 trimmed to the first 40 pages in (depth, node) order — the
    * deterministic distributed analogue of the reference's
    * insertion-order cutoff.
    */
  def crawlLimitedQuery(s: SparkSession, d: String): DataFrame =
    crawlLimited(Tables.edgesShared(s, d),
      s.range(1).select(lit(0L).as("node")), maxDepth = 20, maxPages = 40)
      .orderBy(col("depth"), col("node"))

  val crawlLimitedSql: String =
    s"""WITH RECURSIVE ${Tables.edgesSql},
       |walk(node, depth) AS (
       |  SELECT 0::BIGINT, 0::BIGINT
       |  UNION
       |  SELECT e.dst, w.depth + 1
       |  FROM walk w JOIN edges e ON e.src = w.node
       |  WHERE w.depth < 20
       |)
       |SELECT node, min(depth) AS depth FROM walk
       |GROUP BY node ORDER BY depth, node LIMIT 40""".stripMargin

  /** API page size of the reference's data-source query loop. */
  val PageSize = 100L

  /** q_crawl_pages — the reference's cursor-paginated page iteration
    * (`iter_database_pages`, Notion_openai_vector_etl.py:440-466) and
    * its data-source resolution (`get_database_data_source_ids`,
    * :423-439) as ONE declarative frame, closing the last unmapped
    * reference lines. Sources play databases; an md5-parity split
    * models the API's two shapes — "modern" databases expose a
    * `data_sources` LIST (two shards here, docs split by id parity),
    * legacy ones fall back to the single `data_source_id` — and each
    * data source's pages are emitted in cursor order with the
    * [[PageSize]] pagination made explicit per row: the page's
    * sequence number, its cursor batch, its position in the batch,
    * and the batch's `has_more` flag (true unless the data source's
    * LAST batch — exactly the loop-exit test of the reference).
    *
    * Spark-first shape: the sequential cursor loop becomes one
    * window rank per data source (partitioned by ds_id — thousands
    * of independent partitions at scale, no global order), the
    * has_more flag one max-over-partition; nothing is iterative.
    */
  def crawlPagesQuery(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d).select(col("source"), col("doc_id"))
    val modern = conv(substring(md5(concat(lit("ds:"), col("source"))), 1, 7),
      16, 10).cast("long") % 2 === 0
    val withDs = docs.withColumn("ds_id",
      when(modern, concat(col("source"), lit("#ds"), col("doc_id") % 2))
        .otherwise(concat(col("source"), lit("#legacy"))))
    val w = Window.partitionBy(col("ds_id")).orderBy(col("doc_id"))
    val all = Window.partitionBy(col("ds_id"))
    withDs
      .withColumn("page_seq", row_number().over(w).cast("long"))
      .withColumn("cursor_batch", expr(s"(page_seq - 1) div $PageSize"))
      .withColumn("pos_in_batch", expr(s"(page_seq - 1) % $PageSize"))
      .withColumn("has_more",
        col("cursor_batch") < expr(s"(count(1) over " +
          s"(partition by ds_id) - 1) div $PageSize"))
      .select(col("source").as("db_id"), col("ds_id"), col("doc_id"),
        col("page_seq"), col("cursor_batch"), col("pos_in_batch"),
        col("has_more"))
      .orderBy(col("db_id"), col("ds_id"), col("page_seq"))
  }

  val crawlPagesSql: String =
    s"""WITH withds AS (
       |  SELECT source AS db_id, doc_id,
       |         CASE WHEN ('0x' || substr(md5('ds:' || source), 1, 7))::BIGINT % 2 = 0
       |              THEN source || '#ds' || (doc_id % 2)
       |              ELSE source || '#legacy' END AS ds_id
       |  FROM documents
       |), seqd AS (
       |  SELECT db_id, ds_id, doc_id,
       |         row_number() OVER (PARTITION BY ds_id ORDER BY doc_id)::BIGINT
       |           AS page_seq,
       |         count(*) OVER (PARTITION BY ds_id)::BIGINT AS n_pages
       |  FROM withds
       |)
       |SELECT db_id, ds_id, doc_id, page_seq,
       |       (page_seq - 1) // $PageSize AS cursor_batch,
       |       (page_seq - 1) % $PageSize AS pos_in_batch,
       |       (page_seq - 1) // $PageSize < (n_pages - 1) // $PageSize
       |         AS has_more
       |FROM seqd
       |ORDER BY db_id, ds_id, page_seq""".stripMargin

  val crawlBfsSql: String =
    s"""WITH RECURSIVE ${Tables.edgesSql},
       |walk(node, depth) AS (
       |  SELECT 0::BIGINT, 0::BIGINT
       |  UNION
       |  SELECT e.dst, w.depth + 1
       |  FROM walk w JOIN edges e ON e.src = w.node
       |  WHERE w.depth < 20
       |)
       |SELECT node, min(depth) AS depth FROM walk
       |GROUP BY node ORDER BY node""".stripMargin
}
