package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bow-tie decomposition of the directed crawl graph — the structural
  * census of a crawled web (Broder et al. 2000, "Graph structure in
  * the Web"): where [[Scc]] finds the rings, this classifies EVERY
  * page against the giant ring — the report a crawl operator reads to
  * decide where budget goes (reference analogue: the link graph
  * NotionCrawler.crawl walks, Notion_openai_vector_etl.py:480-596):
  *
  *  - CORE: the giant SCC (largest, min-scc-id tie-break) — mutually
  *    reachable hub, crawl it once, trap-budget it;
  *  - IN: reaches the core but isn't in it — new content flows INTO
  *    the hub from here (seed candidates);
  *  - OUT: reachable from the core — content the hub links out to;
  *  - TENDRIL: weakly connected to the core's component but on no
  *    core path (IN∩OUT = ∅ by SCC maximality, so these hang off);
  *  - DISCONNECTED: other weak components entirely.
  *
  * Everything derives from three label propagations over the SAME
  * materialized edge frame ([[Tables.edgesShared]]): SCC labels
  * ([[Scc.scc]]), reachability-from-core forward and backward
  * ([[Components.minLabel]] with the core seeded at a sentinel below
  * every node id — min propagation then IS reachability), and one
  * undirected CC for the weak-component split. No transitive closure
  * anywhere; the oracle, as with q_scc, is the canonical definition
  * via recursive-CTE reachability, which any correct algorithm must
  * hash-match.
  *
  * Scale: the [[Scc]] story (edge-keyed joins, partial-agg min,
  * lineage-cut hops); the giant-SCC pick is a 1-row argmax broadcast.
  */
object Bowtie {

  /** Sentinel strictly below any node id (ids are mod-150 values, so
    * > −1 000 000 always; a min-propagated sentinel marks "reached
    * from core").
    */
  private val CoreSentinel = -(1L << 40)

  def bowtie(s: SparkSession, d: String): DataFrame = {
    val e = Tables.edgesShared(s, d)
    val nodes = Iterate.materialize(e.select(col("src").as("id"))
      .unionAll(e.select(col("dst").as("id"))).distinct())
    classify(nodes, e).orderBy(col("id"))
  }

  /** The classification over any `(id)` node / `(src, dst)` edge
    * frame — the unit BowtieSpec drives with a planted bow-tie.
    */
  def classify(nodes: DataFrame, e: DataFrame): DataFrame = {
    val labels = Scc.scc(nodes, e)
    // giant SCC: largest size, min scc id on ties — a 1-row argmax
    val giant = labels.groupBy(col("scc"))
      .agg(count(lit(1)).cast("long").as("sz"))
      .agg(max(struct(col("sz").as("sz"), (-col("scc")).as("neg"))).as("g"))
      .select((-col("g.neg")).as("giant_scc"))
    val lab = Iterate.materialize(labels.crossJoin(broadcast(giant))
      .select(col("id"), (col("scc") === col("giant_scc")).as("in_core")))
    def seedFromCore = lab.select(col("id"),
      when(col("in_core"), lit(CoreSentinel)).otherwise(col("id")).as("lbl"))
    // forward propagation of the sentinel = reachable FROM core (OUT)
    val outReach = Components.minLabel(e, seedFromCore)
      .select(col("id"), (col("lbl") === CoreSentinel).as("from_core"))
    // reversed edges: reaches the core (IN)
    val inReach = Components.minLabel(
      e.select(col("dst").as("src"), col("src").as("dst")), seedFromCore)
      .select(col("id").as("iid"), (col("lbl") === CoreSentinel).as("to_core"))
    // weak components: the core's component vs everything else
    val weak = Components.connectedComponents(nodes,
      e.select(col("src").as("a_id"), col("dst").as("b_id")))
    val coreWeak = weak.join(lab.filter(col("in_core")), "id")
      .agg(min(col("lbl")).as("core_weak"))
    lab
      .join(outReach, "id")
      .join(inReach, col("id") === col("iid"))
      .join(weak, "id")
      .crossJoin(broadcast(coreWeak))
      .select(col("id"),
        when(col("in_core"), "core")
          .when(col("to_core"), "in")
          .when(col("from_core"), "out")
          .when(col("lbl") === col("core_weak"), "tendril")
          .otherwise("disconnected").as("bclass"))
  }

  val bowtieSql: String =
    s"""WITH RECURSIVE ${Tables.edgesSql},
       |nodes AS (
       |  -- explicit outer DISTINCT: inside WITH RECURSIVE, DuckDB
       |  -- treats any "a UNION b" CTE as a recursive union and the
       |  -- dedup across the two arms is lost
       |  SELECT DISTINCT id FROM (
       |    SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges)
       |), walk(src, dst) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT w.src, e.dst FROM walk w JOIN edges e ON e.src = w.dst
       |), slabels AS (
       |  SELECT a.src AS id, min(a.dst)::BIGINT AS scc_id
       |  FROM walk a JOIN walk b ON b.src = a.dst AND b.dst = a.src
       |  GROUP BY a.src
       |), giant AS (
       |  SELECT scc_id FROM slabels GROUP BY scc_id
       |  ORDER BY count(*) DESC, scc_id LIMIT 1
       |), core AS (
       |  SELECT l.id FROM slabels l JOIN giant g ON g.scc_id = l.scc_id
       |), und AS (
       |  SELECT src, dst FROM edges UNION SELECT dst, src FROM edges
       |), uwalk(id, r) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT w.id, u.dst FROM uwalk w JOIN und u ON u.src = w.r
       |), weak AS (
       |  SELECT id, min(r)::BIGINT AS lbl FROM uwalk GROUP BY id
       |), core_weak AS (
       |  SELECT min(w.lbl) AS cw FROM weak w JOIN core c ON c.id = w.id
       |)
       |SELECT n.id,
       |  CASE
       |    WHEN n.id IN (SELECT id FROM core) THEN 'core'
       |    WHEN EXISTS (SELECT 1 FROM walk w JOIN core c ON c.id = w.dst
       |                 WHERE w.src = n.id) THEN 'in'
       |    WHEN EXISTS (SELECT 1 FROM walk w JOIN core c ON c.id = w.src
       |                 WHERE w.dst = n.id) THEN 'out'
       |    WHEN (SELECT lbl FROM weak WHERE weak.id = n.id) =
       |         (SELECT cw FROM core_weak) THEN 'tendril'
       |    ELSE 'disconnected'
       |  END AS bclass
       |FROM nodes n
       |ORDER BY n.id""".stripMargin
}
