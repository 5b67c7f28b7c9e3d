package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Strongly connected components of the DIRECTED crawl graph — the
  * spider-trap / link-ring detector the graph family lacked: the
  * reference's crawl (NotionCrawler.crawl_page,
  * Notion_openai_vector_etl.py:480-596) walks a directed link graph,
  * and a crawl trap is a directed CYCLE — undirected CC
  * ([[Components]]) merges across link direction and calls a
  * tree a ring; reciprocity ([[GraphStats]]) sees only 2-cycles. An
  * SCC of size > 1 is exactly a set of pages that link back to each
  * other — the structure a crawler must budget-limit and a
  * link-farm screen must flag.
  *
  * Algorithm (deterministic min-pivot peeling, the FW-BW /
  * Orzan-coloring family — Fleischer–Hearn–Pillai 2000, the standard
  * parallel SCC shape): per outer round, over the still-active
  * subgraph compute for every node
  *   f(v) = min{u active : u →* v}  (min ancestor, incl. self)
  *   r(v) = min{u active : v →* u}  (min descendant, incl. self)
  * by directed min-label propagation ([[Components.minLabel]]: one
  * edge join + one min groupBy per hop, changed counts riding
  * `observe()`, every hop lineage-cut). f(v) = r(v) = m
  * certifies m →* v →* m, i.e. v ∈ SCC(m), and m is then provably
  * min(SCC): both f and r are ≤ every SCC member, and m is a member.
  * Peel every such node (label = m), shrink the active set, repeat.
  * The active global min always has f = r = itself, so ≥ 1 SCC peels
  * per round; with ids uncorrelated with topology MANY peel at once
  * (every SCC whose min ancestor and min descendant coincide), the
  * same expected-log-rounds argument as Orzan coloring.
  *
  * Scale: no transitive closure, no reach-set materialization — state
  * is one (id, label) frame per propagation, edges shuffle on their
  * key per hop exactly like [[Crawl.pageRank]]; at 10^10 nodes both
  * sides bucket by node id and the per-hop exchange is co-located.
  * Outer rounds × diameter hops of bounded jobs, every frame
  * materialized via [[Iterate.materialize]].
  *
  * The oracle needs none of the rounds: SCC labels are canonical
  * (label = min id mutually reachable), so the DuckDB mirror is the
  * mathematical definition itself — recursive-CTE reachability,
  * mutual-pair filter, min — and any correct algorithm must hash-match
  * it exactly.
  */
object Scc {

  /** Outer peeling rounds of the most recent [[scc]] call — a
    * convergence diagnostic (SccSpec asserts the fixture peels in
    * far fewer rounds than the SCC count), not an operator contract.
    */
  @volatile private[graft] var lastRounds: Int = 0

  /** Directed min-label propagation to fixpoint: for every node of
    * `nodes`, the min label reachable by walking `edges` FORWARD from
    * any node u to v accumulates at v — i.e. the min ancestor. Pass
    * reversed edges for min descendant.
    */
  private def minReach(nodes: DataFrame, edges: DataFrame): DataFrame =
    Components.minLabel(edges, nodes.select(col("id"), col("id").as("lbl")))

  /** SCC labels over a directed edge frame.
    *
    * @param nodes single-column `id` (every node, incl. isolated)
    * @param edges `src`, `dst` directed
    * @return (id, scc) — scc = min node id of the strongly connected
    *         component (singletons label themselves)
    */
  def scc(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val e0 = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst"))
    var (active, nActive) =
      Iterate.materialize(nodes.select(col("id")), count(lit(1)))
    var result: Option[DataFrame] = None
    var rounds = 0
    while (nActive > 0) {
      rounds += 1
      // induced subgraph on the active set: two semi-joins; at scale
      // both are broadcast once the survivors are small, and the
      // first round's full-size pass is the unavoidable one
      val e = Iterate.materialize(
        e0.join(active.select(col("id").as("src")), Seq("src"), "left_semi")
          .join(active.select(col("id").as("dst")), Seq("dst"), "left_semi")
          .select(col("src"), col("dst")))
      val f = minReach(active, e)
      val r = minReach(active,
        e.select(col("dst").as("src"), col("src").as("dst")))
      val joined = Iterate.materialize(
        f.select(col("id"), col("lbl").as("f"))
          .join(r.select(col("id").as("rid"), col("lbl").as("r")),
            col("id") === col("rid"))
          .select(col("id"), col("f"), col("r")))
      val peeled = joined.filter(col("f") === col("r"))
        .select(col("id"), col("f").as("scc"))
      result = Some(result.map(_.unionAll(peeled)).getOrElse(peeled))
      val (next, n) = Iterate.materialize(
        joined.filter(col("f") =!= col("r")).select(col("id")), count(lit(1)))
      active = next
      nActive = n
    }
    lastRounds = rounds
    result.map(Iterate.materialize(_))
      .getOrElse(nodes.select(col("id"), col("id").as("scc")).limit(0))
  }

  /** Condensation edges `(src, dst)` of a labeled graph: distinct
    * inter-SCC edges with endpoints contracted to their SCC labels —
    * the second piece of incremental-SCC state ([[mergeEdges]]).
    * Bounded by the number of SCC-to-SCC adjacencies, never the edge
    * count (every intra-SCC edge vanishes in the contraction).
    */
  def condensation(labels: DataFrame, edges: DataFrame): DataFrame = {
    val la = labels.select(col("id").as("src"), col("scc").as("s_lbl"))
    val lb = labels.select(col("id").as("dst"), col("scc").as("d_lbl"))
    edges.join(la, Seq("src")).join(lb, Seq("dst"))
      .select(col("s_lbl").as("src"), col("d_lbl").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
  }

  /** Incremental SCC maintenance — the directed analogue of
    * [[Components.mergePairs]], with one essential difference: an
    * added edge can close a cycle THROUGH OLD EDGES (b→a arrives
    * where a →* b already held), so the delta alone is not enough —
    * the maintained state is (labels, condensation). Contraction is
    * what makes the merge sound AND bounded: old SCCs stay strongly
    * connected under edge additions, so SCC(G ∪ E') = SCC of the
    * condensation ∪ contracted new edges, mapped back through the
    * labels — a graph bounded by the SCC count, never the corpus
    * (SccSpec asserts the composition ≡ full recompute over batch
    * schedules, and that min-label semantics survive: a merged
    * component's label is the min over its old components' labels).
    *
    * Returns the updated (labels, condensation) pair; the stored
    * label table is touched by one broadcast-joinable rewrite,
    * exactly the [[Components.mergePairs]] shape.
    */
  /** Batch-edge endpoints → stored SCC labels, with the scale shape
    * guaranteed rather than hinted. Spark's BroadcastHashJoin cannot
    * build the PRESERVED side of an outer join (right_outer supports
    * BuildLeft only), so a `broadcast(batch)` hint on the right of a
    * right_outer is silently ignored and the corpus-sized label table
    * would sort-merge-shuffle. Instead: (1) left_semi against the
    * broadcast batch key set — supported BuildRight, the stored label
    * table STREAMS past it with zero stored-side exchange — yielding
    * a batch-bounded slice; (2) bounded broadcast left_outer lookups
    * from the batch. SccSpec asserts the executed plan: broadcast
    * joins only, no sort-merge join anywhere in the lookup.
    */
  private[graft] def lookupLabels(labels: DataFrame,
    batch: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val batchKeys = batch.select(col("src").as("id"))
      .unionAll(batch.select(col("dst").as("id"))).distinct()
    val rel = Iterate.materialize(
      labels.join(broadcast(batchKeys), Seq("id"), "left_semi"))
    val la = rel.select(col("id").as("src"), col("scc").as("s_lbl"))
    val lb = rel.select(col("id").as("dst"), col("scc").as("d_lbl"))
    batch.join(broadcast(la), Seq("src"), "left_outer")
      .join(broadcast(lb), Seq("dst"), "left_outer")
  }

  def mergeEdges(labels: DataFrame, cond: DataFrame,
    newEdges: DataFrame): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions.broadcast
    // endpoint → stored SCC representative (itself if unseen):
    // [[lookupLabels]] guarantees the stored label table streams past
    // the bounded batch with zero stored-side exchange
    val batch = newEdges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst"))
    val looked = Iterate.materialize(lookupLabels(labels, batch))
    val contracted = looked
      .select(coalesce(col("s_lbl"), col("src")).as("src"),
        coalesce(col("d_lbl"), col("dst")).as("dst"))
      .filter(col("src") =!= col("dst"))
    // ids the store has never seen (their own singleton SCCs so far)
    val newIdCols = looked.select(
      when(col("s_lbl").isNull, col("src")).as("na"),
      when(col("d_lbl").isNull, col("dst")).as("nb"))
    val newIds = newIdCols.select(col("na").as("id"))
      .filter(col("na").isNotNull)
      .unionAll(newIdCols.select(col("nb").as("id"))
        .filter(col("nb").isNotNull))
      .distinct()
    val delta = Iterate.materialize(cond.unionByName(contracted).distinct())
    val nodes = delta.select(col("src").as("id"))
      .unionAll(delta.select(col("dst").as("id")))
      .unionAll(newIds).distinct()
    // SCC over representatives only — bounded by the SCC count
    val rep = scc(nodes, delta)
    val moved = rep.select(col("id").as("rep"), col("scc").as("new_scc"))
    val updated = labels.join(broadcast(moved),
      labels("scc") === col("rep"), "left_outer")
      .select(labels("id"), coalesce(col("new_scc"), labels("scc")).as("scc"))
    val newLabeled = newIds.join(broadcast(moved),
      newIds("id") === col("rep"), "left_outer")
      .select(newIds("id"), coalesce(col("new_scc"), newIds("id")).as("scc"))
    val outLabels = Iterate.materialize(updated.unionAll(newLabeled))
    // refresh the condensation under the NEW labels (the rep graph's
    // own condensation, relabeled — still SCC-count bounded)
    val outCond = Iterate.materialize(
      condensation(outLabels.select(col("id"), col("scc")),
        delta.select(col("src"), col("dst"))))
    (outLabels, outCond)
  }

  /** q_scc — SCC labels + component size over the crawl edge graph,
    * with `in_trap` marking members of a directed ring (size > 1):
    * the page set a crawl budget must treat as one trap, not
    * `scc_size` independent pages.
    */
  def sccQuery(s: SparkSession, d: String): DataFrame = {
    val e = Tables.edgesShared(s, d)
    val nodes = e.select(col("src").as("id"))
      .unionAll(e.select(col("dst").as("id"))).distinct()
    val labels = scc(nodes, e)
    val sizes = labels.groupBy(col("scc"))
      .agg(count(lit(1)).cast("long").as("scc_size"))
    labels.join(broadcast(sizes), "scc")
      .select(col("id"), col("scc").as("scc_id"), col("scc_size"),
        (col("scc_size") > 1L).as("in_trap"))
      .orderBy(col("id"))
  }

  val sccSql: String =
    s"""WITH RECURSIVE ${Tables.edgesSql},
       |nodes AS (
       |  SELECT DISTINCT src AS id FROM edges
       |  UNION SELECT DISTINCT dst FROM edges
       |), walk(src, dst) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT w.src, e.dst FROM walk w JOIN edges e ON e.src = w.dst
       |), labels AS (
       |  SELECT a.src AS id, min(a.dst)::BIGINT AS scc_id
       |  FROM walk a JOIN walk b ON b.src = a.dst AND b.dst = a.src
       |  GROUP BY a.src
       |), sizes AS (
       |  SELECT scc_id, count(*)::BIGINT AS scc_size
       |  FROM labels GROUP BY scc_id
       |)
       |SELECT l.id, l.scc_id, s.scc_size, s.scc_size > 1 AS in_trap
       |FROM labels l JOIN sizes s ON s.scc_id = l.scc_id
       |ORDER BY l.id""".stripMargin
}
