package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components by iterative min-label propagation — the
  * pairs→clusters step every near-dup pipeline needs to materialize an
  * actual deduplicated corpus (candidate pairs alone don't say which
  * copy survives).
  *
  * Shape per round: one join of the current labels with the symmetric
  * edge list (shuffle on the edge key) + one min-label groupBy (partial
  * map-side). Labels only ever decrease, so the fixpoint check is a
  * strict count of decreased labels; rounds are bounded by the cluster
  * diameter — for dedup graphs (near-cliques from LSH buckets) that's
  * 2-3 rounds, never the corpus size. Each round's labels are
  * materialized via [[Iterate.materialize]] like the [[Crawl.bfs]]
  * frontier.
  */
object Components {

  /** Propagation rounds of the most recent [[fromPairs]] /
    * [[connectedComponents]] / [[mergePairs]] call on this driver — a
    * DIAGNOSTIC read by ScaleRehearsal's incremental-vs-full
    * comparison (rounds are bounded by the iterated graph's diameter,
    * so the incremental path's contracted-delta graph should finish
    * in fewer rounds than the full graph). Driver-side,
    * last-call-wins; not part of any operator contract.
    */
  @volatile private[graft] var lastRounds: Int = 0

  /** Labels every node with the minimum node id reachable from it.
    *
    * @param nodes single-column `id` frame (every node, incl. isolated)
    * @param pairs undirected edges as `a_id`, `b_id`
    * @return (id, lbl) where lbl = min id of the component
    */
  def connectedComponents(nodes: DataFrame, pairs: DataFrame): DataFrame = {
    val sym = symmetric(pairs).persist()
    // seed with min(self, direct neighbours): one groupBy, and the
    // common dedup shape (star clusters around the min id) converges at
    // the seed — a full propagation round saved every run
    val minNbr = sym.groupBy(col("src")).agg(min(col("dst")).as("mn"))
    val seed = nodes.join(minNbr, nodes("id") === minNbr("src"), "left_outer")
      .select(nodes("id"),
        least(nodes("id"), coalesce(col("mn"), nodes("id"))).as("lbl"))
    val labels = minLabel(sym, seed)
    sym.unpersist()
    labels
  }

  /** [[connectedComponents]] restricted to nodes that appear in a pair
    * — every member IS an edge src after symmetrization, so the seed
    * groupBy already enumerates them and no separate node frame (or
    * members-distinct shuffle) is needed. The right entry point for
    * dedup survivor labeling, where the isolated majority is handled
    * by a final left join ([[Dedup.keepFrom]]), not by the iteration.
    */
  def fromPairs(pairs: DataFrame): DataFrame = {
    val sym = symmetric(pairs).persist()
    val seed = sym.groupBy(col("src")).agg(min(col("dst")).as("mn"))
      .select(col("src").as("id"), least(col("src"), col("mn")).as("lbl"))
    val labels = minLabel(sym, seed)
    sym.unpersist()
    labels
  }

  /** Incremental label maintenance — merge a BATCH of new pairs into a
    * stored fixpoint label table (`(id, lbl)`, e.g. last week's
    * `q_dedup_keep` output) without re-iterating old×old: the
    * continuation of [[graft.sources.SignatureStore.incrementalPairs]],
    * which emits exactly such a batch.
    *
    * Shape: the stored graph is already CONTRACTED by its labels (every
    * old component is one representative = its min id), so the merge
    * reduces to CC over `new pairs mapped through the stored labels` —
    * a graph bounded by 2·|batch|, never the corpus. The stored table
    * is touched by exactly two broadcast joins (endpoint lookup, label
    * rewrite): streamed, never shuffled, never iterated. Min-label
    * semantics are preserved: the min id of a merged component is the
    * min over its old components' mins and the new ids.
    */
  def mergePairs(labels: DataFrame, newPairs: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    // self-pairs carry no edge information but would leak their endpoint
    // into the new-node set below — drop them at the door
    val pairs = newPairs.select(col("a_id"), col("b_id"))
      .filter(col("a_id") =!= col("b_id")).persist()
    // endpoint → stored representative (itself if unseen). right_outer
    // with the bounded batch as build side: the stored table streams.
    val la = labels.select(col("id").as("a_id"), col("lbl").as("a_lbl"))
    val lb = labels.select(col("id").as("b_id"), col("lbl").as("b_lbl"))
    val looked = lb.join(
      broadcast(la.join(broadcast(pairs), Seq("a_id"), "right_outer")),
      Seq("b_id"), "right_outer").persist()
    val contracted = looked.select(
      coalesce(col("a_lbl"), col("a_id")).as("a_id"),
      coalesce(col("b_lbl"), col("b_id")).as("b_id"))
      .filter(col("a_id") =!= col("b_id"))
    // CC over representatives + new ids only
    val rep = fromPairs(contracted)
    // ids the store has never seen (they were their own contraction)
    val newIds = looked.select(
      when(col("a_lbl").isNull, col("a_id")).as("na"),
      when(col("b_lbl").isNull, col("b_id")).as("nb"))
    val newNodes = newIds.select(col("na").as("id")).filter(col("na").isNotNull)
      .unionAll(newIds.select(col("nb").as("id")).filter(col("nb").isNotNull))
      .distinct()
    val moved = rep.select(col("id").as("rep"), col("lbl").as("new_lbl"))
    // rewrite stored rows whose representative merged (one broadcast
    // join over the stored table), and label the new ids
    val updated = labels.join(broadcast(moved),
      labels("lbl") === col("rep"), "left_outer")
      .select(labels("id"), coalesce(col("new_lbl"), labels("lbl")).as("lbl"))
    val newLabeled = newNodes.join(moved, newNodes("id") === col("rep"), "left_outer")
      .select(newNodes("id"), coalesce(col("new_lbl"), newNodes("id")).as("lbl"))
    val out = updated.unionAll(newLabeled)
    pairs.unpersist()
    looked.unpersist()
    out
  }

  private def symmetric(pairs: DataFrame): DataFrame =
    pairs.select(col("a_id").as("src"), col("b_id").as("dst"))
      .unionAll(pairs.select(col("b_id").as("src"), col("a_id").as("dst")))

  /** Min-label rounds to fixpoint over DIRECTED `(src, dst)` edges:
    * every node of the `(id, lbl)` seed ends labeled with the min seed
    * label of any node that reaches it. Symmetric edges give connected
    * components; one direction gives [[Scc]]'s min ancestor (reversed
    * edges: min descendant) and, seeded with a sentinel, [[Bowtie]]'s
    * reachability-from-core.
    *
    * Each round is ONE job: the round frame carries the previous label
    * (`old`) alongside the new min, and the changed-label count rides
    * the materialization job as an observe() metric — no second
    * fixpoint-detection scan over the labels (which at 10^10 nodes is
    * a full pass per round saved). Records [[lastRounds]].
    */
  private[graft] def minLabel(edges: DataFrame, seed: DataFrame): DataFrame = {
    var labels = Iterate.materialize(seed.select(col("id"), col("lbl")))
    var changed = 1L
    var rounds = 0
    while (changed > 0) {
      rounds += 1
      val (next, n) = Iterate.materialize(minLabelRound(labels, edges),
        sum(when(col("old").isNull || col("lbl") < col("old"), 1L)
          .otherwise(0L)), col("id"), col("lbl"))
      labels = next
      changed = n
    }
    lastRounds = rounds
    labels
  }

  /** One [[minLabel]] round: `(id, lbl, old)`, the new min label
    * beside the previous one. Every id keeps exactly one labels row, so
    * min(old) recovers its previous label and lbl <= old: "changed" is
    * a strict decrease. A null old means the id had NO labels row (a
    * nodes frame missing a pair endpoint): its first label counts as
    * changed, or the loop could stop with unpropagated labels.
    */
  private[graft] def minLabelRound(labels: DataFrame,
    edges: DataFrame): DataFrame = {
    val viaEdges = labels.join(edges, labels("id") === edges("src"))
      .select(edges("dst").as("id"), labels("lbl").as("lbl"),
        lit(null).cast("long").as("old"))
    labels.select(col("id"), col("lbl"), col("lbl").as("old"))
      .unionAll(viaEdges)
      .groupBy(col("id"))
      .agg(min(col("lbl")).as("lbl"), min(col("old")).as("old"))
  }
}
