package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

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
  * 2-3 rounds, never the corpus size. While the edges and the seed fit
  * [[Iterate]]'s size rule the same rounds run on the driver over one
  * collect of each; past it each round's labels are materialized via
  * [[Iterate.materialize]] like the [[Crawl.bfs]] frontier.
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
    val sym = symmetric(pairs)
    val seed = sym.groupBy(col("src")).agg(min(col("dst")).as("mn"))
      .select(col("src").as("id"), least(col("src"), col("mn")).as("lbl"))
    // on the driver the pairs alone are held: the seed is derived from them
    val t = pairs.schema("a_id").dataType
    Option.when(Iterate.exactEq(t) && pairs.schema("b_id").dataType == t)(())
      .flatMap(_ => Iterate.collectIfFits(pairs.select(col("a_id"), col("b_id"))))
      .flatMap(pairsOf)
      .map(ps => labelsOf(seed, sym, ccOnDriver(ps.toSeq, Iterate.order(t))))
      .getOrElse {
        sym.persist()
        val labels = rounds(seed, sym)
        sym.unpersist()
        labels
      }
  }

  /** [[fromPairs]] over pairs held on the driver: the same seed (each
    * endpoint labeled with the least of itself and its neighbours) and
    * the same rounds ([[fixpoint]]) over the symmetric edges.
    */
  private def ccOnDriver(pairs: Seq[(Any, Any)], ord: Ordering[Any]): collection.Map[Any, Any] = {
    val sym = pairs ++ pairs.map(_.swap)
    val seed = sym.groupMapReduce(_._1)(_._2)(ord.min).iterator
      .map { case (id, mn) => (id, ord.min(id, mn)) }
    fixpoint(sym, seed, ord)
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
    * a graph bounded by 2·|batch|, never the corpus. Min-label
    * semantics are preserved: the min id of a merged component is the
    * min over its old components' mins and the new ids.
    *
    * While the batch fits [[Iterate]]'s size rule it is collected, its
    * endpoints' stored labels come back from one `isin`-filtered scan
    * of the stored table, and the contracted CC runs on the driver
    * ([[mergeOnDriver]]). Past it the endpoint lookup is two broadcast
    * joins and the contracted CC is [[fromPairs]]. Either way the
    * stored table is then touched once more, by the broadcast label
    * rewrite ([[relabel]]): streamed, never shuffled, never iterated.
    */
  def mergePairs(labels: DataFrame, newPairs: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    // self-pairs carry no edge information but would leak their endpoint
    // into the new-node set below — drop them at the door
    val pairs = newPairs.select(col("a_id"), col("b_id"))
      .filter(col("a_id") =!= col("b_id"))
    mergeOnDriver(labels, pairs).getOrElse {
      // endpoint → stored representative (itself if unseen). right_outer
      // with the bounded batch as build side: the stored table streams.
      // The cut lives as long as the returned frame, which reads it.
      val la = labels.select(col("id").as("a_id"), col("lbl").as("a_lbl"))
      val lb = labels.select(col("id").as("b_id"), col("lbl").as("b_lbl"))
      val looked = Iterate.materialize(lb.join(
        broadcast(la.join(broadcast(pairs), Seq("a_id"), "right_outer")),
        Seq("b_id"), "right_outer"))
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
      val newLabeled = newNodes.join(moved, newNodes("id") === col("rep"), "left_outer")
        .select(newNodes("id"), coalesce(col("new_lbl"), newNodes("id")).as("lbl"))
      relabel(labels, moved).unionAll(newLabeled)
    }
  }

  /** Stored rows whose representative merged take its new label: one
    * broadcast join of the bounded `(rep, new_lbl)` frame over the
    * stored table.
    */
  private[graft] def relabel(labels: DataFrame, moved: DataFrame): DataFrame =
    labels.join(broadcast(moved), labels("lbl") === col("rep"), "left_outer")
      .select(labels("id"), coalesce(col("new_lbl"), labels("lbl")).as("lbl"))

  /** [[mergePairs]] with the batch on the driver, or None — after at
    * most its two collects — when the batch or its stored labels would
    * not fit [[Iterate]]'s size rule, or hold a null or a type the
    * driver does not compare as Spark does. The moved representatives
    * and the labeled new ids are local relations; the result has the
    * distributed merge's schema.
    */
  private def mergeOnDriver(labels: DataFrame, pairs: DataFrame): Option[DataFrame] = {
    val t = labels.schema("id").dataType
    val types = Seq(labels.schema("lbl"), pairs.schema("a_id"), pairs.schema("b_id"))
    if (!Iterate.exactEq(t) || types.exists(_.dataType != t)) return None
    for {
      ps <- Iterate.collectIfFits(pairs).flatMap(pairsOf)
      ends = ps.iterator.flatMap(p => Iterator(p._1, p._2)).toSeq.distinct
      stored <- (if (ends.isEmpty) Some(Array.empty[(Any, Any)])
        else Iterate.collectIfFits(labels.filter(col("id").isin(ends: _*))
          .select(col("id"), col("lbl"))).flatMap(pairsOf))
    } yield {
      // an endpoint maps to each of its stored labels (one, for a
      // well-formed table), or to itself when the store never saw it
      val looked = stored.groupMap(_._1)(_._2)
      def reps(x: Any): Seq[Any] = looked.get(x).fold(Seq(x))(_.toSeq)
      val contracted = for ((a, b) <- ps.toSeq; ra <- reps(a); rb <- reps(b)
        if ra != rb) yield (ra, rb)
      val rep = ccOnDriver(contracted, Iterate.order(t))
      def local(rows: Iterable[(Any, Any)], a: String, b: String) =
        Iterate.local(labels.sparkSession, rows.map { case (x, y) => Row(x, y) }.toSeq,
          StructType(Seq(StructField(a, t), StructField(b, t))))
      val moved = rep.filter { case (id, l) => id != l }
      val newLabeled = ends.filterNot(looked.contains).map(x => (x, rep.getOrElse(x, x)))
      relabel(labels, local(moved, "rep", "new_lbl"))
        .unionAll(local(newLabeled, "id", "lbl"))
    }
  }

  /** Collected two-column rows as pairs; None when one holds a null. */
  private def pairsOf(rows: Array[Row]): Option[Array[(Any, Any)]] =
    Option.when(!rows.exists(r => r.isNullAt(0) || r.isNullAt(1)))(
      rows.map(r => (r.get(0), r.get(1))))

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
    * When the edges and the seed collect together (one job) within
    * [[Iterate]]'s size rule, with no null and one [[Iterate.exactEq]]
    * type for `src`, `dst`, `id` and `lbl`, the rounds run on the
    * driver ([[fixpoint]]) and the result is a local relation with the
    * distributed result's schema. Otherwise each round is ONE job: the
    * round frame carries the previous label (`old`) alongside the new
    * min, and the changed-label count rides the materialization job as
    * an observe() metric — no second fixpoint-detection scan over the
    * labels (which at 10^10 nodes is a full pass per round saved).
    * Either way the rounds, and [[lastRounds]], are the same.
    */
  private[graft] def minLabel(edges: DataFrame, seed: DataFrame): DataFrame = {
    val s = seed.select(col("id"), col("lbl"))
    val e = edges.select(col("src"), col("dst"))
    val t = s.schema("id").dataType
    val held = Option.when(Iterate.exactEq(t) &&
      (s.schema ++ e.schema).forall(_.dataType == t))(())
      .flatMap(_ => Iterate.collectIfFits(e.withColumn("edge", lit(true))
        .unionAll(s.withColumn("edge", lit(false)))))
      .flatMap { rows =>
        val (es, ss) = rows.partition(_.getBoolean(2))
        pairsOf(es).zip(pairsOf(ss))
      }
    held match {
      case Some((es, ss)) => labelsOf(s, e, fixpoint(es, ss.iterator, Iterate.order(t)))
      case None => rounds(s, e)
    }
  }

  /** Driver-computed labels as a local relation with the schema of
    * [[minLabel]]'s distributed result over `seed` and `edges`, planned
    * over empty frames of their schemas: no lineage shared with the
    * inputs, no job.
    */
  private def labelsOf(seed: DataFrame, edges: DataFrame,
    labels: collection.Map[Any, Any]): DataFrame = {
    val spark = seed.sparkSession
    def empty(df: DataFrame) = spark.createDataFrame(List.empty[Row].asJava, df.schema)
    Iterate.local(spark, labels.iterator.map { case (id, l) => Row(id, l) }.toSeq,
      minLabelRound(empty(seed.select(col("id"), col("lbl"))),
        empty(edges.select(col("src"), col("dst")))).select(col("id"), col("lbl")).schema)
  }

  /** [[minLabel]]'s distributed loop: one materialized round per job
    * until no label decreases. Records [[lastRounds]].
    */
  private def rounds(seed: DataFrame, edges: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    var labels = Iterate.materialize(seed.select(col("id"), col("lbl")))
    var changed = 1L
    var n = 0
    while (changed > 0) {
      n += 1
      val (next, c) = Iterate.materialize(minLabelRound(labels, e),
        sum(when(col("old").isNull || col("lbl") < col("old"), 1L)
          .otherwise(0L)), col("id"), col("lbl"))
      labels = next
      changed = c
    }
    lastRounds = n
    labels
  }

  /** [[minLabelRound]]s on the driver until no label changes: each
    * round every id takes the min of its label and the labels of its
    * in-edges' sources, all read from the previous round; an id with
    * no label yet takes its in-edges' min and counts as changed.
    * Records [[lastRounds]].
    */
  private def fixpoint(edges: Iterable[(Any, Any)], seed: Iterator[(Any, Any)],
    ord: Ordering[Any]): collection.Map[Any, Any] = {
    def lower(m: mutable.Map[Any, Any], id: Any, l: Any): Unit =
      m.updateWith(id)(o => Some(o.fold(l)(ord.min(_, l))))
    val labels = mutable.HashMap.empty[Any, Any]
    seed.foreach { case (id, l) => lower(labels, id, l) }
    val out = edges.groupMap(_._1)(_._2)
    var changed = 1
    var rounds = 0
    while (changed > 0) {
      rounds += 1
      val via = mutable.HashMap.empty[Any, Any]
      for ((id, l) <- labels; d <- out.getOrElse(id, Nil)) lower(via, d, l)
      changed = 0
      for ((d, l) <- via if labels.get(d).forall(ord.lt(l, _))) {
        labels(d) = l
        changed += 1
      }
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
