package graft.operators

import graft.functions.NearestCentroidsExpr
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType}
import org.apache.spark.storage.StorageLevel
import scala.collection.immutable.ArraySeq
import scala.collection.mutable

/** Deterministic Lloyd k-means over an `embedding: array<float>`
  * column — trains the coarse quantizer for [[Ann.ivfTrained]]
  * (replacing the fixed modulo-sampled centroids of [[Ann.ivf]]).
  *
  * ONE Lloyd loop ([[fitParts]]) trains both this flat quantizer and
  * [[PQ.fitFrame]]'s m subspace codebooks; the routed trainers reuse
  * its rounds and recentering with a routed assignment.
  *
  * Iteration shape at scale: assignment ships k centroids to the tasks
  * and makes one shuffle-free pass over the vectors; the re-centering
  * groupBy shuffles (cent_id, dim) pairs — k·dim groups, partial-
  * aggregated map-side. Each round's centroids are materialized
  * ([[Iterate.materialize]]): k rows, cuts the iterative lineage
  * exactly like [[Crawl.bfs]] does for its frontier. Vectors that fit
  * [[Iterate]]'s size rule at their real width are collected once and
  * [[fit]] / [[PQ.fitFrame]] run every round on the driver instead,
  * with the same arithmetic; the routed [[lloydLeaves]] stays
  * distributed.
  *
  * Determinism: init = the k lowest vec_ids; ties in assignment break
  * on lowest cent_id; means are exact double sums in dim order.
  */
object KMeansVec {

  /** Cosine-based assignment of each vector to its nearest centroid —
    * a per-row [[graft.functions.NearestCentroids]] argmax with the
    * centroid matrix shipped as a task reference object: zero shuffle,
    * zero sort (the crossJoin+Window form this replaces exchanged
    * |V|×k rows per Lloyd round to compute a per-row reduction).
    */
  def assign(e: DataFrame, cents: DataFrame): DataFrame =
    e.withColumn("nc",
      graft.functions.NearestCentroids.fromFrame(col("embedding"), cents, 1))
      .select(element_at(col("nc"), 1).getField("cent_id").as("cent_id"),
        col("vec_id"), col("embedding"), col("nrm"))

  private def withNorm(df: DataFrame): DataFrame =
    df.withColumn("nrm", Ann.norm(col("embedding")))

  /** Runs `body` over `df` cached, and drops only a cache entry it
    * created: Spark keys cache entries by plan, so unpersisting a plan
    * the caller had already cached would drop the caller's entry. Two
    * chains that run at once and both find the plan uncached would
    * share one entry that the first to finish drops under the other, so
    * a caller that runs fits concurrently caches their input itself
    * first ([[Ann.trainIvfPq]]).
    */
  private[operators] def cached[T](df: DataFrame)(body: DataFrame => T): T = {
    val owned = df.storageLevel == StorageLevel.NONE
    if (owned) df.persist()
    try body(df)
    finally if (owned) df.unpersist()
  }

  /** One Lloyd recentering over assigned `(keys…, cent_id, embedding)`
    * rows: per-centroid means dim by dim — posexplode + one
    * `(keys…, cent_id, dim)` partial-agg groupBy, reassembled in dim
    * order — normalized and materialized as the next
    * `(keys…, cent_id, c_emb, c_nrm)` centroids.
    */
  private def recenter(assigned: DataFrame, keys: Seq[String]): DataFrame =
    Iterate.materialize(recentered(assigned, keys))

  /** [[recenter]]'s plan, unmaterialized. */
  private def recentered(assigned: DataFrame, keys: Seq[String]): DataFrame = {
    val g = keys.map(col) :+ col("cent_id")
    assigned
      .select(g :+ posexplode(col("embedding")).as(Seq("dim", "v")): _*)
      .groupBy(g :+ col("dim"): _*)
      .agg(avg(col("v").cast("double")).as("m"))
      .groupBy(g: _*)
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("m")))),
        s => s("m").cast("float")).as("c_emb"))
      .withColumn("c_nrm", Ann.norm(col("c_emb")))
  }

  /** `iters` Lloyd rounds from `init`: each round recenters the rows
    * `assigned(cents)` labels with their nearest centroid.
    */
  private def lloyd(init: DataFrame, iters: Int, keys: Seq[String])(
    assigned: DataFrame => DataFrame): DataFrame =
    (1 to iters).foldLeft(init)((cents, _) => recenter(assigned(cents), keys))

  /** `iters` Lloyd rounds from a deterministic init; returns
    * (cent_id, c_emb, c_nrm) ([[fitParts]]).
    */
  def fit(vectors: DataFrame, k: Int, iters: Int): DataFrame =
    fitParts(vectors, k, iters, Seq(col("embedding")), keyed = false)

  /** The one Lloyd chain behind [[fit]] and [[PQ.fitFrame]]: every
    * `parts` view of the embedding (the whole vector for flat k-means,
    * the m subspace slices for PQ) trains its own k centroids, all in
    * one chain. `keyed` tags each centroid with its part index as
    * `sub`. Returns the `([sub,] cent_id, c_emb, c_nrm)` frame.
    *  - init: the k lowest vec_ids, shared by every part.
    *  - each round: one [[graft.functions.NearestCentroids]] argmax per
    *    part (centroids sorted by cent_id, as `fromFrame` does), and
    *    one recentering of all parts: per-dim double means cast to
    *    float, normalized.
    *
    * When the vectors fit [[Iterate]]'s size rule at their real width
    * ([[heldVectors]]: one collect) the rounds run on the driver
    * ([[lloydOnDriver]]) and the result is a local relation with the
    * distributed result's schema. Otherwise every round is distributed
    * and materialized:
    *  - init ids come back via TakeOrdered (partial top-k per
    *    partition, never a full sort) and the k-row rank map is built
    *    driver-side and broadcast back — a k-long bounded-statistic
    *    collect, not an unpartitioned row_number window.
    *  - each round: ONE centroid collect feeds the per-part argmaxes,
    *    and ONE [[recenter]] covers all parts.
    */
  private[operators] def fitParts(vectors: DataFrame, k: Int, iters: Int,
    parts: Seq[Column], keyed: Boolean): DataFrame = {
    val spark = vectors.sparkSession
    val keys = if (keyed) Seq("sub") else Nil
    val in = vectors.select(col("vec_id"), col("embedding"))
    // one `(keys…, cent_id, embedding)` row per (vector, part): part
    // j's slice labeled with `cid(j)`
    def perPart(df: DataFrame, cid: Int => Column): DataFrame =
      df.select(explode(array(parts.zipWithIndex.map { case (p, j) =>
        struct(lit(j).as("sub"), cid(j).as("cent_id"), p.as("embedding"))
      }: _*)).as("x"))
        .select(keys.map(c => col(s"x.$c")) ++
          Seq(col("x.cent_id"), col("x.embedding")): _*)
    // the init centroids: the vectors `ids` name, `ids(i)` as cent_id i + 1
    def initFrame(df: DataFrame, ids: Seq[Long]): DataFrame = {
      val idMap = spark.createDataFrame(
        ids.zipWithIndex.map { case (v, i) => (v, (i + 1).toLong) })
        .toDF("vec_id", "cent_id")
      perPart(df.join(broadcast(idMap), "vec_id"), _ => col("cent_id"))
        .select(keys.map(col) ++ Seq(col("cent_id"),
          col("embedding").as("c_emb"), Ann.norm(col("embedding")).as("c_nrm")): _*)
    }
    // part j's nearest of `cs`, its centroids sorted by cent_id
    def nearest(j: Int, cs: Seq[Cent]): Column = {
      val rj = cs.sortBy(_.id)
      element_at(graft.functions.NearestCentroids(parts(j), rj.map(_.id).toArray,
        rj.map(_.emb).toArray, rj.map(_.nrm).toArray, 1), 1).getField("cent_id")
    }
    heldVectors(in, parts) match {
      case Some(held) =>
        // the distributed result's schema, from its plan: no job
        val shape = if (iters == 0) initFrame(in, Nil)
          else recentered(perPart(in, j => nearest(j, Nil)), keys)
        val rows = lloydOnDriver(held, k, iters, parts.size).map { c =>
          val r = Seq(c.id, ArraySeq.unsafeWrapArray(c.emb), c.nrm)
          Row.fromSeq(if (keyed) c.sub +: r else r)
        }
        Iterate.local(spark, rows, shape.schema)
      case None =>
        cached(in) { e =>
          val initIds = e.orderBy(col("vec_id")).limit(k)
            .select(col("vec_id")).collect().map(_.getLong(0)).sorted
          val init = Iterate.materialize(initFrame(e, initIds.toIndexedSeq))
          lloyd(init, iters, keys) { cents =>
            val cs = cents.collect().map(r => Cent(if (keyed) r.getAs[Int]("sub") else 0,
              r.getAs[Long]("cent_id"), r.getSeq[Float](r.fieldIndex("c_emb")).toArray,
              r.getAs[Double]("c_nrm"))).toSeq
            perPart(e, j => nearest(j, cs.filter(_.sub == j)))
          }
        }
    }
  }

  /** A centroid of part `sub`. */
  private final case class Cent(sub: Int, id: Long, emb: Array[Float], nrm: Double)

  /** `in`'s `(vec_id, parts…)` rows on the driver, each part as a
    * compact float array, or None when they would not fit [[Iterate]]'s
    * size rule counted at their real width — n × (8 + 4 × floats)
    * bytes, where Spark's row estimate counts an array as one element —
    * or when an id repeats or is null, a part is null, holds a null or
    * is not `array<float>`, or a part's length varies. One job.
    */
  private def heldVectors(in: DataFrame,
    parts: Seq[Column]): Option[Array[(Long, Array[ArrayData])]] = {
    val m = parts.size
    val cols = in.select(col("vec_id") +: parts.zipWithIndex.map {
      case (p, j) => p.as(s"p$j") }: _*)
    val budget = Iterate.maxBytes(in)
    val typed = cols.schema.head.dataType == LongType && cols.schema.tail.forall(
      _.dataType match { case ArrayType(FloatType, _) => true; case _ => false })
    if (budget < 0 || !typed || !Iterate.fitsDriver(in)) return None
    val rows = cols.rdd.map { r =>
      val ok = (0 to m).forall(!r.isNullAt(_)) &&
        (1 to m).forall(i => !r.getSeq[Any](i).contains(null))
      (if (ok) r.getLong(0) else 0L,
        if (ok) Array.tabulate(m)(j => r.getSeq[Float](j + 1).toArray) else null)
    }
    Iterate.takeWithin(rows, budget)(r =>
      if (r._2 == null) Long.MaxValue else 8L + 4L * r._2.iterator.map(_.length.toLong).sum)
      .filter(rs => rs.iterator.map(_._1).distinct.size == rs.length &&
        (0 until m).forall(j => rs.iterator.map(_._2(j).length).distinct.size <= 1))
      .map(_.map { case (id, ps) =>
        (id, ps.map(p => UnsafeArrayData.fromPrimitiveArray(p): ArrayData)) })
  }

  /** [[fitParts]]' init and `iters` rounds over held rows, in the
    * distributed rounds' arithmetic: assignment is
    * [[graft.functions.NearestCentroidsExpr]]'s own evaluation, and a
    * new centroid is each dim's double mean cast to float, summed in
    * row order (the collect's order, which a one-partition input's
    * aggregation also follows). A centroid no row is assigned to is
    * dropped, as the groupBy drops it. Centroids sorted by part, id.
    */
  private def lloydOnDriver(held: Array[(Long, Array[ArrayData])], k: Int,
    iters: Int, m: Int): Seq[Cent] = {
    def cent(j: Int, id: Long, emb: Array[Float]): Cent =
      Cent(j, id, emb, math.sqrt(PQ.dot(emb, emb)))
    val init = held.sortBy(_._1).take(k).zipWithIndex.toSeq.flatMap {
      case ((_, ps), i) => (0 until m).map(j => cent(j, i + 1L, ps(j).toFloatArray))
    }
    val arg = BoundReference(0, ArrayType(FloatType, containsNull = false), nullable = false)
    (1 to iters).foldLeft(init) { (cents, _) =>
      val nearest = (0 until m).map { j =>
        val cs = cents.filter(_.sub == j).sortBy(_.id)
        NearestCentroidsExpr(arg, cs.map(_.id).toArray, cs.map(_.emb).toArray,
          cs.map(_.nrm).toArray, 1)
      }
      // a part's length is the same in every row: one count per centroid
      val sums = mutable.HashMap.empty[(Int, Long), Array[Double]]
      val counts = mutable.HashMap.empty[(Int, Long), Long].withDefaultValue(0L)
      for ((_, ps) <- held; j <- 0 until m) {
        val p = ps(j)
        val nc = nearest(j).eval(InternalRow(p)).asInstanceOf[ArrayData]
        if (nc.numElements() > 0) {
          val key = (j, nc.getStruct(0, 2).getLong(0))
          val sum = sums.getOrElseUpdate(key, new Array[Double](p.numElements()))
          for (d <- sum.indices) sum(d) += p.getFloat(d).toDouble
          counts(key) += 1
        }
      }
      sums.toSeq.collect { case (key @ (j, id), sum) if sum.nonEmpty =>
        cent(j, id, sum.map(x => (x / counts(key)).toFloat))
      }
    }.sortBy(c => (c.sub, c.id))
  }

  /** Two-level ROUTED coarse quantizer: [[fit]] trains `kTop` top
    * cells, then one GROUPED Lloyd pass trains `kSub` leaves inside
    * every cell simultaneously — assignment is the
    * [[graft.functions.RoutedNearest]] per-row argmax restricted to
    * the row's own top cell (kSub dots, broadcast leaf matrix),
    * recentering is the same leaf-id groupBy [[fit]] uses — so the
    * whole sub-level trains in `iters` jobs, not kTop·iters. Leaf ids
    * are `(top_id−1)·kSub + rank` (1-based both levels): the top cell
    * of any leaf is arithmetic, never a lookup table. Returns
    * (topCents, leafCents), both `(cent_id, c_emb, c_nrm)`.
    *
    * Why routing at all: flat assignment does nlist dot products per
    * row with the centroid matrix serialized into every task; past a
    * few thousand lists both stop scaling. Routed assignment is
    * kTop + kSub dots per row, and the leaf matrix rides a real
    * `Broadcast` (once per executor).
    */
  def fitRouted(vectors: DataFrame, kTop: Int, kSub: Int,
    iters: Int): (DataFrame, DataFrame) =
    fitTwoLevel(vectors, kTop, kSub, iters)(routed => (routed, lit(kSub)))

  /** BALANCE-AWARE two-level quantizer: [[fitRouted]] with the leaf
    * budget allocated to top cells IN PROPORTION TO THEIR MASS instead
    * of uniformly. Uniform kSub assumes top cells are near-equal; a
    * skewed corpus (one dominant domain/language/near-dup family)
    * concentrates most rows in a few hot cells, whose lists then grow
    * toward mass/kSub while cold cells waste leaves on a handful of
    * rows. Allocating `k_c ≈ leafBudget·mass_c/n` (clamped to
    * [1, kSubMax] and to the cell's row count) pins every cell's
    * EXPECTED list size near n/leafBudget regardless of skew — the
    * per-cell count is a data statistic, so allocation is one kTop-row
    * aggregate collected driver-side (the same k-sized collect the
    * centroid broadcast already does).
    *
    * Leaf ids stay on the `(top_id−1)·kSubMax + rank` grid, so the
    * top cell of any leaf remains arithmetic and every downstream
    * consumer ([[graft.functions.RoutedNearest]] grouping, IndexStore
    * list layout, append/search routing) works unchanged with
    * `kSub = kSubMax`; cells simply own ≤ kSubMax live leaves. Returns
    * (topCents, leafCents).
    */
  def fitRoutedBalanced(vectors: DataFrame, kTop: Int, kSubMax: Int,
    leafBudget: Int, iters: Int): (DataFrame, DataFrame) =
    fitTwoLevel(vectors, kTop, kSubMax, iters) { routed =>
      val cnts = routed.groupBy(col("top_id")).count().collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val alloc = vectors.sparkSession.createDataFrame(
        allocateLeaves(cnts, kSubMax, leafBudget).toSeq).toDF("top_id", "k_c")
      (routed.join(broadcast(alloc), "top_id"), col("k_c"))
    }

  /** The routed trainer behind [[fitRouted]] and [[fitRoutedBalanced]]:
    * fit the top cells, route every row to one, seed each cell's
    * leaves with its lowest vec_ids ([[fit]]'s init rule, per group)
    * up to the per-cell leaf cap `caps` returns for the routed rows,
    * and train all leaves on the `grid` layout with [[lloydLeaves]].
    */
  private def fitTwoLevel(vectors: DataFrame, kTop: Int, grid: Int,
    iters: Int)(caps: DataFrame => (DataFrame, Column)): (DataFrame, DataFrame) =
    cached(withNorm(vectors.select(col("vec_id"), col("embedding")))) { e =>
      val top = fit(vectors, kTop, iters)
      cached(assign(e, top).select(col("cent_id").as("top_id"), col("vec_id"),
        col("embedding"), col("nrm"))) { routed =>
        val (capped, cap) = caps(routed)
        val wInit = Window.partitionBy(col("top_id")).orderBy(col("vec_id"))
        val init = Iterate.materialize(
          capped.withColumn("rn", row_number().over(wInit).cast("long"))
            .filter(col("rn") <= cap)
            .select(((col("top_id") - 1) * grid + col("rn")).as("cent_id"),
              col("embedding").as("c_emb"), col("nrm").as("c_nrm")))
        (top, lloydLeaves(routed, init, kTop, grid, iters))
      }
    }

  /** Capped highest-averages leaf allocation: every live cell starts
    * at one leaf, then each remaining unit of budget goes to the cell
    * with the highest mass-per-leaf-so-far among cells still under
    * their cap (min(kSubMax, cell rows)) — the greedy that directly
    * minimizes the worst expected list size, and unlike one-shot
    * proportional rounding it RE-SPENDS budget a capped hot cell
    * can't absorb instead of stranding it. Driver-side over ≤ kTop
    * cells (the same k-sized statistic the centroid broadcast ships).
    */
  private[graft] def allocateLeaves(cellMass: Array[(Long, Long)],
    kSubMax: Int, leafBudget: Int): Array[(Long, Long)] = {
    val cap = cellMass.map { case (id, c) =>
      id -> math.max(1L, math.min(kSubMax.toLong, c))
    }.toMap
    val alloc = scala.collection.mutable.Map(cellMass.map(_._1 -> 1L): _*)
    val mass = cellMass.toMap
    var left = leafBudget - cellMass.length
    val pq = scala.collection.mutable.PriorityQueue.empty[(Double, Long)](
      Ordering.by(x => (x._1, -x._2))) // mass/leaf desc, low id tie-break
    cellMass.foreach { case (id, c) =>
      if (alloc(id) < cap(id)) pq.enqueue((c / 2.0, id))
    }
    while (left > 0 && pq.nonEmpty) {
      val (_, id) = pq.dequeue()
      alloc(id) += 1
      left -= 1
      if (alloc(id) < cap(id))
        pq.enqueue((mass(id).toDouble / (alloc(id) + 1), id))
    }
    alloc.toArray.sortBy(_._1)
  }

  /** The grouped Lloyd pass of [[fitTwoLevel]]: the same [[lloyd]]
    * rounds and recentering as [[fit]], with every cell's leaves
    * recentering simultaneously — assignment is the broadcast-backed
    * routed argmax (each row considers only its own top cell's leaves
    * on the `grid` layout) — so the whole sub-level trains in `iters`
    * jobs, not kTop·iters.
    */
  private def lloydLeaves(routed: DataFrame, init: DataFrame, kTop: Int,
    grid: Int, iters: Int): DataFrame = {
    val bcs = scala.collection.mutable.ArrayBuffer.empty[
      org.apache.spark.broadcast.Broadcast[graft.functions.RoutedCents]]
    val leaves = lloyd(init, iters, Nil) { cents =>
      bcs += graft.functions.RoutedNearest.broadcastFrom(cents, kTop, grid)
      assignRouted(routed, bcs.last)
    }
    bcs.foreach(_.unpersist(blocking = false))
    leaves
  }

  /** Nearest-leaf assignment of rows already routed to a `top_id`:
    * `(cent_id, vec_id, embedding, nrm)` like [[assign]], with the
    * grouped leaf matrix as a broadcast.
    */
  def assignRouted(routed: DataFrame,
    bc: org.apache.spark.broadcast.Broadcast[graft.functions.RoutedCents]):
      DataFrame =
    routed.withColumn("nc", graft.functions.RoutedNearest(
      array(col("top_id")), col("embedding"), bc, 1))
      .select(element_at(col("nc"), 1).getField("cent_id").as("cent_id"),
        col("vec_id"), col("embedding"), col("nrm"))
}
