package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization — the memory side of a production ANN index
  * (IVF-PQ): the d-dim embedding space is split into `m` subspaces of
  * d/m dims, each with its own k-centroid codebook, and a vector is
  * stored as `m` small codes instead of `d` floats (m·log2(k) bits —
  * 64 floats → 8 bytes at m=8, k=256). The
  * coarse IVF quantizer prunes WHICH vectors to score;
  * PQ compresses WHAT is resident to score them with.
  *
  * Scale shape: training is [[KMeansVec]]'s one Lloyd loop with the m
  * slices as its parts — one job chain, each assignment pass
  * shuffle-free ([[fitFrame]]); encoding is m chained
  * [[graft.functions.NearestCentroids]] per-row argmaxes over the
  * sliced embedding — one narrow pass over the corpus, zero
  * shuffle; decoding is m broadcast joins against k-row codebooks.
  * Nothing but the corpus scan grows with the data.
  *
  * Determinism: inherits [[KMeansVec]]'s deterministic init/ties, so
  * fit → encode → decode is reproducible run to run.
  */
object PQ {

  /** Per-subspace codebooks for `(vec_id, embedding)` vectors of
    * dimension `dim`. Returns `m` frames of (cent_id, c_emb, c_nrm) —
    * thin slices of the ONE fused frame [[fitFrame]] trains (each is a
    * filter over the same materialized result, so consuming all m costs
    * one training chain, not m).
    */
  def fit(vectors: DataFrame, dim: Int, m: Int, k: Int,
    iters: Int = 3): Seq[DataFrame] = {
    val books = fitFrame(vectors, dim, m, k, iters)
    (0 until m).map(j => books.filter(col("sub") === j)
      .select(col("cent_id"), col("c_emb"), col("c_nrm")))
  }

  /** All m subspace Lloyd chains FUSED into one grouped iteration:
    * the m subspace slices are the parts of [[KMeansVec]]'s one Lloyd
    * loop. The m quantizers are mathematically independent, but
    * running them as m separate [[KMeansVec.fit]] chains paid m× the
    * per-round driver actions (each round = a k-row centroid collect +
    * a checkpoint materialization), ~8× the jobs of the work's true
    * depth — pure scheduling overhead at any scale, and the dominant
    * cost of [[graft.sources.IndexStore.build]].
    *
    * Returns ONE materialized frame `(sub, cent_id, c_emb, c_nrm)`.
    * Per-subspace values are IDENTICAL to the sequential per-subspace
    * [[KMeansVec.fit]] (parity-asserted in PQSpec): every subspace sees
    * all vec_ids, so the init id set is shared; assignment is the same
    * [[graft.functions.NearestCentroids]] argmax per slice; and the
    * (sub, cent_id, dim) groupBy feeds each (cent_id, dim) group the
    * same value multiset the sequential per-subspace groupBy folded.
    */
  def fitFrame(vectors: DataFrame, dim: Int, m: Int, k: Int,
    iters: Int = 3): DataFrame = {
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m
    KMeansVec.fitParts(vectors, k, iters,
      (0 until m).map(j => slice(col("embedding"), j * sub + 1, sub)),
      keyed = true)
  }

  /** One collect of a `(sub, cent_id, c_emb)` codebook frame — a
    * [[fitFrame]] result or the stored table — as per-subspace
    * `(cent_id, c_emb)` rows: the one driver-side form that
    * [[collectBooksFromRows]] and [[encodeFromRows]] read.
    */
  def collectRows(books: DataFrame): Seq[Seq[(Long, Array[Float])]] = {
    val rows = books.select(col("sub"), col("cent_id"), col("c_emb")).collect()
    val m = rows.iterator.map(_.getInt(0)).max + 1
    (0 until m).map { j =>
      rows.filter(_.getInt(0) == j)
        .map(r => r.getLong(1) -> r.getSeq[Float](2).toArray).toSeq
    }
  }

  /** `(vec_id[, passthrough...], codes: array<long>)` — code j is the
    * nearest subspace-j centroid of the vector's j-th slice
    * ([[encodeFromRows]] over the m codebook frames, tagged with their
    * `sub` and collected in one job).
    */
  def encode(vectors: DataFrame, codebooks: Seq[DataFrame], dim: Int,
    passthrough: Seq[String] = Nil): DataFrame =
    encodeFromRows(vectors, collectRows(codebooks.zipWithIndex
      .map { case (b, j) => b.select(lit(j).as("sub"), col("cent_id"), col("c_emb")) }
      .reduce(_ unionAll _)), dim, passthrough)

  /** [[encode]] from already-collected `(cent_id, c_emb)` codebook
    * rows, one per subspace. One narrow pass, no shuffle;
    * `passthrough` columns (e.g. the coarse IVF list id) ride the same
    * pass, which is how a production index build writes list
    * assignment + codes together instead of paying an id-shuffle join
    * to recombine them. Rows are sorted by cent_id and norms recomputed
    * with the same ascending-index double fold as
    * [[graft.operators.Ann.norm]] ([[graft.functions.VecDot]] order),
    * so the [[graft.functions.NearestCentroids]] expression is
    * value-identical to one built from the fitted frame.
    */
  def encodeFromRows(vectors: DataFrame, perSub: Seq[Seq[(Long, Array[Float])]],
    dim: Int, passthrough: Seq[String] = Nil): DataFrame = {
    val m = perSub.size
    val sub = dim / m
    val coded = perSub.zipWithIndex.foldLeft(vectors) { case (df, (rows0, j)) =>
      val rows = rows0.sortBy(_._1)
      val vecs = rows.map(_._2).toArray
      df.withColumn(s"__c$j",
        element_at(graft.functions.NearestCentroids(
          slice(col("embedding"), j * sub + 1, sub), rows.map(_._1).toArray,
          vecs, vecs.map(v => math.sqrt(dot(v, v))), 1), 1)
          .getField("cent_id"))
    }
    coded.select(col("vec_id") +: passthrough.map(col) :+
      array((0 until m).map(j => col(s"__c$j")): _*).as("codes"): _*)
  }

  /** Σ a_i·b_i as an ascending-index double fold — the
    * [[graft.functions.VecDot]] order every norm and codebook table
    * here is computed in.
    */
  private[operators] def dot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  /** Reconstructed vectors from codes: concat of the m looked-up
    * subspace centroids (broadcast joins, k rows each). Reconstruction
    * is for EXPORT (handing full vectors to a consumer); scoring codes
    * goes through [[adcDot]] — rebuilding floats to score them
    * surrenders the memory win PQ exists for.
    */
  def decode(codes: DataFrame, codebooks: Seq[DataFrame],
    passthrough: Seq[String] = Nil): DataFrame = {
    val m = codebooks.size
    val joined = codebooks.zipWithIndex.foldLeft(codes) { case (df, (cb, j)) =>
      df.join(broadcast(cb.select(col("cent_id").as(s"__c$j"),
        col("c_emb").as(s"__e$j"))),
        element_at(col("codes"), j + 1) === col(s"__c$j"))
    }
    joined.select(col("vec_id") +: passthrough.map(col) :+
      concat((0 until m).map(j => col(s"__e$j")): _*).as("embedding"): _*)
  }

  /** Driver-resident codebook matrices — the task reference object for
    * ADC scoring (the [[graft.functions.NearestCentroids]] pattern: m·k
    * small centroid rows are index METADATA, bounded by construction,
    * and belong next to the generated code, not in a join). `books(j)`
    * is dense, indexed by `code - 1`; a cent_id gap (an empty Lloyd
    * cluster) holds a zero vector that no code ever references.
    */
  final case class PqBooks(books: Array[Array[Array[Float]]]) {
    val m: Int = books.length
    val codeSlots: Int = books(0).length
    /** ‖book_j[c]‖² in [[graft.functions.VecDot]] fold order — feeds
      * [[recNorm]]: a reconstruction's norm² is the SUM of its subspace
      * norm²s (concatenation), so the resident set never materializes.
      */
    lazy val norm2: Array[Array[Double]] = books.map(_.map(v => dot(v, v)))
  }

  /** [[PqBooks]] from already-collected `(cent_id, c_emb)` rows per
    * subspace (how [[graft.sources.IndexStore]] rehydrates a stored
    * codebook table).
    */
  def collectBooksFromRows(per: Seq[Seq[(Long, Array[Float])]]): PqBooks = {
    val maps = per.map(_.toMap)
    val slots = maps.map(_.keysIterator.max).max.toInt
    val sub = maps.head.valuesIterator.next().length
    PqBooks(maps.map { mp =>
      Array.tabulate(slots)(i => mp.getOrElse((i + 1).toLong, new Array[Float](sub)))
    }.toArray)
  }

  /** Reconstruction norm of a `codes` column via the per-subspace norm²
    * tables — a per-row lookup riding the encode pass, so the index
    * stores (codes, rec_nrm) and cosine needs no decode.
    */
  def recNorm(codes: Column, books: PqBooks): Column =
    sqrt((0 until books.m).map(j =>
      element_at(typedLit(books.norm2(j).toSeq),
        element_at(codes, j + 1).cast("int"))).reduce(_ + _))

  /** ADC lookup table for ONE query row: `lut[j][c] = dot(q_j, book_j[c])`
    * (m×k doubles). Built once per query — |Q|·m·k subspace dots total —
    * then broadcast with the probe rows; every resident code row is
    * scored by m array lookups ([[adcDot]]) instead of a decode join +
    * full-dimension dot. This is the asymmetric-distance computation of
    * Jégou et al., "Product Quantization for Nearest Neighbor Search"
    * (TPAMI 2011) §III — the query stays exact, only the corpus side is
    * quantized.
    */
  def adcLut(qEmb: Column, books: PqBooks, dim: Int): Column = {
    val sub = dim / books.m
    array((0 until books.m).map { j =>
      array((0 until books.codeSlots).map { c =>
        graft.functions.VecDot(slice(qEmb, j * sub + 1, sub),
          typedLit(books.books(j)(c).toSeq))
      }: _*)
    }: _*)
  }

  /** ADC dot product of a code row against a query's [[adcLut]]:
    * `Σ_j lut[j][codes[j]]` — m element_at lookups, codegen-friendly,
    * no reconstruction. Equals the decoded dot up to float-fold
    * association (per-subspace partials vs one flat fold).
    */
  def adcDot(lut: Column, codes: Column, m: Int): Column =
    (0 until m).map(j =>
      element_at(element_at(lut, j + 1),
        element_at(codes, j + 1).cast("int"))).reduce(_ + _)

  /** ADC cosine, rounded to 6 places: [[adcDot]] over the query norm
    * times the code row's reconstruction norm ([[recNorm]]).
    */
  def adcCosine(lut: Column, qNrm: Column, codes: Column, recNrm: Column,
    m: Int): Column =
    graft.functions.TextSim.r6(adcDot(lut, codes, m) / (qNrm * recNrm))

  /** All k×k subspace-codebook dot products — the driver-side half of
    * SDC scoring ([[graft.functions.SdcDot]]): code-pair similarity
    * with no vectors and no decode. Folded in [[graft.functions.VecDot]]
    * order for parity with reconstructed dots.
    */
  def sdcTables(books: PqBooks): Array[Array[Array[Double]]] =
    Array.tabulate(books.m) { j =>
      Array.tabulate(books.codeSlots, books.codeSlots)((a, b) =>
        dot(books.books(j)(a), books.books(j)(b)))
    }
}
