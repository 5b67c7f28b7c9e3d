package graft.sources

import graft.operators.{Ann, Iterate, KMeansVec, OPQ, PQ}
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Storage-backed IVF-PQ index — the [[SignatureStore]] pattern applied
  * to ANN serving. Training (coarse k-means + m PQ codebooks) and
  * encoding happen ONCE in [[build]]; every [[search]] after that is a
  * partition-pruned read of only the probed lists. This is the piece
  * that separates a notebook ANN (re-train + full-corpus `cent_id`
  * shuffle per query batch) from a serving index: at 100 TB the code
  * table is built by one job, written `partitionBy(cent_id)`, and a
  * query batch touches nprobe/nlist of the storage — no assignment
  * recompute, no exchange of the corpus, ever.
  *
  * Layout under `path/` (all parquet):
  *  - `lists/`     — `(vec_id, codes, rec_nrm)` partitioned by `cent_id`:
  *                   the resident set, 8 bytes of codes + one double per
  *                   vector instead of d floats
  *  - `lists_g<n>/` — the same table rewritten by [[compact]] as
  *                   generation n; readers serve the highest sealed
  *                   generation ([[Generations]])
  *  - `centroids/` — `(cent_id, c_emb, c_nrm)`: nlist rows, the coarse
  *                   quantizer (driver-resident at probe time, the
  *                   [[graft.functions.NearestCentroids]] contract)
  *  - `codebooks/` — `(sub, cent_id, c_emb)`: m·k subspace centroids
  *                   feeding the per-query ADC lookup tables
  *  - `meta/`      — one row `(dim, nlist, m, kcode)`
  *
  * Mirrors the reference's persistent-store contract (the vector store
  * the ETL upserts into, Notion_openai_vector_etl.py:329-344) — built
  * incrementally, served repeatedly.
  */
object IndexStore {

  /** Default number of top cells a routed-index query fans to. */
  val RouteWidth = 2

  /** Train coarse + PQ quantizers on `vectors` `(vec_id, embedding)`
    * and write the index. One narrow encode pass over the corpus: list
    * id, all m codes, and the reconstruction norm are per-row
    * expressions over the same scan; the only wide operation in the
    * whole build is the k-means re-centering groupBy (k·dim groups).
    */
  def build(vectors: DataFrame, path: String, dim: Int,
    nlist: Int = 16, m: Int = 8, kcode: Int = 16, iters: Int = 3,
    opq: Boolean = false, fullOpq: Boolean = false,
    routeTop: Int = 0, routeBudget: Int = 0): Unit = {
    require(routeTop == 0 || (routeTop > 1 && nlist % routeTop == 0),
      s"routeTop must divide nlist: $routeTop / $nlist")
    require(routeBudget == 0 || (routeTop > 0 && routeBudget <= nlist),
      s"routeBudget needs a routed build and fits the nlist grid: $routeBudget / $nlist")
    val spark = vectors.sparkSession
    val v0 = vectors.select(col("vec_id"), col("embedding"))
    // OPQ is an index-build property: the learned reorder (`opq` — the
    // balanced permutation) or dense rotation (`fullOpq` — alternating
    // Procrustes) is stored with the index and applied transparently
    // to every append batch and query from then on — callers never
    // transform by hand. Cosine ranks are rotation-invariant; per-code
    // distortion drops.
    val rot: Array[Array[Double]] =
      if (fullOpq) OPQ.fitRotation(v0, dim, m, kcode, opqIters = 2,
        pqIters = iters)
      else Array.empty
    val perm: Array[Int] =
      if (opq && !fullOpq) OPQ.fitPermutation(v0, dim, m)
      else Array.tabulate(dim)(identity)
    // a REBUILD at a previously-used path must not inherit stale
    // layout state: without this, an old sealed lists_g<n> would keep
    // serving a compacted generation encoded by the OLD quantizers,
    // and a leftover rot/ would rotate queries the new codes were
    // never encoded under
    resetLayout(spark, path)
    if (rot.nonEmpty)
      spark.createDataFrame(
        rot.toSeq.zipWithIndex.map { case (row, j) => (j, row.toSeq) })
        .toDF("j", "r")
        .write.mode(SaveMode.Overwrite).parquet(s"$path/rot")
    val v = transformIn(v0, normalizePerm(perm), rot)
    val e = v.withColumn("nrm", Ann.norm(col("embedding")))
    // routed (two-level) coarse quantization: a kTop top level routes
    // each row to one cell and only that cell's nlist/kTop leaves are
    // scanned for its list — kTop + kSub dot products per row instead
    // of nlist, with the leaf matrix on a real Broadcast. The leaf
    // centroid table, list layout, and everything downstream are
    // identical to a flat build; routing only changes how cent_id is
    // COMPUTED, so append/search route through the same stored cells.
    // routeBudget > 0 = BALANCE-AWARE routing: the leaf budget spreads
    // over top cells in proportion to their mass instead of uniformly,
    // so a skewed corpus can't grow hot-cell lists toward mass/kSub.
    // Leaf ids stay on the nlist grid (meta unchanged); cells just own
    // <= kSub live leaves, which every reader already tolerates.
    // The coarse quantizer and the PQ codebooks train concurrently,
    // then ONE collect of the codebook frame serves the rec-norm LUTs
    // and all m encode argmaxes (`Ann.trainIvfPq`).
    val ((cents, topOpt), bookFrame, perSub) = Ann.trainIvfPq(v, dim, m, kcode, iters)(
      if (routeTop > 0 && routeBudget > 0) {
        val (t, l) = KMeansVec.fitRoutedBalanced(v, routeTop,
          nlist / routeTop, routeBudget, iters)
        (l, Some(t))
      } else if (routeTop > 0) {
        val (t, l) = KMeansVec.fitRouted(v, routeTop, nlist / routeTop, iters)
        (l, Some(t))
      } else (KMeansVec.fit(v, nlist, iters), None))
    // The four metadata writes (centroids/topcents/codebooks/meta) and
    // the encode-and-write of the list table are mutually independent
    // output jobs over already-materialized inputs — run them as one
    // concurrent wave (guide §2.6) instead of five sequential commits.
    val writes: Seq[() => Unit] = Seq(
      () => cents.write.mode(SaveMode.Overwrite).parquet(s"$path/centroids"),
      () => topOpt.foreach(
        _.write.mode(SaveMode.Overwrite).parquet(s"$path/topcents")),
      () => bookFrame.select(col("sub"), col("cent_id"), col("c_emb"))
        .write.mode(SaveMode.Overwrite).parquet(s"$path/codebooks"),
      () => spark.range(1)
        .select(lit(dim).as("dim"), lit(nlist).as("nlist"),
          lit(m).as("m"), lit(kcode).as("kcode"),
          lit(routeTop).as("ktop"), typedLit(perm.toSeq).as("perm"))
        .write.mode(SaveMode.Overwrite).parquet(s"$path/meta"),
      () => Lists.write(Ann.encodeResident(e, cents,
        topOpt.map(t => (t, routeTop, nlist / routeTop)), perSub, dim)
        .write.partitionBy("cent_id"), path, 0L))
    graft.operators.Concurrently(writes)(_.apply())
  }

  /** The stored coarse quantizer. */
  def centroids(spark: SparkSession, path: String): DataFrame =
    new Geometry(spark, path).centroids

  /** The stored OPQ permutation (empty = identity, incl. pre-OPQ
    * stores whose meta lacks the column).
    */
  def permutation(spark: SparkSession, path: String): Array[Int] =
    new Geometry(spark, path).perm

  /** The stored full-OPQ rotation (empty = none). */
  def rotation(spark: SparkSession, path: String): Array[Array[Double]] =
    new Geometry(spark, path).rot

  /** The stored PQ codebooks as driver-resident [[PQ.PqBooks]]. */
  def books(spark: SparkSession, path: String): PQ.PqBooks =
    new Geometry(spark, path).books

  private def exists(spark: SparkSession, dir: String): Boolean =
    Generations.fsOf(spark, dir).exists(new org.apache.hadoop.fs.Path(dir))

  /** Identity permutations collapse to empty so the no-OPQ path never
    * pays a reorder projection.
    */
  private def normalizePerm(perm: Array[Int]): Array[Int] =
    if (perm.zipWithIndex.forall { case (v, i) => v == i }) Array.empty
    else perm

  /** Apply the stored input transform: dense rotation wins over the
    * cheaper permutation reorder (they are never both stored).
    */
  private def transformIn(v: DataFrame, perm: Array[Int],
    rot: Array[Array[Double]]): DataFrame =
    if (rot.nonEmpty)
      v.select(col("vec_id"),
        OPQ.rotate(col("embedding"), rot).as("embedding"))
    else if (perm.nonEmpty)
      v.select(col("vec_id"),
        OPQ.permute(col("embedding"), perm).as("embedding"))
    else v

  /** The one reader of the stored geometry at `path`: the meta row
    * (dim, nlist, ktop, perm), the full-OPQ rotation, the coarse
    * centroids, the routed top cells and the PQ codebooks. Each piece
    * is read on first use and then held, so a caller pays only for what
    * it reads ([[refreshNeighbors]] reads the codebooks alone) and a
    * [[Handle]] pays for all of it once, at open. Stores written before
    * a column existed read its default: no `ktop` = flat, no `perm` =
    * identity, no `rot/` = no rotation.
    */
  private final class Geometry(spark: SparkSession, path: String) {
    private def table(name: String): DataFrame =
      spark.read.parquet(s"$path/$name")
    private lazy val (meta, metaCols) = {
      val df = spark.read.parquet(s"$path/meta")
      (df.head(), df.columns)
    }
    lazy val dim: Int = meta.getAs[Int]("dim")
    lazy val ktop: Int =
      if (!metaCols.contains("ktop")) 0 else meta.getAs[Int]("ktop")
    lazy val perm: Array[Int] =
      if (!metaCols.contains("perm")) Array.empty
      else normalizePerm(meta.getAs[Seq[Int]]("perm").toArray)
    lazy val rot: Array[Array[Double]] =
      if (!exists(spark, s"$path/rot")) Array.empty
      else table("rot").orderBy(col("j")).collect()
        .map(r => r.getSeq[Double](1).toArray)
    def centroids: DataFrame = table("centroids")
    lazy val centRows: Array[Row] = cells(centroids)
    lazy val topRows: Array[Row] =
      if (ktop == 0) Array.empty else cells(table("topcents"))
    lazy val bookRows: Seq[Seq[(Long, Array[Float])]] =
      PQ.collectRows(table("codebooks"))
    lazy val books: PQ.PqBooks = PQ.collectBooksFromRows(bookRows)

    private def cells(df: DataFrame): Array[Row] =
      df.select(col("cent_id"), col("c_emb"), col("c_nrm")).collect()

    /** Collected rows as a driver-local frame (no storage read, no job). */
    private def local(rows: Array[Row]): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), rows.head.schema)
    lazy val centsLocal: DataFrame = local(centRows)

    /** Routed stores: the top cells as a driver-local frame, with the
      * routing width and the per-cell leaf grid — the route
      * [[Ann.encodeResident]] assigns through.
      */
    lazy val route: Option[(DataFrame, Int, Int)] =
      if (ktop == 0) None
      else Some((local(topRows), ktop, meta.getAs[Int]("nlist") / ktop))

    /** `(vec_id, embedding)` rows into the stored space, with their
      * norm: the one preparation of query and append batches.
      */
    lazy val prepare: DataFrame => DataFrame = {
      val (p, r) = (perm, rot)
      v => transformIn(v.select(col("vec_id"), col("embedding")), p, r)
        .withColumn("nrm", Ann.norm(col("embedding")))
    }
  }

  private val Lists = Generations("lists")

  /** Current list-table generation: the highest sealed one of the
    * `lists/` dir written by [[build]] (generation 0) and the
    * `lists_g<n>/` dirs each [[compact]] writes. No pointer object, no
    * renames — so the scheme survives object stores where directory
    * renames are neither atomic nor cheap.
    */
  def currentGen(spark: SparkSession, path: String): Long =
    Lists.current(spark, path)

  /** Remove compacted generations and any stored input transform —
    * everything [[build]] does not itself rewrite. The fresh build
    * then starts at generation 0 with only its own geometry on disk.
    */
  private def resetLayout(spark: SparkSession, path: String): Unit =
    Generations.reset(spark, path, Seq(Lists),
      Set("rot", "nbrs", "topcents"))

  /** The current generation's list-table directory. */
  def listsPath(spark: SparkSession, path: String): String =
    Lists.dir(path, currentGen(spark, path))

  /** Append a new vector batch to the stored index, encoded with the
    * STORED quantizers — no retraining: the index geometry is fixed at
    * build time and refreshed by periodic rebuilds, exactly the
    * reference manifest's incremental contract (process only what's
    * new, Notion_openai_vector_etl.py:678-739) applied to vectors. One
    * narrow pass over the batch (assignment, m codes, rec norm in one
    * projection); rows land in their `cent_id` partitions, so the next
    * [[search]] prunes over old and new alike. Ids must be new — the
    * store is the identity authority, like [[SignatureStore.append]].
    */
  def append(newVectors: DataFrame, path: String): Unit = {
    val g = new Geometry(newVectors.sparkSession, path)
    // assignment must match how build computed cent_id: routed stores
    // route the batch through the stored top level
    Ann.encodeResident(g.prepare(newVectors), g.centsLocal, g.route,
      g.bookRows, g.dim)
      .write.mode(SaveMode.Append)
      .partitionBy("cent_id").parquet(listsPath(newVectors.sparkSession, path))
  }

  /** Delete vectors from the stored index — the right-to-be-forgotten
    * operation a production corpus owes its sources. Touches ONLY the
    * lists that actually hold the ids: a column-pruned (vec_id,
    * cent_id) scan finds the affected partitions (bounded by nlist),
    * and a dynamic partition overwrite rewrites those partitions
    * anti-joined — unaffected lists' files are never opened, never
    * rewritten. Index geometry (centroids, codebooks, OPQ transform)
    * is untouched: surviving vectors' codes and ADC scores are
    * bit-identical before and after, so a physical forget equals the
    * logical `Handle.searchFiltered(allowed = survivors)` exactly
    * (asserted in ForgetSpec).
    *
    * The neighbor side table (`nbrs/`), if present, may keep rows
    * naming deleted ids — harmless by construction: expansion
    * candidates are ADC-scored by joining the LIST read, so an id
    * absent from every list can never re-enter results. The rows are
    * reclaimed by the next [[refreshNeighbors]]/[[buildNeighbors]].
    *
    * WRITER CONTRACT: same single-writer rule as [[compact]]. The
    * dynamic overwrite commits per job; for a sealed-generation
    * boundary after a deletion campaign, run [[compact]] + [[vacuum]]
    * (which also purges the deleted rows from any older generation
    * still on disk).
    */
  def forget(spark: SparkSession, path: String, ids: DataFrame): Long = {
    val lp = listsPath(spark, path)
    val del = ids.select(col("vec_id")).distinct()
    val lists = spark.read.parquet(lp)
    // ONE column-pruned pass computes both planning facts: which lists
    // hold any deleted id (affected → the rewrite set) and which of
    // those keep at least one survivor (kept → whose directories must
    // not be hand-deleted below). The previous form paid two jobs (an
    // affected collect, then a keptCents collect off a persisted
    // survivor frame) for what is one per-list (n_del, n_rows) fold.
    val stats = lists.select(col("vec_id"), col("cent_id"))
      .join(del.withColumn("__del", lit(1)), Seq("vec_id"), "left_outer")
      .groupBy(col("cent_id"))
      .agg(count(lit(1)).as("n_rows"), count(col("__del")).as("n_del"))
      .filter(col("n_del") > 0)
      .collect()
    val affected = stats.map(_.getInt(0))
    if (affected.isEmpty) return 0L
    val keptCents = stats.filter(r => r.getLong(1) > r.getLong(2))
      .map(_.getInt(0)).toSet
    val survivors = lists
      .filter(col("cent_id").isin(affected.map(Integer.valueOf): _*))
      .join(del, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("codes"), col("rec_nrm"), col("cent_id"))
    // INVARIANT (do not weaken): this write READS the same `lp` it
    // overwrites within one job. That is safe only under DYNAMIC
    // partitionOverwriteMode, which stages output in a temp location
    // and defers partition deletion to job commit — after every read
    // task has finished. A refactor to static overwrite (or any mode
    // that deletes target partitions up front) would silently corrupt
    // the store; if the overwrite mode must change, materialize
    // `survivors` first to sever lineage from the target path (the
    // refreshNeighborsDelta pattern).
    survivors.repartition(col("cent_id"))
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("cent_id").parquet(lp)
    Generations.dropPartitions(spark, lp, "cent_id",
      affected.filterNot(keptCents))
    affected.length.toLong
  }

  /** Rewrite the list table so each `cent_id` partition holds ONE file.
    * Every [[append]] lands at least one new file per touched
    * partition; after a week of micro-batch ingest a probe pays
    * per-file open cost hundreds of times per list. Compaction is the
    * offline maintenance job of the index lifecycle: one shuffle of the
    * CODE rows (8 code bytes + a norm per vector — the point of PQ is
    * that this is ~30× narrower than the corpus) into exactly one task
    * per list, sealed as generation `n+1` by the write's commit.
    * Serving is never interrupted: an open [[Handle]] keeps reading its
    * pinned generation; the next [[open]]/[[search]]/[[append]] sees
    * the compacted one. Old generations are reclaimed by [[vacuum]].
    *
    * WRITER CONTRACT: compaction and ingest must be serialized by the
    * caller (pause the append/streaming job, or run [[maintain]] from
    * the same scheduler slot that owns ingest). A batch appended to
    * generation n after the rewrite's snapshot but before n+1 seals
    * would be absent from n+1 and lost once n is vacuumed —
    * the standard single-writer rule of every external-compaction
    * store; readers need no coordination.
    *
    * Returns the new generation number.
    */
  def compact(spark: SparkSession, path: String): Long = {
    val next = currentGen(spark, path) + 1L
    Lists.write(listRows(spark, Lists.dir(path, next - 1))
      .repartition(col("cent_id"))
      .write.partitionBy("cent_id"), path, next)
    next
  }

  /** Compact iff any list of the current generation has accumulated
    * more than `maxFilesPerList` files — the policy loop a scheduled
    * maintenance job runs after ingest: file counts come straight from
    * a directory listing (no data read), so the check is free and the
    * expensive rewrite happens only when append debris actually
    * threatens probe latency. Returns the new generation if one was
    * written.
    */
  def maintain(spark: SparkSession, path: String,
    maxFilesPerList: Int = 8): Option[Long] = {
    if (Generations.overFileBudget(spark, listsPath(spark, path), "cent_id",
      maxFilesPerList)) Some(compact(spark, path))
    else None
  }

  /** Delete list generations older than the current one. Separate from
    * [[compact]] so operators control the grace window for readers
    * still pinned (via an open [[Handle]]) to a sealed generation.
    */
  def vacuum(spark: SparkSession, path: String): Unit =
    Lists.dropBelow(spark, path, currentGen(spark, path))

  /** Materialize the scan-shaped "graph-lite" side table: each
    * vector's top-`r` ADC neighbors ACROSS lists, as
    * `(src_id, nbr_id, nbr_cent)` rows. This is the SURVEY position on
    * graph ANN made concrete — the one benefit of a neighbor graph
    * that survives Spark's execution model is one-hop candidate
    * expansion by JOIN (never traversal), reaching lists a narrow
    * probe missed.
    *
    * Build cost (offline, like [[build]] itself): the corpus probes
    * its own index at `nprobe` width through a SHUFFLED cent_id join —
    * the one corpus×corpus shuffle in the index lifecycle, paid once;
    * serving reads the result table. Takes the original vectors
    * because probing needs full embeddings (the store keeps only
    * codes); they are transformed by the stored OPQ geometry exactly
    * as [[build]] did.
    */
  def buildNeighbors(vectors: DataFrame, path: String, r: Int = 8,
    nprobe: Int = 8): Unit = {
    val spark = vectors.sparkSession
    val g = new Geometry(spark, path)
    val lists = listRows(spark, listsPath(spark, path))
    // corpus-sized probe side: hint the shuffle join (a broadcast here
    // would ship the whole corpus's LUTs to every task)
    val scored = lists.hint("shuffle_hash")
      .join(Ann.adcProbes(g.prepare(vectors), g.centsLocal, g.books, g.dim,
        nprobe), "cent_id")
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        PQ.adcCosine(col("lut"), col("q_nrm"), col("codes"), col("rec_nrm"),
          g.books.m).as("cos_sim"))
    writeNeighbors(Ann.rankTopK(spark, scored, r), lists, path)
  }

  /** The list table's scoring columns `(cent_id, vec_id, codes,
    * rec_nrm)`, `cent_id` as long. `cents` prunes the read to those
    * lists: Int literals on purpose — partition-type inference reads
    * cent_id as int, and a cast around the partition attribute would
    * keep the IN out of PartitionFilters (post-scan filtering instead
    * of directory pruning).
    */
  private def listRows(spark: SparkSession, dir: String,
    cents: Option[Array[Int]] = None): DataFrame = {
    val all = spark.read.parquet(dir)
    cents.fold(all)(c => all.filter(col("cent_id").isin(c: _*)))
      .select(col("cent_id").cast("long").as("cent_id"),
        col("vec_id"), col("codes"), col("rec_nrm"))
  }

  /** The one `nbrs/` writer: ranked `(query_id, vec_id)` neighbor rows
    * as `(src_id, nbr_id, nbr_cent)`, each neighbor tagged with its list
    * from the `lists` rows.
    */
  private def writeNeighbors(ranked: DataFrame, lists: DataFrame,
    path: String): Unit =
    ranked
      .join(lists.select(col("vec_id"), col("cent_id").as("nbr_cent")), "vec_id")
      .select(col("query_id").as("src_id"), col("vec_id").as("nbr_id"),
        col("nbr_cent"))
      .write.mode(SaveMode.Overwrite).parquet(s"$path/nbrs")

  /** The one SDC scorer: the top `r` of candidate `(query_id, vec_id)`
    * pairs by SDC cosine, both ends read from their stored codes in
    * `lists` ([[PQ.sdcTables]]/[[graft.functions.SdcDot]] — no vectors,
    * no decode).
    */
  private def sdcTopR(spark: SparkSession, lists: DataFrame,
    books: PQ.PqBooks, r: Int): DataFrame => DataFrame = {
    val sdc = PQ.sdcTables(books)
    val aSide = lists.select(col("vec_id").as("query_id"),
      col("codes").as("a_codes"), col("rec_nrm").as("a_nrm"))
    val bSide = lists.select(col("vec_id"),
      col("codes").as("b_codes"), col("rec_nrm").as("b_nrm"))
    cand => Ann.rankTopK(spark,
      cand.join(aSide, "query_id").join(bSide, "vec_id")
        .select(col("query_id"), col("vec_id"),
          graft.functions.TextSim.r6(
            graft.functions.SdcDot(col("a_codes"), col("b_codes"), sdc) /
              (col("a_nrm") * col("b_nrm"))).as("cos_sim")), r)
  }

  /** Rebuild the neighbor table from STORED CODES ALONE — no original
    * vectors: NN-descent (Dong et al., WWW'11) over SDC similarity
    * ([[PQ.sdcTables]]/[[graft.functions.SdcDot]]). Init pairs each
    * row with ~[[SampleBucketRows]] same-list rows via a deterministic
    * hash bucket (same-list rows are the coarse quantizer's own
    * "probably close" candidates — but the FULL intra-list self-join
    * would be O(Σ list²), a scale-killer at millions per list; the
    * classic algorithm inits from random neighbors for exactly this
    * reason, and the bucket sample is that init made reproducible).
    * Each iteration promotes neighbors-of-neighbors (both directions)
    * and keeps the top `r` by SDC cosine — the descent step, expressed
    * as id-keyed joins + the partial top-k aggregator, never
    * traversal. Candidate volume is O(n) at init and ≤ (2r)² per
    * vector per round after, so the job scales like the other offline
    * maintenance passes ([[compact]]).
    *
    * This is the maintenance path after appends: [[buildNeighbors]]
    * needs the corpus embeddings, which the store deliberately does
    * not keep; refresh needs only what is already on disk.
    *
    * List-local candidates alone would leave the descent CLOSED
    * inside each list (neighbors-of-neighbors of same-list rows are
    * same-list rows), so each round also injects a GLOBAL hash-bucket
    * sample (rows sharing `hash(vec_id, round) % B` pair up across
    * lists), which is what lets descent escape into other lists
    * reproducibly.
    */
  val SampleBucketRows = 8

  def refreshNeighbors(spark: SparkSession, path: String, r: Int = 8,
    iters: Int = 2): Unit = {
    val lists = listRows(spark, listsPath(spark, path)).persist()
    val topR = sdcTopR(spark, lists, books(spark, path), r)
    val n = lists.count()
    val nBuckets = math.max(1L, n / SampleBucketRows)
    val nLists = lists.select("cent_id").distinct().count()
    // ~SampleBucketRows-sized buckets WITHIN each list: O(n) init
    // candidates (never the O(Σ list²) intra-list self-join)
    val nListBuckets = math.max(1L, n / math.max(1L, nLists) / SampleBucketRows)
    // the pairs of rows sharing a `hash(vec_id, seed) % buckets` bucket
    // (and the `within` columns)
    def pairs(buckets: Long, seed: Int, within: String*): DataFrame = {
      val b = lists.select((within :+ "vec_id").map(col) :+
        pmod(hash(col("vec_id"), lit(seed)), lit(buckets)).as("bkt"): _*)
      b.as("x").join(b.as("y"), within :+ "bkt")
        .select(col("x.vec_id").as("query_id"), col("y.vec_id").as("vec_id"))
        .filter(col("query_id") =!= col("vec_id"))
    }
    def sampled(round: Int): DataFrame = pairs(nBuckets, round)
    var nbrs = Iterate.materialize(topR(pairs(nListBuckets, -1, "cent_id")
      .unionByName(sampled(-2)).distinct()))
    var it = 0
    while (it < iters) {
      val edges = nbrs.select(col("query_id").as("src_id"),
        col("vec_id").as("nbr_id"))
      val undirected = edges.unionByName(
        edges.select(col("nbr_id").as("src_id"), col("src_id").as("nbr_id")))
      val cand = undirected.as("e1")
        .join(undirected.as("e2"), col("e1.nbr_id") === col("e2.src_id"))
        .select(col("e1.src_id").as("query_id"), col("e2.nbr_id").as("vec_id"))
        .filter(col("query_id") =!= col("vec_id"))
        .unionByName(edges.select(col("src_id").as("query_id"),
          col("nbr_id").as("vec_id")))
        .unionByName(sampled(it))
        .distinct()
      nbrs = Iterate.materialize(topR(cand))
      it += 1
    }
    writeNeighbors(nbrs, lists, path)
    lists.unpersist()
  }

  /** Scoped neighbor maintenance after [[append]]: touch only what the
    * appended batch made stale instead of re-running the full descent.
    * New rows are the list rows with no `src_id` in `nbrs/` yet. One
    * SDC merge round over the delta:
    *   - new rows × their own lists (the coarse quantizer's candidate
    *     set, exactly the full refresh's init restricted to new rows),
    *     plus the deterministic hash-bucket sample as the cross-list
    *     escape hatch;
    *   - the REVERSE of those pairs, so an existing row near an
    *     appended vector gets the chance to adopt it;
    *   - every existing edge rescored (an id-keyed join over n·r
    *     rows — codes only, never vectors), so the merge is top-`r`
    *     of (old ∪ delta) and the kept objective can only rise.
    * Cost is O(|new|·listsize + n·r) — proportional to the delta,
    * never corpus². Returns the number of appended rows folded in
    * (0 = nothing stale, nothing rewritten).
    */
  def refreshNeighborsDelta(spark: SparkSession, path: String,
    r: Int = 8): Long =
    foldInStale(spark, path, r, new Stale(spark, path))

  /** The list rows with no `src_id` in `nbrs/` — appended since the
    * last refresh — computed once, with the list table and old edges
    * they were measured against (both persisted until `release`).
    */
  private final class Stale(spark: SparkSession, path: String) {
    val lists: DataFrame = listRows(spark, listsPath(spark, path)).persist()
    val oldEdges: DataFrame = spark.read.parquet(s"$path/nbrs")
      .select(col("src_id").as("query_id"), col("nbr_id").as("vec_id"))
      .persist()
    val (rows, n) = Iterate.materialize(lists
      .join(oldEdges.select(col("query_id").as("vec_id")).distinct(),
        Seq("vec_id"), "left_anti")
      .select(col("cent_id"), col("vec_id")), count(lit(1)))
    lazy val total: Long = lists.count()
    def release(): Unit = { lists.unpersist(); oldEdges.unpersist() }
  }

  /** [[refreshNeighborsDelta]]'s merge round over a measured stale set. */
  private def foldInStale(spark: SparkSession, path: String, r: Int,
    stale: Stale): Long = {
    import stale.{lists, oldEdges, rows => newRows, n => nNew}
    if (nNew > 0) {
      val intraNew = newRows.select(col("cent_id"),
        col("vec_id").as("query_id"))
        .join(lists.select(col("cent_id"), col("vec_id")), "cent_id")
        .filter(col("query_id") =!= col("vec_id"))
        .select(col("query_id"), col("vec_id"))
      val nBuckets = math.max(1L, stale.total / SampleBucketRows)
      val bkt = lists.select(col("vec_id"),
        pmod(hash(col("vec_id"), lit(0)), lit(nBuckets)).as("bkt"))
      val sampledNew = bkt.join(newRows.select(col("vec_id")), "vec_id")
        .select(col("vec_id").as("query_id"), col("bkt"))
        .join(bkt, "bkt")
        .select(col("query_id"), col("vec_id"))
        .filter(col("query_id") =!= col("vec_id"))
      val fwd = intraNew.unionByName(sampledNew)
      val cand = fwd
        .unionByName(fwd.select(col("vec_id").as("query_id"),
          col("query_id").as("vec_id")))
        .unionByName(oldEdges)
        .distinct()
      // the cut severs lineage from nbrs/ before overwriting it
      writeNeighbors(
        Iterate.materialize(sdcTopR(spark, lists, books(spark, path), r)(cand)),
        lists, path)
    }
    stale.release()
    nNew
  }

  /** The [[maintain]] pattern applied to the neighbor table: measure
    * staleness (fraction of list rows with no `src_id` in `nbrs/` —
    * i.e. appended since the last refresh) and pick the cheapest
    * sufficient repair. Below `fullAt`, [[refreshNeighborsDelta]]'s
    * merge folds the measured stale rows in at O(delta); past it the
    * incremental merge would churn most of the table through
    * single-round candidates anyway, so the full descent
    * ([[refreshNeighbors]]) is both better and simpler. Returns what
    * ran: "noop" | "delta" | "full" ("full" also covers a missing
    * neighbor table).
    */
  def maintainNeighbors(spark: SparkSession, path: String, r: Int = 8,
    iters: Int = 2, fullAt: Double = 0.25): String = {
    if (!exists(spark, s"$path/nbrs")) {
      refreshNeighbors(spark, path, r, iters)
      return "full"
    }
    val stale = new Stale(spark, path)
    if (stale.n == 0L) { stale.release(); "noop" }
    else if (stale.n.toDouble / stale.total > fullAt) {
      stale.release()
      refreshNeighbors(spark, path, r, iters)
      "full"
    } else {
      foldInStale(spark, path, r, stale)
      "delta"
    }
  }

  /** A SERVED index, opened once: layout, coarse centroids, and PQ
    * codebooks are read and collected a single time (they are index
    * metadata — nlist + m·k small rows), so EVERY query batch after
    * `open` pays only its own probe assignment and the pruned list
    * scan. The centroid set lives in a driver-local relation: probe
    * assignment builds its task reference object without re-reading
    * storage. This is the steady-state serving shape — `search(path)`
    * below is the one-shot convenience that opens per call.
    *
    * A Handle is the one holder of the stored geometry it serves (read
    * through the one private reader at open), and it owns the one
    * search body: [[search]], [[searchFiltered]] and [[searchExpanded]]
    * each prepare the queries, probe, read only the probed lists and
    * score the codes through it, so a change to how a query is served
    * lands in one place.
    *
    * The handle pins the list-table GENERATION current at open time:
    * a concurrent [[compact]] never changes (or breaks) an open
    * handle's reads; re-[[open]] to serve from the compacted table.
    */
  final class Handle private[IndexStore] (spark: SparkSession,
    path: String, listsLocation: String, g: Geometry) {
    val dim: Int = g.dim
    val books: PQ.PqBooks = g.books
    private val centsLocal = g.centsLocal
    private val prepare = g.prepare

    /** Routed serving: the leaves as the grouped Broadcast matrix,
      * built once at open like every other piece of Handle metadata.
      */
    private val routedBc:
        Option[org.apache.spark.broadcast.Broadcast[graft.functions.RoutedCents]] =
      g.route.map { case (_, ktop, kSub) =>
        graft.functions.RoutedNearest.broadcastFromRows(
          spark.sparkContext, g.centRows, ktop, kSub)
      }

    /** ADC probe rows of prepared queries. Flat stores rank all
      * leaves; routed stores route each query to its `routeWidth`
      * nearest TOP cells (kTop dots), then the
      * [[graft.functions.RoutedNearest]] argmax picks `nprobe` leaves
      * among only those cells' leaves — kTop + routeWidth·kSub dots
      * per query instead of nlist. Either way `margin` applies
      * [[Ann.probeLists]]' distance-gap rule to the ranked leaves.
      *
      * `routeMargin` is the adaptive-nprobe distance-gap rule applied
      * ONE LEVEL UP: `routeWidth` becomes the cap and each query drops
      * top cells trailing its best by more than the margin — an
      * unambiguous query routes to one cell and pays kSub leaf dots,
      * a boundary query keeps its full fan-out. A per-row HOF filter
      * over the ≤routeWidth ranked cells: no extra pass, no join.
      */
    private def adcProbes(q: DataFrame, nprobe: Int,
      margin: Option[Double], routeWidth: Int,
      routeMargin: Option[Double]): DataFrame = g.route match {
      case None =>
        Ann.adcProbes(q, centsLocal, books, dim, nprobe, margin)
      case Some((top, _, _)) =>
        val groups = routeMargin match {
          case None => transform(col("__tc"), s => s("cent_id"))
          case Some(rm) => transform(
            filter(col("__tc"), s => s("c_sim") >=
              element_at(col("__tc"), 1).getField("c_sim") - lit(rm)),
            s => s("cent_id"))
        }
        Ann.adcProbesBy(
          q.withColumn("__tc", graft.functions.NearestCentroids.fromFrame(
            col("embedding"), top, routeWidth)),
          graft.functions.RoutedNearest(groups, col("embedding"),
            routedBc.get, nprobe),
          books, dim, margin)
    }

    /** The one search body: prepare the queries, `probe` them, read
      * only the lists the probe rows name — the probed ids are
      * collected so the `IN` lands in the scan's PartitionFilters —
      * `restrict` that read, and score the codes against the probe rows
      * joined `on` their shared keys ([[Ann.scoreCodes]]). Callers rank
      * the `(query_id, vec_id, cos_sim)` rows ([[Ann.rankTopK]]).
      */
    private def probeAndScore(queries: DataFrame,
      on: Seq[String] = Seq("cent_id"),
      restrict: DataFrame => DataFrame = identity)(
      probe: DataFrame => DataFrame): DataFrame = {
      val probes = probe(prepare(queries))
      val probed = probes.select(col("cent_id")).distinct()
        .collect().map(_.getLong(0).toInt).sorted
      Ann.scoreCodes(restrict(listRows(spark, listsLocation, Some(probed))),
        probes, books, on)
    }

    /** `margin` switches to per-query ADAPTIVE probe widths
      * ([[Ann.ivfSearchAdaptive]]'s distance-gap rule): `nprobe`
      * becomes the cap, and each query prunes to the lists within
      * `margin` coarse similarity of its best — the partition filter
      * then covers only the UNION of lists any query actually probes,
      * so easy query batches read less storage, not just score less.
      */
    def search(queries: DataFrame, k: Int = Ann.TopK,
      nprobe: Int = Ann.NProbe, margin: Option[Double] = None,
      routeWidth: Int = RouteWidth,
      routeMargin: Option[Double] = None): DataFrame =
      Ann.rankTopK(spark, probeAndScore(queries)(
        adcProbes(_, nprobe, margin, routeWidth, routeMargin)), k)

    /** METADATA-FILTERED [[search]] (the vector-store
      * query-with-filter capability): candidates are restricted to
      * `allowed` ids by a semi-join applied AFTER partition pruning —
      * the join touches only the nprobe/nlist of storage the probe
      * already reads, never the corpus, and the allowed side is
      * typically a metadata predicate frame (bucket it by id at scale
      * and the semi-join is exchange-free). Raise `nprobe` (or pass
      * `margin`) under selective filters: a filter that empties the
      * probed lists needs wider probes to fill k — the classic
      * filtered-ANN recall trade, left to the caller's knob. Semantics
      * tested against the exact brute-filtered baseline
      * (q_ann_filtered's oracle-checked shape).
      */
    def searchFiltered(queries: DataFrame, allowed: DataFrame,
      k: Int = Ann.TopK, nprobe: Int = Ann.NProbe,
      margin: Option[Double] = None,
      routeWidth: Int = RouteWidth): DataFrame =
      Ann.rankTopK(spark, probeAndScore(queries, restrict =
        _.join(allowed.select(col("vec_id")), Seq("vec_id"), "left_semi"))(
        adcProbes(_, nprobe, margin, routeWidth, None)), k)

    /** [[search]] plus ONE hop of [[buildNeighbors]] expansion: the
      * shortlist's stored neighbors (a broadcast join of the |Q|·k
      * shortlist against the neighbor table) become extra candidates,
      * ADC-scored against a read pruned to THEIR lists — recall
      * reaches lists the probe skipped while every join stays
      * broadcast-or-pruned (no traversal, no corpus shuffle). Exact
      * re-rank downstream ([[Ann.rerank]]) converts the candidate
      * coverage into exact recall. The shortlist is read three times
      * and the expansion candidates twice, so each is cut once
      * ([[Iterate.materialize]]); nothing stays cached.
      */
    def searchExpanded(queries: DataFrame, k: Int = Ann.TopK,
      nprobe: Int = Ann.NProbe, margin: Option[Double] = None,
      routeWidth: Int = RouteWidth): DataFrame = {
      val shortlist = Iterate.materialize(
        search(queries, k, nprobe, margin, routeWidth))
        .select(col("query_id"), col("vec_id"), col("cos_sim"))
      // the |Q|·k·r candidates feed the probe-id collect and the
      // scoring plan: cut once, so they are built once
      val expansion = Iterate.materialize(broadcast(shortlist.select(
        col("query_id"), col("vec_id").as("src_id")))
        .join(spark.read.parquet(s"$path/nbrs"), "src_id")
        .select(col("query_id"), col("nbr_id").as("vec_id"),
          col("nbr_cent").as("cent_id"))
        // the query itself can be its neighbor's neighbor
        .filter(col("vec_id") =!= col("query_id"))
        // a neighbor already in the shortlist is already scored
        .join(shortlist.select(col("query_id"), col("vec_id")),
          Seq("query_id", "vec_id"), "left_anti")
        .distinct())
      val expScored = probeAndScore(queries, on = Seq("cent_id", "vec_id"))(
        // every expansion row's query is in `q`, so the outer join is
        // the inner one; the probe-id collect reads only `expansion`'s
        // columns, and Spark drops an outer join under such a distinct
        q => expansion.join(q.select(col("vec_id").as("query_id"),
          PQ.adcLut(col("embedding"), books, dim).as("lut"),
          col("nrm").as("q_nrm")), Seq("query_id"), "left_outer"))
      Ann.rankTopK(spark, shortlist.unionByName(expScored), k)
    }
  }

  /** Open a stored index for repeated serving (pins the current list
    * generation — see [[Handle]]).
    */
  def open(spark: SparkSession, path: String): Handle =
    openAt(spark, path, currentGen(spark, path))

  /** [[open]] pinned to an EXPLICIT generation — the time-travel read
    * the sealed-generation layout gives for free: a sealed lists dir
    * is immutable, so serving yesterday's index during a staged
    * rollout (or reproducing a result against the exact generation
    * that produced it) is just opening gen n-1 while compaction seals
    * newer ones. Only sealed generations not yet reclaimed by [[vacuum]]
    * are openable — vacuum defines the retention window.
    */
  def openAt(spark: SparkSession, path: String, gen: Long): Handle = {
    require(Lists.isSealed(spark, path, gen),
      s"generation $gen of $path is not sealed (vacuumed, torn, or never written)")
    new Handle(spark, path, Lists.dir(path, gen), new Geometry(spark, path))
  }

  /** Top-k ADC search of a `(vec_id, embedding)` query frame against
    * the stored index — identical output to the self-contained
    * [[Ann.ivfPqSearch]] built with the same parameters, but the only
    * corpus-sized work is a PARTITION-PRUNED scan of the probed lists:
    * the probe set is at most nlist ids (the coarse quantizer is
    * driver-resident by contract, so deriving it ships nothing new),
    * the `IN` filter lands in the scan's PartitionFilters, and the
    * probe⋈lists join broadcasts the |Q|·nprobe probe rows past the
    * pruned scan — the stored side is never shuffled. One-shot form;
    * a serving loop uses [[open]] once and `Handle.search` per batch.
    */
  def search(spark: SparkSession, queries: DataFrame, path: String,
    k: Int = Ann.TopK, nprobe: Int = Ann.NProbe,
    margin: Option[Double] = None): DataFrame =
    open(spark, path).search(queries, k, nprobe, margin)
}
