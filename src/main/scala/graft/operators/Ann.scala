package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over the embedding column (`array<float>`, dim 64).
  *
  * Cosine is computed in double with identical element order on both
  * engines (cast-to-double products folded left-to-right), and every
  * ranking orders by the *rounded* score with vec_id tiebreak, so the
  * DuckDB oracle ranks identically bit-for-bit.
  *
  * Scale: brute-force broadcasts the (small) query set and makes one
  * pass over the vectors — correctness baseline and the right answer
  * when |Q| is small. IVF is the 100 TB path: vectors are
  * partition-assigned to coarse centroids once (broadcast join), a
  * query probes nprobe centroid partitions and scans only those.
  */
object Ann {

  val Dim = 64
  val TopK = 10
  val NProbe = 2
  val Planes = 48
  val PlaneBands = 4
  val PlanesPerBand = 12 // 4096 buckets/band: measured at sf0.1 this
  // cuts candidates 2.5× vs 6-bit bands on the (clustered) corpus while
  // holding LSH recall ~73% for true cos≥0.95 near-dups — and exact
  // duplicates agree on every bit, so blocking never loses them

  /** Double-precision dot product of two float-array columns — the
    * native codegen'd [[graft.functions.VecDot]] expression.
    * Bit-identical fold order to the equivalent
    * `aggregate(zip_with(...))` lambda (and to the DuckDB oracle's
    * list_sum), but keeps the stage in whole-stage codegen; a 128-term
    * unrolled GetArrayItem sum was also tried and measured 3× slower
    * than the lambda, while VecDot's primitive loop is the fastest of
    * the three.
    */
  def dot(a: Column, b: Column): Column = graft.functions.VecDot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** round-6 cosine — the only form ever compared or ranked on.
    * Deterministic floor-based rounding ([[TextSim.r6]]) so both
    * engines agree even on exact half-way values.
    */
  def cosine(a: Column, na: Column, b: Column, nb: Column): Column =
    graft.functions.TextSim.r6(dot(a, b) / (na * nb))

  def dotSql(a: String, b: String): String =
    s"list_sum([$a[i]::DOUBLE * $b[i]::DOUBLE for i in range(1, ${Dim + 1})])"

  def cosineSql(a: String, na: String, b: String, nb: String): String =
    graft.functions.TextSim.r6Sql(s"${dotSql(a, b)} / ($na * $nb)")

  private def withNorm(df: DataFrame): DataFrame =
    df.withColumn("nrm", norm(col("embedding")))

  private val normSql =
    s"sqrt(${dotSql("embedding", "embedding")})"

  /** Rank scored (query_id, vec_id, cos_sim) rows to per-query top-k
    * via [[graft.functions.TopKByScore]]: partial top-k per partition
    * (map-side ObjectHashAggregate), so the one shuffle carries at most
    * k hits per query per partition — never the full score matrix.
    * Ranks match the oracle's row_number: cos_sim desc, vec_id asc;
    * duplicate candidates collapse on insert (= SELECT DISTINCT).
    */
  private[graft] def rankTopK(s: SparkSession, scored: DataFrame, k: Int): DataFrame = {
    import s.implicits._
    val agg = new graft.functions.TopKByScore(k)
    scored.select(col("query_id"), col("vec_id"), col("cos_sim"))
      .as[graft.functions.ScoredHit]
      .groupByKey(_.query_id)
      .agg(agg.toColumn.name("top"))
      .toDF("query_id", "top")
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "h")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
        col("h.vec_id").as("vec_id"), col("h.cos_sim").as("cos_sim"))
  }

  /** Exact top-k cosine neighbours of each query vector over a vector
    * corpus — both frames `(vec_id, embedding: array<float>)`, ids in
    * one space (a query never matches itself). Broadcast query set, one
    * pass over the vectors, partial top-k before the rank shuffle. The
    * right answer whenever |Q| is broadcast-small; [[ivf]] is the
    * indexed path.
    */
  def topKNeighbors(s: SparkSession, vectors: DataFrame, queries: DataFrame,
    k: Int = TopK): DataFrame = {
    val e = withNorm(vectors.select(col("vec_id"), col("embedding")))
    val q = withNorm(queries.select(col("vec_id"), col("embedding")))
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
    val scored = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        cosine(col("q_emb"), col("q_nrm"), col("embedding"), col("nrm")).as(
          "cos_sim"))
    rankTopK(s, scored, k)
  }

  /** q_ann_brute — [[topKNeighbors]]: query set vec_id % 100 = 0. */
  def bruteForce(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    topKNeighbors(s, e, e.filter(col("vec_id") % 100 === 0), TopK)
  }

  /** q_ann_filtered — METADATA-FILTERED vector search (the vector-store
    * query-with-filter capability: "nearest English documents", the
    * reference store's namespace/metadata filtering generalized): exact
    * top-k among only the corpus vectors whose joined document row
    * passes the predicate (lang = 'en' here; vec_id = doc_id). The
    * filter lands as a semi-join on the CORPUS side before scoring —
    * at scale both tables bucket by id so the restriction is
    * exchange-free, and the search itself keeps the broadcast-queries
    * partial-top-k shape. The stored-index twin is
    * [[graft.sources.IndexStore]]'s `searchFiltered` (same semantics
    * over PQ codes, probes pruned first, tested against this exact
    * baseline).
    */
  def annFiltered(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val allowed = Tables.documents(s, d)
      .filter(col("lang") === "en")
      .select(col("doc_id").as("vec_id"))
    topKNeighbors(s, e.join(allowed, Seq("vec_id"), "left_semi"),
      e.filter(col("vec_id") % 100 === 0), TopK)
  }

  val annFilteredSql: String =
    s"""WITH e0 AS (
       |  SELECT vec_id, embedding, $normSql AS nrm FROM embeddings
       |), e AS (
       |  SELECT e0.* FROM e0
       |  JOIN documents d ON d.doc_id = e0.vec_id AND d.lang = 'en'
       |), q AS (
       |  SELECT vec_id AS query_id, embedding AS q_emb, nrm AS q_nrm
       |  FROM e0 WHERE vec_id % 100 = 0
       |), scored AS (
       |  SELECT q.query_id, e.vec_id,
       |         ${cosineSql("q.q_emb", "q.q_nrm", "e.embedding", "e.nrm")} AS cos_sim
       |  FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id
       |), ranked AS (
       |  SELECT query_id, vec_id, cos_sim,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY cos_sim DESC, vec_id) AS rank
       |  FROM scored
       |)
       |SELECT query_id, rank::BIGINT AS rank, vec_id, cos_sim
       |FROM ranked WHERE rank <= $TopK
       |ORDER BY query_id, rank""".stripMargin

  val bruteForceSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, embedding, $normSql AS nrm FROM embeddings
       |), q AS (
       |  SELECT vec_id AS query_id, embedding AS q_emb, nrm AS q_nrm
       |  FROM e WHERE vec_id % 100 = 0
       |), scored AS (
       |  SELECT q.query_id, e.vec_id,
       |         ${cosineSql("q.q_emb", "q.q_nrm", "e.embedding", "e.nrm")} AS cos_sim
       |  FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id
       |), ranked AS (
       |  SELECT query_id, vec_id, cos_sim,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY cos_sim DESC, vec_id) AS rank
       |  FROM scored
       |)
       |SELECT query_id, rank::BIGINT AS rank, vec_id, cos_sim
       |FROM ranked WHERE rank <= $TopK
       |ORDER BY query_id, rank""".stripMargin

  /** Probe rows: each query exploded to the lists of `ranked`, its
    * per-row ranked centroid array `(cent_id, c_sim)`, best first — a
    * [[graft.functions.NearestCentroids]] (flat) or
    * [[graft.functions.RoutedNearest]] (routed) pass, no shuffle.
    * `extra` columns (e.g. a per-query ADC lookup table, computed ONCE
    * per query before the explode) ride along.
    */
  private[graft] def probeLists(q: DataFrame, ranked: Column,
    extra: Seq[String] = Nil, margin: Option[Double] = None): DataFrame = {
    // the fixed-width path references the ranked array exactly once
    // (no __best column), so project-collapse cannot duplicate the
    // O(nlist·dim) ranking; the adaptive path may pay a second
    // evaluation for __best, but only over the |Q| query rows, never
    // the corpus
    val base = q.select(Seq(col("vec_id").as("query_id"),
      col("embedding").as("q_emb"), col("nrm").as("q_nrm")) ++
      extra.map(col) :+ ranked.as("__nc"): _*)
    // adaptive width (the coarse distance-gap rule): drop probes whose
    // list similarity trails the query's best by more than the margin
    val kept = margin match {
      case None =>
        base.select(Seq(col("query_id"), col("q_emb"), col("q_nrm")) ++
          extra.map(col) :+ explode(col("__nc")).as("p"): _*)
      case Some(m) =>
        base.select(Seq(col("query_id"), col("q_emb"), col("q_nrm")) ++
          extra.map(col) :+
          element_at(col("__nc"), 1).getField("c_sim").as("__best") :+
          explode(col("__nc")).as("p"): _*)
          .filter(col("p.c_sim") >= col("__best") - m)
    }
    kept.select(Seq(col("query_id"), col("p.cent_id").as("cent_id"),
      col("q_emb"), col("q_nrm")) ++ extra.map(col): _*)
  }

  private def nearest(cents: DataFrame, n: Int): Column =
    graft.functions.NearestCentroids.fromFrame(col("embedding"), cents, n)

  /** IVF search over pre-normed vectors and a `(cent_id, c_emb, c_nrm)`
    * centroid frame: shuffle-free nearest-centroid assignment (the
    * [[graft.functions.NearestCentroids]] per-row argmax — this is the
    * partitioning that makes 100 TB tractable), `nprobe` probing,
    * partial top-k within the probed lists.
    */
  def ivfSearch(s: SparkSession, vectorsWithNorm: DataFrame,
    queriesWithNorm: DataFrame, cents: DataFrame, k: Int = TopK,
    nprobe: Int = NProbe): DataFrame =
    ivfProbe(s, vectorsWithNorm, queriesWithNorm, cents, k, nprobe, None)

  /** IVF search with PER-QUERY ADAPTIVE probe widths: a fixed nprobe
    * wastes reads on easy queries (one dominant list) and starves hard
    * ones (several near-tied lists — the boundary case where fixed-
    * width IVF loses recall). Here each query probes its best list
    * plus every list whose coarse similarity sits within `margin` of
    * the best, capped at `nprobeMax` — the standard distance-gap rule
    * of practical IVF serving. The width decision is computed INSIDE
    * the same shuffle-free [[graft.functions.NearestCentroids]] pass
    * (the ranked centroid array already carries `c_sim`; adaptivity is
    * one filter on the exploded probes), so easy queries ship fewer
    * probe rows through the join — the cost tracks the query's actual
    * difficulty, not the worst case.
    */
  def ivfSearchAdaptive(s: SparkSession, vectorsWithNorm: DataFrame,
    queriesWithNorm: DataFrame, cents: DataFrame, k: Int = TopK,
    nprobeMax: Int = NProbe, margin: Double = 0.05): DataFrame =
    ivfProbe(s, vectorsWithNorm, queriesWithNorm, cents, k, nprobeMax,
      Some(margin))

  /** The body of [[ivfSearch]] (fixed width) and [[ivfSearchAdaptive]]
    * (`margin` set).
    */
  private def ivfProbe(s: SparkSession, vectorsWithNorm: DataFrame,
    queriesWithNorm: DataFrame, cents: DataFrame, k: Int, nprobe: Int,
    margin: Option[Double]): DataFrame = {
    val assigned = KMeansVec.assign(vectorsWithNorm, cents)
    val scored = probeLists(queriesWithNorm, nearest(cents, nprobe), margin = margin)
      .join(assigned, "cent_id")
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        cosine(col("q_emb"), col("q_nrm"), col("embedding"), col("nrm")).as("cos_sim"))
    // a vector reached via both probed lists dedups inside the top-k
    // buffer — no distinct() shuffle of the candidate set
    rankTopK(s, scored, k)
  }

  /** NDCG@k of an approximate shortlist against the exact one — the
    * ORDERING-quality metric the recall ladder doesn't measure:
    * recall counts how many of the true top-k survive the
    * approximation, NDCG weights WHERE they land (a shortlist that
    * finds all k but inverts the head serves a worse first page than
    * one that misses the tail). Graded relevance is positional —
    * rel(truth-rank r) = k−r+1, zero off the truth list — so the
    * metric is rank arithmetic over two k-row-per-query frames (the
    * discount 1/log₂(p+1) is the one transcendental, applied per
    * bounded position); exact top-k against itself scores exactly 1.
    * Both inputs are `(query_id, rank, vec_id, ...)` shortlists
    * ([[rankTopK]] shape); the join keys on (query, vec) —
    * |Q|·k rows, nothing corpus-sized.
    */
  def ndcg(truth: DataFrame, approx: DataFrame, k: Int = TopK): DataFrame = {
    val rel = truth.filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"),
        (lit(k + 1L) - col("rank")).as("rel"))
    // IDCG per QUERY from its actual truth-list length (prefix-sum
    // lookup table): a query whose exact shortlist is shorter than k
    // must still score 1.0 on a perfect match — a fixed k-term idcg
    // would penalize list length instead of ordering
    val idcgPrefix = (1 to k).scanLeft(0.0) { (acc, p) =>
      acc + (k - p + 1).toDouble / (math.log(p + 1.0) / math.log(2.0))
    }.tail
    val idcgLut = array(idcgPrefix.map(lit): _*)
    val perQ = rel.groupBy(col("query_id"))
      .agg(count(lit(1)).cast("int").as("n_truth"))
      .select(col("query_id"),
        element_at(idcgLut, col("n_truth")).as("idcg"))
    approx.filter(col("rank") <= k)
      .join(rel, Seq("query_id", "vec_id"), "left")
      .withColumn("g", coalesce(col("rel"), lit(0L)).cast("double") /
        (log(col("rank").cast("double") + 1.0) / math.log(2.0)))
      .groupBy(col("query_id"))
      .agg(sum(col("g")).as("dcg"))
      .join(perQ, "query_id")
      .select(col("query_id"), (col("dcg") / col("idcg")).as("ndcg"))
  }

  /** Positional discount 1e6/log₂(p+1) as micro-longs, p = 1..k — the
    * ONLY transcendental in the NDCG arithmetic, frozen driver-side so
    * both engines fold dcg/idcg as EXACT integer sums (a double
    * `sum()` is fold-order-dependent; an integer sum is not). Shared
    * by [[ndcgMicro]] and the q_ndcg oracle's VALUES tables.
    */
  def ndcgWMicro(k: Int): IndexedSeq[Long] = (1 to k).map(p =>
    math.round(1e6 / (math.log(p + 1.0) / math.log(2.0))))

  /** IDCG micro prefix sums: entry n = a perfect n-long truth list's
    * dcg (rel k..k-n+1 down the top positions).
    */
  def ndcgIdcgMicro(k: Int): IndexedSeq[Long] =
    ndcgWMicro(k).zipWithIndex.scanLeft(0L) { case (acc, (w, i)) =>
      acc + (k - i).toLong * w
    }.tail

  /** [[ndcg]] in engine-identical arithmetic (the q_ndcg face): graded
    * relevance and the discount table are integers, dcg/idcg fold as
    * exact longs, and the one double op left is the final division
    * under round-6 — bit-stable across any partitioning and any
    * engine. Also surfaces `hits` (shortlist ∩ truth), the recall
    * numerator, so one frame answers both "found them?" and "ordered
    * them?".
    */
  def ndcgMicro(truth: DataFrame, approx: DataFrame,
    k: Int = TopK): DataFrame = {
    val wLut = array(ndcgWMicro(k).map(lit): _*)
    val idcgLut = array(ndcgIdcgMicro(k).map(lit): _*)
    val rel = truth.filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"),
        (lit(k + 1L) - col("rank")).as("rel"))
    val perQ = rel.groupBy(col("query_id"))
      .agg(count(lit(1)).cast("int").as("n_truth"))
      .select(col("query_id"),
        element_at(idcgLut, col("n_truth")).as("idcg_micro"))
    approx.filter(col("rank") <= k)
      .join(rel, Seq("query_id", "vec_id"), "left")
      .withColumn("g", coalesce(col("rel"), lit(0L)) *
        element_at(wLut, col("rank").cast("int")))
      .groupBy(col("query_id"))
      .agg(sum(col("g")).cast("long").as("dcg_micro"),
        count(col("rel")).cast("long").as("hits"))
      .join(perQ, "query_id")
      .select(col("query_id"), col("hits"),
        graft.functions.TextSim.r6(
          col("dcg_micro").cast("double") / col("idcg_micro")).as("ndcg"))
  }

  /** q_ndcg — the IVF shortlist's ordering quality against the exact
    * cosine top-k, per query: the metric a recall ladder misses (all k
    * found but head inverted serves a worse first page). Both
    * shortlists are the frames q_ann_brute / q_ann_ivf already pin;
    * this composes them through [[ndcgMicro]].
    */
  def ndcgQuery(s: SparkSession, d: String): DataFrame =
    ndcgMicro(bruteForce(s, d), ivf(s, d))

  // lazy: interpolates ivfCtesSql, declared further down the object
  lazy val ndcgSql: String = {
    val w = ndcgWMicro(TopK).zipWithIndex
      .map { case (m, i) => s"(${i + 1}, ${m}::BIGINT)" }.mkString(", ")
    val idcg = ndcgIdcgMicro(TopK).zipWithIndex
      .map { case (m, i) => s"(${i + 1}, ${m}::BIGINT)" }.mkString(", ")
    s"""WITH $ivfCtesSql,
       |t_scored AS (
       |  SELECT q.vec_id AS query_id, e.vec_id,
       |         ${cosineSql("q.embedding", "q.nrm", "e.embedding", "e.nrm")} AS cos_sim
       |  FROM e CROSS JOIN e q
       |  WHERE q.vec_id % 100 = 0 AND e.vec_id <> q.vec_id
       |), truth AS (
       |  SELECT query_id, vec_id, ($TopK + 1 - rank)::BIGINT AS rel FROM (
       |    SELECT query_id, vec_id,
       |           row_number() OVER (PARTITION BY query_id
       |                              ORDER BY cos_sim DESC, vec_id) AS rank
       |    FROM t_scored)
       |  WHERE rank <= $TopK
       |), w(p, micro) AS (VALUES $w),
       |idcg_lut(n, micro) AS (VALUES $idcg),
       |per_q AS (
       |  SELECT t.query_id, l.micro AS idcg_micro
       |  FROM (SELECT query_id, count(*)::INT AS n_truth
       |        FROM truth GROUP BY 1) t
       |  JOIN idcg_lut l ON l.n = t.n_truth
       |), dcg AS (
       |  SELECT a.query_id,
       |         sum(coalesce(t.rel, 0) * w.micro)::BIGINT AS dcg_micro,
       |         count(t.rel)::BIGINT AS hits
       |  FROM (SELECT query_id, vec_id, rank FROM ranked
       |        WHERE rank <= $TopK) a
       |  LEFT JOIN truth t ON t.query_id = a.query_id
       |                   AND t.vec_id = a.vec_id
       |  JOIN w ON w.p = a.rank
       |  GROUP BY 1
       |)
       |SELECT d.query_id, d.hits,
       |       ${graft.functions.TextSim.r6Sql("d.dcg_micro::DOUBLE / p.idcg_micro")} AS ndcg
       |FROM dcg d JOIN per_q p ON p.query_id = d.query_id
       |ORDER BY d.query_id""".stripMargin
  }

  /** q_ann_ivf — [[ivfSearch]] with deterministic coarse centroids
    * (vec_id % 25 = 0) and the % 100 query set.
    */
  def ivf(s: SparkSession, d: String): DataFrame = {
    val e = withNorm(Tables.embeddings(s, d))
    val cents = e.filter(col("vec_id") % 25 === 0)
      .select(col("vec_id").as("cent_id"), col("embedding").as("c_emb"), col("nrm").as("c_nrm"))
    ivfSearch(s, e, e.filter(col("vec_id") % 100 === 0), cents)
  }

  /** The q_ann_ivf CTE chain (ends in `ranked`) — shared verbatim by
    * [[ivfSql]] and the q_ndcg oracle, which scores this chain's
    * ordering against the exact one.
    */
  val ivfCtesSql: String =
    s"""e AS (
       |  SELECT vec_id, embedding, $normSql AS nrm FROM embeddings
       |), cents AS (
       |  SELECT vec_id AS cent_id, embedding AS c_emb, nrm AS c_nrm
       |  FROM e WHERE vec_id % 25 = 0
       |), assigned AS (
       |  SELECT cent_id, vec_id, embedding, nrm FROM (
       |    SELECT c.cent_id, e.vec_id, e.embedding, e.nrm,
       |           row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |             ${cosineSql("e.embedding", "e.nrm", "c.c_emb", "c.c_nrm")} DESC,
       |             c.cent_id) AS c_rank
       |    FROM e CROSS JOIN cents c)
       |  WHERE c_rank = 1
       |), probes AS (
       |  SELECT query_id, cent_id, q_emb, q_nrm FROM (
       |    SELECT q.vec_id AS query_id, c.cent_id,
       |           q.embedding AS q_emb, q.nrm AS q_nrm,
       |           row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |             ${cosineSql("q.embedding", "q.nrm", "c.c_emb", "c.c_nrm")} DESC,
       |             c.cent_id) AS c_rank
       |    FROM e q CROSS JOIN cents c WHERE q.vec_id % 100 = 0)
       |  WHERE c_rank <= $NProbe
       |), scored AS (
       |  SELECT DISTINCT p.query_id, a.vec_id,
       |         ${cosineSql("p.q_emb", "p.q_nrm", "a.embedding", "a.nrm")} AS cos_sim
       |  FROM probes p JOIN assigned a ON a.cent_id = p.cent_id
       |  WHERE a.vec_id <> p.query_id
       |), ranked AS (
       |  SELECT query_id, vec_id, cos_sim,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY cos_sim DESC, vec_id) AS rank
       |  FROM scored
       |)""".stripMargin

  val ivfSql: String =
    s"""WITH $ivfCtesSql
       |SELECT query_id, rank::BIGINT AS rank, vec_id, cos_sim
       |FROM ranked WHERE rank <= $TopK
       |ORDER BY query_id, rank""".stripMargin

  /** q_ivf_stats — index observability: per-list occupancy of the IVF
    * assignment (the q_ann_ivf centroids), each list's corpus share and
    * load factor (occupancy ÷ perfectly-balanced occupancy). This is
    * the report that decides nlist/routing health — a load factor ≫ 1
    * is the skewed hot list that motivates balance-aware routing
    * ([[KMeansVec.fitRoutedBalanced]]) and AQE skew handling; reading
    * it costs one shuffle-free assignment pass + a ≤nlist-row groupBy.
    */
  def ivfStats(s: SparkSession, d: String): DataFrame = {
    val e = withNorm(Tables.embeddings(s, d))
    val cents = e.filter(col("vec_id") % 25 === 0)
      .select(col("vec_id").as("cent_id"), col("embedding").as("c_emb"),
        col("nrm").as("c_nrm"))
    val sizes = KMeansVec.assign(e, cents)
      .groupBy(col("cent_id"))
      .agg(count(lit(1)).cast("long").as("n_vecs"))
    val tot = sizes.agg(sum(col("n_vecs")).cast("long").as("total"),
      count(lit(1)).cast("long").as("n_lists"))
    sizes.crossJoin(broadcast(tot))
      .select(col("cent_id"), col("n_vecs"),
        graft.functions.TextSim.r6(
          col("n_vecs").cast("double") / col("total")).as("share"),
        graft.functions.TextSim.r6(
          col("n_vecs").cast("double") * col("n_lists") / col("total"))
          .as("load_factor"))
      .orderBy(col("cent_id"))
  }

  val ivfStatsSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, embedding, $normSql AS nrm FROM embeddings
       |), cents AS (
       |  SELECT vec_id AS cent_id, embedding AS c_emb, nrm AS c_nrm
       |  FROM e WHERE vec_id % 25 = 0
       |), assigned AS (
       |  SELECT cent_id, vec_id FROM (
       |    SELECT c.cent_id, e.vec_id,
       |           row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |             ${cosineSql("e.embedding", "e.nrm", "c.c_emb", "c.c_nrm")} DESC,
       |             c.cent_id) AS c_rank
       |    FROM e CROSS JOIN cents c)
       |  WHERE c_rank = 1
       |), sizes AS (
       |  SELECT cent_id, count(*)::BIGINT AS n_vecs FROM assigned GROUP BY 1
       |), stats AS (
       |  SELECT sum(n_vecs)::BIGINT AS total, count(*)::BIGINT AS n_lists
       |  FROM sizes
       |)
       |SELECT cent_id, n_vecs,
       |       ${graft.functions.TextSim.r6Sql("n_vecs::DOUBLE / total")} AS share,
       |       ${graft.functions.TextSim.r6Sql("n_vecs::DOUBLE * n_lists / total")} AS load_factor
       |FROM sizes, stats
       |ORDER BY cent_id""".stripMargin

  /** Margin for [[ivfAdaptive]]: wide enough that near-tied lists are
    * probed, tight enough that well-separated queries stay narrow.
    */
  val AdaptiveMargin = 0.1

  /** q_ann_adaptive — [[ivfSearchAdaptive]] with the same
    * deterministic centroids/queries as [[ivf]]: nprobeMax = 4 with
    * the distance-gap margin deciding each query's actual width.
    */
  def ivfAdaptive(s: SparkSession, d: String): DataFrame = {
    val e = withNorm(Tables.embeddings(s, d))
    val cents = e.filter(col("vec_id") % 25 === 0)
      .select(col("vec_id").as("cent_id"), col("embedding").as("c_emb"),
        col("nrm").as("c_nrm"))
    ivfSearchAdaptive(s, e, e.filter(col("vec_id") % 100 === 0), cents,
      k = TopK, nprobeMax = 4, margin = AdaptiveMargin)
  }

  val ivfAdaptiveSql: String = {
    val cSim = cosineSql("q.embedding", "q.nrm", "c.c_emb", "c.c_nrm")
    s"""WITH e AS (
       |  SELECT vec_id, embedding, $normSql AS nrm FROM embeddings
       |), cents AS (
       |  SELECT vec_id AS cent_id, embedding AS c_emb, nrm AS c_nrm
       |  FROM e WHERE vec_id % 25 = 0
       |), assigned AS (
       |  SELECT cent_id, vec_id, embedding, nrm FROM (
       |    SELECT c.cent_id, e.vec_id, e.embedding, e.nrm,
       |           row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |             ${cosineSql("e.embedding", "e.nrm", "c.c_emb", "c.c_nrm")} DESC,
       |             c.cent_id) AS c_rank
       |    FROM e CROSS JOIN cents c)
       |  WHERE c_rank = 1
       |), probes AS (
       |  SELECT query_id, cent_id, q_emb, q_nrm FROM (
       |    SELECT q.vec_id AS query_id, c.cent_id,
       |           q.embedding AS q_emb, q.nrm AS q_nrm,
       |           $cSim AS c_sim,
       |           row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |             $cSim DESC, c.cent_id) AS c_rank,
       |           max($cSim) OVER (PARTITION BY q.vec_id) AS best
       |    FROM e q CROSS JOIN cents c WHERE q.vec_id % 100 = 0)
       |  WHERE c_rank <= 4 AND c_sim >= best - $AdaptiveMargin
       |), scored AS (
       |  SELECT DISTINCT p.query_id, a.vec_id,
       |         ${cosineSql("p.q_emb", "p.q_nrm", "a.embedding", "a.nrm")} AS cos_sim
       |  FROM probes p JOIN assigned a ON a.cent_id = p.cent_id
       |  WHERE a.vec_id <> p.query_id
       |), ranked AS (
       |  SELECT query_id, vec_id, cos_sim,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY cos_sim DESC, vec_id) AS rank
       |  FROM scored
       |)
       |SELECT query_id, rank::BIGINT AS rank, vec_id, cos_sim
       |FROM ranked WHERE rank <= $TopK
       |ORDER BY query_id, rank""".stripMargin
  }

  /** IVF with a TRAINED coarse quantizer ([[KMeansVec]] Lloyd rounds)
    * instead of [[ivf]]'s modulo-sampled centroids — the production
    * 100 TB path: train on a sample, broadcast k centroids, one
    * assignment pass, probe nprobe lists per query. Not SQL-oracled
    * (iterative k-means has no tractable DuckDB mirror); verified by
    * recall-vs-brute-force in `AnnSpec`.
    */
  def ivfTrained(s: SparkSession, d: String, k: Int = 16,
    iters: Int = 3): DataFrame = {
    val e = withNorm(Tables.embeddings(s, d))
    val cents = KMeansVec.fit(Tables.embeddings(s, d), k, iters)
    ivfSearch(s, e, e.filter(col("vec_id") % 100 === 0), cents)
  }

  /** ADC probe rows: each query gets its m×k lookup table ONCE
    * ([[PQ.adcLut]] — the table, not the query vector, is what scoring
    * reads), then explodes to its `nprobe` nearest lists. |Q|·nprobe
    * rows, broadcast-small by the ANN contract.
    */
  private[graft] def adcProbes(queriesWithNorm: DataFrame, cents: DataFrame,
    books: PQ.PqBooks, dim: Int, nprobe: Int,
    margin: Option[Double] = None): DataFrame =
    adcProbesBy(queriesWithNorm, nearest(cents, nprobe), books, dim, margin)

  /** [[adcProbes]] over a per-row `ranked` centroid array ([[probeLists]]). */
  private[graft] def adcProbesBy(queriesWithNorm: DataFrame, ranked: Column,
    books: PQ.PqBooks, dim: Int, margin: Option[Double]): DataFrame =
    probeLists(
      queriesWithNorm.withColumn("lut", PQ.adcLut(col("embedding"), books, dim)),
      ranked, extra = Seq("lut"), margin = margin)

  /** Rank a `(cent_id, vec_id, codes, rec_nrm)` resident code table
    * against ADC probe rows ([[scoreCodes]]), partial top-k.
    */
  private[graft] def rankCodes(s: SparkSession, resident: DataFrame,
    probes: DataFrame, books: PQ.PqBooks, k: Int): DataFrame =
    rankTopK(s, scoreCodes(resident, probes, books), k)

  /** Score a `(cent_id, vec_id, codes, rec_nrm)` resident code table
    * against ADC probe rows joined `on` their shared keys: broadcast the
    * probes past the code table (the resident side is never shuffled —
    * at 100 TB it's a partition-pruned read, [[graft.sources.IndexStore]]),
    * score each candidate with m table lookups ([[PQ.adcCosine]] — no
    * decode join, no reconstruction). Returns `(query_id, vec_id,
    * cos_sim)`.
    */
  private[graft] def scoreCodes(resident: DataFrame, probes: DataFrame,
    books: PQ.PqBooks, on: Seq[String] = Seq("cent_id")): DataFrame =
    resident.join(broadcast(probes), on)
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        PQ.adcCosine(col("lut"), col("q_nrm"), col("codes"), col("rec_nrm"),
          books.m).as("cos_sim"))

  /** IVF-PQ search — the full compressed-index composition: coarse
    * [[KMeansVec]] lists prune WHICH vectors a query scores;
    * [[PQ]] codes compress WHAT is resident to score them. The index
    * build is ONE narrow pass (coarse assignment, all m subspace codes,
    * and the reconstruction norm are per-row expressions over the same
    * scan — no shuffle, no join); search probes `nprobe` lists and
    * scores codes directly against per-query ADC lookup tables
    * ([[PQ.adcLut]]/[[PQ.adcDot]] — full vectors are never rebuilt),
    * ranking with the partial top-k aggregator. Recall vs brute force
    * is bounded by PQ distortion — [[rerank]] on the shortlist buys it
    * back. Verified by recall + ADC-vs-decode parity in `PQSpec`.
    *
    * This is the SELF-CONTAINED form (train + encode + search in one
    * call) for one-shot jobs; a serving deployment builds ONCE with
    * [[graft.sources.IndexStore.build]] and probes the stored index.
    */
  def ivfPqSearch(s: SparkSession, vectors: DataFrame, queries: DataFrame,
    dim: Int, nlist: Int = 16, m: Int = 8, kcode: Int = 16,
    k: Int = TopK, nprobe: Int = NProbe): DataFrame = {
    val v = vectors.select(col("vec_id"), col("embedding"))
    val (cents, _, perSub) = trainIvfPq(v, dim, m, kcode, iters = 3)(
      KMeansVec.fit(v, nlist, iters = 3))
    val books = PQ.collectBooksFromRows(perSub)
    val q = withNorm(queries.select(col("vec_id"), col("embedding")))
    rankCodes(s, encodeResident(withNorm(v), cents, None, perSub, dim),
      adcProbes(q, cents, books, dim, nprobe), books, k)
  }

  /** The IVF-PQ training prologue shared by [[ivfPqSearch]] and
    * [[graft.sources.IndexStore.build]]: the `coarse` quantizer chain
    * and the fused PQ codebook chain ([[PQ.fitFrame]], `iters` Lloyd
    * rounds) train on the same corpus but are independent, so they
    * overlap (guide §2.6) and the PQ fits back-fill the executors the
    * coarse rounds leave idle; then ONE collect of the codebook frame
    * serves the PqBooks LUTs and all m encode argmaxes. Returns
    * (coarse, codebook frame, per-subspace codebook rows).
    *
    * Both chains read `v` through one cache entry that this prologue
    * owns ([[KMeansVec.cached]]): neither fit drops it while the other
    * still reads it.
    */
  private[graft] def trainIvfPq[C](v: DataFrame, dim: Int, m: Int,
    kcode: Int, iters: Int)(coarse: => C): (C, DataFrame, Seq[Seq[(Long, Array[Float])]]) =
    KMeansVec.cached(v.select(col("vec_id"), col("embedding"))) { _ =>
      val (c, bookFrame) = Concurrently.both(coarse, PQ.fitFrame(v, dim, m, kcode, iters))
      (c, bookFrame, PQ.collectRows(bookFrame))
    }

  /** The one resident encoder — what [[ivfPqSearch]] scores and
    * [[graft.sources.IndexStore.build]]/`append` write: coarse list
    * assignment, all m codes ([[PQ.encodeFromRows]]) and the
    * reconstruction norm ([[PQ.recNorm]]) as per-row expressions over
    * ONE narrow pass of `e` `(vec_id, embedding, nrm)` — no shuffle, no
    * join. Returns `(vec_id, cent_id, codes, rec_nrm)`. Assignment is
    * flat against `cents`, or with `route = Some((top, kTop, kSub))`
    * routed: to the nearest of the `top` cells, then to the nearest of
    * that cell's leaves on the `kSub` grid ([[KMeansVec.fitRouted]]).
    */
  private[graft] def encodeResident(e: DataFrame, cents: DataFrame,
    route: Option[(DataFrame, Int, Int)],
    perSub: Seq[Seq[(Long, Array[Float])]], dim: Int): DataFrame = {
    val assigned = route match {
      case None => KMeansVec.assign(e, cents)
      case Some((top, kTop, kSub)) => KMeansVec.assignRouted(
        KMeansVec.assign(e, top).withColumnRenamed("cent_id", "top_id"),
        graft.functions.RoutedNearest.broadcastFrom(cents, kTop, kSub))
    }
    PQ.encodeFromRows(
      assigned.select(col("vec_id"), col("cent_id"), col("embedding")),
      perSub, dim, passthrough = Seq("cent_id"))
      .withColumn("rec_nrm", PQ.recNorm(col("codes"), PQ.collectBooksFromRows(perSub)))
  }

  /** Exact re-rank of an ANN shortlist — the stage that buys back PQ
    * distortion: fetch the exact vectors of the `(query_id, vec_id)`
    * shortlist by id (candidates only — the id join touches |shortlist|
    * rows, never the corpus), rescore with exact cosine, keep top `k`.
    * If a true neighbor made the shortlist at all, re-ranking places it
    * exactly where brute force would, so recall@k of
    * `rerank(ivfPqSearch(k' > k))` ≥ recall@k of the plain PQ top-k.
    */
  def rerank(s: SparkSession, vectors: DataFrame, queries: DataFrame,
    shortlist: DataFrame, k: Int = TopK): DataFrame = {
    val e = withNorm(vectors.select(col("vec_id"), col("embedding")))
    val q = withNorm(queries.select(col("vec_id"), col("embedding")))
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"))
    val scored = shortlist.select(col("query_id"), col("vec_id"))
      .join(e, "vec_id")
      .join(broadcast(q), "query_id")
      .select(col("query_id"), col("vec_id"),
        cosine(col("q_emb"), col("q_nrm"), col("embedding"), col("nrm")).as("cos_sim"))
    rankTopK(s, scored, k)
  }

  val RerankShortlist = 30

  /** q_ann_rerank — the int8-serving composition, oracle-verified end
    * to end: the resident corpus is scalar-quantized ([[Quantize]]'s
    * exact per-dimension codes, dequantized for scoring), queries stay
    * EXACT (the asymmetric principle), a 3k shortlist is ranked on the
    * lossy scores, and [[rerank]] re-scores the shortlist against the
    * true vectors fetched by id. This is the SQL-expressible twin of
    * the PQ+rerank path (k-means has no tractable DuckDB mirror; the
    * int8 codec does — q_vec_quant already proves code parity), so the
    * re-rank SEMANTICS — approximate shortlist, exact final ranks —
    * get a DuckDB hash check, not just a recall assertion.
    */
  def annRerank(s: SparkSession, d: String): DataFrame = {
    val vectors = Tables.embeddings(s, d)
    val stats = Quantize.dimStats(vectors)
    // dequantized corpus: mn + code/254*(mx-mn) per dim, stored float
    val dq = vectors.crossJoin(broadcast(stats))
      .select(col("vec_id"),
        transform(col("embedding"), (x, i) => {
          val mn = element_at(col("mns"), i + 1)
          val mx = element_at(col("mxs"), i + 1)
          when(mx > mn,
            mn + floor((x.cast("double") - mn) / (mx - mn) * lit(254.0) + lit(0.5)) /
              lit(254.0) * (mx - mn))
            .otherwise(mn).cast("float")
        }).as("embedding"))
    val dqn = withNorm(dq)
    val q = withNorm(vectors.filter(col("vec_id") % 100 === 0))
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"))
    val shortlist = rankTopK(s,
      dqn.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"),
          cosine(col("q_emb"), col("q_nrm"), col("embedding"), col("nrm"))
            .as("cos_sim")),
      RerankShortlist)
    rerank(s, vectors, vectors.filter(col("vec_id") % 100 === 0), shortlist, TopK)
  }

  val annRerankSql: String = {
    val dqCell =
      """CASE WHEN mxs[i] > mns[i]
        |THEN (mns[i] + floor((embedding[i]::DOUBLE - mns[i]) / (mxs[i] - mns[i]) * 254.0 + 0.5) / 254.0 * (mxs[i] - mns[i]))::FLOAT
        |ELSE mns[i]::FLOAT END""".stripMargin.replace("\n", " ")
    s"""WITH dims AS (
       |  SELECT i, min(embedding[i]::DOUBLE) AS mn, max(embedding[i]::DOUBLE) AS mx
       |  FROM embeddings CROSS JOIN (SELECT unnest(range(1, ${Dim + 1})) AS i)
       |  GROUP BY i
       |), stats AS (
       |  SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs FROM dims
       |), e AS (
       |  SELECT vec_id, embedding, $normSql AS nrm FROM embeddings
       |), dq AS (
       |  SELECT vec_id, [$dqCell for i in range(1, ${Dim + 1})] AS demb
       |  FROM embeddings CROSS JOIN stats
       |), dqn AS (
       |  SELECT vec_id, demb, sqrt(${dotSql("demb", "demb")}) AS dnrm FROM dq
       |), q AS (
       |  SELECT vec_id AS query_id, embedding AS q_emb, nrm AS q_nrm
       |  FROM e WHERE vec_id % 100 = 0
       |), sl AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT q.query_id, d.vec_id,
       |           row_number() OVER (PARTITION BY q.query_id ORDER BY
       |             ${cosineSql("q.q_emb", "q.q_nrm", "d.demb", "d.dnrm")} DESC,
       |             d.vec_id) AS rk
       |    FROM dqn d CROSS JOIN q WHERE d.vec_id <> q.query_id)
       |  WHERE rk <= $RerankShortlist
       |), rescored AS (
       |  SELECT s.query_id, s.vec_id,
       |         ${cosineSql("q.q_emb", "q.q_nrm", "e.embedding", "e.nrm")} AS cos_sim
       |  FROM sl s
       |  JOIN e ON e.vec_id = s.vec_id
       |  JOIN q ON q.query_id = s.query_id
       |), ranked AS (
       |  SELECT query_id, vec_id, cos_sim,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY cos_sim DESC, vec_id) AS rank
       |  FROM rescored
       |)
       |SELECT query_id, rank::BIGINT AS rank, vec_id, cos_sim
       |FROM ranked WHERE rank <= $TopK
       |ORDER BY query_id, rank""".stripMargin
  }

  /** Auto-tune nprobe: the smallest probe width whose recall@k against
    * the brute-force ground truth meets `targetRecall`, plus the recall
    * it achieved. The operational question every IVF deployment answers
    * by hand — here it's a library call: ground truth once (exact,
    * broadcast-query pass), then widening probes until the target
    * holds. Run it on a sampled query set; the chosen nprobe transfers
    * to the full workload.
    */
  def tuneNprobe(s: SparkSession, vectors: DataFrame, queries: DataFrame,
    cents: DataFrame, k: Int = TopK,
    targetRecall: Double = 0.9): (Int, Double) = {
    val e = withNorm(vectors.select(col("vec_id"), col("embedding")))
    val q = withNorm(queries.select(col("vec_id"), col("embedding")))
    // ground truth stays a FRAME: recall per probe width is a semi-join
    // count against it — two scalar actions per iteration, no id sets
    // shipped to the driver, so the tuning query set can be as large as
    // the workload it samples
    val truth = topKNeighbors(s, vectors, queries, k)
      .select(col("query_id"), col("vec_id")).persist()
    val total = truth.count()
    val nlist = cents.count().toInt
    var best = (nlist, 0.0)
    var nprobe = 1
    var done = false
    while (!done && nprobe <= nlist) {
      val matched = truth.join(
        ivfSearch(s, e, q, cents, k, nprobe).select(col("query_id"), col("vec_id")),
        Seq("query_id", "vec_id"), "left_semi").count()
      val recall = if (total == 0L) 1.0 else matched.toDouble / total
      best = (nprobe, recall)
      done = recall >= targetRecall
      nprobe += 1
    }
    truth.unpersist()
    best
  }

  /** Deterministic ±1 hyperplane matrix, LCG-derived once at plan-build
    * time. Both engines consume the same precomputed signs (Spark as
    * flat codegen-able ±element sums, DuckDB as a literal matrix) —
    * evaluating the LCG per element per row in an interpreted lambda
    * measured 2× the whole query's runtime.
    */
  val Coefs: Array[Array[Double]] = Array.tabulate(Planes, Dim) { (p, i) =>
    if (((1103515245L * (p * Dim + i + 1) + 12345L) % 2147483648L & 65536L) == 0L)
      1.0 else -1.0
  }

  /** Near-duplicate vector pairs (cosine ≥ `threshold`) over any
    * `(vec_id, embedding)` frame via random-hyperplane LSH blocking:
    * 48 sign bits → 4 bands × 12 bits (4096 buckets/band) → salted
    * band-bucket self-join → exact cosine verify on candidates only.
    */
  def nearDups(vectors: DataFrame, threshold: Double = 0.95): DataFrame = {
    val e = vectors.select(col("vec_id"), col("embedding"))
      .withColumn("nrm", norm(col("embedding")))
    val bits = graft.functions.HyperplaneBits(col("embedding"), Coefs)
    // Barrier: without it project-collapse inlines the 12-plane × 64-dim
    // projection into every band's element_at (12× recompute) and the
    // band self-join doubles it again.
    val withBits = e.withColumn("bits", bits).persist()
    val bandCols = (0 until PlaneBands).map { b =>
      val bval = (0 until PlanesPerBand).map(j =>
        element_at(col("bits"), b * PlanesPerBand + j + 1) *
          lit(1L << (PlanesPerBand - 1 - j))).reduce(_ + _)
      struct(lit(b).as("band"), bval.as("bval"))
    }
    // bands carry only (id, band, bval): the self-join shuffles bare
    // ids, never the vectors; pairs dedup BEFORE the verify so cosine
    // runs once per unique candidate, after joining the vectors back
    // (an id-keyed join — shuffle at scale, AQE-broadcast locally)
    val bands = withBits
      .select(col("vec_id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("vec_id"), col("bb.band").as("band"), col("bb.bval").as("bval"))
    val cand = Skew.saltedSelfJoin(bands, "vec_id", Seq("band", "bval"),
      Dedup.LshSalt)
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"))
      .distinct()
    val ea = withBits.select(col("vec_id").as("a_id"),
      col("embedding").as("a_emb"), col("nrm").as("a_nrm"))
    val eb = withBits.select(col("vec_id").as("b_id"),
      col("embedding").as("b_emb"), col("nrm").as("b_nrm"))
    cand.join(ea, "a_id").join(eb, "b_id")
      .select(col("a_id"), col("b_id"),
        cosine(col("a_emb"), col("a_nrm"), col("b_emb"), col("b_nrm")).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }

  /** q_dedup_embed — [[nearDups]] on the dup-injected vector corpus. */
  def embedDedup(s: SparkSession, d: String): DataFrame =
    nearDups(Tables.embAug(s, d), 0.95)

  private val coefsSqlLit: String =
    Coefs.map(row => row.map(c => if (c > 0) "1.0" else "-1.0")
      .mkString("[", ",", "]")).mkString("[", ",", "]")

  val embedDedupSql: String =
    s"""WITH ${Tables.embAugSql},
       |e AS (
       |  SELECT vec_id, embedding, $normSql AS nrm FROM emb_aug
       |), cm AS (
       |  SELECT $coefsSqlLit AS m
       |), sig AS (
       |  SELECT vec_id, embedding, nrm,
       |         [ CASE WHEN list_sum([ embedding[i+1]::DOUBLE * m[p+1][i+1]
       |                                for i in range(0, $Dim) ]) >= 0
       |                THEN 1 ELSE 0 END for p in range(0, $Planes) ] AS bits
       |  FROM e, cm
       |), bands AS (
       |  SELECT vec_id, b,
       |         ${(0 until PlanesPerBand).map(j =>
             s"bits[b*$PlanesPerBand+${j + 1}]*${1L << (PlanesPerBand - 1 - j)}")
             .mkString(" + ")} AS bval
       |  FROM sig CROSS JOIN (SELECT unnest(range(0, $PlaneBands)) AS b)
       |), cand AS (
       |  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
       |  FROM bands a JOIN bands b
       |    ON a.b = b.b AND a.bval = b.bval AND a.vec_id < b.vec_id
       |)
       |SELECT c.a_id, c.b_id,
       |       ${cosineSql("x.embedding", "x.nrm", "y.embedding", "y.nrm")} AS cos_sim
       |FROM cand c JOIN e x ON x.vec_id = c.a_id JOIN e y ON y.vec_id = c.b_id
       |WHERE ${cosineSql("x.embedding", "x.nrm", "y.embedding", "y.nrm")} >= 0.95
       |ORDER BY a_id, b_id""".stripMargin

  /** Near-duplicate vector pairs via MULTI-PROBE hyperplane LSH
    * (Lv et al., VLDB'07): like [[nearDups]], but each vector also
    * probes `probes` perturbed buckets per band — the home value with
    * one least-|margin| bit flipped ([[graft.functions.HyperplaneProbes]]).
    * A true near-dup pair split by one low-confidence hyperplane now
    * collides, so recall rises WITHOUT adding bands: the indexed
    * (home) table stays the same size, only the probe stream grows
    * `probes+1`×. That is the scale trade multi-probe exists for — at
    * a fixed recall target it cuts the stored band table (the shuffled
    * and persisted asset) versus adding bands, at the cost of more
    * candidate lookups, which are cheap id-only join rows.
    *
    * Shape: one codegen'd pass emits all `bands·(probes+1)` combined
    * keys; the probe→home join ships bare `(vec_id, bkey)` rows with
    * the home side salted `LshSalt` ways (the probe stream is the big
    * side); pairs dedup before the exact-cosine verify, which runs
    * once per unique candidate. `probes = 0` is exactly [[nearDups]]'
    * candidate set (asserted in AnnSpec).
    */
  def nearDupsMultiProbe(vectors: DataFrame, threshold: Double = 0.95,
    probes: Int = 2): DataFrame = {
    val e = vectors.select(col("vec_id"), col("embedding"))
      .withColumn("nrm", norm(col("embedding")))
    val keys = graft.functions.HyperplaneProbes(
      col("embedding"), Coefs, PlanesPerBand, probes)
    val withKeys = e.withColumn("keys", keys).persist()
    val exploded = withKeys.select(col("vec_id"),
      posexplode(col("keys")).as(Seq("pos", "bkey")))
    val probe = exploded.select(col("vec_id"), col("bkey"))
      .withColumn("__salt", pmod(hash(col("vec_id")), lit(Dedup.LshSalt)))
      .as("a")
    val home = exploded.filter(col("pos") % (probes + 1) === 0)
      .select(col("vec_id"), col("bkey"))
      .withColumn("__salt", explode(sequence(lit(0), lit(Dedup.LshSalt - 1))))
      .as("b")
    val cand = probe.join(home,
      col("a.bkey") === col("b.bkey") && col("a.__salt") === col("b.__salt") &&
        col("a.vec_id") =!= col("b.vec_id"))
      .select(least(col("a.vec_id"), col("b.vec_id")).as("a_id"),
        greatest(col("a.vec_id"), col("b.vec_id")).as("b_id"))
      .distinct()
    val ea = withKeys.select(col("vec_id").as("a_id"),
      col("embedding").as("a_emb"), col("nrm").as("a_nrm"))
    val eb = withKeys.select(col("vec_id").as("b_id"),
      col("embedding").as("b_emb"), col("nrm").as("b_nrm"))
    cand.join(ea, "a_id").join(eb, "b_id")
      .select(col("a_id"), col("b_id"),
        cosine(col("a_emb"), col("a_nrm"), col("b_emb"), col("b_nrm")).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }

  /** q_dedup_embed_mp — [[nearDupsMultiProbe]] (probes = 2) on the
    * dup-injected vector corpus.
    */
  def embedDedupMp(s: SparkSession, d: String): DataFrame =
    nearDupsMultiProbe(Tables.embAug(s, d), 0.95, probes = 2)

  val embedDedupMpSql: String =
    s"""WITH ${Tables.embAugSql},
       |e AS (
       |  SELECT vec_id, embedding, $normSql AS nrm FROM emb_aug
       |), cm AS (
       |  SELECT $coefsSqlLit AS m
       |), sig AS (
       |  SELECT vec_id, embedding, nrm,
       |         [ list_sum([ embedding[i+1]::DOUBLE * m[p+1][i+1]
       |                      for i in range(0, $Dim) ])
       |           for p in range(0, $Planes) ] AS sv
       |  FROM e, cm
       |), bands AS (
       |  SELECT vec_id, b,
       |         ${(0 until PlanesPerBand).map(j =>
             s"(CASE WHEN sv[b*$PlanesPerBand+${j + 1}] >= 0 THEN 1 ELSE 0 END)" +
               s"*${1L << (PlanesPerBand - 1 - j)}").mkString(" + ")} AS home,
       |         list_sort([ {m: abs(sv[b*$PlanesPerBand+j+1]), i: j}
       |                     for j in range(0, $PlanesPerBand) ]) AS mm
       |  FROM sig CROSS JOIN (SELECT unnest(range(0, $PlaneBands)) AS b)
       |), homekeys AS (
       |  SELECT vec_id, b * ${1L << PlanesPerBand} + home AS bkey FROM bands
       |), probekeys AS (
       |  SELECT vec_id, bkey FROM homekeys
       |  UNION ALL
       |  SELECT vec_id, b * ${1L << PlanesPerBand} +
       |         xor(home, 1 << ($PlanesPerBand - 1 - mm[1].i)) AS bkey
       |  FROM bands
       |  UNION ALL
       |  SELECT vec_id, b * ${1L << PlanesPerBand} +
       |         xor(home, 1 << ($PlanesPerBand - 1 - mm[2].i)) AS bkey
       |  FROM bands
       |), cand AS (
       |  SELECT DISTINCT least(p.vec_id, h.vec_id) AS a_id,
       |         greatest(p.vec_id, h.vec_id) AS b_id
       |  FROM probekeys p JOIN homekeys h
       |    ON p.bkey = h.bkey AND p.vec_id <> h.vec_id
       |)
       |SELECT c.a_id, c.b_id,
       |       ${cosineSql("x.embedding", "x.nrm", "y.embedding", "y.nrm")} AS cos_sim
       |FROM cand c JOIN e x ON x.vec_id = c.a_id JOIN e y ON y.vec_id = c.b_id
       |WHERE ${cosineSql("x.embedding", "x.nrm", "y.embedding", "y.nrm")} >= 0.95
       |ORDER BY a_id, b_id""".stripMargin

  /** One shortlist candidate carried into the per-query MMR fold. */
  private[graft] case class MmrCand(query_id: Long, vec_id: Long,
    cos_sim: Double, embedding: Seq[Float])

  /** Sequential MMR greedy over ONE query's candidate list (Carbonell
    * & Goldstein, SIGIR'98): at each step pick
    * argmax λ·rel(c) − (1−λ)·max_{s∈picked} sim(c, s), ties broken by
    * vec_id. All similarities r6-rounded (the house ranking rule) so
    * the selection is deterministic under any candidate order.
    */
  private[graft] def mmrGreedy(cands: Seq[MmrCand], k: Int,
    lambda: Double): Seq[(Long, Long, Double, Double)] = {
    def r6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      var d, na, nb = 0.0
      var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      r6(d / (math.sqrt(na) * math.sqrt(nb)))
    }
    val pool = scala.collection.mutable.ArrayBuffer(
      cands.sortBy(c => (-c.cos_sim, c.vec_id)): _*)
    // max-sim-to-picked per remaining candidate, updated incrementally:
    // O(k·|pool|) dots total, the classic MMR cost
    val maxSim = scala.collection.mutable.Map.empty[Long, Double]
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double, Double)]
    while (out.size < k && pool.nonEmpty) {
      val scored = pool.map { c =>
        // empty picked set => diversity term 0: the first pick is pure
        // (λ-scaled) relevance, later picks subtract max-sim-to-picked
        val div = maxSim.getOrElse(c.vec_id, 0.0)
        (c, r6(lambda * c.cos_sim - (1 - lambda) * div))
      }
      val (best, score) = scored.minBy { case (c, m) => (-m, c.vec_id) }
      out += ((best.query_id, best.vec_id, best.cos_sim, score))
      pool -= best
      pool.foreach { c =>
        val sim = cos(c.embedding, best.embedding)
        if (sim > maxSim.getOrElse(c.vec_id, Double.MinValue)) maxSim(c.vec_id) = sim
      }
    }
    out.toSeq
  }

  /** Maximal-marginal-relevance re-rank of an ANN shortlist — the
    * diversity stage of retrieval serving (a near-dup-heavy corpus
    * returns k copies of one document; MMR trades relevance for
    * coverage so the page spans the distinct answers). Inputs are the
    * shortlist frame `(query_id, vec_id, cos_sim)` (any search path's
    * output: brute, stored-index, rerank) and the vector corpus for
    * the id-fetch of candidate embeddings — the join touches
    * |shortlist| rows, never the corpus.
    *
    * Scale shape: the greedy is inherently sequential PER QUERY, so it
    * runs inside `mapGroups` over the query key with bounded state —
    * one shortlist (≤ depth rows × dim floats) per group, O(k·depth)
    * dots per query — the same cost class as [[rerank]], distributed
    * across queries. λ = 1 reduces exactly to relevance order (ties by
    * vec_id), λ = 0 to pure farthest-point coverage.
    */
  def mmrRerank(s: SparkSession, vectors: DataFrame, shortlist: DataFrame,
    k: Int = TopK, lambda: Double = 0.7): DataFrame = {
    import s.implicits._
    val cands = shortlist.select(col("query_id"), col("vec_id"), col("cos_sim"))
      .join(vectors.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .select(col("query_id"), col("vec_id"), col("cos_sim"), col("embedding"))
      .as[MmrCand]
    cands.groupByKey(_.query_id)
      .flatMapGroups { (_, it) =>
        mmrGreedy(it.toSeq, k, lambda).zipWithIndex.map {
          case ((q, v, rel, m), i) => (q, (i + 1).toLong, v, rel, m)
        }
      }
      .toDF("query_id", "rank", "vec_id", "cos_sim", "mmr_score")
  }

  /** MMR picks served per query (< shortlist depth so the diversity
    * term actually bites).
    */
  val MmrK = 5

  /** The MMR trade-off weight — relevance 0.7, diversity (1 − 0.7). */
  val MmrLambda = 0.7

  /** q_mmr_rerank — [[mmrRerank]] as a hash-checked query: brute
    * shortlist (depth [[TopK]], query set vec_id % 100 = 0) re-ranked
    * to [[MmrK]] diverse picks at λ = [[MmrLambda]]. The greedy is
    * deterministic end-to-end (r6-rounded similarities, m-desc/vec_id
    * tie rule), so the oracle mirrors it exactly by unrolling the
    * [[MmrK]] sequential picks as CTE stages — each stage recomputes
    * every unpicked candidate's max-similarity-to-picked from the
    * same r6-rounded pairwise-sim frame and takes the same argmax.
    * The float fold order matches bit-for-bit: the Scala greedy
    * accumulates dot/na/nb in index order exactly as the oracle's
    * list_sum comprehensions do.
    *
    * Scale: shortlist depth bounds the per-query state (depth·dim
    * floats inside one mapGroups group); the candidate fetch joins
    * |shortlist| rows, never the corpus — the [[rerank]] cost class.
    */
  def mmrServed(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val shortlist = topKNeighbors(s, e, e.filter(col("vec_id") % 100 === 0), TopK)
    mmrRerank(s, e, shortlist, MmrK, MmrLambda)
  }

  val mmrServedSql: String = {
    // (1 - λ) computed IN DOUBLE like the Scala greedy's `1 - lambda`
    // (0.30000000000000004, not decimal 0.3)
    def mOf(rel: String, dv: String) = graft.functions.TextSim.r6Sql(
      s"$MmrLambda::DOUBLE * $rel - (1::DOUBLE - $MmrLambda::DOUBLE) * ($dv)")
    val pairSim = graft.functions.TextSim.r6Sql(
      s"${dotSql("a.embedding", "b.embedding")} / " +
        s"(sqrt(${dotSql("a.embedding", "a.embedding")}) * " +
        s"sqrt(${dotSql("b.embedding", "b.embedding")}))")
    val steps = (2 to MmrK).map { i =>
      s"""d$i AS (
         |  SELECT c.query_id, c.vec_id, c.cos_sim, coalesce(max(ps.sim), 0.0) AS dv
         |  FROM cand c
         |  LEFT JOIN (SELECT p.query_id, p.a_id, p.sim FROM psim p
         |             JOIN s${i - 1} s ON s.query_id = p.query_id AND s.vec_id = p.b_id) ps
         |    ON ps.query_id = c.query_id AND ps.a_id = c.vec_id
         |  WHERE NOT EXISTS (SELECT 1 FROM s${i - 1} s2
         |                    WHERE s2.query_id = c.query_id AND s2.vec_id = c.vec_id)
         |  GROUP BY c.query_id, c.vec_id, c.cos_sim
         |), p$i AS (
         |  SELECT query_id, vec_id, cos_sim, m, $i AS rank FROM (
         |    SELECT query_id, vec_id, cos_sim, m,
         |           row_number() OVER (PARTITION BY query_id
         |                              ORDER BY m DESC, vec_id) AS rn
         |    FROM (SELECT query_id, vec_id, cos_sim,
         |                 ${mOf("cos_sim", "dv")} AS m FROM d$i)
         |  ) WHERE rn = 1
         |), s$i AS (
         |  SELECT query_id, vec_id FROM s${i - 1}
         |  UNION ALL SELECT query_id, vec_id FROM p$i
         |)""".stripMargin
    }.mkString(", ")
    val union = (1 to MmrK).map(i => s"SELECT * FROM p$i").mkString("\n  UNION ALL ")
    s"""WITH e AS (
       |  SELECT vec_id, embedding, $normSql AS nrm FROM embeddings
       |), q AS (
       |  SELECT vec_id AS query_id, embedding AS q_emb, nrm AS q_nrm
       |  FROM e WHERE vec_id % 100 = 0
       |), scored AS (
       |  SELECT q.query_id, e.vec_id,
       |         ${cosineSql("q.q_emb", "q.q_nrm", "e.embedding", "e.nrm")} AS cos_sim
       |  FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id
       |), shortlist AS (
       |  SELECT query_id, vec_id, cos_sim FROM (
       |    SELECT query_id, vec_id, cos_sim,
       |           row_number() OVER (PARTITION BY query_id
       |                              ORDER BY cos_sim DESC, vec_id) AS rank
       |    FROM scored
       |  ) WHERE rank <= $TopK
       |), cand AS MATERIALIZED (
       |  SELECT sl.query_id, sl.vec_id, sl.cos_sim, e.embedding
       |  FROM shortlist sl JOIN e ON e.vec_id = sl.vec_id
       |), psim AS MATERIALIZED (
       |  SELECT a.query_id, a.vec_id AS a_id, b.vec_id AS b_id, $pairSim AS sim
       |  FROM cand a JOIN cand b
       |    ON a.query_id = b.query_id AND a.vec_id <> b.vec_id
       |), p1 AS (
       |  SELECT query_id, vec_id, cos_sim, m, 1 AS rank FROM (
       |    SELECT query_id, vec_id, cos_sim, m,
       |           row_number() OVER (PARTITION BY query_id
       |                              ORDER BY m DESC, vec_id) AS rn
       |    FROM (SELECT query_id, vec_id, cos_sim,
       |                 ${mOf("cos_sim", "0.0::DOUBLE")} AS m FROM cand)
       |  ) WHERE rn = 1
       |), s1 AS (
       |  SELECT query_id, vec_id FROM p1
       |), $steps
       |SELECT query_id, rank::BIGINT AS rank, vec_id, cos_sim, m AS mmr_score
       |FROM ($union)
       |ORDER BY query_id, rank""".stripMargin
  }
}
