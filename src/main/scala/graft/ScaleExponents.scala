package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Measured scaling exponents for the heavy families — the number the
  * 100 TB claims rest on: time a family at corpus multipliers m_lo and
  * m_hi and report exp = ln(t_hi/t_lo) / ln(m_hi/m_lo). Near-linear
  * (exp ≈ 1, sub-linear when fixed overhead dominates at toy scale) is
  * the pass; a super-linear exponent means some stage's cost curve
  * bends the wrong way and would cross any budget at 1000× (ScaleSpec
  * gates on it, load-permitting).
  *
  * Replication here grows the CORPUS, not the duplicate clusters —
  * deliberately unlike [[ScaleRehearsal]]'s clone stress (which
  * measures viral-bucket behavior, an inherently quadratic-output
  * regime): each doc replica is alphabet-rotated so its shingles are
  * disjoint from its siblings' (pairs grow exactly linearly — asserted
  * as a count law in ScaleSpec), embedding replicas keep their values
  * (IVF lists grow linearly, the query set stays fixed), and edge
  * replicas shift node ids (disjoint subgraph copies — rounds
  * constant, per-round cost linear).
  *
  * Usage: `sbt "runMain graft.ScaleExponents [mLo mHi]"` (default
  * 2 16) at SPARK_GRAFT_SF_DIR (default sf0.1). Prints one JSON line.
  */
object ScaleExponents {

  /** Corpus-multiplied docs with DISTINCT text per replica: replica i
    * rotates the alphabet by i, so no shingle crosses replicas and
    * near-dup pair counts scale exactly ×mult.
    */
  def replicateDocsDistinct(docs: DataFrame, mult: Int): DataFrame =
    (0 until mult).map { i =>
      val target = ('a' to 'z').map(c => (c + i).toChar).mkString
      docs.select((col("doc_id") + lit(i * 100000000L)).as("doc_id"),
        translate(col("text"), "abcdefghijklmnopqrstuvwxyz", target)
          .as("text"))
    }.reduce(_ unionAll _)

  /** Disjoint subgraph copies: node ids shift per replica. */
  def replicateEdges(e: DataFrame, mult: Int): DataFrame =
    (0 until mult).map(i =>
      e.select((col("src") + lit(i * 1000L)).as("src"),
        (col("dst") + lit(i * 1000L)).as("dst"))).reduce(_ unionAll _)

  /** Corpus-multiplied vectors (same values — IVF lists grow linearly,
    * assignment cost per row is constant).
    */
  def replicateVecs(v: DataFrame, mult: Int): DataFrame =
    (0 until mult).map(i =>
      v.select((col("vec_id") + lit(i * 100000000L)).as("vec_id"),
        col("embedding"))).reduce(_ unionAll _)

  /** MinHash LSH dedup at multiplier m: band signatures + bucket
    * self-join + verify. Linear law: disjoint replicas ⇒ pair count
    * = m × base.
    */
  def minhashAt(s: SparkSession, d: String, m: Int): Long =
    operators.Dedup.minhashPairs(replicateDocsDistinct(
      Tables.documents(s, d).select(col("doc_id"), col("text")), m)).count()

  /** IVF search at multiplier m: FIXED query set and centroids (base
    * replica), corpus-multiplied lists. Linear law: per-query probe
    * candidates ∝ corpus size; result rows constant (|Q|·k).
    */
  def ivfAt(s: SparkSession, d: String, m: Int): Long = {
    val base = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"))
      .withColumn("nrm", operators.Ann.norm(col("embedding")))
    val corpus = replicateVecs(base.select(col("vec_id"), col("embedding")), m)
      .withColumn("nrm", operators.Ann.norm(col("embedding")))
    val cents = base.filter(col("vec_id") % 25 === 0)
      .select(col("vec_id").as("cent_id"), col("embedding").as("c_emb"),
        col("nrm").as("c_nrm"))
    val queries = base.filter(col("vec_id") % 100 === 0)
    operators.Ann.ivfSearch(s, corpus, queries, cents).count()
  }

  /** PageRank at multiplier m over disjoint subgraph copies: rounds
    * constant (same per-copy structure), per-round shuffle linear.
    */
  def pagerankAt(s: SparkSession, d: String, m: Int): Long =
    operators.Crawl.pageRank(
      replicateEdges(Tables.edges(s, d), m)).count()

  val families: Seq[(String, (SparkSession, String, Int) => Long)] = Seq(
    "minhash_pairs" -> (minhashAt _),
    "ivf_search" -> (ivfAt _),
    "graph_pagerank" -> (pagerankAt _))

  /** Min-of-2 seconds + the (count-law-checkable) output size. */
  def timeMin2(s: SparkSession)(f: => Long): (Double, Long) = {
    def once(): (Double, Long) = {
      val t0 = System.nanoTime()
      val n = f
      s.catalog.clearCache()
      ((System.nanoTime() - t0) / 1e9, n)
    }
    val (t1, n1) = once()
    val (t2, n2) = once()
    require(n1 == n2, s"nondeterministic stage: $n1 vs $n2")
    (math.min(t1, t2), n1)
  }

  def exponent(tLo: Double, tHi: Double, mLo: Int, mHi: Int): Double =
    math.log(tHi / tLo) / math.log(mHi.toDouble / mLo)

  /** Measure one family at (mLo, mHi); returns (tLo, tHi, exp, nLo,
    * nHi). Shared with ScaleSpec so the suite gates the same code the
    * main reports.
    */
  def measure(s: SparkSession, d: String,
    fam: (SparkSession, String, Int) => Long,
    mLo: Int, mHi: Int): (Double, Double, Double, Long, Long) = {
    fam(s, d, mLo) // warm BOTH m points untimed (same rule as
    fam(s, d, mHi) // measureReal: each m is a distinct codegen'd plan)
    s.catalog.clearCache()
    val (tLo, nLo) = timeMin2(s)(fam(s, d, mLo))
    val (tHi, nHi) = timeMin2(s)(fam(s, d, mHi))
    (tLo, tHi, exponent(tLo, tHi, mLo, mHi), nLo, nHi)
  }

  /** REAL-SF families — the r9 verdict's top item: the same scaling
    * laws measured on two real parquet directories (sf0.1 vs the
    * generated sf1: real row groups, footers, partition counts)
    * instead of in-memory replication. Each family carries its own
    * true corpus multiplier (docs/events 10× per SF decade,
    * embeddings 4× — the driver generator's curve). The IVF family
    * pins the query and centroid sets to the id window present at
    * BOTH SFs (vec_id < 2000) so only the corpus grows — the same
    * fixed-query discipline as [[ivfAt]]. The graph families are
    * absent deliberately: the edge fixture is SF-invariant (150
    * nodes at every SF), so replication remains their only lever.
    */
  val realFamilies: Seq[(String, Double, (SparkSession, String) => Long)] =
    realFamiliesAt(10.0)

  /** The same families with multipliers derived from an arbitrary SF
    * ratio between the two directories (r11: the sf1 → sf2 second
    * decade runs at ratio 2): docs/events scale linearly in SF,
    * embeddings on the generator's 4×-per-decade curve.
    */
  def realFamiliesAt(sfRatio: Double)
    : Seq[(String, Double, (SparkSession, String) => Long)] =
    Seq(
      ("minhash_pairs", sfRatio, (s, d) => operators.Dedup.minhashPairs(
        Tables.documents(s, d).select(col("doc_id"), col("text"))).count()),
      ("ivf_search_fixedq", math.pow(4.0, math.log10(sfRatio)), (s, d) => {
        val base = Tables.embeddings(s, d)
          .select(col("vec_id"), col("embedding"))
          .withColumn("nrm", operators.Ann.norm(col("embedding")))
        val cents = base.filter(col("vec_id") % 25 === 0 &&
          col("vec_id") < 2000)
          .select(col("vec_id").as("cent_id"), col("embedding").as("c_emb"),
            col("nrm").as("c_nrm"))
        val queries = base.filter(col("vec_id") % 100 === 0 &&
          col("vec_id") < 2000)
        operators.Ann.ivfSearch(s, base, queries, cents).count()
      }),
      ("etl_chunks", sfRatio, (s, d) => operators.Etl.chunk(s, d).count()),
      ("sessionize", sfRatio,
        (s, d) => operators.Analytics.sessionize(s, d).count()),
      // r11 widening: one family per remaining heavy class — text-stat
      // (two-pass corpus stats + zero-shuffle serve), exact AllPairs
      // (df-ordered prefix filter, the completeness-costs-what-it-costs
      // plan), and the event-window family (sessionless per-user scans)
      ("bm25", sfRatio, (s, d) => operators.Relevance.bm25(s, d).count()),
      ("prefix_pairs", sfRatio,
        (s, d) => operators.PrefixJoin.prefixPairs(
          Tables.docsAug(s, d)).count()),
      ("attribution", sfRatio,
        (s, d) => operators.Attribution.attributionQuery(s, d).count()))

  /** Time one real family at both dirs; exp from the family's own m. */
  def measureReal(s: SparkSession, dLo: String, dHi: String, m: Double,
    fam: (SparkSession, String) => Long): (Double, Double, Double, Long, Long) = {
    // warm BOTH dirs untimed: file listing + per-directory plan codegen
    // are one-time costs, and warming only dLo left them inside the dHi
    // timing, biasing the published exponent upward (r10 ADVICE)
    fam(s, dLo)
    fam(s, dHi)
    s.catalog.clearCache()
    val (tLo, nLo) = timeMin2(s)(fam(s, dLo))
    val (tHi, nHi) = timeMin2(s)(fam(s, dHi))
    (tLo, tHi, math.log(tHi / tLo) / math.log(m), nLo, nHi)
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("real")) { mainReal(args); return }
    val mLo = args.lift(0).map(_.toInt).getOrElse(2)
    val mHi = args.lift(1).map(_.toInt).getOrElse(16)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession()
    spark.sparkContext.setLogLevel("ERROR")
    val rows = families.map { case (name, fam) =>
      val (tLo, tHi, e, nLo, nHi) = measure(spark, sfDir, fam, mLo, mHi)
      f""""$name":{"t_lo_s":$tLo%.3f,"t_hi_s":$tHi%.3f,"exp":$e%.3f,"n_lo":$nLo,"n_hi":$nHi}"""
    }
    println(s"""{"m_lo":$mLo,"m_hi":$mHi,"sf":"$sfDir",${rows.mkString(",")}}""")
    spark.stop()
  }

  /** `sbt "runMain graft.ScaleExponents real <dirLo> <dirHi>"` —
    * real-parquet scaling laws (defaults: /root/testdata/sf0.1 vs the
    * generated ./testdata_sf1). One JSON line, same shape as the
    * replication mode plus each family's true multiplier.
    */
  def mainReal(args: Array[String]): Unit = {
    val dLo = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val dHi = args.lift(2).getOrElse("testdata_sf1")
    val sfRatio = args.lift(3).map(_.toDouble).getOrElse(10.0)
    // optional CSV family filter (r11: re-measure one family on a
    // variant fixture — e.g. prefix_pairs on the open-vocabulary pair)
    val only = args.lift(4).map(_.split(',').map(_.trim).toSet)
    val spark = GraftSession()
    spark.sparkContext.setLogLevel("ERROR")
    val rows = realFamiliesAt(sfRatio)
      .filter { case (name, _, _) => only.forall(_.contains(name)) }
      .map { case (name, m, fam) =>
      val (tLo, tHi, e, nLo, nHi) = measureReal(spark, dLo, dHi, m, fam)
      f""""$name":{"mult":$m%.2f,"t_lo_s":$tLo%.3f,"t_hi_s":$tHi%.3f,"exp":$e%.3f,"n_lo":$nLo,"n_hi":$nHi}"""
    }
    println(s"""{"mode":"real","dir_lo":"$dLo","dir_hi":"$dHi",${rows.mkString(",")}}""")
    spark.stop()
  }
}
