package graft

import graft.operators.Ann
import graft.sources.IndexStore
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Two-level routed coarse quantization: the [[IndexStore]] built with
  * `routeTop` routes assignment and probing through a small top level
  * (kTop + kSub dot products per row, leaf matrix on a Broadcast)
  * instead of scanning all nlist leaves per row.
  */
class RoutedIndexSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private val sf = "/root/testdata/sf0.01"
  private val Dim = 64
  private val KTop = 4
  private val NList = 16

  private lazy val vecs =
    Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
  private lazy val queries = vecs.filter(col("vec_id") % 100 === 0)

  private lazy val path: String = {
    val p = java.nio.file.Files.createTempDirectory("graft_routed_").toString
    IndexStore.build(vecs, p, Dim, nlist = NList, m = 8, kcode = 16,
      iters = 3, routeTop = KTop)
    p
  }

  test("full-width routing equals flat probe selection over the same leaves") {
    // routeWidth = kTop means every leaf is a candidate, so the routed
    // argmax must pick exactly the leaves the flat expression picks
    // (same r6 rounding, same id tie-break, total order) — and the
    // whole search result must match the flat machinery run against
    // the SAME stored tables.
    val h = IndexStore.open(spark, path)
    val routed = h.search(queries, k = 10, nprobe = 4, routeWidth = KTop)
      .as[(Long, Long, Long, Double)].collect().toSeq.sorted
    val bks = IndexStore.books(spark, path)
    val q = queries.withColumn("nrm", Ann.norm(col("embedding")))
    val probes = Ann.adcProbes(q, IndexStore.centroids(spark, path), bks,
      Dim, 4)
    val lists = spark.read.parquet(IndexStore.listsPath(spark, path))
      .select(col("cent_id").cast("long").as("cent_id"),
        col("vec_id"), col("codes"), col("rec_nrm"))
    val flat = Ann.rankCodes(spark, lists, probes, bks, 10)
      .as[(Long, Long, Long, Double)].collect().toSeq.sorted
    assert(routed.nonEmpty)
    assert(routed == flat,
      s"first diff: ${routed.zip(flat).find(p => p._1 != p._2)}")
  }

  test("routed search keeps the pruned-scan serving shape and a recall ladder") {
    val h = IndexStore.open(spark, path)
    val sdf = h.search(queries, k = 10, nprobe = 2, routeWidth = 2)
    val plan = sdf.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cent_id".r.findFirstIn(plan).isDefined,
      s"routed probe must partition-prune on cent_id:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"the stored side must never shuffle:\n$plan")
    val truth = Ann.topKNeighbors(spark, vecs, queries, k = 10)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    def recall(nprobe: Int, routeWidth: Int): Double = {
      val got = h.search(queries, k = 10, nprobe = nprobe,
        routeWidth = routeWidth)
        .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
      (truth & got).size.toDouble / truth.size
    }
    val narrow = recall(2, 1)
    val full = recall(NList, KTop)
    assert(full >= narrow, s"full $full vs narrow $narrow")
    assert(full > 0.25, s"full-probe routed recall $full")
  }

  test("adaptive route fan-out: loose margin equals the fixed cap, tight margin equals single-cell routing") {
    val h = IndexStore.open(spark, path)
    // cosines live in [-1, 1], so a margin of 4 can never drop a cell:
    // the adaptive path must reproduce the fixed fan-out exactly
    val fixed = h.search(queries, k = 10, nprobe = 4, routeWidth = 2)
    val loose = h.search(queries, k = 10, nprobe = 4, routeWidth = 2,
      routeMargin = Some(4.0))
    assert(loose.as[(Long, Long, Long, Double)].collect().toSeq.sorted ==
      fixed.as[(Long, Long, Long, Double)].collect().toSeq.sorted)
    // margin 0 keeps only cells tied with each query's best — absent
    // exact r6-rounded top-cell ties (none in this corpus), the kept
    // group set IS routeWidth = 1, so results must match it exactly.
    // (Note what margin does NOT shrink: each query still probes up to
    // nprobe leaves, just all from its kept cells — so the UNION of
    // probed lists across a batch can differ from the wide fan-out in
    // either direction; the saving is per-query route compute, kSub
    // leaf dots instead of routeWidth·kSub.)
    val tight = h.search(queries, k = 10, nprobe = 4, routeWidth = 2,
      routeMargin = Some(0.0))
    val one = h.search(queries, k = 10, nprobe = 4, routeWidth = 1)
    assert(tight.as[(Long, Long, Long, Double)].collect().toSeq.sorted ==
      one.as[(Long, Long, Long, Double)].collect().toSeq.sorted)
    val plan = tight.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cent_id".r.findFirstIn(plan).isDefined,
      s"adaptive route fan-out must stay partition-pruned:\n$plan")
  }

  test("one search body on a routed store: filter, full-width filter, expansion") {
    SearchBodyChecks.check("routed", path, vecs, queries, fullProbe = NList,
      fullRoute = KTop)
  }

  test("streaming ingest into a routed store equals batch append") {
    // the whole streaming face inherits routing through append: each
    // micro-batch encodes through the stored two-level quantizer
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val oldV = vecs.filter(col("vec_id") % 5 =!= 0)
    val newV = vecs.filter(col("vec_id") % 5 === 0)
    val pStream = java.nio.file.Files.createTempDirectory("graft_routed_s_").toString
    val pBatch = java.nio.file.Files.createTempDirectory("graft_routed_b_").toString
    IndexStore.build(oldV, pStream, Dim, nlist = NList, m = 8, kcode = 16,
      iters = 3, routeTop = KTop)
    IndexStore.build(oldV, pBatch, Dim, nlist = NList, m = 8, kcode = 16,
      iters = 3, routeTop = KTop)
    IndexStore.append(newV, pBatch)
    val rows = newV.as[(Long, Array[Float])].collect()
    val (m1, m2) = rows.splitAt(rows.length / 2)
    val mem = MemoryStream[(Long, Array[Float])]
    val q = graft.streaming.StreamingIndexIngest.ingest(
      mem.toDF().toDF("vec_id", "embedding"), pStream)
    try {
      mem.addData(m1.toSeq)
      q.processAllAvailable()
      mem.addData(m2.toSeq)
      q.processAllAvailable()
    } finally q.stop()
    val got = IndexStore.search(spark, queries, pStream, k = 10, nprobe = 2)
      .as[(Long, Long, Long, Double)].collect().toSeq.sorted
    val want = IndexStore.search(spark, queries, pBatch, k = 10, nprobe = 2)
      .as[(Long, Long, Long, Double)].collect().toSeq.sorted
    assert(got.nonEmpty)
    assert(got == want,
      "a streamed routed store must search identically to batch append")
  }

  test("append routes through the stored top level") {
    // clones of existing vectors route deterministically to their
    // source's leaf — the stored two-level quantizer, not a flat
    // re-derivation, must decide the partition
    val cloned = vecs.orderBy(col("vec_id")).limit(25)
      .select((col("vec_id") + 10000000L).as("vec_id"), col("embedding"))
    IndexStore.append(cloned, path)
    val lists = spark.read.parquet(IndexStore.listsPath(spark, path))
      .select(col("cent_id").cast("long").as("cent_id"), col("vec_id"))
    val srcCent = lists.filter(col("vec_id") < 10000000L)
      .select(col("vec_id"), col("cent_id").as("src_cent"))
    val misplaced = lists.filter(col("vec_id") >= 10000000L)
      .select((col("vec_id") - 10000000L).as("vec_id"),
        col("cent_id").as("clone_cent"))
      .join(srcCent, "vec_id")
      .filter(col("clone_cent") =!= col("src_cent"))
      .count()
    assert(misplaced == 0,
      s"$misplaced clones landed in a different leaf than their source")
    // and the appended rows are served: each clone's nearest neighbor
    // at full width is its source (cosine exactly 1 ranks first)
    val h = IndexStore.open(spark, path)
    val cloneQ = cloned.select((col("vec_id") - 10000000L).as("orig_id"),
      col("vec_id"), col("embedding"))
    val top1 = h.search(cloneQ.select(col("vec_id"), col("embedding")),
      k = 1, nprobe = 2, routeWidth = 2)
      .filter(col("rank") === 1)
      .select(col("query_id"), col("vec_id"))
    val wrong = top1.join(
      cloneQ.select(col("vec_id").as("query_id"), col("orig_id")),
      "query_id")
      .filter(col("vec_id") =!= col("orig_id"))
      .count()
    assert(wrong <= 5,
      s"$wrong of 25 clones did not rank their source first (code ties allowed)")
  }
}
