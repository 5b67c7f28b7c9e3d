package graft

import graft.operators.Ann
import graft.sources.IndexStore
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class IndexStoreSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private val sf = "/root/testdata/sf0.01"
  private val Dim = 64

  private lazy val vecs =
    Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
  private lazy val queries = vecs.filter(col("vec_id") % 100 === 0)

  // build ONCE, shared by both tests — that's the point of the store
  private lazy val path: String = {
    val p = java.nio.file.Files.createTempDirectory("graft_ivfpq_").toString
    IndexStore.build(vecs, p, Dim, nlist = 8, m = 8, kcode = 16, iters = 3)
    p
  }

  test("stored-index search equals the self-contained ivfPqSearch") {
    val direct = Ann.ivfPqSearch(spark, vecs, queries, Dim,
      nlist = 8, m = 8, kcode = 16, k = 10, nprobe = 2)
      .as[(Long, Long, Long, Double)].collect().toSeq.sorted
    val stored = IndexStore.search(spark, queries, path, k = 10, nprobe = 2)
      .as[(Long, Long, Long, Double)].collect().toSeq.sorted
    assert(direct.nonEmpty)
    assert(stored == direct,
      s"stored-index search must reproduce the direct path exactly " +
        s"(first diff: ${stored.zip(direct).find(p => p._1 != p._2)})")
  }

  test("filtered search: only allowed ids, plan stays pruned, full-probe ids match brute-filtered") {
    val allowed = vecs.filter(col("vec_id") % 3 === 0)
      .select(col("vec_id"))
    val h = IndexStore.open(spark, path)
    val out = h.searchFiltered(queries, allowed, k = 10, nprobe = 8)
    val plan = out.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cent_id".r.findFirstIn(plan).isDefined,
      "filter must not defeat partition pruning")
    val rows = out.as[(Long, Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    val allowedSet = allowed.as[Long].collect().toSet
    assert(rows.forall(r => allowedSet(r._3)),
      "every hit must pass the metadata filter")
    // full-width probes give exact candidate COVERAGE, so raw overlap
    // vs the exact brute-filtered baseline measures only PQ
    // quantization (the recall-ladder bar); the exact re-rank of a
    // 30-deep filtered shortlist must then recover serving-grade
    // overlap (the q_ann_rerank composition, filtered)
    val vecsAllowed = vecs.join(allowed, Seq("vec_id"), "left_semi")
    val brute = Ann.topKNeighbors(spark, vecsAllowed, queries, 10)
      .as[(Long, Long, Long, Double)].collect()
    def overlapOf(hits: Array[(Long, Long, Long, Double)]): Double = {
      val byQ = hits.groupBy(_._1).view.mapValues(_.map(_._3).toSet)
      val per = brute.groupBy(_._1).map { case (q, bs) =>
        val got = byQ.getOrElse(q, Set.empty)
        bs.count(b => got(b._3)).toDouble / bs.length
      }
      per.sum / per.size
    }
    val raw = overlapOf(rows)
    assert(raw >= 0.25, s"raw filtered PQ overlap $raw below the ladder bar")
    val short30 = h.searchFiltered(queries, allowed, k = 30, nprobe = 8)
    val reranked = Ann.rerank(spark, vecsAllowed, queries, short30, k = 10)
      .as[(Long, Long, Long, Double)].collect()
    val rr = overlapOf(reranked)
    assert(rr >= raw, s"re-rank overlap $rr must not trail raw $rr")
    assert(rr >= 0.5, s"re-ranked filtered overlap $rr too low to serve")
  }

  test("probe is a partition-pruned read; the stored side is never shuffled") {
    val sdf = IndexStore.search(spark, queries, path, k = 10, nprobe = 2)
    val plan = sdf.queryExecution.executedPlan.toString
    // the lists scan carries the probed-cent IN filter as a PARTITION
    // filter (directory pruning, not post-scan filtering)
    val pf = "PartitionFilters: \\[[^\\]]*cent_id".r
    assert(pf.findFirstIn(plan).isDefined,
      s"lists scan must partition-prune on cent_id:\n$plan")
    // probes broadcast past the pruned scan: exactly one join, and it's
    // a broadcast — no exchange of the stored code table
    assert("BroadcastHashJoin".r.findAllIn(plan).size == 1,
      s"expected exactly one broadcast join (probes past lists):\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"the stored side must never shuffle:\n$plan")
  }

  test("pruning width follows the probe width: narrow probes read fewer lists") {
    val nlists = IndexStore.centroids(spark, path).count().toInt
    assert(nlists >= 3, s"degenerate training: $nlists lists")
    val one = queries.orderBy(col("vec_id")).limit(1)
    val narrow = probedInFilterWidth(one, nprobe = 2)
    val full = probedInFilterWidth(one, nprobe = nlists)
    assert(narrow == 2, s"one query at nprobe=2 must pin 2 partitions, got $narrow")
    assert(full == nlists,
      s"full probe must enumerate all $nlists partitions, got $full")
  }

  test("append encodes with the stored quantizers; search covers old and new") {
    import graft.operators.{KMeansVec, PQ}
    val p = java.nio.file.Files.createTempDirectory("graft_ivfpq_app_").toString
    val oldV = vecs.filter(col("vec_id") % 5 =!= 0)
    val newV = vecs.filter(col("vec_id") % 5 === 0)
    IndexStore.build(oldV, p, Dim, nlist = 8, m = 8, kcode = 16, iters = 3)
    IndexStore.append(newV, p)
    // every query id is % 100 == 0, i.e. part of the APPENDED batch:
    // new vectors probing a store trained only on the old corpus
    val got = IndexStore.search(spark, queries, p, k = 10, nprobe = 2)
      .as[(Long, Long, Long, Double)].collect().toSeq.sorted
    // reference: the whole corpus encoded in memory with the SAME
    // stored quantizers, scored through the same ADC kernels
    val cents = IndexStore.centroids(spark, p)
    val bks = IndexStore.books(spark, p)
    val e = vecs.withColumn("nrm", Ann.norm(col("embedding")))
    val resident = PQ.encodeFromRows(
      KMeansVec.assign(e, cents)
        .select(col("vec_id"), col("cent_id"), col("embedding")),
      PQ.collectRows(spark.read.parquet(s"$p/codebooks")), Dim,
      passthrough = Seq("cent_id"))
      .withColumn("rec_nrm", PQ.recNorm(col("codes"), bks))
    val q = queries.withColumn("nrm", Ann.norm(col("embedding")))
    val want = Ann.rankCodes(spark, resident,
      Ann.adcProbes(q, cents, bks, Dim, 2), bks, 10)
      .as[(Long, Long, Long, Double)].collect().toSeq.sorted
    assert(got.nonEmpty)
    assert(got == want,
      s"append+search must equal one-pass encoding of the union " +
        s"(first diff: ${got.zip(want).find(x => x._1 != x._2)})")
  }

  test("an opened Handle serves repeated query batches identically to one-shot search") {
    val h = IndexStore.open(spark, path)
    for (np <- Seq(2, 4)) {
      val viaHandle = h.search(queries, k = 10, nprobe = np)
        .as[(Long, Long, Long, Double)].collect().toSeq.sorted
      val oneShot = IndexStore.search(spark, queries, path, k = 10, nprobe = np)
        .as[(Long, Long, Long, Double)].collect().toSeq.sorted
      assert(viaHandle.nonEmpty && viaHandle == oneShot)
    }
  }

  test("compact collapses append debris into one file per list; search is unchanged") {
    val p = java.nio.file.Files.createTempDirectory("graft_ivfpq_cmp_").toString
    IndexStore.build(vecs.filter(col("vec_id") % 5 < 3), p, Dim,
      nlist = 8, m = 8, kcode = 16, iters = 3)
    IndexStore.append(vecs.filter(col("vec_id") % 5 === 3), p)
    IndexStore.append(vecs.filter(col("vec_id") % 5 === 4), p)

    def filesPerList(dir: String): Seq[Int] = {
      val base = new java.io.File(dir)
      base.listFiles().toSeq.filter(f => f.isDirectory && f.getName.startsWith("cent_id="))
        .map(_.listFiles().count(f => f.getName.endsWith(".parquet")))
    }
    assert(filesPerList(s"$p/lists").exists(_ > 1),
      "appends must have left multiple files in at least one list")
    val before = IndexStore.search(spark, queries, p, k = 10, nprobe = 2)
      .as[(Long, Long, Long, Double)].collect().toSeq.sorted
    assert(before.nonEmpty)

    val gen = IndexStore.compact(spark, p)
    assert(gen == 1L && IndexStore.currentGen(spark, p) == 1L)
    val perList = filesPerList(s"$p/lists_g1")
    assert(perList.nonEmpty && perList.forall(_ == 1),
      s"compaction must leave exactly one file per list, got $perList")
    val after = IndexStore.search(spark, queries, p, k = 10, nprobe = 2)
      .as[(Long, Long, Long, Double)].collect().toSeq.sorted
    assert(after == before, "compaction must not change search results")

    IndexStore.vacuum(spark, p)
    assert(!new java.io.File(s"$p/lists").exists(), "vacuum must reclaim gen 0")
    // post-compact appends land in the current generation and are served
    val extra = queries.limit(1)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    IndexStore.append(extra, p)
    assert(filesPerList(s"$p/lists_g1").exists(_ > 1),
      "post-compact append must land in the current generation")
    val withExtra = IndexStore.search(spark, queries, p, k = 10, nprobe = 8)
      .as[(Long, Long, Long, Double)].collect().toSeq.sorted
    assert(withExtra.exists(_._3 >= 1000000L),
      "full-probe search must surface the vector appended after compaction")
  }

  test("an open Handle stays pinned to its generation across a concurrent compact") {
    val p = java.nio.file.Files.createTempDirectory("graft_ivfpq_pin_").toString
    IndexStore.build(vecs.filter(col("vec_id") % 2 === 0), p, Dim,
      nlist = 8, m = 8, kcode = 16, iters = 3)
    IndexStore.append(vecs.filter(col("vec_id") % 2 === 1), p)
    val pinned = IndexStore.open(spark, p)
    val before = pinned.search(queries, k = 10, nprobe = 2)
      .as[(Long, Long, Long, Double)].collect().toSeq.sorted
    assert(before.nonEmpty)
    // the pinned handle must keep serving its sealed generation
    // byte-identically across compact (gen 0 still on disk —
    // vacuum's grace window is what makes this safe)
    assert(IndexStore.compact(spark, p) == 1L)
    val after = pinned.search(queries, k = 10, nprobe = 2)
      .as[(Long, Long, Long, Double)].collect().toSeq.sorted
    assert(after == before, "a pinned handle must not see the new generation")
    // a handle opened after compact serves the compacted generation
    // with the same results
    val fresh = IndexStore.open(spark, p).search(queries, k = 10, nprobe = 2)
      .as[(Long, Long, Long, Double)].collect().toSeq.sorted
    assert(fresh == before)
  }

  test("rebuilding at a compacted path resets generations and stale transforms") {
    val p = java.nio.file.Files.createTempDirectory("graft_ivfpq_rb_").toString
    IndexStore.build(vecs, p, Dim, nlist = 8, m = 8, kcode = 16, iters = 3,
      fullOpq = true)
    IndexStore.append(queries.limit(1)
      .select((col("vec_id") + 5000000L).as("vec_id"), col("embedding")), p)
    IndexStore.compact(spark, p)
    assert(IndexStore.currentGen(spark, p) == 1L)
    assert(IndexStore.rotation(spark, p).nonEmpty)
    // rebuild WITHOUT fullOpq: the old generation and rotation must not
    // leak into the new index
    IndexStore.build(vecs, p, Dim, nlist = 8, m = 8, kcode = 16, iters = 3)
    assert(IndexStore.currentGen(spark, p) == 0L,
      "rebuild must serve its own generation, not the stale compacted one")
    assert(IndexStore.rotation(spark, p).isEmpty,
      "rebuild must not inherit a stale rotation")
    val rebuilt = IndexStore.search(spark, queries, p, k = 10, nprobe = 2)
      .as[(Long, Long, Long, Double)].collect().toSeq.sorted
    val direct = Ann.ivfPqSearch(spark, vecs, queries, Dim,
      nlist = 8, m = 8, kcode = 16, k = 10, nprobe = 2)
      .as[(Long, Long, Long, Double)].collect().toSeq.sorted
    assert(rebuilt == direct,
      "the rebuilt store must search exactly like a fresh one")
  }

  test("Handle.search with a margin serves adaptive probe widths from the stored index") {
    val h = IndexStore.open(spark, path)
    // a margin admitting every list is exactly fixed full probing
    val fixed = h.search(queries, k = 10, nprobe = 8)
      .as[(Long, Long, Long, Double)].collect().toSeq.sorted
    val wide = h.search(queries, k = 10, nprobe = 8, margin = Some(2.0))
      .as[(Long, Long, Long, Double)].collect().toSeq.sorted
    assert(wide.nonEmpty && wide == fixed)
    // a tight margin narrows the union of probed lists — the scan's
    // partition filter covers fewer directories than the fixed probe
    def prunedWidth(df: org.apache.spark.sql.DataFrame): Int = {
      val plan = df.queryExecution.executedPlan.toString
      val m = "PartitionFilters: \\[[^\\]]*IN \\(([^)]+)\\)".r.findFirstMatchIn(plan)
      assert(m.isDefined, s"no partition IN filter:\n$plan")
      m.get.group(1).split(",").length
    }
    val narrow = h.search(queries, k = 10, nprobe = 8, margin = Some(1e-9))
    assert(narrow.count() > 0)
    assert(prunedWidth(narrow) <= prunedWidth(
      h.search(queries, k = 10, nprobe = 8)),
      "adaptive probing must never read more lists than the fixed cap")
  }

  test("maintain compacts only when a list exceeds the file budget") {
    val p = java.nio.file.Files.createTempDirectory("graft_ivfpq_mnt_").toString
    IndexStore.build(vecs.filter(col("vec_id") % 2 === 0), p, Dim,
      nlist = 8, m = 8, kcode = 16, iters = 3)
    IndexStore.append(vecs.filter(col("vec_id") % 2 === 1), p)
    assert(IndexStore.maintain(spark, p, maxFilesPerList = 1).contains(1L),
      "build + append debris must trigger compaction at budget 1")
    assert(IndexStore.maintain(spark, p, maxFilesPerList = 1).isEmpty,
      "a freshly compacted index must not re-compact")
    assert(IndexStore.currentGen(spark, p) == 1L)
  }

  test("an OPQ store permutes transparently across build, search, and append") {
    import graft.operators.OPQ
    val p = java.nio.file.Files.createTempDirectory("graft_ivfpq_opq_").toString
    IndexStore.build(vecs, p, Dim, nlist = 8, m = 8, kcode = 16, iters = 3,
      opq = true)
    val perm = IndexStore.permutation(spark, p)
    assert(perm.isEmpty || perm.sorted.toSeq == (0 until Dim),
      "stored permutation must be a bijection")
    def permuted(df: org.apache.spark.sql.DataFrame) =
      if (perm.isEmpty) df
      else df.select(col("vec_id"),
        OPQ.permute(col("embedding"), perm).as("embedding"))
    // callers pass RAW vectors; the store owns the reorder — results
    // must equal the direct pipeline run in permuted space
    val direct = Ann.ivfPqSearch(spark, permuted(vecs), permuted(queries),
      Dim, nlist = 8, m = 8, kcode = 16, k = 10, nprobe = 2)
      .as[(Long, Long, Long, Double)].collect().toSeq.sorted
    val stored = IndexStore.search(spark, queries, p, k = 10, nprobe = 2)
      .as[(Long, Long, Long, Double)].collect().toSeq.sorted
    assert(stored.nonEmpty && stored == direct)
    // appends are permuted by the store too: an appended copy of a
    // query vector must surface under full probing
    val extra = queries.limit(1)
      .select((col("vec_id") + 2000000L).as("vec_id"), col("embedding"))
    IndexStore.append(extra, p)
    val got = IndexStore.search(spark, queries, p, k = 10, nprobe = 8)
      .as[(Long, Long, Long, Double)].collect().toSeq.sorted
    assert(got.exists(_._3 >= 2000000L),
      "appended vector must be searchable through the stored permutation")
  }

  test("a full-OPQ store rotates transparently across build, search, and append") {
    import graft.operators.OPQ
    val p = java.nio.file.Files.createTempDirectory("graft_ivfpq_rot_").toString
    IndexStore.build(vecs, p, Dim, nlist = 8, m = 8, kcode = 16, iters = 3,
      fullOpq = true)
    val rot = IndexStore.rotation(spark, p)
    assert(rot.length == Dim, "rotation must be stored")
    def rotated(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"), OPQ.rotate(col("embedding"), rot).as("embedding"))
    val direct = Ann.ivfPqSearch(spark, rotated(vecs), rotated(queries),
      Dim, nlist = 8, m = 8, kcode = 16, k = 10, nprobe = 2)
      .as[(Long, Long, Long, Double)].collect().toSeq.sorted
    val stored = IndexStore.search(spark, queries, p, k = 10, nprobe = 2)
      .as[(Long, Long, Long, Double)].collect().toSeq.sorted
    assert(stored.nonEmpty && stored == direct,
      "raw queries against the rotated store must equal the direct " +
        "pipeline in rotated space")
    val extra = queries.limit(1)
      .select((col("vec_id") + 3000000L).as("vec_id"), col("embedding"))
    IndexStore.append(extra, p)
    val got = IndexStore.search(spark, queries, p, k = 10, nprobe = 8)
      .as[(Long, Long, Long, Double)].collect().toSeq.sorted
    assert(got.exists(_._3 >= 3000000L),
      "appended vector must be searchable through the stored rotation")
  }

  test("streaming ingest appends micro-batches identically to batch append") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val oldV = vecs.filter(col("vec_id") % 5 =!= 0)
    val newV = vecs.filter(col("vec_id") % 5 === 0)
    // two stores trained identically on the old corpus
    val pStream = java.nio.file.Files.createTempDirectory("graft_ivfpq_s_").toString
    val pBatch = java.nio.file.Files.createTempDirectory("graft_ivfpq_b_").toString
    IndexStore.build(oldV, pStream, Dim, nlist = 8, m = 8, kcode = 16, iters = 3)
    IndexStore.build(oldV, pBatch, Dim, nlist = 8, m = 8, kcode = 16, iters = 3)
    IndexStore.append(newV, pBatch)
    // stream the new batch in two micro-batches
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
    assert(got == want, "streamed store must search identically to batch append")
  }

  test("streaming query serving equals batch search over the union of micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val h = IndexStore.open(spark, path)
    val out = java.nio.file.Files.createTempDirectory("graft_serve_").toString + "/hits"
    val qRows = queries.as[(Long, Array[Float])].collect()
    val (m1, m2) = qRows.splitAt(qRows.length / 2)
    val mem = MemoryStream[(Long, Array[Float])]
    val q = graft.streaming.StreamingAnnServe.serve(
      mem.toDF().toDF("vec_id", "embedding"), h, out, k = 10, nprobe = 2)
    try {
      mem.addData(m1.toSeq)
      q.processAllAvailable()
      mem.addData(m2.toSeq)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.read.parquet(out)
      .as[(Long, Long, Long, Double)].collect().toSeq.sorted
    val batch = h.search(queries, k = 10, nprobe = 2)
      .as[(Long, Long, Long, Double)].collect().toSeq.sorted
    assert(streamed.nonEmpty && streamed == batch,
      "per-micro-batch serving must union to the one-shot batch result")
  }

  test("graph-lite expansion reaches lists a narrow probe missed and never hurts exact recall") {
    IndexStore.buildNeighbors(vecs, path, r = 8, nprobe = 8)
    val h = IndexStore.open(spark, path)
    val plain = h.search(queries, k = 10, nprobe = 1).persist()
    val expanded = h.searchExpanded(queries, k = 10, nprobe = 1).persist()
    assert(expanded.count() > 0)

    // coverage: expansion must surface candidates from lists outside
    // each query's single probed list
    val lists = spark.read.parquet(IndexStore.listsPath(spark, path))
      .select(col("vec_id"), col("cent_id").cast("long").as("cent_id"))
    def centsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.join(lists, "vec_id").select(col("query_id"), col("cent_id"))
        .as[(Long, Long)].collect().groupBy(_._1).view
        .mapValues(_.map(_._2).toSet).toMap
    val plainCents = centsOf(plain)
    val expCents = centsOf(expanded)
    assert(plainCents.forall(_._2.size == 1), "nprobe=1 hits live in one list")
    assert(expCents.exists { case (q, cs) => cs.size > plainCents(q).size },
      "expansion must cross list boundaries for at least one query")

    // exact recall: re-ranking the expanded candidates never does worse
    // than re-ranking the plain candidates (superset + exact scoring)
    val truth = Ann.topKNeighbors(spark, vecs, queries, k = 10)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    def recall(short: org.apache.spark.sql.DataFrame): Double = {
      val got = Ann.rerank(spark, vecs, queries,
        short.select(col("query_id"), col("vec_id")), k = 10)
        .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
      (got & truth).size.toDouble / truth.size
    }
    val rPlain = recall(plain)
    val rExp = recall(expanded)
    assert(rExp >= rPlain,
      s"expansion recall $rExp must not trail plain recall $rPlain")
    plain.unpersist(); expanded.unpersist()
  }

  test("searchExpanded leaves no cache entry behind") {
    IndexStore.buildNeighbors(vecs, path, r = 8, nprobe = 8)
    val h = IndexStore.open(spark, path)
    val plain = h.search(queries, k = 10, nprobe = 1)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val entries = org.apache.spark.sql.CacheEntries(spark)
    val expanded = h.searchExpanded(queries, k = 10, nprobe = 1)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    assert((expanded -- plain).nonEmpty, "the expansion must add candidates")
    assert(org.apache.spark.sql.CacheEntries(spark) == entries,
      "an expanded search must not leave its shortlist cached")
  }

  test("searchExpanded builds its expansion candidates once") {
    IndexStore.buildNeighbors(vecs, path, r = 8, nprobe = 8)
    val h = IndexStore.open(spark, path)
    def call(): Array[org.apache.spark.sql.Row] =
      h.searchExpanded(queries, k = 10, nprobe = 1).collect()
    val warm = call()
    val (again, jobs) = org.apache.spark.JobCounter(spark.sparkContext)(call())
    assert(again.toSet == warm.toSet)
    // 22 when the candidates were built under the probe-id collect and
    // again in the scoring plan
    assert(jobs <= 19, s"$jobs jobs for one warm ${warm.length}-row expanded search")
  }

  test("one search body on OPQ stores: filter, full-width filter, expansion") {
    Seq("opq" -> false, "full-opq" -> true).foreach { case (kind, full) =>
      val p = java.nio.file.Files.createTempDirectory(s"graft_body_$kind").toString
      IndexStore.build(vecs, p, Dim, nlist = 8, m = 8, kcode = 16, iters = 3,
        opq = !full, fullOpq = full)
      SearchBodyChecks.check(kind, p, vecs, queries, fullProbe = 8)
    }
  }

  test("NN-descent refresh maintains neighbors from stored codes alone") {
    val p = java.nio.file.Files.createTempDirectory("graft_ivfpq_nnd_").toString
    IndexStore.build(vecs, p, Dim, nlist = 8, m = 8, kcode = 16, iters = 3)
    // the descent's monotone invariant: each node keeps the top-r by
    // SDC of (old neighbors ∪ candidates), so the mean kept SDC
    // similarity can only rise round over round. (Recall vs EXACT
    // neighbors is bounded by PQ distortion and not monotone — the
    // serving path buys that back with Ann.rerank.)
    IndexStore.refreshNeighbors(spark, p, r = 4, iters = 0)
    val s0 = meanKeptSim(p)
    IndexStore.refreshNeighbors(spark, p, r = 4, iters = 2)
    val s2 = meanKeptSim(p)
    assert(s2 >= s0 - 1e-9,
      s"descent must not lose SDC objective: init $s0 vs 2 iterations $s2")
    val nbrs = spark.read.parquet(s"$p/nbrs")
    assert(nbrs.filter(col("src_id") === col("nbr_id")).count() == 0)
    val perSrc = nbrs.groupBy("src_id").count().agg(max("count")).head().getLong(0)
    assert(perSrc <= 4, s"at most r rows per source, got $perSrc")
    // descent crosses list boundaries: some refreshed neighbor lives in
    // a different list than its source
    val lists = spark.read.parquet(IndexStore.listsPath(spark, p))
      .select(col("vec_id").as("src_id"), col("cent_id").cast("long").as("src_cent"))
    assert(nbrs.join(lists, "src_id")
      .filter(col("nbr_cent") =!= col("src_cent")).count() > 0,
      "NN-descent must discover cross-list neighbors from codes alone")
    // and the serving-side expansion consumes the refreshed table
    val h = IndexStore.open(spark, p)
    assert(h.searchExpanded(queries, k = 10, nprobe = 1).count() > 0)
  }

  test("delta neighbor refresh folds appends in without a corpus descent") {
    val p = java.nio.file.Files.createTempDirectory("graft_ivfpq_delta_").toString
    IndexStore.build(vecs, p, Dim, nlist = 8, m = 8, kcode = 16, iters = 3)
    IndexStore.refreshNeighbors(spark, p, r = 4, iters = 1)
    // appended batch: exact clones of 20 existing vectors under fresh
    // ids — each lands in its source's list with identical codes, so
    // the clone pair's SDC cosine is exactly 1.0 (the max)
    val cloned = vecs.orderBy(col("vec_id")).limit(20)
      .select((col("vec_id") + 10000000L).as("vec_id"), col("embedding"))
      .persist()
    IndexStore.append(cloned, p)
    val before = meanKeptSim(p)
    assert(IndexStore.refreshNeighborsDelta(spark, p, r = 4) == 20)
    val nbrs = spark.read.parquet(s"$p/nbrs").persist()
    // every appended row got a neighbor list, bounded by r
    val newSrc = nbrs.filter(col("src_id") >= 10000000L)
      .groupBy("src_id").count().persist()
    assert(newSrc.count() == 20, "all appended rows must appear as sources")
    assert(newSrc.agg(max("count")).head().getLong(0) <= 4)
    // reverse adoption: existing sources picked up their clone (SDC
    // cosine 1.0 beats everything; allow ties with code collisions)
    val adopted = nbrs.filter(col("nbr_id") === col("src_id") + 10000000L)
      .count()
    assert(adopted >= 10, s"clones must displace weaker neighbors, got $adopted")
    // merge = top-r of (old ∪ delta): each OLD source's candidate set
    // contains its old edges, so the kept objective over old sources
    // cannot drop; and a second delta pass with nothing appended is a
    // no-op
    assert(meanKeptSim(p, col("src_id") < 10000000L) >= before - 1e-9)
    assert(IndexStore.refreshNeighborsDelta(spark, p, r = 4) == 0)
    val h = IndexStore.open(spark, p)
    assert(h.searchExpanded(queries, k = 10, nprobe = 1).count() > 0)
    cloned.unpersist(); nbrs.unpersist(); newSrc.unpersist()
  }

  test("neighbor staleness policy picks noop/delta/full by append fraction") {
    val p = java.nio.file.Files.createTempDirectory("graft_ivfpq_mn_").toString
    IndexStore.build(vecs, p, Dim, nlist = 8, m = 8, kcode = 16, iters = 3)
    // no table yet → full build from codes
    assert(IndexStore.maintainNeighbors(spark, p, r = 4, iters = 1) == "full")
    // nothing appended → measure, touch nothing
    assert(IndexStore.maintainNeighbors(spark, p, r = 4, iters = 1) == "noop")
    // small append (20 / ~620 < 25%) → scoped delta merge
    IndexStore.append(vecs.orderBy(col("vec_id")).limit(20)
      .select((col("vec_id") + 20000000L).as("vec_id"), col("embedding")), p)
    assert(IndexStore.maintainNeighbors(spark, p, r = 4, iters = 1) == "delta")
    // bulk append (past the threshold) → full descent is cheaper than
    // churning most of the table through the delta path
    IndexStore.append(vecs
      .select((col("vec_id") + 30000000L).as("vec_id"), col("embedding")), p)
    assert(IndexStore.maintainNeighbors(spark, p, r = 4, iters = 1) == "full")
    // every row has neighbors afterwards, old and appended alike
    val lists = spark.read.parquet(IndexStore.listsPath(spark, p))
      .select("vec_id")
    val uncovered = lists.join(spark.read.parquet(s"$p/nbrs")
      .select(col("src_id").as("vec_id")).distinct(),
      Seq("vec_id"), "left_anti").count()
    assert(uncovered == 0, s"$uncovered rows left without neighbor lists")
  }

  test("lifecycle soak: build, appends, compact, neighbor maintain, expanded serve, rerank") {
    // the whole index lifecycle composed end to end, the way a weekly
    // ingest would drive it — each piece is asserted in isolation
    // above; this asserts the COMPOSITION stays consistent
    val p = java.nio.file.Files.createTempDirectory("graft_ivfpq_soak_").toString
    IndexStore.build(vecs, p, Dim, nlist = 8, m = 8, kcode = 16, iters = 3)
    val batches = (1 to 3).map { i =>
      vecs.orderBy(col("vec_id")).limit(40)
        .select((col("vec_id") + i * 40000000L).as("vec_id"),
          col("embedding"))
    }
    batches.take(2).foreach(IndexStore.append(_, p))
    // append debris → compaction policy fires, serving must not notice
    assert(IndexStore.maintain(spark, p, maxFilesPerList = 1).isDefined)
    // neighbor table: first call builds from the compacted codes, the
    // third batch folds in via the delta path
    assert(IndexStore.maintainNeighbors(spark, p, r = 4, iters = 1) == "full")
    IndexStore.append(batches(2), p)
    assert(IndexStore.maintainNeighbors(spark, p, r = 4, iters = 1) == "delta")
    val union = (vecs +: batches).reduce(_ unionByName _)
    val h = IndexStore.open(spark, p)
    // the documented serving composition: WIDE compressed shortlist,
    // exact rerank down to the page size
    val expanded = h.searchExpanded(queries, k = 40, nprobe = 4)
    val reranked = Ann.rerank(spark, union, queries,
      expanded.select(col("query_id"), col("vec_id")), k = 10)
    val truth = Ann.topKNeighbors(spark, union, queries, k = 10)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val got = reranked.select("query_id", "vec_id")
      .as[(Long, Long)].collect().toSet
    val recall = (got & truth).size.toDouble / truth.size
    assert(recall > 0.25, s"end-state recall $recall vs brute force")
    // every query served a full page, and the index holds every row
    val nQ = queries.count()
    assert(reranked.groupBy("query_id").count().count() == nQ)
    val rows = spark.read.parquet(IndexStore.listsPath(spark, p)).count()
    assert(rows == vecs.count() + 120, s"index row count $rows")
  }

  test("openAt pins a sealed generation: yesterday's index serves unchanged past ingest") {
    val p = java.nio.file.Files.createTempDirectory("graft_ttravel_").toString
    val oldV = vecs.filter(col("vec_id") % 2 === 0)
    IndexStore.build(oldV, p, Dim, nlist = 8, m = 8, kcode = 16, iters = 3)
    val q = queries.limit(5)
    val before = IndexStore.search(spark, q, p, k = 10, nprobe = 8)
      .as[(Long, Long, Long, Double)].collect().toSeq.sorted
    // seal gen 1, then ingest a new batch INTO gen 1
    val g1 = IndexStore.compact(spark, p)
    assert(g1 == 1L)
    IndexStore.append(
      vecs.filter(col("vec_id") % 2 === 1)
        .withColumn("vec_id", col("vec_id") + lit(700000000L)), p)
    // the pinned read reproduces the pre-ingest result bit-for-bit...
    val pinned = IndexStore.openAt(spark, p, 0L).search(q, k = 10, nprobe = 8)
      .as[(Long, Long, Long, Double)].collect().toSeq.sorted
    assert(pinned == before, "gen-0 read must be unaffected by later ingest")
    // ...while the current generation serves the appended vectors too
    val now = IndexStore.open(spark, p).search(q, k = 10, nprobe = 8)
      .as[(Long, Long, Long, Double)].collect()
    assert(now.exists(_._3 >= 700000000L), "current gen must see the new batch")
    // a vacuumed generation refuses to open
    IndexStore.vacuum(spark, p)
    intercept[IllegalArgumentException] {
      IndexStore.openAt(spark, p, 0L)
    }
  }

  test("torn write: the current generation needs no gen/ pointer table") {
    val p = java.nio.file.Files.createTempDirectory("graft_ivfpq_nogen_").toString
    IndexStore.build(vecs.filter(col("vec_id") % 2 === 0), p, Dim,
      nlist = 8, m = 8, kcode = 16, iters = 3)
    assert(IndexStore.compact(spark, p) == 1L)
    val extra = queries.limit(1)
      .select((col("vec_id") + 3000000L).as("vec_id"), col("embedding"))
    IndexStore.append(extra, p)
    // an overwrite of a pointer table deletes it before writing the new
    // one; a crash in between must not send readers back to generation 0
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$p/gen"), true)
    assert(IndexStore.currentGen(spark, p) == 1L)
    val got = IndexStore.search(spark, queries, p, k = 10, nprobe = 8)
      .as[(Long, Long, Long, Double)].collect().toSeq.sorted
    assert(got.exists(_._3 >= 3000000L),
      "the vector appended after compaction must stay searchable")
  }

  test("torn write: an unsealed generation is skipped, refused by openAt, and overwritten by the next compact") {
    val p = java.nio.file.Files.createTempDirectory("graft_ivfpq_torn_").toString
    IndexStore.build(vecs.filter(col("vec_id") % 2 === 0), p, Dim,
      nlist = 8, m = 8, kcode = 16, iters = 3)
    assert(IndexStore.compact(spark, p) == 1L)
    // the compact's data files landed but its commit never sealed them
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$p/lists_g1/_SUCCESS"), false)
    assert(IndexStore.currentGen(spark, p) == 0L)
    intercept[IllegalArgumentException] {
      IndexStore.openAt(spark, p, 1L)
    }
    assert(IndexStore.compact(spark, p) == 1L)
    assert(IndexStore.currentGen(spark, p) == 1L)
    assert(IndexStore.openAt(spark, p, 1L).search(queries, k = 10, nprobe = 2)
      .count() > 0)
  }

  /** Mean kept SDC cosine over the stored neighbor table — the
    * descent's objective, computed from codes alone. */
  private def meanKeptSim(p: String,
    srcFilter: org.apache.spark.sql.Column = lit(true)): Double = {
    val bks = IndexStore.books(spark, p)
    val sdc = graft.operators.PQ.sdcTables(bks)
    val lists = spark.read.parquet(IndexStore.listsPath(spark, p))
      .select(col("vec_id"), col("codes"), col("rec_nrm"))
    spark.read.parquet(s"$p/nbrs").filter(srcFilter)
      .join(lists.select(col("vec_id").as("src_id"),
        col("codes").as("a_codes"), col("rec_nrm").as("a_nrm")), "src_id")
      .join(lists.select(col("vec_id").as("nbr_id"),
        col("codes").as("b_codes"), col("rec_nrm").as("b_nrm")), "nbr_id")
      .agg(avg(graft.functions.SdcDot(col("a_codes"), col("b_codes"), sdc) /
        (col("a_nrm") * col("b_nrm"))))
      .head().getDouble(0)
  }

  /** Width of the cent_id IN(...) partition filter in the search plan. */
  private def probedInFilterWidth(q: org.apache.spark.sql.DataFrame,
    nprobe: Int): Int = {
    val plan = IndexStore.search(spark, q, path, k = 10, nprobe = nprobe)
      .queryExecution.executedPlan.toString
    val m = "PartitionFilters: \\[[^\\]]*IN \\(([^)]+)\\)".r.findFirstMatchIn(plan)
    assert(m.isDefined, s"no partition IN filter in plan:\n$plan")
    m.get.group(1).split(",").length
  }
}
