package graft

import java.sql.Timestamp

import graft.operators.Skew
import graft.streaming.{DocIn, StreamingDedup}
import org.apache.spark.{CheckpointDirScope, JobCounter}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ScaleSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  test("salted join equals plain join on a skewed dataset") {
    // 10k rows of one hot key + a tail
    val big = spark.range(10000).select(
      when(col("id") < 9000, 1L).otherwise(col("id")).as("k"),
      col("id").as("payload"))
    val small = Seq((1L, "hot"), (9500L, "cold"), (42L, "unmatched-on-big"))
      .toDF("k", "v")
    val plain = big.join(small, Seq("k")).select("k", "payload", "v")
      .as[(Long, Long, String)].collect().toSet
    val salted = Skew.saltedJoin(big, small, Seq("k"), salt = 8)
      .select("k", "payload", "v").as[(Long, Long, String)].collect().toSet
    assert(salted == plain)
    assert(plain.count(_._1 == 1L) == 9000)
  }

  test("salted LSH self-join splits a hot bucket and preserves pairs exactly") {
    BroadcastThreshold(spark, -1) {
      // synthetic viral bucket: 200 docs share band value 7; tail of
      // small buckets
      val bands = spark.range(2000).select(
        col("id").as("doc_id"), lit(0).as("band"),
        when(col("id") < 200, lit(7L)).otherwise(col("id") % 500 + 100).as("bval"))
      val unsalted = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bval") === col("b.bval") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id"), col("b.doc_id"))
        .as[(Long, Long)].collect().toSet
      val saltedDf = operators.Skew.saltedSelfJoin(
        bands, "doc_id", Seq("band", "bval"), 8)
        .select(col("a.doc_id"), col("b.doc_id"))
      val salted = saltedDf.as[(Long, Long)].collect().toSet
      assert(salted == unsalted)
      assert(unsalted.size >= 200 * 199 / 2)
      // the hot (band,bval) key must be sub-divided by __salt in the
      // exchange, so no single reducer owns the whole viral bucket
      val plan = saltedDf.queryExecution.executedPlan.toString
      assert("hashpartitioning\\([^)]*__salt".r.findFirstIn(plan).isDefined,
        s"band exchange must include the salt key:\n$plan")
    }
  }

  test("ngram rare-shingle join never broadcasts (corpus-sized build side)") {
    val df = operators.Dedup.ngramJaccard(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    val joins = plan.linesIterator.filter(_.contains("Join")).mkString("\n")
    assert(!joins.contains("Broadcast") || {
      // only the small verify-side re-joins may broadcast; the
      // postings-vs-rare join itself must be a shuffled hash join
      plan.contains("ShuffledHashJoin")
    }, s"postings-vs-rare must not broadcast:\n$plan")
    assert(plan.contains("ShuffledHashJoin"),
      s"expected a shuffled hash join for postings-vs-rare:\n$plan")
  }

  test("bucketed manifest join is shuffle-free (both sides pre-bucketed on id)") {
    BroadcastThreshold(spark, -1) {
      Tables.manifest(spark, sf).write.mode("overwrite")
        .bucketBy(8, "id").sortBy("id").saveAsTable("m_bucketed")
      Tables.currentSnapshot(spark, sf).write.mode("overwrite")
        .bucketBy(8, "id").sortBy("id").saveAsTable("c_bucketed")
      val joined = spark.table("c_bucketed")
        .join(spark.table("m_bucketed"), Seq("id"), "left_outer")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle:\n$plan")
      assert(joined.count() == Tables.currentSnapshot(spark, sf).count())
    }
  }

  test("approx_percentile tracks the exact order-statistic quantiles") {
    // q_quantiles is the accuracy oracle; approx_percentile is the
    // 100 TB scale path (mergeable sketch, no per-group sort) — assert
    // the sketch stays within its accuracy contract on real data
    val approx = Tables.events(spark, sf)
      .groupBy(col("event_type"))
      .agg(percentile_approx(col("value"), lit(0.5), lit(10000)).as("p50"))
      .as[(String, Double)].collect().toMap
    val exact = operators.Analytics.quantiles(spark, sf)
      .select("event_type", "p50").as[(String, Double)].collect().toMap
    assert(exact.nonEmpty && approx.keySet == exact.keySet)
    exact.foreach { case (k, v) =>
      assert(math.abs(approx(k) - v) <= math.max(0.05 * math.abs(v), 0.05),
        s"$k: approx ${approx(k)} vs exact $v")
    }
  }

  test("signature store: write-once bucketed signatures reproduce minhash pairs") {
    val docs = Tables.docsAug(spark, sf)
    graft.sources.SignatureStore.build(docs, "sig_store_t", buckets = 8)
    val fromStore = graft.sources.SignatureStore.pairs(spark, "sig_store_t")
      .as[(Long, Long, Double)].collect().toSet
    val direct = operators.Dedup.minhashPairs(docs)
      .as[(Long, Long, Double)].collect().toSet
    assert(fromStore == direct && direct.nonEmpty)
  }

  test("incremental dedup: new batch vs store equals the full-recompute pairs touching new docs") {
    val docs = Tables.docsAug(spark, sf)
    val newDocs = docs.filter(col("doc_id") % 5 === 0)
    val oldDocs = docs.filter(col("doc_id") % 5 =!= 0)
    graft.sources.SignatureStore.build(oldDocs, "sig_store_incr", buckets = 8)
    val incr = graft.sources.SignatureStore
      .incrementalPairs(spark, newDocs, "sig_store_incr")
      .as[(Long, Long, Double)].collect().toSet
    val newIds = newDocs.select("doc_id").as[Long].collect().toSet
    val expected = operators.Dedup.minhashPairs(docs)
      .as[(Long, Long, Double)].collect().toSet
      .filter(p => newIds(p._1) || newIds(p._2))
    assert(incr == expected && expected.nonEmpty)
    // append completes the store: a follow-up full read reproduces the
    // whole corpus's pair set
    // no bucket count: append reads the spec off the catalog table
    graft.sources.SignatureStore.append(newDocs, "sig_store_incr")
    val full = graft.sources.SignatureStore.pairs(spark, "sig_store_incr")
      .as[(Long, Long, Double)].collect().toSet
    val direct = operators.Dedup.minhashPairs(docs)
      .as[(Long, Long, Double)].collect().toSet
    assert(full == direct)
  }

  test("library pair and label functions return unordered frames (no global Sort)") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.catalyst.plans.logical.Sort
    import operators._
    val docs = Tables.docsAug(spark, sf).select(col("doc_id"), col("text"))
    val media = Tables.mediaAug(spark, sf)
    val events = Tables.events(spark, sf)
    val emb = Tables.embeddings(spark, sf)
    graft.sources.SignatureStore.build(docs.filter(col("doc_id") % 2 === 0),
      "sig_store_unordered", buckets = 4)
    val newSig = Dedup.minhashSignatures(Dedup.shingleDocs(
      docs.filter(col("doc_id") % 2 =!= 0)))
    val labels = Seq((2L, 1L)).toDF("id", "lbl")
    val frames: Seq[(String, DataFrame)] = Seq(
      "minhashPairsFrom" -> Dedup.minhashPairsFrom(
        Dedup.minhashSignatures(Dedup.shingleDocs(docs))),
      "simhashPairs" -> Dedup.simhashPairs(docs),
      "keepFromLabels" -> Dedup.keepFromLabels(docs.select(col("doc_id")), labels),
      "prefixPairs" -> PrefixJoin.prefixPairs(docs),
      "nearDupPairs" -> MediaDedup.nearDupPairs(media),
      "incrementalPairsFrom" -> graft.sources.SignatureStore
        .incrementalPairsFrom(spark, newSig, "sig_store_unordered"),
      "cropPairs" -> MediaCrop.cropPairs(Tables.mediaCropAug(spark, sf)),
      // a function whose fixture input takes more than a line is reached
      // through the query or wrapper that only builds that input
      "rankTopK" -> Ann.topKNeighbors(spark, emb, emb.filter(col("vec_id") % 100 === 0)),
      "ndcgMicro" -> Ann.ndcgQuery(spark, sf),
      "nearDups" -> Ann.nearDups(Tables.embAug(spark, sf)),
      "nearDupsMultiProbe" -> Ann.nearDupsMultiProbe(Tables.embAug(spark, sf)),
      "mmrRerank" -> Ann.mmrServed(spark, sf),
      "attribution" -> Attribution.attribution(events),
      "overlap" -> Audience.overlap(events),
      "acf" -> Autocorr.autocorr(events),
      "backtestFromCells" -> Backtest.backtest(events),
      "balanceOf" -> Balance.balance(spark, sf),
      "bhStep" -> BhFdr.bhFdr(spark, sf),
      "chao1Of" -> Chao.chao1(spark, sf),
      "churnFromSpans" -> Churn.churn(events),
      "closeness" -> Closeness.closenessQuery(spark, sf),
      "statsOf" -> CodeStats.statsOf(Tables.codeDocs(spark, sf)),
      "concurrency" -> Concurrency.concurrency(events),
      "clusterMix" -> Corpus.clusterMixQuery(spark, sf),
      "skipgram" -> CorpusStats.skipgram(Tables.documents(spark, sf)),
      "embedDrift" -> CorpusStats.embedDriftQuery(spark, sf),
      "cusumFromCells" -> Cusum.cusum(events),
      "exactGroups" -> Dedup.exactGroups(Tables.docsAug(spark, sf)),
      "keepBestFromLabels" -> Dedup.keepBest(spark, sf),
      "statsFromKeep" -> Dedup.dupStats(spark, sf),
      "ngramPairs" -> Dedup.ngramPairs(Tables.docsAug(spark, sf)),
      "dpQuantileOf" -> DpRelease.dpQuantileOf(spark, Tables.documents(spark, sf)),
      "edgeSupport" -> EdgeSupport.edgeSupport(Tables.edgesShared(spark, sf)),
      "manifestDeltaFrom" -> Etl.manifestDeltaFrom(Tables.currentSnapshot(spark, sf),
        Tables.manifest(spark, sf)),
      "funnel" -> Events.funnel(events),
      "retention" -> Events.retention(events),
      "anomaly" -> Events.anomaly(events),
      "anomalyMad" -> Events.anomalyMad(events),
      "burstiness" -> Events.burstiness(events),
      "ewma" -> Ewma.ewma(events),
      "chi2" -> FdProfile.chi2(Tables.documents(spark, sf), "source", "lang"),
      "overlapPairs" -> FpOverlap.overlapPairs(Tables.docsAug(spark, sf)),
      "gTestOf" -> GTest.gTest(spark, sf),
      "hhiOf" -> Hhi.hhi(spark, sf),
      "hw" -> HoltWinters.hw(events),
      "tClosenessOf" -> Kanon.tClosenessOf(Kanon.meta(spark, sf)),
      "keynessOf" -> Keyness.keyness(spark, sf),
      "knnLabelEval" -> KnnEval.knnEval(spark, sf),
      "cohortLtv" -> Ltv.cohortLtv(events),
      "screen" -> Mojibake.screen(Tables.mojibakeAug(spark, sf)),
      "calibration" -> NaiveBayes.nbCalibration(spark, sf),
      "labelNoiseOf" -> NaiveBayes.labelNoise(spark, sf),
      "novelty" -> Novelty.noveltyQuery(spark, sf),
      "transitions" -> Paths.transitions(events),
      "quantize" -> Quantize.quantize(Tables.embeddings(spark, sf)),
      "walks" -> RandWalk.walks(Tables.edgesShared(spark, sf)),
      "fromUsers" -> RatioMetric.ratioMetric(spark, sf),
      "fuse" -> Relevance.hybrid(spark, sf),
      "spearmanOf" -> Relevance.rankCorr(spark, sf),
      "saxOf" -> Sax.sax(spark, sf),
      "boilerplateUnits" -> Scrub.boilerplateUnits(Tables.docsAug(spark, sf)),
      "paraDedupStats" -> Scrub.paraDedupStats(Tables.documents(spark, sf)),
      "paraFuzzyPairs" -> Scrub.paraFuzzyPairs(Tables.docsAug(spark, sf)),
      "scrubPii" -> Scrub.piiScrub(spark, sf),
      "detect" -> Seasonal.seasonal(events),
      "strength" -> Seasonal.strengthQuery(spark, sf),
      "sequential" -> Sequential.sequential(events),
      "skylineOf" -> Skyline.skyline(spark, sf),
      "jsdOf" -> SourceJsd.sourceJsd(spark, sf),
      "substrStats" -> Substr.substrStats(Tables.docsAug(spark, sf)),
      "tailIndex" -> TailIndex.tailIndex(events, "event_type", "user_id"),
      "targetEncodeOf" -> TargetEncode.targetEncode(spark, sf),
      "theilSen" -> TheilSen.theilSen(events),
      "upliftOf" -> Uplift.uplift(spark, sf),
      "woeOf" -> Woe.woeIv(spark, sf),
      "plan" -> graft.sources.Compaction.compactionQuery(spark, sf),
      "pruneStats" -> graft.sources.PruneStats.pruneStatsQuery(spark, sf))
    frames.foreach { case (name, df) =>
      val sorts = df.queryExecution.optimizedPlan.collect {
        case s: Sort if s.global => s
      }
      assert(sorts.isEmpty, s"$name ends in a global sort:\n${df.queryExecution.optimizedPlan}")
    }
    spark.sql("DROP TABLE IF EXISTS sig_store_unordered")
  }

  test("vocab head cut compiles to a partial top-k merge, not a global sort") {
    val plan = operators.Corpus.vocab(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"vocab limit must be TakeOrderedAndProject (per-partition top-k + merge):\n$plan")
  }

  test("exact-dedup keeper rows equal the report form without per-group lists") {
    val docs = Tables.docsAug(spark, sf)
    val rows = operators.Dedup.exactKeepRows(docs)
    assert(rows.count() == docs.count(), "every doc labeled exactly once")
    val dupRows = rows.filter(col("n_copies") > 1)
      .select("content_hash", "keep_id", "doc_id")
      .as[(String, Long, Long)].collect().toSet
    val report = operators.Dedup.exact(spark, sf)
      .select("content_hash", "keep_id", "all_ids")
      .as[(String, Long, String)].collect()
      .flatMap { case (h, k, ids) => ids.split(",").map(i => (h, k, i.toLong)) }
      .toSet
    assert(report.nonEmpty)
    assert(dupRows == report,
      s"keeper rows diverge from the report form: ${dupRows.diff(report).take(3)}")
  }

  test("incremental connected components: merged labels equal full recompute over appended batches") {
    // the weekly-ingest story end to end: a base corpus's labels are
    // maintained under TWO appended batches via incrementalPairs +
    // mergePairs — old x old is never rescanned and never re-iterated —
    // and the final labels equal a from-scratch recompute
    val docs = Tables.docsAug(spark, sf)
    val b0 = docs.filter(col("doc_id") % 3 === 0)
    graft.sources.SignatureStore.build(b0, "sig_store_cc", buckets = 8)
    var labels = operators.Components.fromPairs(
      operators.Dedup.minhashPairs(b0).select("a_id", "b_id"))
    for (r <- Seq(1, 2)) {
      val batch = docs.filter(col("doc_id") % 3 === r)
      val np = graft.sources.SignatureStore
        .incrementalPairs(spark, batch, "sig_store_cc")
        .select("a_id", "b_id")
      // materialize the merged labels BEFORE appending: np reads the
      // store lazily, and a stored-label table is written out between
      // batches in the real workflow anyway
      labels = operators.Components.mergePairs(labels, np).localCheckpoint()
      graft.sources.SignatureStore.append(batch, "sig_store_cc")
    }
    val incr = labels.as[(Long, Long)].collect().toMap
    val full = operators.Components.fromPairs(
      operators.Dedup.minhashPairs(docs).select("a_id", "b_id"))
      .as[(Long, Long)].collect().toMap
    assert(full.nonEmpty)
    assert(incr == full,
      s"incremental labels diverge: ${incr.toSet.diff(full.toSet).take(5)} / " +
        s"${full.toSet.diff(incr.toSet).take(5)}")
    // last mile: maintained labels + one left join = the survivor frame
    val viaLabels = operators.Dedup
      .keepFromLabels(docs.select(col("doc_id")), labels)
      .as[(Long, Long, Boolean)].collect().toSet
    val direct = operators.Dedup
      .keepFrom(docs.select(col("doc_id")),
        operators.Dedup.minhashPairs(docs).select("a_id", "b_id"))
      .as[(Long, Long, Boolean)].collect().toSet
    assert(viaLabels == direct)
  }

  test("survivor set composes across detector families (minhash + simhash + embed)") {
    // the production dedup shape: several near-dup detectors, ONE
    // survivor materialization over the union of their pair sets
    val docs = Tables.docsAug(spark, sf)
    val textPairs = operators.Dedup.minhashPairs(docs).select("a_id", "b_id")
      .unionAll(operators.Dedup.simhashPairs(docs).select("a_id", "b_id"))
    val kept = operators.Dedup.keepFrom(docs.select(col("doc_id")), textPairs)
    val n = docs.count()
    assert(kept.count() == n)
    // every injected exact copy (doc_id + 1000000) must lose, and land
    // in the SAME cluster as its source (families may merge clusters
    // further — the keeper is the cluster min, not necessarily the
    // direct source)
    val keepOf = kept.select("doc_id", "keep_id")
      .as[(Long, Long)].collect().toMap
    val copies = kept.filter(col("doc_id") >= 1000000 && col("doc_id") < 2000000)
      .select("doc_id", "keep_id", "is_kept")
      .as[(Long, Long, Boolean)].collect()
    assert(copies.nonEmpty)
    copies.foreach { case (id, keep, isKept) =>
      assert(!isKept && keep == keepOf(id - 1000000),
        s"copy $id must share its source's cluster keeper ${keepOf(id - 1000000)}, got $keep")
    }
    // survivors are closed under the pair set: no kept doc is the b-side
    // of a pair whose a-side is also kept... (a kept pair would mean an
    // unmerged cluster)
    val keptIds = kept.filter(col("is_kept")).select("doc_id").as[Long].collect().toSet
    val unmerged = textPairs.as[(Long, Long)].collect()
      .filter { case (a, b) => keptIds(a) && keptIds(b) }
    assert(unmerged.isEmpty, s"pairs with both sides kept: ${unmerged.take(5).toList}")
  }

  test("connected components labels chains/isolates; reliable checkpoint dir works") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val nodes = spark.range(1, 13).select(col("id"))
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (3L, 5L))
      .toDF("a_id", "b_id")
    // reliable checkpointing follows the session's checkpoint dir,
    // scoped so the shared test session never keeps it; threshold −1:
    // a fixpoint this small would run on the driver and never cut
    val got = BroadcastThreshold(spark, -1L)(CheckpointDirScope(spark.sparkContext, tmp) {
      operators.Components.connectedComponents(nodes, pairs)
        .as[(Long, Long)].collect().toMap
    })
    val expect = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L) ++
      Seq(4L, 6L, 7L, 8L, 9L, 12L).map(i => i -> i)
    assert(got == expect)
    // reliable checkpoint actually wrote RDD blocks to the dir
    assert(rddFiles(new java.io.File(tmp)) > 0,
      s"no checkpoint files written under $tmp")
  }

  private def rddFiles(p: java.io.File): Long =
    if (p.isDirectory) p.listFiles.map(rddFiles).sum
    else if (p.getName.startsWith("rdd-") || p.getParentFile.getName.startsWith("rdd-")) 1L
    else 0L

  test("bfs with reliable checkpoint matches localCheckpoint bfs") {
    // threshold −1: every hop takes the distributed, cut path — on the
    // driver a small crawl would never reach the checkpoint
    BroadcastThreshold(spark, -1L) {
      val tmp = java.nio.file.Files.createTempDirectory("graft_ckpt_bfs").toString
      val edges = Tables.edges(spark, sf)
      val roots = spark.range(1).select(lit(0L).as("node"))
      val local = operators.Crawl.bfs(edges, roots, 20)
        .as[(Long, Long)].collect().toSet
      val sc = spark.sparkContext
      val before = sc.getCheckpointDir
      val (reliable, during) = CheckpointDirScope(sc, tmp) {
        (operators.Crawl.bfs(edges, roots, 20).as[(Long, Long)].collect().toSet,
          sc.getCheckpointDir)
      }
      assert(reliable == local && reliable.nonEmpty)
      assert(rddFiles(new java.io.File(tmp)) > 0,
        s"no checkpoint files written under $tmp")
      // a 20-hop reliable BFS leaves the session's directory exactly as
      // set: the operators read it, never rewrite it
      assert(during == Some(tmp), s"checkpoint dir rewritten to $during")
      assert(sc.getCheckpointDir == before)
    }
  }

  test("a set checkpoint dir reaches every cut of curator ingest, scc merge and neighbor refresh") {
    // operators that cut lineage directly before every cut went
    // through Iterate.materialize; the memoized edgesShared and
    // sharedLabels frames are avoided, since they may already exist
    val tmp = java.nio.file.Files.createTempDirectory("graft_ckpt_cuts").toString
    val docs = Tables.docsAug(spark, sf).select(col("doc_id"), col("text"))
    def batch(i: Int) = docs.filter(pmod(col("doc_id"), lit(2)) === i)
    val (e0, e1) = Tables.edges(spark, sf).as[(Long, Long)].collect().toSeq
      .partition(p => (p._1 + p._2) % 2 == 0)
    val idx = java.nio.file.Files.createTempDirectory("graft_ckpt_nbrs").toString
    graft.sources.IndexStore.build(
      Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding")),
      idx, 64, nlist = 4, m = 8, kcode = 16, iters = 2)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).toSet
    def run(tag: String) = {
      val (sigT, lblT) = (s"ckpt_cuts_sigs_$tag", s"ckpt_cuts_labels_$tag")
      operators.IncrementalCurator.init(spark, batch(0), sigT, lblT)
      operators.IncrementalCurator.ingest(spark, batch(1), sigT, lblT)
      val labels = rows(spark.table(lblT))
      Seq(sigT, lblT, s"${lblT}_next").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS $t"))
      val g0 = e0.toDF("src", "dst")
      val s0 = operators.Scc.scc(
        (e0.map(_._1) ++ e0.map(_._2)).distinct.toDF("id"), g0)
      val (s1, c1) = operators.Scc.mergeEdges(s0,
        operators.Scc.condensation(s0, g0), e1.toDF("src", "dst"))
      graft.sources.IndexStore.refreshNeighbors(spark, idx, r = 4, iters = 1)
      (labels, rows(s1), rows(c1), rows(spark.read.parquet(s"$idx/nbrs")))
    }
    // threshold −1: every label fixpoint and Lloyd round takes its
    // distributed, cut path — on the driver they never reach a cut
    val (local, (reliable, sites)) = BroadcastThreshold(spark, -1L) {
      val sc = spark.sparkContext
      (run("local"), CheckpointDirScope(sc, tmp)(JobCounter.callSites(sc)(run("reliable"))))
    }
    val same = reliable == local
    assert(same, "reliable-checkpoint outputs diverge")
    assert(local._1.nonEmpty && local._2.nonEmpty && local._4.nonEmpty)
    assert(rddFiles(new java.io.File(tmp)) > 0,
      s"no checkpoint files written under $tmp")
    val localCuts = sites.filter(_.startsWith("localCheckpoint at"))
    assert(localCuts.isEmpty, s"local cuts under a set checkpoint dir: $localCuts")
  }

  test("heavy-family count laws are exactly linear under distinct-replica growth") {
    // the deterministic half of the scaling-exponent story: growing
    // the CORPUS (not the clone clusters) multiplies minhash pairs and
    // graph nodes exactly, and leaves the fixed-query IVF result alone
    val p1 = ScaleExponents.minhashAt(spark, sf, 1)
    val p3 = ScaleExponents.minhashAt(spark, sf, 3)
    assert(p3 == 3 * p1, s"minhash pairs must scale x3: $p1 -> $p3")
    val g1 = ScaleExponents.pagerankAt(spark, sf, 1)
    val g3 = ScaleExponents.pagerankAt(spark, sf, 3)
    assert(g3 == 3 * g1, s"graph nodes must scale x3: $g1 -> $g3")
    val i1 = ScaleExponents.ivfAt(spark, sf, 1)
    val i3 = ScaleExponents.ivfAt(spark, sf, 3)
    assert(i3 == i1, s"fixed-query IVF result must not grow: $i1 -> $i3")
  }

  test("heavy-family wall-clock exponents stay sub-superlinear (load-permitting)") {
    // the measured half: ln(t_hi/t_lo)/ln(m_hi/m_lo) over an 8x corpus
    // span. At sf0.1 quiet the three families measure 0.60 / 0.29 /
    // 0.67 (fixed overhead dominates at toy scale — the law only needs
    // to NOT bend super-linear). Gate is generous (1.35) because the
    // suite may run under load; on a loaded machine the test cancels
    // rather than flakes (timing evidence is meaningless there).
    val load = scala.io.Source.fromFile("/proc/loadavg").mkString
      .split(" ")(0).toDouble
    val cpus = Runtime.getRuntime.availableProcessors
    assume(load < cpus / 2.0, s"machine loaded ($load on $cpus cpus); timing law not measurable")
    ScaleExponents.families.foreach { case (name, fam) =>
      val (tLo, tHi, e, _, _) = ScaleExponents.measure(spark, sf, fam, 2, 8)
      assert(e < 1.35,
        s"$name scales super-linearly: exp=$e ($tLo s @2x -> $tHi s @8x)")
    }
  }

  test("REAL-parquet sf0.1 -> sf1 exponents stay sub-superlinear (data+load-permitting)") {
    // the r9 brief's top item: the same laws on real parquet (row
    // groups, footers, partition counts) instead of replication. The
    // sf1 directory is generated by scripts/gen_sf.py (gitignored,
    // ~195 MB); the test cancels when it is absent or the machine is
    // loaded — when it runs, the gate is the same 1.35.
    val sf1 = new java.io.File("testdata_sf1")
    assume(sf1.isDirectory && new java.io.File(sf1, "documents.parquet").exists,
      "no generated sf1 dataset (scripts/gen_sf.py 1 testdata_sf1)")
    val load = scala.io.Source.fromFile("/proc/loadavg").mkString
      .split(" ")(0).toDouble
    val cpus = Runtime.getRuntime.availableProcessors
    assume(load < cpus / 2.0, s"machine loaded ($load on $cpus cpus); timing law not measurable")
    ScaleExponents.realFamilies.foreach { case (name, m, fam) =>
      val (tLo, tHi, e, nLo, nHi) = ScaleExponents.measureReal(
        spark, "/root/testdata/sf0.1", sf1.getPath, m, fam)
      assert(e < 1.35,
        s"$name scales super-linearly on real parquet: exp=$e " +
          s"($tLo s @sf0.1 -> $tHi s @sf1, rows $nLo -> $nHi)")
    }
  }

  test("streaming dedup keeps first copy per hash across batches") {
    implicit val sqlCtx = spark.sqlContext
    val t0 = 1700000000000L
    def doc(id: Long, h: String, offMs: Long) = DocIn(id, h, new Timestamp(t0 + offMs))
    val mem = MemoryStream[DocIn]
    val q = StreamingDedup.dedup(mem.toDS())
      .writeStream.format("memory").queryName("dedup_t")
      .outputMode("append").start()
    try {
      mem.addData(doc(1, "aaa", 0), doc(2, "aaa", 10), doc(3, "bbb", 20))
      q.processAllAvailable()
      // second batch: more copies of aaa/bbb plus a fresh hash
      mem.addData(doc(4, "aaa", 30), doc(5, "bbb", 40), doc(6, "ccc", 50))
      q.processAllAvailable()
      val got = spark.table("dedup_t").as[DocIn].collect()
        .map(d => d.content_hash -> d.doc_id).toMap
      assert(got == Map("aaa" -> 1L, "bbb" -> 3L, "ccc" -> 6L))
    } finally q.stop()
  }
}
