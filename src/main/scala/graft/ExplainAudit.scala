package graft
import org.apache.spark.sql.functions._

/** Plan audit main — prints the plan facts the 100 TB design claims:
  * pushed filters, broadcast vs shuffle joins per analytics query, and
  * the round-2 invariants (shuffle-free centroid assignment, shuffled
  * rare-shingle join, salted band exchanges, partial-agg ANN ranking).
  * The enforceable versions of these checks live in AnnSpec/ScaleSpec;
  * this main is the machine-readable sweep: it EXITS NONZERO on any
  * VIOLATED invariant (wired into scripts/check_all.sh), so a red plan
  * invariant can never ship inside a green gate claim (the r6 q_heaps
  * lesson — the audit printed VIOLATED and exited 0).
  */
object ExplainAudit {
  private var violated = 0
  private var checked = 0

  def main(args: Array[String]): Unit = {
    val spark = GraftSession(4)
    spark.sparkContext.setLogLevel("ERROR")
    val d = "/root/testdata/sf0.01"
    for (n <- Seq("q1_agg", "q3_topn", "q5_region", "q_discover", "q_manifest_delta")) {
      val plan = SparkEntry.queries(n)(spark, d).queryExecution.executedPlan.toString
      val pushed = "PushedFilters: \\[[^\\]]*\\]".r.findAllIn(plan).toList
      val bcast = plan.linesIterator.count(_.contains("BroadcastHashJoin"))
      val smj = plan.linesIterator.count(_.contains("SortMergeJoin"))
      val scans = plan.linesIterator.count(_.contains("FileScan"))
      println(s"== $n: scans=$scans bhj=$bcast smj=$smj")
      pushed.foreach(p => println(s"   $p"))
    }

    // round-2 invariants
    def flag(name: String, ok: Boolean): Unit = {
      checked += 1
      if (!ok) violated += 1
      println(s"== $name: ${if (ok) "OK" else "VIOLATED"}")
    }

    val e = Tables.embeddings(spark, d).selectExpr("vec_id", "embedding")
      .withColumn("nrm", operators.Ann.norm(col("embedding")))
    val cents = e.filter(col("vec_id") % 25 === 0)
      .select(col("vec_id").as("cent_id"), col("embedding").as("c_emb"),
        col("nrm").as("c_nrm"))
    val assignPlan = operators.KMeansVec.assign(e, cents)
      .queryExecution.executedPlan.toString
    flag("ivf assignment shuffle-free",
      !assignPlan.contains("Exchange") && !assignPlan.contains("Window"))

    val ngramPlan = operators.Dedup.ngramJaccard(spark, d)
      .queryExecution.executedPlan.toString
    flag("ngram rare join shuffled (never broadcast)",
      ngramPlan.contains("ShuffledHashJoin"))

    val minhashPlan = operators.Dedup.minhash(spark, d)
      .queryExecution.executedPlan.toString
    flag("band self-join salted (__salt in a join key)",
      minhashPlan.contains("__salt"))

    val brutePlan = operators.Ann.bruteForce(spark, d)
      .queryExecution.executedPlan.toString
    flag("ANN rank via partial ObjectHashAggregate (no score-matrix window)",
      brutePlan.contains("ObjectHashAggregate") && !brutePlan.contains("Window"))

    // round-3 invariants
    val scrubPlan = operators.Scrub.piiScrub(spark, d)
      .queryExecution.executedPlan.toString
    flag("pii scrub is a pure scan projection (no Exchange before the sort)",
      scrubPlan.linesIterator.count(_.trim.startsWith("+- Exchange")) <= 1 &&
        !scrubPlan.contains("Join"))

    val boilerPlan = operators.Scrub.boilerplate(spark, d)
      .queryExecution.executedPlan.toString
    flag("boilerplate is one partial-agg groupBy, no joins",
      boilerPlan.contains("partial_count(distinct") && !boilerPlan.contains("Join"))

    val quantPlan = operators.Quantize.vecQuant(spark, d)
      .queryExecution.executedPlan.toString
    flag("vec quant stats broadcast back (no vec_id join/shuffle)",
      quantPlan.contains("BroadcastNestedLoopJoin") &&
        !quantPlan.contains("SortMergeJoin") && !quantPlan.contains("HashJoin"))

    // round-4 invariants
    val vocabPlan = operators.Corpus.vocab(spark, d)
      .queryExecution.executedPlan.toString
    flag("vocab head is a partial top-k merge (TakeOrderedAndProject)",
      vocabPlan.contains("TakeOrderedAndProject"))

    val fdPlan = operators.TextAnalysis.filterDomain(spark, d)
      .queryExecution.executedPlan.toString
    flag("per-domain thresholds broadcast into the fused keep decision",
      fdPlan.contains("BroadcastHashJoin") && !fdPlan.contains("SortMergeJoin"))

    val idxDir = java.nio.file.Files.createTempDirectory("audit_ivfpq_").toString
    val vecs = Tables.embeddings(spark, d).selectExpr("vec_id", "embedding")
    graft.sources.IndexStore.build(vecs, idxDir, 64, nlist = 8)
    val idxPlan = graft.sources.IndexStore.search(spark,
      vecs.filter(col("vec_id") % 100 === 0), idxDir, 10, 2)
      .queryExecution.executedPlan.toString
    flag("IVF-PQ probe partition-pruned + stored side unshuffled",
      "PartitionFilters: \\[[^\\]]*cent_id".r.findFirstIn(idxPlan).isDefined &&
        !idxPlan.contains("SortMergeJoin") && !idxPlan.contains("ShuffledHashJoin"))

    // round-4 late invariants: the new operators keep the same shapes
    val mpPlan = operators.Ann.embedDedupMp(spark, d)
      .queryExecution.executedPlan.toString
    flag("multi-probe candidate join salted, id-only (no vector exchange)",
      mpPlan.contains("__salt") &&
        !mpPlan.linesIterator.exists(l =>
          l.contains("Exchange") && l.contains("embedding")))

    val adPlan = graft.sources.IndexStore.search(spark,
      vecs.filter(col("vec_id") % 100 === 0), idxDir, 10, 8,
      margin = Some(0.05))
      .queryExecution.executedPlan.toString
    flag("adaptive stored probe still partition-pruned + unshuffled",
      "PartitionFilters: \\[[^\\]]*cent_id".r.findFirstIn(adPlan).isDefined &&
        !adPlan.contains("SortMergeJoin") && !adPlan.contains("ShuffledHashJoin"))

    val skPlan = operators.QualitySketch.qualitySketch(spark, d)
      .queryExecution.executedPlan.toString
    flag("sketch calibration is one partial-agg groupBy over the scan",
      skPlan.contains("partial_count") && !skPlan.contains("Join"))

    val substrPlan = operators.Substr.substrDedup(spark, d)
      .queryExecution.executedPlan.toString
    flag("substr dup-set: one-pass gram hashes, partial-agg count, text never a shuffle key",
      substrPlan.contains("gramhashes") && substrPlan.contains("partial_count") &&
        !substrPlan.linesIterator.exists(l =>
          l.contains("Exchange") && l.contains("text#")))

    // q_bm25: the corpus path must see only the broadcast stats
    // exchange — no shuffle keyed on the corpus (tf is per-row, the
    // stats frame is 1 row, scoring is a broadcast nested loop).
    val bm25Plan = operators.Relevance.bm25(spark, d)
      .queryExecution.executedPlan.toString
    flag("bm25: corpus never shuffles (only the 1-row stats broadcast)",
      bm25Plan.contains("BroadcastNestedLoopJoin") &&
        !bm25Plan.contains("SortMergeJoin") &&
        !bm25Plan.contains("ShuffledHashJoin") &&
        !bm25Plan.linesIterator.exists(l =>
          l.contains("Exchange hashpartitioning") && l.contains("doc_id")))

    // q_minhash_contam: the bounded eval band table must broadcast past
    // the train bands — never a sort-merge of the two band streams.
    val mcPlan = operators.Dedup.minhashContam(spark, d)
      .queryExecution.executedPlan.toString
    flag("minhash contamination screen: eval bands broadcast, no sort-merge join",
      mcPlan.contains("BroadcastHashJoin") && !mcPlan.contains("SortMergeJoin"))

    val routedDir = java.nio.file.Files.createTempDirectory("audit_routed_")
      .toString
    graft.sources.IndexStore.build(vecs, routedDir, 64, nlist = 8,
      routeTop = 2)
    val routedPlan = graft.sources.IndexStore.open(spark, routedDir)
      .search(vecs.filter(col("vec_id") % 100 === 0), 10, 2)
      .queryExecution.executedPlan.toString
    flag("routed (two-level) probe partition-pruned + stored side unshuffled",
      "PartitionFilters: \\[[^\\]]*cent_id".r.findFirstIn(routedPlan).isDefined &&
        !routedPlan.contains("SortMergeJoin") &&
        !routedPlan.contains("ShuffledHashJoin"))

    // round-5 invariants
    // q_perplexity: calibration is collected before the scoring plan
    // exists, so scoring must be scan → project with NO exchange at all
    val pplPlan = operators.Perplexity.score(Tables.documents(spark, d))
      .queryExecution.executedPlan.toString
    flag("perplexity scoring rides the scan (no Exchange, no Join)",
      !pplPlan.contains("Exchange") && !pplPlan.contains("Join"))

    // q_cdc_bounded: the clamped chunker keeps the unclamped shape —
    // per-row kernel + posexplode, nothing keyed on the corpus
    val cbPlan = operators.Cdc.boundedChunks(
      Tables.documents(spark, d), 8, 32)
      .queryExecution.executedPlan.toString
    flag("bounded CDC chunks: per-row kernel, no Exchange, no Join",
      !cbPlan.contains("Exchange") && !cbPlan.contains("Join"))

    // PostingsStore.search: doc length rides the postings — the plan
    // may touch ONLY the pruned postings buckets and the 1-row stats
    val postDir = java.nio.file.Files.createTempDirectory("audit_post_").toString
    graft.sources.PostingsStore.build(
      Tables.documents(spark, d).limit(200), postDir)
    val postPlan = graft.sources.PostingsStore
      .search(spark, postDir, Seq("spark", "query"))
      .queryExecution.executedPlan.toString
    flag("postings search: pruned buckets + 1-row stats only (no doclens scan)",
      "PartitionFilters: \\[[^\\]]*bkt".r.findFirstIn(postPlan).isDefined &&
        !postPlan.contains("doclens"))

    // q_semdedup: assignment is the broadcast argmax kernel (never a
    // centroid join) and the within-cell pair join is salted
    val sdPlan = operators.SemDedup.semdedup(spark, d)
      .queryExecution.executedPlan.toString
    flag("semdedup: argmax-kernel assignment + salted within-cell pair join",
      sdPlan.toLowerCase.contains("nearestcentroids") &&
        sdPlan.contains("__salt") && !sdPlan.contains("CartesianProduct"))

    // q_nb_classify scoring: the classifier tables are literals, so
    // the scoring subtree is scan → project (the calibration groupBy
    // is the only aggregation anywhere in the plan)
    val nbModel = operators.NaiveBayes.fit(
      operators.NaiveBayes.counts(
        Tables.documents(spark, d)
          .filter(col("doc_id") % operators.Corpus.EvalMod === 0)),
      Seq("en", "zh", "es", "de", "fr"))
    val nbPlan = operators.NaiveBayes.scoreWith(
      Tables.documents(spark, d), nbModel)
      .queryExecution.executedPlan.toString
    flag("nb classifier scoring rides the scan (no Exchange, no Join)",
      !nbPlan.contains("Exchange") && !nbPlan.contains("Join"))

    // q_dup_score serve: the CMS counters are a reference object on a
    // native kernel — scoring is scan → project, zero shuffle
    val dupSk = operators.DupScore.fitCorpus(Tables.documents(spark, d))
    val dupPlan = operators.DupScore.scoreWith(
      Tables.documents(spark, d), dupSk)
      .queryExecution.executedPlan.toString
    flag("CMS dup scoring rides the scan (no Exchange, no Join)",
      !dupPlan.contains("Exchange") && !dupPlan.contains("Join"))

    // TimeJoin trio: AS-OF must be union+window (no join at all in the
    // match), and the keyless range/overlap joins must stay bucketed
    // equi-joins — never the BroadcastNestedLoop Spark plans for a
    // declarative inequality join
    val asofPlan = operators.TimeJoin.asOfJoinQuery(spark, d)
      .queryExecution.executedPlan.toString
    flag("as-of join: union+window, no nested-loop/cartesian",
      asofPlan.contains("Window") && !asofPlan.contains("BroadcastNestedLoop") &&
        !asofPlan.contains("CartesianProduct"))
    for ((nm, q) <- Seq(
      "range join" -> operators.TimeJoin.rangeJoinQuery(spark, d),
      "overlap join" -> operators.TimeJoin.overlapJoinQuery(spark, d))) {
      val p = q.queryExecution.executedPlan.toString
      flag(s"$nm: bucketed equi-join, no nested-loop/cartesian",
        !p.contains("BroadcastNestedLoop") && !p.contains("CartesianProduct"))
    }

    // q_sample_weighted: weights ride the scan, Σw is the bm25-style
    // 1-row broadcast — the only join must be a broadcast nested loop
    // over that single stats row, never a shuffle of the corpus
    val swPlan = operators.Corpus.sampleWeighted(spark, d)
      .queryExecution.executedPlan.toString
    flag("weighted sample: scan + 1-row stats broadcast, no corpus shuffle",
      !swPlan.contains("SortMergeJoin") && !swPlan.contains("ShuffledHashJoin") &&
        !swPlan.contains("hashpartitioning"))

    // round-5 late invariants
    val blPlan = operators.Blocklist
      .screen(Tables.documents(spark, d), "doc_id", "text")
      .queryExecution.executedPlan.toString
    flag("blocklist screen rides the scan (no Exchange, no Join)",
      !blPlan.contains("Exchange") && !blPlan.contains("Join"))

    val wcPlan = operators.WindowChunk
      .slide(Tables.documents(spark, d), "doc_id", "text")
      .queryExecution.executedPlan.toString
    flag("window chunker rides the scan (no Exchange, no Join)",
      !wcPlan.contains("Exchange") && !wcPlan.contains("Join"))

    val asPlan = operators.Corpus.auditSample(spark, d)
      .queryExecution.executedPlan.toString
    flag("audit sample: TakeOrdered partial top-N (no global Sort exchange)",
      asPlan.contains("TakeOrdered"))

    // slice-overlap signatures: the one corpus-sized fold is the
    // ObjectHashAggregate with a map-side partial pass; the pairing is
    // a self-join of the one-row-per-source signature frame, broadcast
    val soPlan = operators.SliceOverlap.sliceOverlap(spark, d)
      .queryExecution.executedPlan.toString
    flag("slice overlap: partial-agg signature fold + broadcast signature pairing",
      soPlan.contains("ObjectHashAggregate") &&
        soPlan.contains("BroadcastNestedLoopJoin") &&
        !soPlan.contains("SortMergeJoin") && !soPlan.contains("CartesianProduct"))

    // round-5 closing invariants: the new breadth keeps the shapes
    val rpPlan = operators.RandProj
      .projectFlat(Tables.embeddings(spark, d))
      .queryExecution.executedPlan.toString
    flag("random projection rides the scan (no Exchange, no Join)",
      !rpPlan.contains("Exchange") && !rpPlan.contains("Join"))

    val sgPlan = operators.Corpus.sampleGroup(spark, d)
      .queryExecution.executedPlan.toString
    flag("per-group sample: bounded partial aggregate, no stratum Window",
      sgPlan.contains("ObjectHashAggregate") && !sgPlan.contains("Window"))

    val zPlan = sources.Layout.zorderCells(spark, d)
      .queryExecution.executedPlan.toString
    flag("z-order cells: one partial-agg groupBy over the scan (no Join)",
      !zPlan.contains("Join") && zPlan.contains("HashAggregate"))

    val nsPlan = operators.Corpus.negSample(spark, d)
      .queryExecution.executedPlan.toString
    flag("negative sampler: id equi-join only, no nested-loop/cartesian",
      !nsPlan.contains("BroadcastNestedLoop") ||
        // the 1-row count frame rides a broadcast nested loop by design;
        // the id-resolving join itself must be hash-based
        (nsPlan.contains("BroadcastHashJoin") || nsPlan.contains("SortMergeJoin")))
    flag("negative sampler: no cartesian product",
      !nsPlan.contains("CartesianProduct"))

    // round-5 invariants: the curation-infrastructure block
    val mmPlan = operators.MultiMatch.matches(
      Tables.documents(spark, d), "doc_id", "text")
      .queryExecution.executedPlan.toString
    flag("multimatch rides the scan (automaton is task state, no Exchange)",
      !mmPlan.contains("Exchange"))

    val ecPlan = {
      val aug = Tables.embAug(spark, d)
      operators.EmbedContam.screen(
        aug.filter(col("vec_id") % 20 =!= 0 || col("vec_id") >= 1000000L),
        aug.filter(col("vec_id") % 20 === 0 && col("vec_id") < 1000000L))
        .queryExecution.executedPlan.toString
    }
    flag("embed contamination: eval broadcast, corpus never shuffles",
      !ecPlan.contains("Exchange hashpartitioning") &&
        ecPlan.contains("Broadcast"))

    val snPlan = operators.Snapshots.latestWins(
      operators.Snapshots.fetchLog(spark, d), "doc_id")
      .queryExecution.executedPlan.toString
    flag("snapshot fold: every exchange keys on the page id",
      "Exchange hashpartitioning\\(([^)]*)\\)".r.findAllMatchIn(snPlan)
        .forall(_.group(1).contains("doc_id")))

    val kaPlan = operators.Kanon.kanon(spark, d)
      .queryExecution.executedPlan.toString
    flag("kanon ladder: residues via broadcast semi-joins, never a corpus merge join",
      !kaPlan.contains("SortMergeJoin") &&
        kaPlan.contains("BroadcastHashJoin") && kaPlan.contains("LeftSemi"))

    val wfPlan = operators.Waterfill.waterfill(spark, d)
      .queryExecution.executedPlan.toString
    flag("waterfill: allocation branches read the stats barrier",
      wfPlan.contains("InMemoryTableScan"))
    spark.catalog.clearCache()

    val jcPlan = operators.JoinCard.joinCard(spark, d)
      .queryExecution.executedPlan.toString
    flag("join-card: no nested-loop joins beyond the 1-row stat frames",
      !jcPlan.contains("CartesianProduct"))
    spark.catalog.clearCache()

    val anPlan = operators.TimeJoin.asOfNearestQuery(spark, d)
      .queryExecution.executedPlan.toString
    flag("nearest as-of: union+window both directions, no nested loop",
      !anPlan.contains("BroadcastNestedLoop") && !anPlan.contains("Cartesian"))

    // round-5 continuation: profiling/linkage/runtime-filter block
    val lkPlan = operators.Linkage.linkage(spark, d)
      .queryExecution.executedPlan.toString
    // bounded multi-pass blocking (r6): every exchange keys on a
    // blocking column (name key / cents / rank bucket) — and both
    // rank windows are PARTITIONED by the cents block, so no
    // single-partition sort anywhere in candidate generation
    flag("linkage: bounded blocked equi-joins (no nested loop, no unpartitioned window)",
      !lkPlan.contains("BroadcastNestedLoop") && !lkPlan.contains("Cartesian") &&
        !lkPlan.contains("Exchange SinglePartition") &&
        "Exchange hashpartitioning\\(([^)]*)\\)".r.findAllMatchIn(lkPlan)
          .forall(m => Seq("nkey", "cents", "_bk")
            .exists(k => m.group(1).contains(k))))

    val fkPlan = operators.FkDiscover.fkDiscover(spark, d)
      .queryExecution.executedPlan.toString
    flag("fk-discover: bottom-k ObjectHashAggregate fold, no cartesian",
      fkPlan.contains("ObjectHashAggregate") && !fkPlan.contains("CartesianProduct"))

    val bjPlan = operators.RuntimeFilter.bloomJoinQuery(spark, d)
      .queryExecution.executedPlan.toString
    flag("bloom join: probe filter below the join (semi-join reduction in place)",
      bjPlan.linesIterator.indexWhere(_.contains("bloomhits")) >
        bjPlan.linesIterator.indexWhere(_.contains("Join")))

    // r6: the OPTIMIZER-shaped form — auto() must plant the same probe
    // on a selective join it was never hand-wired into
    val autoPlan = operators.RuntimeFilter.auto(
      Tables.lineitem(spark, d).select(col("l_orderkey"), col("l_quantity")),
      Tables.orders(spark, d)
        .filter(col("o_orderpriority") === "1-URGENT" &&
          col("o_orderstatus") === "F")
        .select(col("o_orderkey")),
      "l_orderkey", "o_orderkey")
      .queryExecution.executedPlan.toString
    flag("runtime-filter auto: stats-driven probe below the un-hand-wired join",
      autoPlan.linesIterator.indexWhere(_.contains("bloomhits")) >
        autoPlan.linesIterator.indexWhere(_.contains("Join")))

    val pcPlan = {
      import spark.implicits._
      val agg = new functions.MicroCovSum(operators.Pca.Dim)
      Tables.embeddings(spark, d).select(col("embedding").cast("array<float>"))
        .as[Seq[Float]].select(agg.toColumn)
        .queryExecution.executedPlan.toString
    }
    flag("pca covariance: map-side d2-buffer fold, corpus never hash-exchanged",
      pcPlan.contains("ObjectHashAggregate") &&
        !pcPlan.contains("Exchange hashpartitioning"))

    val lbPlan = operators.Linkage.linkageBest(spark, d)
      .queryExecution.executedPlan.toString
    // the only windows are the per-cents-block ranks inside candidate
    // generation (partitioned — no single-partition exchange); the
    // mutual-best step itself is argmax folds + semi-joins
    flag("linkage best: argmax folds + semi-joins, no unpartitioned window",
      !lbPlan.contains("Exchange SinglePartition") && lbPlan.contains("LeftSemi"))

    val spPlan = operators.Paths.sessionPaths(spark, d)
      .queryExecution.executedPlan.toString
    flag("session paths: per-user window only (no unpartitioned sort of events)",
      !spPlan.linesIterator.exists(l =>
        l.contains("Exchange SinglePartition") && l.contains("ENSURE")))

    val tsPlan = operators.Analytics.trendSlope(spark, d)
      .queryExecution.executedPlan.toString
    // span + distinct-types + hourly agg: three bounded-column scans;
    // the H·|types| grid itself is GENERATED, never a table
    flag("trend slope: grid generated (no grid-sized events scan), moment fold map-side",
      tsPlan.linesIterator.count(l =>
        l.contains("FileScan") && l.contains("events")) <= 3)

    // round-5 continuation: monitoring/eval/retrieval block
    val cpPlan = operators.Changepoint.changepointQuery(spark, d)
      .queryExecution.executedPlan.toString
    // the cell fold is materialized (a lineage cut → ExistingRDD):
    // span/types/grid all read the barrier — the events corpus is
    // scanned ONCE at materialization, not once per reference, and
    // unlike a cache entry the blocks are GC'd with the frame (the
    // per-trigger streaming detector must not accumulate state)
    flag("changepoint: cell barrier materialized, window partitioned by type",
      cpPlan.contains("ExistingRDD") && !cpPlan.contains("FileScan") &&
        "Window \\[[^\\]]*\\], \\[event_type".r.findFirstIn(cpPlan).isDefined)

    val ksPlan = operators.Ks.ksQuery(spark, d)
      .queryExecution.executedPlan.toString
    flag("ks test: running-sum window partitioned by type (no global sort of values)",
      "Window \\[[^\\]]*\\], \\[event_type".r.findFirstIn(ksPlan).isDefined)

    val silPlan = operators.Silhouette.silhouetteQuery(spark, d)
      .queryExecution.executedPlan.toString
    flag("silhouette: broadcast-argmax assignment (no Window, no join before the fold)",
      !silPlan.contains("Window") && !silPlan.contains("SortMergeJoin"))

    val corrPlan = operators.Corr.corrQuery(spark, d)
      .queryExecution.executedPlan.toString
    flag("corr: one lineitem scan, moment fold map-side (no hashpartitioning exchange)",
      corrPlan.linesIterator.count(l =>
        l.contains("FileScan") && l.contains("lineitem")) == 1 &&
        !corrPlan.contains("Exchange hashpartitioning"))

    val prfPlan = operators.Prf.prfQuery(spark, d)
      .queryExecution.executedPlan.toString
    flag("prf: query-term table broadcast onto the corpus (no corpus-sized term join)",
      prfPlan.contains("BroadcastHashJoin"))

    val iuPlan = operators.IntervalUnion.intervalUnionQuery(spark, d)
      .queryExecution.executedPlan.toString
    flag("interval union: per-user windows only, no interval self-join",
      !iuPlan.contains("Join") &&
        "Window \\[[^\\]]*\\], \\[user_id".r.findFirstIn(iuPlan).isDefined)

    val wzPlan = operators.Winsorize.winsorizeQuery(spark, d)
      .queryExecution.executedPlan.toString
    flag("winsorize: rank window per type, bounds broadcast back",
      "Window \\[[^\\]]*\\], \\[event_type".r.findFirstIn(wzPlan).isDefined &&
        wzPlan.contains("BroadcastHashJoin"))

    val basketPlan = operators.Assoc.assocQuery(spark, d)
      .queryExecution.executedPlan.toString
    // one BroadcastNestedLoopJoin is the legitimate 1-row n_sessions
    // stats cross; the PAIR join must be hash-keyed on the session id
    flag("assoc: pair join keys on the session id (never a type-only or cartesian join)",
      basketPlan.linesIterator.count(_.contains("BroadcastNestedLoop")) <= 1 &&
        !basketPlan.contains("CartesianProduct") &&
        "BroadcastHashJoin \\[user_id[^\\]]*session_seq".r
          .findFirstIn(basketPlan).isDefined)

    val aucLines = operators.Auc.aucQuery(spark, d)
      .queryExecution.executedPlan.toString.linesIterator.toList
    val aucWin = aucLines.indexWhere(_.contains("Window"))
    val aucScan = aucLines.indexWhere(l => l.contains("FileScan"), aucWin)
    flag("auc: ranking window fed by the grid aggregate, not corpus rows",
      aucWin >= 0 && aucLines.slice(aucWin, aucScan)
        .exists(l => l.contains("HashAggregate") && l.contains("keys=[sm")))

    // round-6 additions: drift/eval/attribution block
    val psiPlan = operators.Psi.psiQuery(spark, d)
      .queryExecution.executedPlan.toString
    // ONE events scan feeds the midpoint stat; the cell grid is the
    // persisted barrier everything else (edges, buckets, totals)
    // reads — no per-stage events rescans, no unpartitioned window
    // (the 1-row span/total aggregates legitimately plan their own
    // SinglePartition exchanges — what must NOT appear is a cartesian
    // or a third corpus scan; the run window partitions by type)
    flag("psi: grid-bounded after one cell fold (two corpus scans, no cartesian)",
      psiPlan.linesIterator.count(l =>
        l.contains("FileScan") && l.contains("events")) <= 2 &&
        psiPlan.contains("Window") && !psiPlan.contains("CartesianProduct"))

    val skgPlan = operators.CorpusStats.skipgramQuery(spark, d)
      .queryExecution.executedPlan.toString
    // one explode into ONE aggregation exchange — adding window width
    // adds pair rows, never passes
    flag("skipgram: single corpus scan, single pair-key exchange",
      skgPlan.linesIterator.count(_.contains("FileScan")) == 1 &&
        skgPlan.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1)

    val kePlan = operators.KnnEval.knnEval(spark, d)
      .queryExecution.executedPlan.toString
    // eval queries broadcast over the corpus; ranking is the partial
    // top-k aggregator, votes are argmax folds — no window anywhere
    flag("knn eval: broadcast queries + partial top-k, argmax votes (no window)",
      kePlan.contains("BroadcastNestedLoopJoin") ||
        kePlan.contains("BroadcastHashJoin"))
    flag("knn eval: no window over the score matrix",
      !kePlan.contains("WindowExec") && kePlan.contains("ObjectHashAggregate"))

    val atPlan = operators.Attribution.attributionQuery(spark, d)
      .queryExecution.executedPlan.toString
    // the journey join keys on user_id (window predicate rides the
    // join, never a cartesian); credit/argmax are partial-agg folds
    flag("attribution: user-keyed journey join, argmax folds (no window, no cartesian)",
      !atPlan.contains("CartesianProduct") && !atPlan.contains("Window"))

    val pfPlan = operators.Scrub.paraDedupFuzzy(spark, d)
      .queryExecution.executedPlan.toString
    // rare-postings self-join is salted and shuffled (never broadcast
    // — the df∈[2,5] shingle set grows with the corpus)
    flag("para fuzzy: salted rare-shingle self-join",
      pfPlan.contains("__salt") && !pfPlan.contains("CartesianProduct"))

    // round-6 post-block: heaps / burstiness / embed-outliers shapes
    val hpPlan = operators.CorpusStats.heapsQuery(spark, d)
      .queryExecution.executedPlan.toString
    // two corpus folds total (term→first-doc, doc→token-count); the
    // 8-row checkpoint frame broadcasts onto both (a nested-loop over
    // 8 rows is the design) — the corpus is never rescanned per
    // checkpoint and never a nested-loop PROBE side
    flag("heaps: two corpus folds, checkpoints broadcast (no per-checkpoint rescan)",
      hpPlan.linesIterator.count(l =>
        l.contains("FileScan") && l.contains("documents")) <= 2 &&
        !hpPlan.contains("CartesianProduct"))

    val buPlan = operators.Events.burstinessQuery(spark, d)
      .queryExecution.executedPlan.toString
    // sparse (type,hour) fold + ≤|types| moment fold; the dense grid
    // is algebra, not a scan — one 1-row span broadcast, no Window
    flag("burstiness: sparse folds only (no grid scan, no window)",
      buPlan.linesIterator.count(l =>
        l.contains("FileScan") && l.contains("events")) <= 2 &&
        !buPlan.contains("Window") &&
        buPlan.linesIterator.count(_.contains("BroadcastNestedLoop")) <= 1)

    val eoPlan = operators.Outliers.embedOutliersQuery(spark, d)
      .queryExecution.executedPlan.toString
    // d-row moment fold + stats broadcast + TakeOrdered top-k: the
    // vector column itself is never a shuffle key
    flag("embed outliers: stats broadcast + partial top-k, corpus never shuffles",
      eoPlan.contains("TakeOrderedAndProject") &&
        !eoPlan.contains("SortMergeJoin") && !eoPlan.contains("ShuffledHashJoin") &&
        !eoPlan.linesIterator.exists(l =>
          l.contains("Exchange hashpartitioning") && l.contains("embedding")))

    // round-7 invariants
    val mdPlan = operators.MediaDedup.mediaNearDup(spark, d)
      .queryExecution.executedPlan.toString
    // the dhash signature is a per-row scan projection; the one
    // exchange is the salted band self-join — payloads never ride a
    // cartesian or an unsalted bucket
    flag("media neardup: salted band self-join, no cartesian",
      mdPlan.contains("__salt") && !mdPlan.contains("CartesianProduct"))

    val sePlan = operators.Seasonal.seasonalQuery(spark, d)
      .queryExecution.executedPlan.toString
    // one events fold behind the cell barrier; profile/deviation/stats
    // all run on time-bounded frames — the corpus never rescans and
    // nothing needs a window
    flag("seasonal: cell barrier only (zero events rescans, no window)",
      sePlan.linesIterator.count(l =>
        l.contains("FileScan") && l.contains("events")) == 0 &&
        !sePlan.contains("Window"))

    val ssPlan = operators.Seasonal.strengthQuery(spark, d)
      .queryExecution.executedPlan.toString
    flag("seasonal strength: cell barrier only, argmax peak via max(struct) (no window)",
      ssPlan.linesIterator.count(l =>
        l.contains("FileScan") && l.contains("events")) == 0 &&
        !ssPlan.contains("Window"))

    val tiPlan = operators.TailIndex.tailIndexQuery(spark, d)
      .queryExecution.executedPlan.toString
    // the rank window partitions by type — a global (unpartitioned)
    // sort of the degree frame would be the scale bug
    flag("tail index: type-partitioned rank (no global sort of the degree frame)",
      tiPlan.linesIterator.exists(l =>
        l.contains("Window") && l.contains("event_type")))

    val dpPlan = operators.DpRelease.dpCounts(spark, d)
      .queryExecution.executedPlan.toString
    // one corpus fold to the domain cells; the noise is a scan
    // projection — no join back to documents, no window
    flag("dp counts: one documents fold, noise in the projection",
      dpPlan.linesIterator.count(l =>
        l.contains("FileScan") && l.contains("documents")) <= 3 &&
        !dpPlan.contains("Window"))

    val skrPlan = operators.Skew.skewReport(spark, d)
      .queryExecution.executedPlan.toString
    // the heavy-hitter cut is a partial top-k (per-partition heaps),
    // never a global sort of the key-count frame; one events scan
    // feeds both the stats fold and the top-k
    flag("skew report: partial top-k (TakeOrderedAndProject), <=2 events scans",
      skrPlan.contains("TakeOrderedAndProject") &&
        skrPlan.linesIterator.count(l =>
          l.contains("FileScan") && l.contains("events")) <= 2)

    val acfPlan = operators.Autocorr.autocorrQuery(spark, d)
      .queryExecution.executedPlan.toString
    // one events fold to the checkpointed cell frame; the 9-lag ladder
    // self-joins the bounded cells, never re-scanning events per lag
    flag("autocorr: <=1 events scan (checkpoint barrier feeds all lags)",
      acfPlan.linesIterator.count(l =>
        l.contains("FileScan") && l.contains("events")) <= 1)

    val miPlan = operators.MutualInfo.mutualInfoQuery(spark, d)
      .queryExecution.executedPlan.toString
    // one corpus fold to the checkpointed contingency frame; marginal
    // re-folds and the joint fold all read it, never the corpus
    flag("mutual info: <=1 documents scan (contingency barrier)",
      miPlan.linesIterator.count(l =>
        l.contains("FileScan") && l.contains("documents")) <= 1)

    val ccPlan = operators.Concurrency.concurrencyQuery(spark, d)
      .queryExecution.executedPlan.toString
    // sessions explode to delta rows in ONE projection; the bounded
    // cell barrier feeds grid bounds + the join — one events scan
    flag("concurrency: <=1 events scan (delta cells barrier)",
      ccPlan.linesIterator.count(l =>
        l.contains("FileScan") && l.contains("events")) <= 1)

    val ltvPlan = operators.Ltv.cohortLtvQuery(spark, d)
      .queryExecution.executedPlan.toString
    // the per-user first/last-week barrier feeds sizes + span + the
    // purchase join: one fold scan + one purchase-side scan, never more
    flag("cohort ltv: <=2 events scans (user-frame barrier)",
      ltvPlan.linesIterator.count(l =>
        l.contains("FileScan") && l.contains("events")) <= 2)

    val chPlan = operators.Churn.churnQuery(spark, d)
      .queryExecution.executedPlan.toString
    // one events fold to the checkpointed per-user frame; horizon and
    // lifetimes both read the barrier, the ladder is generated
    flag("churn: <=1 events scan (user-frame barrier feeds horizon + lifetimes)",
      chPlan.linesIterator.count(l =>
        l.contains("FileScan") && l.contains("events")) <= 1)

    val psPlan = graft.sources.PruneStats.pruneStatsQuery(spark, d)
      .queryExecution.executedPlan.toString
    // one orders scan behind the checkpoint barrier; the 2·P predicate
    // table broadcasts into the stats join
    flag("prune stats: <=1 orders scan, predicate table broadcast",
      psPlan.linesIterator.count(l =>
        l.contains("FileScan") && l.contains("orders")) <= 1 &&
        psPlan.contains("BroadcastNestedLoopJoin"))

    val novPlan = operators.Novelty.noveltyQuery(spark, d)
      .queryExecution.executedPlan.toString
    // the bounded eval shingle table broadcasts; the train side streams
    // past it — never a sort-merge of the two shingle streams
    flag("ngram novelty: eval shingles broadcast, train never sort-merged",
      novPlan.contains("BroadcastHashJoin") && !novPlan.contains("SortMergeJoin"))

    val bootPlan = operators.Bootstrap.bootstrapQuery(spark, d)
      .queryExecution.executedPlan.toString
    // the checkpoint barrier feeds BOTH the point estimate and the
    // B-replicate fold: one corpus scan, the explode is a projection
    flag("bootstrap: <=1 documents scan (point + replicates share barrier)",
      bootPlan.linesIterator.count(l =>
        l.contains("FileScan") && l.contains("documents")) <= 1)

    // --- round-8 additions ---

    val dimsPlan = SparkEntry.queries("q_media_dims")(spark, d)
      .queryExecution.executedPlan.toString
    // the header parse is ONE expression over the scan: no exchange
    // before the final presentation sort, payloads never join anything
    flag("media dims: single scan, no join, parse rides the projection",
      dimsPlan.linesIterator.count(_.contains("FileScan")) == 1 &&
        !dimsPlan.contains("Join"))

    val vidPlan = SparkEntry.queries("q_media_video")(spark, d)
      .queryExecution.executedPlan.toString
    // the box walk is ONE expression over the scan (brand is native
    // substring arithmetic): no exchange before the final sort, no join
    flag("media video: single scan, no join, box walk rides the projection",
      vidPlan.linesIterator.count(_.contains("FileScan")) == 1 &&
        !vidPlan.contains("Join"))

    val stratPlan = SparkEntry.queries("q_stratified")(spark, d)
      .queryExecution.executedPlan.toString
    // one per-user fold -> <=2·Strata cells -> 1-row readout: one
    // events scan, partial-agg everywhere, no window/join
    flag("stratified: one events scan, partial-agg folds, no window/join",
      stratPlan.linesIterator.count(l =>
        l.contains("FileScan") && l.contains("events")) == 1 &&
        stratPlan.contains("partial_") &&
        !stratPlan.contains("Window") && !stratPlan.contains("Join"))

    val rmPlan = SparkEntry.queries("q_ratio_metric")(spark, d)
      .queryExecution.executedPlan.toString
    // one per-user partial-agg fold feeds the 2-row arm fold: one
    // events scan, map-side combine at both levels, no window/join
    flag("ratio metric: one events scan, partial-agg folds, no window/join",
      rmPlan.linesIterator.count(l =>
        l.contains("FileScan") && l.contains("events")) == 1 &&
        rmPlan.contains("partial_") &&
        !rmPlan.contains("Window") && !rmPlan.contains("Join"))

    val cschPlan = SparkEntry.queries("q_crawl_schedule")(spark, d)
      .queryExecution.executedPlan.toString
    // the rank window partitions by HOST (the natural crawl key) —
    // a global unpartitioned sort of the frontier would be the bug
    flag("crawl schedule: host-partitioned windows only",
      cschPlan.linesIterator.exists(l =>
        l.contains("Window") && l.contains("host")) &&
        !cschPlan.contains("CartesianProduct"))

    val essPlan = SparkEntry.queries("q_ess")(spark, d)
      .queryExecution.executedPlan.toString
    // the moment fold is partial-agg; the tail is a partial top-N
    // (TakeOrdered), never a global sort of the weight frame
    flag("ess: partial-agg moments + TakeOrdered tail, no global sort/window",
      essPlan.contains("TakeOrderedAndProject") &&
        !essPlan.contains("Window"))

    val btPlan = SparkEntry.queries("q_backtest")(spark, d)
      .queryExecution.executedPlan.toString
    // one events fold behind the dense-cell barrier; targets and both
    // forecast joins read the checkpointed grid, never events
    flag("backtest: zero events rescans (dense-cell barrier), no window",
      btPlan.linesIterator.count(l =>
        l.contains("FileScan") && l.contains("events")) == 0 &&
        !btPlan.contains("Window"))

    val mjPlan = SparkEntry.queries("q_mojibake")(spark, d)
      .queryExecution.executedPlan.toString
    // replace/regex length arithmetic rides the scan: one documents
    // scan, no join, no exchange but the presentation sort
    flag("mojibake: single documents scan, no join",
      mjPlan.linesIterator.count(_.contains("FileScan")) == 1 &&
        !mjPlan.contains("Join"))

    val codePlan = SparkEntry.queries("q_code_stats")(spark, d)
      .queryExecution.executedPlan.toString
    // the line census folds the split array IN PLACE (array lambdas):
    // no explode, no join, one documents scan
    flag("code stats: single scan, no explode/join, lambdas fold in place",
      codePlan.linesIterator.count(_.contains("FileScan")) == 1 &&
        !codePlan.contains("Generate") && !codePlan.contains("Join"))

    val cropPlan = operators.MediaCrop.cropPairs(
      Tables.mediaCropAug(spark, d)).queryExecution.executedPlan.toString
    // tiled detector keeps the MediaDedup shape: salted band self-join
    // (per-tile keys), payloads never in a cartesian
    flag("media crop: salted per-tile band join, no cartesian",
      cropPlan.contains("__salt") &&
        !cropPlan.contains("CartesianProduct") &&
        !cropPlan.contains("BroadcastNestedLoopJoin"))

    val wkPlan = {
      val ev = Tables.events(spark, d).filter(col("value").isNotNull)
        .select(col("event_type"), col("event_id"),
          floor(col("value") * 100 + 0.5).cast("long").as("vc"))
      val sk = operators.Iterate.materialize(
        operators.Kmv.sketch(ev, "event_type", "event_id", "vc"))
      operators.Winsorize.winsorizeServedFrom(ev, sk)
        .queryExecution.executedPlan.toString
    }
    // the serve is the whole point: ONE corpus scan, bounds broadcast,
    // never a corpus-side sort-merge or rank window
    flag("winsorize served: one corpus scan, bounds broadcast, no sort-merge",
      wkPlan.linesIterator.count(_.contains("FileScan")) == 1 &&
        wkPlan.contains("BroadcastHashJoin") &&
        !wkPlan.contains("SortMergeJoin"))

    val dpcPlan = SparkEntry.queries("q_dp_continual")(spark, d)
      .queryExecution.executedPlan.toString
    // one corpus fold to the (cell, epoch) deltas; every join after
    // runs on bounded grids (broadcast), the corpus never sort-merges
    flag("dp continual: <=1 events scan, grid joins broadcast",
      dpcPlan.linesIterator.count(l =>
        l.contains("FileScan") && l.contains("events")) <= 1 &&
        !dpcPlan.contains("SortMergeJoin"))

    // the round pins below plan ONE round of each loop through the
    // operator's own round function (each loop materializes per
    // round, so the steady-state round plan is the honest unit)
    val roundEdges = Tables.edgesShared(spark, d)
    val sccInner = {
      val nodes = roundEdges.select(col("src").as("id"))
        .unionAll(roundEdges.select(col("dst").as("id"))).distinct()
      operators.Components.minLabelRound(operators.Iterate.materialize(
        nodes.select(col("id"), col("id").as("lbl"))), roundEdges)
        .queryExecution.executedPlan.toString
    }
    // each SCC propagation hop is one edge-keyed join + a partial-agg
    // min groupBy — no window, no cartesian, map-side partial present
    flag("scc round: edge join + partial-agg min, no window/cartesian",
      sccInner.contains("partial_min") &&
        !sccInner.contains("Window") &&
        !sccInner.contains("CartesianProduct"))

    val bwInner = {
      val nodes = roundEdges.select(col("src").as("node")).distinct()
      operators.Betweenness.walkRound(operators.Iterate.materialize(
        operators.Betweenness.pivotWalks(nodes)), roundEdges, 1)
        .queryExecution.executedPlan.toString
    }
    // each betweenness round (forward sigma and backward delta alike)
    // is the pagerank exchange shape: edge join + partial-agg sum
    flag("betweenness round: edge join + partial-agg sum, no window/cartesian",
      bwInner.contains("partial_sum") &&
        !bwInner.contains("Window") &&
        !bwInner.contains("CartesianProduct"))

    val pprInner = {
      val nodes = operators.Iterate.materialize(operators.Ppr.seededNodes(
        roundEdges, col("node") % operators.Ppr.SeedMod === 0))
      val pr = operators.Iterate.materialize(
        nodes.withColumn("pr", lit(1000000L)))
      operators.Ppr.round(pr, nodes, roundEdges, 1L)
        .queryExecution.executedPlan.toString
    }
    // each PPR round is the PageRank shape: edge-keyed join + a
    // partial-agg sum groupBy — map-side combine present, no window,
    // no cartesian (the teleport gate is a node-local projection)
    flag("ppr round: edge join + partial-agg sum, no window/cartesian",
      pprInner.contains("partial_sum") &&
        !pprInner.contains("Window") &&
        !pprInner.contains("CartesianProduct"))

    // round-9 invariants
    val rwStep = {
      // one walk step: frontier joined against ranked edges — must be
      // joins, never a per-node collect_list adjacency array
      operators.RandWalk.randWalk(spark, d)
        .queryExecution.executedPlan.toString
    }
    flag("rand_walk steps join ranked edges, no adjacency collect_list",
      !rwStep.contains("collect_list"))

    val cfPlan = operators.ItemCf.itemCf(spark, d)
      .queryExecution.executedPlan.toString
    flag("item_cf top-k window partitions by the item (never global)",
      "hashpartitioning\\(part".r.findFirstIn(cfPlan).isDefined &&
        cfPlan.contains("Window"))

    val q7Plan = operators.TpchMore.q7Volume(spark, d)
      .queryExecution.executedPlan.toString
    flag("q7: all four dimension decorations broadcast; one SMJ/shuffle max",
      q7Plan.linesIterator.count(_.contains("BroadcastHashJoin")) >= 4 &&
        q7Plan.linesIterator.count(_.contains("SortMergeJoin")) <= 1)

    val benfPlan = operators.Benford.benford(spark, d)
      .queryExecution.executedPlan.toString
    flag("benford: corpus folded before the lattice (no scan downstream)",
      !benfPlan.contains("FileScan") && !benfPlan.contains("SortMergeJoin"))

    val knPlan = operators.KnSmooth.knSmooth(spark, d)
      .queryExecution.executedPlan.toString
    flag("kn_smooth: top-k is TakeOrdered, supports broadcast back",
      knPlan.contains("TakeOrderedAndProject") &&
        knPlan.linesIterator.count(_.contains("BroadcastHashJoin")) >= 2)

    val survPlan = operators.Survival.survival(spark, d)
      .queryExecution.executedPlan.toString
    flag("survival: cumulative windows ride the non-foldable grid key",
      survPlan.contains("gridkey()") &&
        survPlan.linesIterator.count(_.contains("FileScan")) <= 1)

    val q3Plan = operators.TpchMore.q3Priority(spark, d)
      .queryExecution.executedPlan.toString
    flag("q3: both date filters pushed to their scans, top-k is TakeOrdered",
      "PushedFilters: \\[[^\\]]*GreaterThan\\(l_shipdate".r
        .findFirstIn(q3Plan).isDefined &&
        "PushedFilters: \\[[^\\]]*LessThan\\(o_orderdate".r
          .findFirstIn(q3Plan).isDefined &&
        q3Plan.contains("TakeOrderedAndProject"))

    val q5Plan = operators.TpchMore.q5Local(spark, d)
      .queryExecution.executedPlan.toString
    flag("q5: snowflake dims all broadcast, lineitem-orders the one big join",
      q5Plan.linesIterator.count(_.contains("BroadcastHashJoin")) >= 3 &&
        q5Plan.linesIterator.count(_.contains("SortMergeJoin")) <= 1)

    val q18Plan = operators.TpchMore.q18Large(spark, d)
      .queryExecution.executedPlan.toString
    flag("q18: per-order qty agg is partial (map-side combine), winners " +
      "join back without a second lineitem shuffle of raw rows",
      q18Plan.contains("partial_sum") &&
        q18Plan.linesIterator.count(_.contains("FileScan")) <= 3 &&
        q18Plan.contains("TakeOrderedAndProject"))

    val skyPlan = operators.Skyline.skyline(spark, d)
      .queryExecution.executedPlan.toString
    flag("skyline: segment-partitioned window, frontier broadcast back, " +
      "no sort-merge join",
      !skyPlan.contains("SortMergeJoin") &&
        skyPlan.linesIterator.count(_.contains("BroadcastHashJoin")) >= 2)

    val mwPlan = operators.MannWhitney.mannWhitney(spark, d)
      .queryExecution.executedPlan.toString
    flag("mann-whitney: one events scan, grid folds, no join at all",
      mwPlan.linesIterator.count(_.contains("FileScan")) <= 1 &&
        !mwPlan.contains("Join"))

    val bhPlan = operators.BhFdr.bhFdr(spark, d)
      .queryExecution.executedPlan.toString
    flag("bh_fdr: corpus folds behind the checkpoint barrier " +
      "(zero file scans downstream), perm grid broadcast",
      !bhPlan.contains("FileScan") &&
        bhPlan.linesIterator.count(_.contains("BroadcastNestedLoopJoin")) <= 1)

    val tePlan = operators.TargetEncode.targetEncode(spark, d)
      .queryExecution.executedPlan.toString
    flag("target_encode: bucket stats broadcast back onto the scan, " +
      "no second shuffle of raw rows",
      !tePlan.contains("SortMergeJoin") &&
        tePlan.linesIterator.count(_.contains("BroadcastHashJoin")) >= 1)

    // round-10 invariants
    val q10Plan = operators.TpchMore.q10Returns(spark, d)
      .queryExecution.executedPlan.toString
    flag("q10: return-flag + quarter filters pushed to their scans, " +
      "customer/nation broadcast, top-20 partial",
      "PushedFilters: \\[[^\\]]*l_returnflag".r.findFirstIn(q10Plan).isDefined &&
        "PushedFilters: \\[[^\\]]*o_orderdate".r.findFirstIn(q10Plan).isDefined &&
        q10Plan.linesIterator.count(_.contains("BroadcastHashJoin")) >= 2 &&
        q10Plan.contains("TakeOrderedAndProject"))

    val q21Plan = operators.TpchMore.q21Waiting(spark, d)
      .queryExecution.executedPlan.toString
    flag("q21: aggregate form — exactly one lineitem scan (no EXISTS " +
      "self-joins), winner set broadcast to the supplier dim",
      q21Plan.linesIterator.count(_.contains("FileScan")) <= 3 &&
        q21Plan.contains("partial_count") &&
        q21Plan.contains("BroadcastHashJoin"))

    val gsPlan = operators.TpchMore.groupingSets(spark, d)
      .queryExecution.executedPlan.toString
    flag("grouping_sets: one lineitem scan, partial-agg expand, no join",
      gsPlan.linesIterator.count(_.contains("FileScan")) == 1 &&
        gsPlan.contains("Expand") && !gsPlan.contains("Join"))

    val mmrPlan = operators.Ann.mmrServed(spark, d)
      .queryExecution.executedPlan.toString
    flag("mmr_rerank: greedy inside per-query mapGroups; candidate fetch " +
      "joins the shortlist, never a corpus-sized window",
      mmrPlan.contains("MapGroups") && !mmrPlan.contains("Window"))

    // r11: the sequential time-series folds run per type inside
    // mapGroups on executors (not a driver collect); the returned plan
    // reads the H·|types| checkpoint blocks, so a FileScan here would
    // mean a cell re-derivation leaked a second corpus scan
    for ((nm, df) <- Seq(
      "ewma" -> operators.Ewma.ewmaQuery(spark, d),
      "cusum" -> operators.Cusum.cusumQuery(spark, d),
      "holt_winters" -> operators.HoltWinters.hwQuery(spark, d))) {
      val p = df.queryExecution.executedPlan.toString
      flag(s"$nm: per-type sequential fold inside mapGroups over the " +
        "materialized cell frame (no driver fold, no corpus re-scan)",
        p.contains("MapGroups") && !p.contains("FileScan") &&
          !p.contains("Window"))
    }
    val markovPlan = operators.Markov.markovQuery(spark, d)
      .queryExecution.executedPlan.toString
    flag("markov: power iteration executor-side (single flatMapGroups " +
      "group over the |types|^2-bounded transition matrix)",
      markovPlan.contains("MapGroups"))

    val pagesPlan = operators.Crawl.crawlPagesQuery(spark, d)
      .queryExecution.executedPlan.toString
    flag("crawl_pages: one documents scan, windows partitioned by ds_id " +
      "(no global single-partition window)",
      pagesPlan.linesIterator.count(_.contains("FileScan")) == 1 &&
        "Window.*ds_id".r.findFirstIn(pagesPlan).isDefined)

    val ndcgPlan = operators.Ann.ndcgQuery(spark, d)
      .queryExecution.executedPlan.toString
    flag("ndcg: both shortlists rank via partial ObjectHashAggregate; " +
      "the metric join runs on |Q|*k rows, never a corpus window",
      ndcgPlan.contains("ObjectHashAggregate") && !ndcgPlan.contains("Window"))

    val cmsPlan = operators.DupScore.cmsBySourceCounters(
      Tables.documents(spark, d)).queryExecution.executedPlan.toString
    flag("cms_census: per-source counter fit is one partial-agg groupBy " +
      "riding the scan (no join, one FileScan)",
      cmsPlan.contains("partial_count") && !cmsPlan.contains("Join") &&
        cmsPlan.linesIterator.count(_.contains("FileScan")) == 1)

    // the keyed BFS hop — the q_closeness landmark hop, (root, node)
    // keyed: one equi-join on node = src and one left-anti join on
    // (root, node); a cartesian or nested-loop shape here is |V|·k
    val bfsEdges = Tables.edgesShared(spark, d)
    val lmSeed = operators.Iterate.materialize(bfsEdges
      .select(col("src").as("root")).distinct()
      .orderBy(md5(col("root").cast("string")), col("root"))
      .limit(operators.Closeness.NumLandmarks)
      .select(col("root"), col("root").as("node"), lit(0L).as("depth")))
    val hopPlan = operators.Crawl.hop(lmSeed, bfsEdges, lmSeed, Seq("root"), 1L)
      .queryExecution.executedPlan.toString
    flag("keyed bfs hop: equi-join on node = src, left-anti keyed on " +
      "(root, node), no CartesianProduct / BroadcastNestedLoopJoin",
      "Join \\[node#\\d+L?\\], \\[src#\\d+L?\\], Inner".r
        .findFirstIn(hopPlan).isDefined &&
        // the frontier side's node is the projected edge dst
        "Join \\[root#\\d+L?, (node|dst)#\\d+L?\\], \\[root#\\d+L?, node#\\d+L?\\], LeftAnti".r
          .findFirstIn(hopPlan).isDefined &&
        !hopPlan.contains("CartesianProduct") &&
        !hopPlan.contains("BroadcastNestedLoopJoin"))

    // a driver BFS round — Iterate's size rule held the frontier on the
    // driver: one filtered scan of the persisted edges, then a collect
    bfsEdges.persist()
    val roundPlan = operators.Crawl.outEdges(bfsEdges, Seq(0L, 1L, 2L))
      .queryExecution.executedPlan.toString
    bfsEdges.unpersist()
    flag("driver bfs round: one scan of the persisted edges, no Exchange, no Join",
      roundPlan.linesIterator.count(_.contains("InMemoryTableScan")) == 1 &&
        !roundPlan.contains("Exchange") && !roundPlan.contains("Join"))

    // the driver mergePairs rewrite — Iterate's size rule held the
    // batch and its contracted CC on the driver: the moved
    // representatives come back as a local relation, and the stored
    // labels stream past their broadcast once, never shuffled
    val lblDir = java.nio.file.Files.createTempDirectory("audit_labels_").toString + "/l"
    spark.range(0, 400).select(col("id"), (col("id") - col("id") % 10).as("lbl"))
      .write.parquet(lblDir)
    val rewritePlan = operators.Components.relabel(spark.read.parquet(lblDir),
      operators.Iterate.local(spark, Seq(org.apache.spark.sql.Row(10L, 0L),
        org.apache.spark.sql.Row(20L, 0L)), org.apache.spark.sql.types.StructType.fromDDL(
        "rep BIGINT, new_lbl BIGINT")))
      .queryExecution.executedPlan.toString
    flag("driver mergePairs rewrite: one scan of the stored labels, broadcast " +
      "join against the local moved reps, no Exchange over stored rows",
      rewritePlan.linesIterator.count(_.contains("FileScan")) == 1 &&
        rewritePlan.contains("BroadcastHashJoin") &&
        rewritePlan.contains("LocalTableScan") &&
        !rewritePlan.linesIterator.exists(l =>
          l.contains("Exchange") && !l.contains("BroadcastExchange")))

    // the vector-store upsert: the delta's buckets reach the store
    // scan's PartitionFilters and its sources leave by a broadcast
    // anti-join — the store rows are never shuffled
    val vsDir = java.nio.file.Files.createTempDirectory("audit_vstore_").toString + "/s"
    val vsRows = spark.range(0, 400).select(col("id").as("src_id"),
      col("id").cast("string").as("chunk_text"))
    sources.VectorStoreWriter.init(vsRows, vsDir)
    val upsertPlan = sources.VectorStoreWriter
      .merged(vsRows.filter(col("src_id") < 3), vsDir).get
      .queryExecution.executedPlan.toString
    flag("vector-store upsert reads only the affected buckets: bucket " +
      "PartitionFilter, broadcast delta ids, no Exchange over store rows",
      "PartitionFilters: \\[[^\\]]*bucket".r.findFirstIn(upsertPlan).isDefined &&
        upsertPlan.contains("BroadcastHashJoin") && upsertPlan.contains("LeftAnti") &&
        !upsertPlan.linesIterator.exists(l =>
          l.contains("Exchange") && !l.contains("BroadcastExchange")))

    spark.stop()
    println(s"== ExplainAudit: ${checked - violated}/$checked OK, $violated VIOLATED")
    if (violated > 0) sys.exit(1)
  }
}
