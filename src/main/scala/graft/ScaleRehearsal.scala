package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale rehearsal main — replicates the corpus N× (distinct ids, so
  * every source doc becomes an N-clone duplicate cluster) and times the
  * heavy operators on it. Answers the question the small-SF bench
  * can't: how do the dedup/ANN paths behave when the data — and worse,
  * the duplicate-cluster sizes — grow multiplicatively? Clone clusters
  * are exactly the "viral bucket" case the salted LSH self-joins exist
  * for: every clone shares every band value with its siblings.
  *
  * Usage: `sbt "runMain graft.ScaleRehearsal [mult]"` (default 4).
  * Prints one JSON line of per-stage seconds and output sizes.
  */
object ScaleRehearsal {
  def main(args: Array[String]): Unit = {
    val mult = args.headOption.map(_.toInt).getOrElse(4)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession()
    spark.sparkContext.setLogLevel("WARN")

    def replicate(df: DataFrame, idCol: String): DataFrame =
      (0 until mult).map(i =>
        df.withColumn(idCol, col(idCol) + lit(i * 100000000L)))
        .reduce(_ unionAll _)

    val docs = replicate(
      Tables.docsAug(spark, sfDir).select(col("doc_id"), col("text")), "doc_id")
    val vecs = replicate(
      Tables.embAug(spark, sfDir).select(col("vec_id"), col("embedding")), "vec_id")

    var stages = List.empty[(String, Double, Long)]
    // SPARK_GRAFT_STAGES=a,b restricts the run — a local profiling
    // knob (rehearse a new stage without re-paying the whole sweep)
    val only = sys.env.get("SPARK_GRAFT_STAGES")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    def t(name: String)(f: => Long): Unit = {
      if (only.forall(_.contains(name))) {
        val t0 = System.nanoTime()
        val n = f
        stages ::= ((name, (System.nanoTime() - t0) / 1e9, n))
        spark.catalog.clearCache()
      }
    }

    t("minhash_pairs") {
      operators.Dedup.minhashPairs(docs).count()
    }
    t("dedup_keep") {
      val pairs = operators.Dedup.minhashPairs(docs)
        .select(col("a_id"), col("b_id"))
      operators.Dedup.keepFrom(docs.select(col("doc_id")), pairs)
        .filter(col("is_kept")).count()
    }
    // incremental CC maintenance vs full recompute — the weekly-ingest
    // cost question: merging ONE batch's delta pairs into stored labels
    // iterates only the contracted delta graph (bounded by 2·|batch
    // pairs|), never the full corpus graph. Reported per stage: wall
    // seconds, label count, and propagation rounds (`*_rounds` rides
    // the stage list; rounds bound = iterated graph's diameter).
    if (only.forall(s => s.contains("cc_full") || s.contains("cc_merge_batch"))) {
      // shared setup, untimed: the pair table (a real ingest reads it
      // from the SignatureStore) and the stored base labels
      val ccPairs = operators.Iterate.materialize(
        operators.Dedup.minhashPairs(docs).select(col("a_id"), col("b_id")))
      val ccBatchIds = docs.select(col("doc_id"))
        .filter(pmod(col("doc_id"), lit(10)) === 0)
      val ccNew = operators.Iterate.materialize(
        ccPairs.join(ccBatchIds.select(col("doc_id").as("a_id")),
          Seq("a_id"), "left_semi")
          .unionByName(ccPairs.join(ccBatchIds.select(col("doc_id").as("b_id")),
            Seq("b_id"), "left_semi").select(col("a_id"), col("b_id")))
          .distinct())
      // fromPairs returns its materialized last round: no second cut
      val ccBase = operators.Components.fromPairs(ccPairs.exceptAll(ccNew))
      t("cc_full") {
        val n = operators.Components.fromPairs(ccPairs).count()
        stages ::= (("cc_full_rounds", 0.0,
          operators.Components.lastRounds.toLong))
        // the quantity that scales: the FULL graph is iterated every run
        stages ::= (("cc_full_edges", 0.0, ccPairs.count()))
        n
      }
      t("cc_merge_batch") {
        val n = operators.Components.mergePairs(ccBase, ccNew).count()
        stages ::= (("cc_merge_rounds", 0.0,
          operators.Components.lastRounds.toLong))
        // the merge iterates only the label-contracted delta (≤ 2·|batch
        // pairs| nodes, batch-bounded) — at 100 TB with a 0.1% weekly
        // delta that is the difference between re-iterating 10^10 edges
        // and 10^7; at toy scale fixed per-job overhead hides it (the
        // merge runs more, smaller jobs), which is why edges/rounds are
        // the reported signal, not wall seconds
        stages ::= (("cc_delta_edges", 0.0, ccNew.count()))
        n
      }
    }
    // the COMPOSED incremental curator vs full recompute — the weekly
    // cost question end-to-end (signatures + pairs + labels + keeper),
    // not just the CC leg the cc_* stages isolate: curator_delta
    // ingests a 10%-of-corpus batch against a pre-built store
    // (batch-sized signature compute, new bands broadcast against the
    // stored band table, label merge on the contracted delta, keeper
    // refresh = one left join); curator_full re-runs everything from
    // scratch. Setup (store build over the 90%) is untimed — a real
    // deployment amortized it across every prior week.
    if (only.forall(s => s.contains("curator_delta") || s.contains("curator_full"))) {
      val curBatch = operators.Iterate.materialize(
        docs.filter(pmod(col("doc_id"), lit(10)) === 0))
      val curBase = operators.Iterate.materialize(
        docs.filter(pmod(col("doc_id"), lit(10)) =!= 0))
      Seq("reh_sigs", "reh_sigs_del", "reh_labels", "reh_labels_next")
        .foreach(tb => spark.sql(s"DROP TABLE IF EXISTS $tb"))
      operators.IncrementalCurator.init(spark, curBase, "reh_sigs", "reh_labels")
      // ingest and keeper refresh timed apart: the refresh output is
      // corpus-sized by definition (every path pays it — full
      // recompute included), so bundling it would blur the quantity
      // that actually scales differently (the ingest's batch-bounded
      // work vs the full path's corpus-sized signature+pair+CC redo)
      t("curator_delta") {
        operators.IncrementalCurator.ingest(spark, curBatch,
          "reh_sigs", "reh_labels")
        spark.table("reh_labels").count()
      }
      t("curator_refresh") {
        operators.IncrementalCurator.curated(spark, "reh_sigs", "reh_labels")
          .filter(col("is_kept")).count()
      }
      t("curator_full") {
        operators.Dedup.keepFrom(docs.select(col("doc_id")),
          operators.Dedup.minhashPairs(docs).select(col("a_id"), col("b_id")))
          .filter(col("is_kept")).count()
      }
      Seq("reh_sigs", "reh_sigs_del", "reh_labels")
        .foreach(tb => spark.sql(s"DROP TABLE IF EXISTS $tb"))
    }
    t("simhash_pairs") {
      operators.Dedup.simhashPairs(docs).count()
    }
    // perceptual media near-dup under clone stress: replicas keep the
    // SAME payloads, so every payload gains mult Hamming-0 clones —
    // maximally viral 16-bit band buckets (every clone shares every
    // band), the exact case the salted self-join splits; output pairs
    // grow ~mult² per cluster (inherent — the answer is quadratic)
    t("media_neardup") {
      operators.MediaDedup.nearDupPairs(
        replicate(Tables.mediaAug(spark, sfDir), "media_id")).count()
    }
    // edit-distance dedup under clone stress: every clone cluster is
    // ONE viral prefix block, and candidate pairs grow quadratically
    // in the cluster size (mult clones -> mult·(mult−1)/2 verified
    // Levenshtein calls per source doc) — the verify-cost blowup the
    // blocking knob bounds; two-sided doubles the band volume on top
    t("edit_pairs") {
      operators.EditSim.editPairsTwoSided(docs).count()
    }
    // fingerprint containment under clone stress: replication
    // multiplies every print's df by mult, so the df ceiling scales
    // with mult to keep the same discriminative band — the knob a real
    // deployment sizes to its replication factor
    t("fp_overlap") {
      operators.FpOverlap.overlapPairs(docs, maxDf = 10 * mult).count()
    }
    // substring dedup under maximal duplication (every doc has mult
    // clones, so EVERY gram is corpus-duplicated — the worst case for
    // the dup-set aggregate and the island windows); the sampled drop
    // pass shows the modP volume knob on the same corpus
    t("substr_spans") {
      operators.Substr.substrStats(docs).count()
    }
    t("substr_drop_mod8") {
      operators.Substr.dropDupSpans(docs, modP = 8).count()
    }
    t("embed_neardups") {
      operators.Ann.nearDups(vecs, 0.95).count()
    }
    t("embed_mp") {
      // multi-probe triples the probe stream over already-viral
      // buckets — the worst case for candidate growth
      operators.Ann.nearDupsMultiProbe(vecs, 0.95, probes = 2).count()
    }
    t("ann_topk") {
      operators.Ann.topKNeighbors(spark, vecs,
        vecs.filter(col("vec_id") % 400 === 0), 10).count()
    }
    // time joins under replication: shifting user_id gives mult×
    // independent timelines (as-of stays linear per key); keeping the
    // SAME time range for the keyless joins multiplies temporal
    // density, so interval hits/pairs grow ~mult² — the output-blowup
    // stress the bucketed equi-join must absorb without a nested loop
    val evBase = Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("ts"),
        col("event_type"), col("value"))
    def replicateEvents(shiftUsers: Boolean): DataFrame =
      (0 until mult).map(i =>
        evBase.withColumn("event_id", col("event_id") + lit(i * 100000000L))
          .withColumn("user_id",
            col("user_id") + lit(if (shiftUsers) i * 1000000L else 0L)))
        .reduce(_ unionAll _)
    t("asof_enrich") {
      val ev = replicateEvents(shiftUsers = true)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("click_id"))
      operators.TimeJoin.asOfPrior(purchases, clicks, "user_id", "ts").count()
    }
    val winUs = 600000000L
    def errWindows(ev: DataFrame): DataFrame =
      ev.filter(col("event_type") === "error")
        .select(col("event_id"), unix_micros(col("ts")).as("lo"))
        .withColumn("hi", col("lo") + winUs)
    t("range_hits") {
      val ev = replicateEvents(shiftUsers = false)
      val purch = ev.filter(col("event_type") === "purchase")
        .select(unix_micros(col("ts")).as("t"))
      operators.TimeJoin.pointsInIntervals(
        purch, errWindows(ev), "t", "lo", "hi", winUs).count()
    }
    t("overlap_pairs") {
      val e = errWindows(replicateEvents(shiftUsers = false))
      val a = e.select(col("event_id").as("a_id"), col("lo").as("a_lo"),
        col("hi").as("a_hi"))
      val b = e.select(col("event_id").as("b_id"), col("lo").as("b_lo"),
        col("hi").as("b_hi"))
      operators.TimeJoin.intervalsOverlap(a, b, "a_lo", "a_hi",
        "b_lo", "b_hi", winUs).filter(col("a_id") < col("b_id")).count()
    }
    t("boilerplate") {
      // clone clusters make every unit an N-doc repeat: the groupBy
      // cardinality is the stress (units ~ corpus tokens / width)
      operators.Scrub.boilerplateUnits(docs).count()
    }
    t("pii_scrub") {
      operators.Scrub.scrubPii(docs).count()
    }
    t("vec_quant") {
      operators.Quantize.quantize(vecs).count()
    }
    // content-defined chunking under maximal duplication: every chunk
    // of every doc has mult clones, so the chunk-hash groupBy sees the
    // full corpus chunk stream with every group viral
    t("cdc_dedup") {
      operators.Cdc.chunks(docs).groupBy(col("chunk_hash"))
        .agg(count(lit(1)).as("n")).filter(col("n") >= 2).count()
    }
    // bloom decontamination: filter build over the replicated eval
    // slice + per-row probe of the full corpus — both passes scale
    // linearly, nothing shuffles
    t("bloom_screen") {
      operators.Corpus.contaminationBloom(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0), mBits = 1 << 20)
        .filter(col("flagged")).count()
    }
    // dsir calibration (bigram explode -> B-row agg) + per-row scoring
    // fold: two linear passes over the replicated corpus
    t("dsir_weights") {
      operators.Corpus.dsirWeights(docs).count()
    }
    // blocklist gate: one per-row comparison fold over the scan —
    // cost must track the corpus linearly, keep counts scale with mult
    t("blocklist") {
      operators.Blocklist.screen(docs, "doc_id", "text")
        .filter(col("keep_strict")).count()
    }
    // sliding-window chunking: linear pass, output ~ input x W/S —
    // the re-embed factor is the measured quantity, not a surprise
    t("window_chunks") {
      operators.WindowChunk.slide(docs, "doc_id", "text").count()
    }
    // slice-overlap signatures under replication: the one corpus fold
    // bounds per-slice state at k rows regardless of mult; the
    // pairwise stage never touches the corpus (synthetic 20-slice key)
    t("slice_overlap") {
      val sliced = docs
        .select((col("doc_id") % 20).cast("string").as("slice"),
          graft.functions.TextSim.tokens(col("text")).as("t"))
        .filter(size(col("t")) >= 3)
        .select(col("slice"),
          explode(graft.functions.TextSim.shingles3(col("t"))).as("g"))
      operators.SliceOverlap.overlapPairs(
        operators.SliceOverlap.signatures(sliced, "slice", "g")).count()
    }
    // semantic dedup under maximal duplication: every clone set lands
    // in ONE cell, so the within-cell pair scan is exactly the viral
    // case the salted self-join exists for
    t("semdedup") {
      val base = Tables.embeddings(spark, sfDir)
        .select(col("vec_id"), col("embedding"))
        .withColumn("nrm", operators.Ann.norm(col("embedding")))
      val cents = base.filter(col("vec_id") % 25 === 0)
        .select(col("vec_id").as("cent_id"), col("embedding").as("c_emb"),
          col("nrm").as("c_nrm"))
      operators.SemDedup.dedup(vecs, cents).filter(!col("is_dup")).count()
    }
    // CMS duplication scoring: fit + serve are two linear scans; the
    // replication multiplies every shingle df by mult, so template
    // scores must scale with mult while the pass cost stays linear
    t("dup_score") {
      val sk = operators.DupScore.fitCorpus(docs)
      operators.DupScore.scoreWith(docs, sk).count()
    }
    // NB classifier train+score: both linear scans (labels synthesized
    // from ids — the rehearsal docs frame carries no metadata)
    t("nb_classify") {
      operators.NaiveBayes.classify(docs.withColumn("lang",
        concat(lit("l"), (col("doc_id") % 5).cast("string")))).count()
    }
    // the ANN serving path under the same multiplicative stress:
    // build once (train + one-pass encode of the replicated corpus),
    // append a same-sized new batch with the STORED quantizers, then
    // probe the grown index — search cost must track the probed lists,
    // not the corpus
    val idxDir = java.nio.file.Files.createTempDirectory("rehearsal_idx_").toString
    t("index_build") {
      sources.IndexStore.build(vecs, idxDir, 64, nlist = 16)
      spark.read.parquet(s"$idxDir/lists").count()
    }
    t("index_append") {
      sources.IndexStore.append(
        vecs.withColumn("vec_id", col("vec_id") + lit(900000000L)), idxDir)
      spark.read.parquet(s"$idxDir/lists").count()
    }
    t("index_search") {
      sources.IndexStore.search(spark,
        vecs.filter(col("vec_id") % 400 === 0), idxDir, 10, 2).count()
    }
    // lifecycle maintenance under the same stress: compaction rewrites
    // build+append debris into one file per list; the compacted
    // generation must serve the identical row count
    t("index_compact") {
      sources.IndexStore.compact(spark, idxDir)
      spark.read.parquet(sources.IndexStore.listsPath(spark, idxDir)).count()
    }
    t("index_search_compacted") {
      sources.IndexStore.search(spark,
        vecs.filter(col("vec_id") % 400 === 0), idxDir, 10, 2).count()
    }
    // neighbor-table maintenance from stored codes alone: one full
    // descent pass over the doubled corpus, then a 1%-sized append
    // folded in by the delta path — delta must cost a fraction of full
    t("nbrs_full") {
      sources.IndexStore.refreshNeighbors(spark, idxDir, r = 4, iters = 1)
      spark.read.parquet(s"$idxDir/nbrs").count()
    }
    t("nbrs_delta") {
      sources.IndexStore.append(
        vecs.filter(col("vec_id") % 100 === 0)
          .withColumn("vec_id", col("vec_id") + lit(910000000L)), idxDir)
      sources.IndexStore.refreshNeighborsDelta(spark, idxDir, r = 4)
    }
    // two-level routed coarse quantization under the same stress:
    // grouped sub-training + broadcast-matrix assignment must track
    // the flat build's cost, and routed serving stays pruned
    val routedDir = java.nio.file.Files
      .createTempDirectory("rehearsal_routed_").toString
    t("routed_build") {
      sources.IndexStore.build(vecs, routedDir, 64, nlist = 16,
        routeTop = 4)
      spark.read.parquet(s"$routedDir/lists").count()
    }
    t("routed_search") {
      sources.IndexStore.open(spark, routedDir).search(
        vecs.filter(col("vec_id") % 400 === 0), 10, 2).count()
    }

    // quality-argmax survivors under clone stress: every clone set is
    // one cluster of size mult, so the per-cluster argmax fold sees
    // maximal group counts; cost = the keep recompute + one partial
    // agg of pair members (isolated docs still skip every shuffle)
    t("keep_best") {
      val pairs = operators.Dedup.minhashPairs(docs)
        .select(col("a_id"), col("b_id"))
      operators.Dedup.keepBestFrom(docs.select(col("doc_id")),
        operators.TextAnalysis.qualityScoresOf(docs)
          .select(col("doc_id"), col("quality")), pairs)
        .filter(col("is_kept")).count()
    }
    // deletion under scale: forget a 1/16 id slice from the served
    // index — cost must track the AFFECTED lists' rewrite, not the
    // corpus (the build above is the yardstick)
    t("index_forget") {
      sources.IndexStore.forget(spark, idxDir,
        vecs.filter(col("vec_id") % 16 === 3).select(col("vec_id")))
      spark.read.parquet(sources.IndexStore.listsPath(spark, idxDir)).count()
    }
    // lexical store lifecycle on the replicated corpus: linear build,
    // then a 1/16 deletion — the bucket-scoped rewrite plus the exact
    // stats decrement off the denormalized dl
    val postDir = java.nio.file.Files
      .createTempDirectory("rehearsal_post_").toString
    t("postings_build") {
      sources.PostingsStore.build(docs, postDir)
      spark.read.parquet(sources.PostingsStore.postingsPath(spark, postDir)).count()
    }
    t("postings_forget") {
      sources.PostingsStore.forget(spark, postDir,
        docs.filter(col("doc_id") % 16 === 3).select(col("doc_id")))
    }
    // signed random projection: a pure scan map — must stay linear and
    // shuffle-free at any mult
    t("rand_proj") {
      operators.RandProj.projectFlat(vecs).count()
    }
    // dictionary matching under replication: the automaton is
    // fixed-size task state (one reference object), the pass is
    // linear, and output rows scale with mult — dictionary size never
    // enters the cost
    t("multimatch") {
      operators.MultiMatch.matches(docs, "doc_id", "text").count()
    }
    // semantic decontamination under clone stress: the eval set stays
    // FIXED (benchmarks don't replicate) while the corpus grows mult×,
    // so the screen's cost is the linear broadcast scan and every
    // clone of an eval member is one more flagged pair
    t("embed_contam") {
      val ev = Tables.embAug(spark, sfDir)
        .filter(col("vec_id") % 20 === 0 && col("vec_id") < 1000000L)
      operators.EmbedContam.screen(vecs, ev).count()
    }
    // latest-wins collapse of a mult×-page fetch log: one partial-agg
    // fold keyed on the page — the shape that goes exchange-free when
    // the log buckets by page at 100 TB
    t("snapshot_fold") {
      val log = replicate(
        operators.Snapshots.fetchLog(spark, sfDir), "doc_id")
      operators.Snapshots.latestWins(log, "doc_id").count()
    }
    // k-anonymity ladder with mult× the SOURCES (suffixed): group
    // count grows, per-group size doesn't — the adversarial direction
    // for the cascade (more residue work per level)
    t("kanon_ladder") {
      val meta = operators.Kanon.meta(spark, sfDir)
      val rep = (0 until mult).map(i =>
        meta.withColumn("source", concat(col("source"), lit(s"_$i"))))
        .reduce(_ unionAll _)
      operators.Kanon.ladder(rep).count()
    }
    // waterfill allocation: the corpus fold dominates (one groupBy to
    // the stats frame); the allocation itself runs on ≤|domains| rows
    // regardless of mult
    t("waterfill") {
      val doms = docs.select((col("doc_id") % 997).cast("string").as("source"),
        size(functions.TextSim.tokens(col("text"))).cast("long").as("n_toks"))
        .groupBy(col("source")).agg(sum(col("n_toks")).as("n_tokens"))
        .persist()
      val n = operators.Waterfill.allocate(doms).count()
      doms.unpersist()
      n
    }
    // join-cardinality planning state: the counter frame is ≤
    // depth·width rows at ANY mult — the stage's "rows" records the F2
    // estimate, which grows with the data while the state does not
    t("join_card") {
      val c = operators.JoinCard.counters(docs.select(col("doc_id")), "doc_id")
      operators.JoinCard.estimate(c, c)
        .collect().head.getLong(0)
    }
    // nearest as-of over the replicated timeline: two key-shuffled
    // window passes (prior + negated-time forward), never a pair join
    t("asof_nearest") {
      val ev = replicateEvents(shiftUsers = true)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"))
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id"), unix_micros(col("ts")).as("ts_us"))
        .agg(max(col("event_id")).as("click_id"))
      operators.TimeJoin.asOfNearest(purchases, clicks, "user_id", "ts_us",
        operators.TimeJoin.NearTolUs).filter(col("near_dir").isNotNull).count()
    }
    // z-order layout write of the replicated event stream: one range
    // exchange + in-partition sort — the cost of any sorted write
    t("zorder_write") {
      val ev = replicateEvents(shiftUsers = true)
        .select(col("user_id").as("x"), unix_micros(col("ts")).as("y"),
          col("event_id"))
      val dir = java.nio.file.Files
        .createTempDirectory("rehearsal_z_").toString + "/ev"
      sources.Layout.writeZOrdered(ev, dir, "x", "y", numFiles = 32)
      spark.read.parquet(dir).count()
    }

    // record linkage under replication: replicating the registry side
    // multiplies every balance block's B population by mult, so
    // candidate pairs grow mult× (block sizes are the F-S cost knob);
    // true-pair output also scales with mult by construction
    t("linkage") {
      val house = operators.Linkage.houseSide(spark, sfDir)
      val reg = (0 until mult).map(i =>
        operators.Linkage.registry(spark, sfDir)
          .withColumn("b_id", col("b_id") + lit(i * 100000000L)))
        .reduce(_ unionAll _)
      operators.Linkage.linked(house, reg).count()
    }
    // linkage candidate-growth curve (the r5 `weak` fix, measured):
    // grow BOTH sides mult× with per-replica distinct names but the
    // SAME cents values — every exact-cents block's population
    // multiplies by mult on each side, the exact regime where a
    // fixed-cardinality block key went quadratic (mult²). Bounded
    // multi-pass blocking must keep the 1x→multx candidate ratio at
    // ~mult: name-key blocks stay constant-size (keys replicate), and
    // the sorted-neighborhood budget caps per-record cents-block
    // comparisons. SURVEY §5 reads the two counts off this pair.
    def growLinkSide(df: DataFrame, idCol: String, nameCol: String): DataFrame =
      (0 until mult).map(i =>
        df.withColumn(idCol, col(idCol) + lit(i * 100000000L))
          .withColumn(nameCol, concat(lit(s"$i~"), col(nameCol))))
        .reduce(_ unionAll _)
    // round-6 additions: journey/overlap/drift/co-occurrence block —
    // shifted users give mult× independent journeys (attribution
    // linear per user); the overlap matrix stays ≤|types|² whatever
    // the corpus; PSI's state is the value grid (×mult cells, grid-
    // bounded); skipgram is one fold (linear); para-fuzzy collapses
    // clone units first, so replication adds rows only to the
    // distinct-unit fold, not the pair join
    t("attribution") {
      operators.Attribution.attribution(replicateEvents(shiftUsers = true))
        .count()
    }
    t("audience_overlap") {
      operators.Audience.overlap(replicateEvents(shiftUsers = true)).count()
    }
    t("psi") {
      operators.Psi.psiDrift(replicateEvents(shiftUsers = true)).count()
    }
    t("skipgram") {
      operators.CorpusStats.skipgram(docs).count()
    }
    t("para_fuzzy") {
      operators.Scrub.paraFuzzyPairs(docs).count()
    }
    t("linkage_cand_1x") {
      operators.Linkage.candidates(
        operators.Linkage.houseSide(spark, sfDir),
        operators.Linkage.registry(spark, sfDir)).count()
    }
    t(s"linkage_cand_${mult}x") {
      operators.Linkage.candidates(
        growLinkSide(operators.Linkage.houseSide(spark, sfDir), "a_id", "nm"),
        growLinkSide(operators.Linkage.registry(spark, sfDir), "b_id", "b_name"))
        .count()
    }
    // FK discovery under replication: the profiled column frame grows
    // mult× but each column still folds to a k-row signature — the
    // pairwise stage is corpus-blind (the slice_overlap contract)
    t("fk_discover") {
      val vals = operators.FkDiscover.Columns.map { case (label, table, column) =>
        Tables.table(spark, sfDir, table)
          .select(lit(label).as("key"), col(column).cast("string").as("v"))
      }.reduce(_ unionAll _)
      val rep = (0 until mult).map(_ => vals).reduce(_ unionAll _)
      operators.SliceOverlap.overlapPairs(
        operators.SliceOverlap.signatures(rep, "key", "v")).count()
    }
    // bloom runtime-filter join under replication: the big side grows
    // mult× while the filter stays bits-bounded; the probe's pruning
    // fraction is invariant, so join-input volume tracks the TRUE
    // match count, not the corpus
    t("bloom_join") {
      val big = (0 until mult).map(_ =>
        Tables.lineitem(spark, sfDir).select(col("l_orderkey")))
        .reduce(_ unionAll _)
      val small = Tables.orders(spark, sfDir)
        .filter(col("o_orderpriority") === "1-URGENT" && col("o_orderstatus") === "F")
        .select(col("o_orderkey"))
      operators.RuntimeFilter.bloomJoin(big, small, "l_orderkey", "o_orderkey")
        .count()
    }
    // k-center selection under replication: k scans of a mult× corpus,
    // each a shuffle-free kernel pass + 1-row argmax — linear in mult,
    // and clone replication never changes WHICH points are picked
    // (clones of a center are distance-0, never farthest)
    t("coreset") {
      operators.Coreset.kCenters(vecs, 6).count()
    }
    // covariance fold under replication: one pass, d2 map-side buffers;
    // time tracks the scan, the exchanged state is partitions×33 KB at
    // any corpus size
    t("pca_cov") {
      import spark.implicits._
      val agg = new functions.MicroCovSum(operators.Pca.Dim)
      vecs.select(col("embedding").cast("array<float>"))
        .as[Seq[Float]].select(agg.toColumn).head().length.toLong
    }

    // events replicated by event_id: same users/hours, mult× rows per
    // cell — the per-key state (hour grid, value grid) must NOT grow
    val evs = (0 until mult).map(i =>
      Tables.events(spark, sfDir)
        .withColumn("event_id", col("event_id") + lit(i * 100000000L)))
      .reduce(_ unionAll _)
    // KS under replication: every count scales ×mult so D is EXACTLY
    // unchanged (c1·n2 − c2·n1 scales ×mult²; the max argmax too);
    // time tracks the scan + the fixed value grid
    t("ks_drift") {
      operators.Ks.ksDrift(evs).count()
    }
    // changepoint under replication: y ×mult → gain ×mult², cut
    // UNCHANGED; the dense grid is time-bounded, so only the one
    // events fold grows
    t("changepoint") {
      operators.Changepoint.changepoint(evs).count()
    }
    // PRF under replication: clone docs multiply tf/df proportionally;
    // the vocab fold and the ≤(|q|+E)-term broadcast rescoring are the
    // only corpus-scaling stages
    t("prf") {
      operators.Prf.prf(docs).count()
    }

    // concurrency under user replication: mult× users with identical
    // timelines ⇒ every hour's active count scales EXACTLY ×mult (the
    // sweep line is linear in sessions); asserted, not just timed
    t("concurrency") {
      val peak = operators.Concurrency.concurrency(evs
        .withColumn("user_id",
          col("user_id") + expr("(event_id div 100000000) * 1000000")))
        .agg(max(col("active"))).collect().head.getLong(0)
      val basePeak = operators.Concurrency.concurrency(
        Tables.events(spark, sfDir))
        .agg(max(col("active"))).collect().head.getLong(0)
      require(peak == mult * basePeak,
        s"sweep line must be clone-linear: $peak != $mult*$basePeak")
      peak
    }
    // bootstrap under replication: mult× rows with fresh md5-keyed
    // weights ⇒ the percentile CI narrows (the 1/sqrt(n) law); one
    // corpus pass regardless of B
    t("bootstrap_ci") {
      def width(df: DataFrame): Long = {
        val r = operators.Bootstrap.bootstrap(
          df.select(col("doc_id").as("id"),
            length(col("text")).cast("long").as("x"))).collect().head
        r.getAs[Long]("hi_micro") - r.getAs[Long]("lo_micro")
      }
      val (wRep, wBase) = (width(docs),
        width(Tables.docsAug(spark, sfDir).select(col("doc_id"), col("text"))))
      require(wRep < wBase,
        s"CI must narrow under ${mult}x data: $wRep !< $wBase")
      wRep
    }
    // novelty under replication: every clone of an eval doc lands in
    // the TRAIN split (shifted id mod 97 != 0) carrying its exact
    // shingles, so every base eval doc must read 0-novel — replication
    // IS contamination, and the screen must say so
    t("novelty_contam") {
      val nov = operators.Novelty.novelty(docs)
      val nonzero = nov.filter(col("eval_id") % 100000000L === col("eval_id"))
        .filter(col("novelty_micro") > 0).count()
      require(nonzero == 0L,
        s"cloned-into-train eval docs must be 0-novel, $nonzero weren't")
      nov.count()
    }

    val qs = stages.reverse.map { case (k, v, n) =>
      s""""$k":{"sec":$v,"rows":$n}""" }.mkString("{", ",", "}")
    spark.stop()
    println(s"""{"rehearsal":$qs,"mult":$mult,"sf":"$sfDir"}""")
  }
}
