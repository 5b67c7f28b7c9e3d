package graft

import graft.operators.Relevance
import graft.sources.PostingsStore
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class PostingsStoreSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private val dir =
    java.nio.file.Files.createTempDirectory("postings_").toString

  test("stored-index search matches the one-pass bm25 on the fixed term set") {
    val docs = Tables.documents(spark, sf)
    PostingsStore.build(docs, dir)
    val got = PostingsStore.search(spark, dir, Relevance.Terms, k = 20)
      .as[(Long, Long, Double)].collect()
    val want = Relevance.bm25(spark, sf)
      .filter(col("bm25") > 0)
      .select(col("doc_id"), col("matched"), col("bm25"))
      .as[(Long, Long, Double)].collect()
      .sortBy(r => (-r._3, r._1)).take(20)
    assert(got.map(_._1).toSeq == want.map(_._1).toSeq,
      "stored search must rank the same page as the one-pass bm25")
    got.zip(want).foreach { case ((d, m, s), (_, mw, sw)) =>
      assert(m == mw, s"matched-term count diverged for doc $d")
      // both sides round-6; only the per-doc ADDITION ORDER differs
      // (fixed column fold vs groupBy row order) — last-ulp only
      assert(math.abs(s - sw) <= 2e-6, s"score diverged for doc $d: $s vs $sw")
    }
  }

  test("query reads are partition-pruned to the terms' buckets") {
    val plan = PostingsStore.search(spark, dir, Seq("spark", "query"))
      .queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*bkt".r.findFirstIn(plan).isDefined,
      s"bucket filter must prune partitions:\n$plan")
  }

  test("search touches no corpus-sized side table (dl rides the postings)") {
    val plan = PostingsStore.search(spark, dir, Seq("spark", "query"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("doclens"),
      s"doc-length normalization must come from the posting rows, not a corpus scan:\n$plan")
    // every parquet scan in the plan is either the pruned postings or
    // the 1-row stats — nothing else exists to read
    val scans = "Scan parquet".r.findAllIn(plan).size
    val known = "(postings|stats_g)".r.findAllIn(plan).size
    assert(known > 0 && scans <= known + 1,
      s"unexpected extra scan in search plan:\n$plan")
  }

  test("replayed batch id is a no-op (commit markers)") {
    val docs = Tables.documents(spark, sf)
    val d = java.nio.file.Files.createTempDirectory("postings_rp_").toString
    PostingsStore.build(docs.filter(col("doc_id") % 2 === 0), d)
    val batch = docs.filter(col("doc_id") % 2 === 1)
    PostingsStore.append(batch, d, batchId = Some(7L))
    val once = PostingsStore.search(spark, d, Relevance.Terms, k = 20)
      .as[(Long, Long, Double)].collect().toSeq
    val postRows = spark.read.parquet(PostingsStore.postingsPath(spark, d)).count()
    // the replay: same batch, same id — nothing may change
    PostingsStore.append(batch, d, batchId = Some(7L))
    assert(spark.read.parquet(PostingsStore.postingsPath(spark, d)).count() == postRows,
      "a committed batch id must not re-append postings")
    val twice = PostingsStore.search(spark, d, Relevance.Terms, k = 20)
      .as[(Long, Long, Double)].collect().toSeq
    assert(twice == once, "scores must be unchanged by a replay")
  }

  test("crash window: postings appended, stats+marker lost — replay repairs, search unaffected") {
    val docs = Tables.documents(spark, sf)
    val d = java.nio.file.Files.createTempDirectory("postings_cw_").toString
    PostingsStore.build(docs.filter(col("doc_id") % 2 === 0), d)
    val batch = docs.filter(col("doc_id") % 2 === 1)
    PostingsStore.append(batch, d, batchId = Some(3L))
    // simulate the crash AFTER the postings append but BEFORE the
    // stats generation sealed: roll back marker + newest stats gen
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$d/commits/b3"), false)
    fs.delete(new org.apache.hadoop.fs.Path(s"$d/stats_g1"), true)
    // replay re-appends (duplicating the batch's postings on disk)…
    PostingsStore.append(batch, d, batchId = Some(3L))
    assert(PostingsStore.committed(spark, d, 3L))
    // …but search re-aggregates per (doc_id, term), so ranking and
    // scores match a store that never crashed
    val got = PostingsStore.search(spark, d, Relevance.Terms, k = 20)
      .as[(Long, Long, Double)].collect().toSeq
    val clean = PostingsStore.search(spark, dir, Relevance.Terms, k = 20)
      .as[(Long, Long, Double)].collect().toSeq
    assert(got.map(r => (r._1, r._2)) == clean.map(r => (r._1, r._2)))
    got.zip(clean).foreach { case ((dd, _, s), (_, _, sw)) =>
      assert(math.abs(s - sw) <= 2e-6, s"score diverged for doc $dd: $s vs $sw")
    }
    // and compact physically removes the duplicated rows
    val before = spark.read.parquet(PostingsStore.postingsPath(spark, d)).count()
    val gen = PostingsStore.compact(spark, d)
    assert(gen == 1L)
    val after = spark.read.parquet(PostingsStore.postingsPath(spark, d)).count()
    assert(after < before, "compact must drop the replay-duplicated postings")
    val compacted = PostingsStore.search(spark, d, Relevance.Terms, k = 20)
      .as[(Long, Long, Double)].collect().toSeq
    assert(compacted == got, "compaction must not change search results")
    PostingsStore.vacuum(spark, d)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$d/postings")),
      "vacuum must reclaim the superseded generation")
    assert(PostingsStore.search(spark, d, Relevance.Terms, k = 20)
      .as[(Long, Long, Double)].collect().toSeq == got)
  }

  test("crash window: stats sealed, only the marker lost — replay re-marks, no double count") {
    val docs = Tables.documents(spark, sf)
    val d = java.nio.file.Files.createTempDirectory("postings_cm_").toString
    PostingsStore.build(docs.filter(col("doc_id") % 2 === 0), d)
    val batch = docs.filter(col("doc_id") % 2 === 1)
    PostingsStore.append(batch, d, batchId = Some(5L))
    val postRows = spark.read.parquet(PostingsStore.postingsPath(spark, d)).count()
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$d/commits/b5"), false)
    PostingsStore.append(batch, d, batchId = Some(5L))
    assert(PostingsStore.committed(spark, d, 5L))
    assert(spark.read.parquet(PostingsStore.postingsPath(spark, d)).count() == postRows,
      "last_batch guard must prevent a second postings append")
  }

  test("torn write: an unsealed stats generation is skipped, then overwritten by the next append") {
    val docs = Tables.documents(spark, sf)
    val d = java.nio.file.Files.createTempDirectory("postings_ts_").toString
    PostingsStore.build(docs.filter(col("doc_id") % 2 === 0), d)
    // a stats write that crashed before its commit: the dir exists, unsealed
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$d/stats_g1"))
    PostingsStore.append(docs.filter(col("doc_id") % 2 === 1), d,
      batchId = Some(9L))
    assert(PostingsStore.committed(spark, d, 9L))
    val got = PostingsStore.search(spark, d, Relevance.Terms, k = 20)
      .as[(Long, Long, Double)].collect().toSeq
    val clean = PostingsStore.search(spark, dir, Relevance.Terms, k = 20)
      .as[(Long, Long, Double)].collect().toSeq
    assert(got.map(r => (r._1, r._2)) == clean.map(r => (r._1, r._2)))
    got.zip(clean).foreach { case ((dd, _, s), (_, _, sw)) =>
      assert(math.abs(s - sw) <= 2e-6, s"score diverged for doc $dd: $s vs $sw")
    }
  }

  test("torn write: an unsealed postings generation is skipped, then overwritten by the next compact") {
    val docs = Tables.documents(spark, sf).limit(60)
    val d = java.nio.file.Files.createTempDirectory("postings_tc_").toString
    PostingsStore.build(docs, d, nBuckets = 4)
    val before = PostingsStore.search(spark, d, Relevance.Terms, k = 20)
      .as[(Long, Long, Double)].collect().toSeq
    // a compact that crashed before its commit: a partition dir, no marker
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$d/postings_g1/bkt=0"))
    assert(PostingsStore.currentGen(spark, d) == 0L)
    assert(PostingsStore.compact(spark, d) == 1L)
    assert(PostingsStore.currentGen(spark, d) == 1L)
    assert(PostingsStore.search(spark, d, Relevance.Terms, k = 20)
      .as[(Long, Long, Double)].collect().toSeq == before)
  }

  test("maintain compacts only past the file-count threshold") {
    val docs = Tables.documents(spark, sf).limit(60)
    val d = java.nio.file.Files.createTempDirectory("postings_mn_").toString
    PostingsStore.build(docs.filter(col("doc_id") % 3 === 0), d, nBuckets = 4)
    assert(PostingsStore.maintain(spark, d, maxFilesPerBucket = 64).isEmpty,
      "a fresh build is under any sane threshold")
    PostingsStore.append(docs.filter(col("doc_id") % 3 === 1), d)
    PostingsStore.append(docs.filter(col("doc_id") % 3 === 2), d)
    val gen = PostingsStore.maintain(spark, d, maxFilesPerBucket = 1)
    assert(gen.contains(1L), "append debris past the threshold must trigger a rewrite")
  }

  test("append-built store searches identically to a one-shot build") {
    val docs = Tables.documents(spark, sf)
    val dirInc = java.nio.file.Files.createTempDirectory("postings_inc_").toString
    PostingsStore.build(docs.filter(col("doc_id") % 2 === 0), dirInc)
    PostingsStore.append(docs.filter(col("doc_id") % 2 === 1), dirInc)
    val inc = PostingsStore.search(spark, dirInc, Relevance.Terms, k = 20)
      .as[(Long, Long, Double)].collect()
    val full = PostingsStore.search(spark, dir, Relevance.Terms, k = 20)
      .as[(Long, Long, Double)].collect()
    assert(inc.map(r => (r._1, r._2)).toSeq == full.map(r => (r._1, r._2)).toSeq,
      "append-built ranking must equal the one-shot build")
    inc.zip(full).foreach { case ((d, _, s), (_, _, sw)) =>
      assert(math.abs(s - sw) <= 2e-6, s"score diverged for doc $d after append")
    }
  }

  test("streaming ingest searches identically to batch append") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val docs = Tables.documents(spark, sf)
    val dirS = java.nio.file.Files.createTempDirectory("postings_str_").toString
    PostingsStore.build(docs.filter(col("doc_id") % 2 === 0), dirS)
    val rows = docs.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
    val (m1, m2) = rows.splitAt(rows.length / 2)
    val mem = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingPostingsIngest.ingest(
      mem.toDF().toDF("doc_id", "text"), dirS)
    try {
      mem.addData(m1.toSeq); q.processAllAvailable()
      mem.addData(m2.toSeq); q.processAllAvailable()
    } finally q.stop()
    val streamed = PostingsStore.search(spark, dirS, Relevance.Terms, k = 20)
      .as[(Long, Long, Double)].collect()
    val full = PostingsStore.search(spark, dir, Relevance.Terms, k = 20)
      .as[(Long, Long, Double)].collect()
    assert(streamed.map(r => (r._1, r._2)).toSeq ==
      full.map(r => (r._1, r._2)).toSeq)
    streamed.zip(full).foreach { case ((d, _, s), (_, _, sw)) =>
      assert(math.abs(s - sw) <= 2e-6, s"score diverged for doc $d via stream")
    }
  }

  test("terms absent from the corpus score nothing and break nothing") {
    assert(PostingsStore.search(spark, dir, Seq("zzznotaword")).count() == 0)
    // and a mixed query is unaffected by the dead term
    val mixed = PostingsStore.search(spark, dir, Seq("spark", "zzznotaword"), k = 5)
      .as[(Long, Long, Double)].collect()
    val clean = PostingsStore.search(spark, dir, Seq("spark"), k = 5)
      .as[(Long, Long, Double)].collect()
    assert(mixed.toSeq == clean.toSeq)
  }

  test("observed corpus stats: an empty batch and a batch with no tokens count zero") {
    val docs = Tables.documents(spark, sf)
    val d = java.nio.file.Files.createTempDirectory("postings_obs_").toString
    def stats(gen: Int): (Long, Long) = spark.read.parquet(s"$d/stats_g$gen")
      .select(col("n_docs"), col("dl_sum")).as[(Long, Long)].head()
    // optimized away (an empty relation) and empty only at run time
    PostingsStore.build(docs.limit(0), d)
    assert(stats(0) == ((0L, 0L)))
    PostingsStore.append(docs.filter(col("doc_id") < 0L), d)
    assert(stats(1) == ((0L, 0L)))
    PostingsStore.append(docs.limit(0), d, batchId = Some(1L))
    assert(stats(2) == ((0L, 0L)))
    // every text blank: each doc tokenizes to nothing and is dropped
    PostingsStore.append(docs.withColumn("text", lit("   ")), d)
    assert(stats(3) == ((0L, 0L)))
    // and a real batch after them is still counted exactly
    val batch = docs.filter(col("doc_id") % 2 === 0)
    PostingsStore.append(batch, d)
    val dl = batch.select(size(graft.functions.TextSim.tokens(col("text"))).as("n"))
      .filter(col("n") >= 1)
      .agg(count(lit(1)), sum(col("n")).cast("long")).as[(Long, Long)].head()
    assert(stats(4) == dl)
  }
}
