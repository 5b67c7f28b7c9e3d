package graft

import java.nio.file.Files

import graft.operators.{Crawl, Etl, IncrementalRunner}
import graft.sources.{MediaExtract, ShardWriter, VectorStoreWriter}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SinksSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  test("shard writer bounds every file and lays shards out deterministically") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.01")
      .select(col("doc_id"), col("source"), col("text"))
    val total = docs.count()
    def shardFiles(dir: String): Seq[java.io.File] =
      new java.io.File(dir).listFiles().toSeq
        .filter(_.getName.endsWith(".parquet"))
    def perFileRows(dir: String): Seq[(String, Long)] =
      shardFiles(dir).sortBy(_.getName).map(f =>
        f.getName -> spark.read.parquet(f.getAbsolutePath).count())

    val out1 = Files.createTempDirectory("graft_shards1_").toString + "/c"
    ShardWriter.write(docs, out1, col("doc_id"), rowsPerShard = 100)
    val rows1 = perFileRows(out1)
    assert(rows1.map(_._2).sum == total, "export must preserve every row")
    assert(rows1.forall(_._2 <= 100), s"every shard capped at 100: $rows1")
    assert(rows1.size >= (total / 100).toInt, "enough shards to hold the corpus")
    // deterministic layout: a re-export produces the same shard contents
    val out2 = Files.createTempDirectory("graft_shards2_").toString + "/c"
    ShardWriter.write(docs, out2, col("doc_id"), rowsPerShard = 100)
    def contents(dir: String): Seq[Seq[Long]] =
      shardFiles(dir).sortBy(_.getName).map(f =>
        spark.read.parquet(f.getAbsolutePath)
          .select("doc_id").as[Long].collect().toSeq)
    assert(contents(out1) == contents(out2),
      "re-export must be shard-for-shard identical")
  }

  test("vector store upsert replaces only delta partitions") {
    val dir = Files.createTempDirectory("vstore").toString + "/store"
    val init = Seq((1L, "v1", "a"), (2L, "v1", "b"), (3L, "v1", "c"))
      .toDF("src_id", "vec", "payload")
    VectorStoreWriter.init(init, dir)
    val delta = Seq((2L, "v2", "b2"), (4L, "v1", "d")).toDF("src_id", "vec", "payload")
    VectorStoreWriter.upsert(delta, dir)
    val got = VectorStoreWriter.read(spark, dir)
      .select("src_id", "vec").as[(Long, String)].collect().toSet
    assert(got == Set((1L, "v1"), (2L, "v2"), (3L, "v1"), (4L, "v1")))
  }

  test("incremental runner: init + run + idempotent rerun") {
    val dir = Files.createTempDirectory("vstore").toString + "/store"
    IncrementalRunner.initStore(spark, sf, dir)
    val initState = VectorStoreWriter.read(spark, dir)
      .select("chunk_id").as[String].collect().toSet

    val after1 = IncrementalRunner.run(spark, sf, dir)
      .select("chunk_id", "src_id").as[(String, Long)].collect().toSet
    val after2 = IncrementalRunner.run(spark, sf, dir)
      .select("chunk_id", "src_id").as[(String, Long)].collect().toSet
    assert(after1 == after2, "rerun must be idempotent")

    // unchanged sources keep their original chunk ids
    val deltaIds = Etl.manifestDelta(spark, sf).filter(col("needs_vector"))
      .select("id").as[Long].collect().toSet
    val untouched = after1.filter { case (_, src) => !deltaIds.contains(src) }
    assert(untouched.map(_._1).subsetOf(initState))
    // changed/new sources present with rewritten vectors
    assert(after1.exists { case (_, src) => deltaIds.contains(src) })
  }

  test("configured run: dry-run plans without writing, limits cap the delta") {
    val dir = Files.createTempDirectory("vstore").toString + "/store"
    IncrementalRunner.initStore(spark, sf, dir)
    val before = VectorStoreWriter.read(spark, dir).count()

    val planned = IncrementalRunner.run(spark, sf, dir,
      IncrementalRunner.Config(dryRun = true))
    assert(planned.count() > 0)
    assert(VectorStoreWriter.read(spark, dir).count() == before,
      "dry run must not touch the store")

    val capped = IncrementalRunner.run(spark, sf, dir,
      IncrementalRunner.Config(maxSources = Some(3),
        sourceFilter = Some(col("id") % 2 === 0), dryRun = true))
    val srcs = capped.select("src_id").distinct()
      .as[Long].collect().sorted.toSeq
    assert(srcs.length <= 3 && srcs.forall(_ % 2 == 0))
  }

  test("run accounting: processed/skipped/failed/vectorized on a known delta") {
    val dataDir = Files.createTempDirectory("accdata").toString
    // blank text for every 7th doc: those land in the delta (changed)
    // but have nothing to chunk -> counted failed, run keeps going
    (1L to 20L).map(i => (i, s"s$i",
      if (i % 7 == 0) "  "
      else (1 to 30).map(w => s"w${i}_$w").mkString(" ")))
      .toDF("doc_id", "source", "text")
      .write.parquet(dataDir + "/documents.parquet")
    val store = Files.createTempDirectory("accstore").toString + "/store"
    IncrementalRunner.initStore(spark, dataDir, store)
    val (storeDf, stats) = IncrementalRunner.runWithStats(spark, dataDir, store)
    val deltaIds = Etl.manifestDelta(spark, dataDir)
      .filter(col("needs_vector")).select("id").as[Long].collect().toSet
    val expFailed = deltaIds.count(_ % 7 == 0)
    assert(expFailed > 0 && deltaIds.size > expFailed)
    assert(stats.failed == expFailed)
    assert(stats.processed == deltaIds.size - expFailed)
    assert(stats.skipped == 20 - deltaIds.size)
    val goodIds = deltaIds.filter(_ % 7 != 0)
    val upserted = storeDf.filter(col("src_id").isin(goodIds.toSeq: _*))
      .count()
    assert(stats.vectorizedChunks == upserted && upserted > 0)
    // dry-run: same counts, nothing vectorized
    val (_, dry) = IncrementalRunner.runWithStats(spark, dataDir, store,
      IncrementalRunner.Config(dryRun = true))
    assert(dry.processed == stats.processed && dry.failed == stats.failed &&
      dry.skipped == stats.skipped && dry.vectorizedChunks == 0)
    // capped real run into a fresh store: the limit caps processed +
    // failed, skipped still counts every classified row
    val k = deltaIds.size - 1
    val capped = deltaIds.toSeq.sorted.take(k)
    val store2 = Files.createTempDirectory("accstore").toString + "/store"
    IncrementalRunner.initStore(spark, dataDir, store2)
    val (storeDf2, cap) = IncrementalRunner.runWithStats(spark, dataDir, store2,
      IncrementalRunner.Config(maxSources = Some(k)))
    val capFailed = capped.count(_ % 7 == 0)
    assert(cap.processed + cap.failed == math.min(k, deltaIds.size))
    assert(cap.failed == capFailed && cap.processed == k - capFailed)
    assert(cap.skipped == 20 - deltaIds.size)
    val cappedGood = capped.filter(_ % 7 != 0)
    val upserted2 = storeDf2.filter(col("src_id").isin(cappedGood: _*)).count()
    assert(cap.vectorizedChunks == upserted2 && upserted2 > 0)
    // a filter that selects no source: nothing processed, and every
    // unchanged source still counts as skipped
    val (_, none) = IncrementalRunner.runWithStats(spark, dataDir, store2,
      IncrementalRunner.Config(sourceFilter = Some(col("id") < 0)))
    assert(none == IncrementalRunner.RunStats(0, 20 - deltaIds.size, 0, 0))
  }

  test("missing manifest loads empty and classifies everything new (first run)") {
    val missing = Files.createTempDirectory("mf_missing").toString + "/never_written"
    val empty = graft.sources.JsonStores.loadManifestOrEmpty(spark, missing)
    assert(empty.count() == 0 &&
      empty.schema == graft.sources.JsonStores.ManifestSchema)
    val delta = Etl.manifestDeltaFrom(Tables.currentSnapshot(spark, sf), empty)
    assert(delta.filter(col("status") =!= "new").count() == 0)
    assert(delta.count() == Tables.currentSnapshot(spark, sf).count())
  }

  test("manifest round-trips through JSON and drives the same delta") {
    val dir = Files.createTempDirectory("manifest_rt").toString + "/manifest"
    graft.sources.JsonStores.saveManifest(Tables.manifest(spark, sf), dir)
    val loaded = graft.sources.JsonStores.loadManifest(spark, dir)
    val viaJson = Etl.manifestDeltaFrom(Tables.currentSnapshot(spark, sf), loaded)
      .select("id", "status").as[(Long, String)].collect().toMap
    val direct = Etl.manifestDelta(spark, sf)
      .select("id", "status").as[(Long, String)].collect().toMap
    assert(viaJson == direct && direct.nonEmpty)
    assert(direct.values.toSet == Set("new", "changed", "unchanged"))
  }

  test("tolerant jsonl read quarantines corrupt records, keeps the rest") {
    import scala.jdk.CollectionConverters._
    val dir = Files.createTempDirectory("jsonq").toString
    val lines = Seq(
      """{"chunk_id":"a","doc_id":1,"chunk_index":0,"chunk_text":"hello"}""",
      """{"chunk_id":"b","doc_id":2,"chunk_index":1,"chunk_text":"world"}""",
      """{this is not json""",
      """{"chunk_index":0,"chunk_text":"missing identity fields"}""")
    Files.write(java.nio.file.Paths.get(dir, "part-000.json"), lines.asJava)
    val (good, bad) = graft.sources.JsonStores.readChunksJsonlTolerant(spark, dir)
    assert(good.select("chunk_id").as[String].collect().sorted.toSeq == Seq("a", "b"))
    assert(!good.columns.contains("_corrupt_record"))
    val quarantined = bad.select("raw_record").as[String].collect()
    assert(quarantined.length == 2)
    assert(quarantined.exists(_.contains("this is not json")))
  }

  test("media extract batches partitions and stubs deterministically") {
    val ds = MediaExtract.fromDocuments(spark, sf).repartition(2)
    val out = MediaExtract.extract(ds).collect()
    assert(out.length == Tables.documents(spark, sf).count())
    assert(out.forall(_.batch_size <= MediaExtract.BatchSize))
    assert(out.forall(r => r.text.startsWith(s"[extracted ${r.kind} ${r.n_bytes}B ")))
    // deterministic: same input -> same extraction
    val again = MediaExtract.extract(ds).collect()
    assert(out.map(r => r.doc_id -> r.text).toMap ==
      again.map(r => r.doc_id -> r.text).toMap)
  }

  test("jsonl chunk store and json manifest round-trip") {
    val dir = Files.createTempDirectory("jsonl").toString
    val chunks = Etl.chunk(spark, sf)
      .join(Etl.chunkIds(spark, sf).select("chunk_id", "doc_id", "chunk_index"),
        Seq("doc_id", "chunk_index"))
      .select("chunk_id", "doc_id", "chunk_index", "chunk_text")
    graft.sources.JsonStores.writeChunksJsonl(chunks, s"$dir/chunks", recordsPerFile = 50)
    val back = graft.sources.JsonStores.readChunksJsonl(spark, s"$dir/chunks")
    assert(back.count() == chunks.count())
    assert(back.select("chunk_id").distinct().count() == chunks.count())

    val manifest = Tables.manifest(spark, sf)
    graft.sources.JsonStores.saveManifest(manifest, s"$dir/manifest")
    val m2 = graft.sources.JsonStores.loadManifest(spark, s"$dir/manifest")
    assert(m2.collect().toSet == manifest.collect().toSet)
  }

  test("page-limited crawl trims by (depth, node)") {
    val edges = Seq((0L, 1L), (0L, 2L), (1L, 3L), (2L, 4L), (3L, 5L))
      .toDF("src", "dst")
    val roots = Seq(0L).toDF("node")
    val got = Crawl.crawlLimited(edges, roots, 10, 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 0L, 1L -> 1L, 2L -> 1L, 3L -> 2L))
  }
}
