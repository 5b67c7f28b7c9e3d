package graftbench

import graft.operators.{Components, Crawl, Dedup, Etl, IncrementalCurator,
  IncrementalRunner, KMeansVec, PQ}
import graft.sources.{IndexStore, SignatureStore, VectorStoreWriter}
import java.io.File
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** What the loop needs from one workload. `prepare` generates the
  * inputs (and any pre-built state) under `dir`; `reference` computes
  * the expected outputs (not part of set-up time); `iterate` runs one
  * closed-loop iteration and checks its output; `standalone` (traced
  * runs only) times the layers that are otherwise reachable only
  * inside another call.
  */
trait Workload {
  def prepare(dir: String): Unit
  def reference(): Unit
  def iterate(i: Int): Iter
  def standalone(): Unit
}

/** One iteration's outcome: `wallS` from the first call to the fully
  * materialized result; `work` the step time and item count behind the
  * workload's throughput; `verify` compares the collected output with
  * the reference (computed after the iteration, so a cold reference
  * recompute does not delay it) and returns the failed checks and the
  * recall.
  */
final case class Iter(wallS: Double, workS: Double, workItems: Double,
  storeAmp: Double, verify: () => (Seq[String], Double),
  extra: Map[String, Double] = Map.empty)

final class Ctx(val spark: SparkSession, val seed: Long) {
  /** Set during traced iterations and standalone calls only. */
  var tracer: Option[Tracer] = None

  def span[T](name: String, label: String = "")(body: => T): T =
    tracer.fold(body)(_.span(name, label)(body))

  def count(key: String, v: Double): Unit = tracer.foreach(_.count(key, v))

  /** Full materialization of every column, with nothing returned. */
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

object Files {
  def tree(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(tree) else Seq(f)

  def bytes(path: String): Long = tree(new File(path)).map(_.length).sum

  def parquetFiles(path: String): Seq[File] =
    tree(new File(path)).filter(_.getName.endsWith(".parquet"))

  def delete(path: String): Unit = {
    val f = new File(path)
    if (f.exists) {
      tree(f).foreach(_.delete())
      def dirs(d: File): Seq[File] =
        if (d.isDirectory) Option(d.listFiles).toSeq.flatten.flatMap(dirs) :+ d else Nil
      dirs(f).foreach(_.delete())
    }
  }

  def copy(from: String, to: String): Unit = {
    val src = new File(from).toPath
    tree(new File(from)).foreach { f =>
      val dst = new File(to).toPath.resolve(src.relativize(f.toPath))
      java.nio.file.Files.createDirectories(dst.getParent)
      java.nio.file.Files.copy(f.toPath, dst)
    }
  }
}

object Workloads {
  /** The workloads BENCHMARK.json lists. A run is one fresh JVM, and
    * each workload costs tens of seconds on a 4-core machine, mostly
    * per-job latency and first-run code generation; the benchmark's
    * budget (4 + 22 runs per listed workload and two builds within 57
    * minutes) fits two. curate and ann_serve therefore run back to back
    * as curate_serve.
    */
  def apply(name: String, ctx: Ctx): Option[Workload] = name match {
    case "etl_daily" => Some(new EtlDaily(ctx))
    case "curate_serve" => Some(new Both(new Curate(ctx), new AnnServe(ctx)))
    case _ => None
  }

  val Names = Seq("etl_daily", "curate_serve")

  def docsFrame(spark: SparkSession, docs: Seq[Gen.Doc]): DataFrame =
    spark.createDataFrame(docs.map(d => (d.id, d.text))).toDF("doc_id", "text")

  def vecFrame(spark: SparkSession, vs: Seq[Gen.Vec]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(vs.map(v => Row(v.id, v.emb.toSeq)): _*),
      StructType(Seq(StructField("vec_id", LongType, nullable = false),
        StructField("embedding", ArrayType(FloatType, containsNull = false)))))

  def storeChunks(store: DataFrame): Seq[Refs.Chunk] =
    store.select(col("src_id").cast("long"), col("chunk_index"), col("chunk_id"),
      col("chunk_text"), col("content_hash")).collect().toSeq
      .map(r => Refs.Chunk(r.getLong(0), r.getLong(1), r.getString(2),
        r.getString(3), r.getString(4)))

  def runStats(s: IncrementalRunner.RunStats): Refs.Stats =
    Refs.Stats(s.processed, s.skipped, s.failed, s.vectorizedChunks)
}

/** etl_daily — the steady daily run the reference pipeline exists for:
  * a store already built from the manifest over many sources (one
  * store partition per source), and a delta of about 1 % of them. Each
  * iteration crawls the page graph, runs `runWithStats` (whose store
  * read lists every source partition) and reads the store back.
  * Chunking and writes do almost nothing, so a store-layout change
  * shows here and a chunker change should not. The corpus is the
  * documents of `documents.parquet`; the ETL fixture derives manifest
  * and snapshot from it.
  */
final class EtlDaily(ctx: Ctx) extends Workload {
  import ctx.spark.implicits._
  // The reference corpus has thousands of sources. 600 keep set-up
  // (initStore writes one partition per source) within the run budget,
  // while listing the store's partitions still takes about a fifth of
  // an iteration.
  val Sources = 600
  val Pages = 1000
  val MaxDepth = 30
  private var data = ""
  private var work = ""
  private var docs: Vector[Gen.Doc] = Vector.empty
  private var filter: Seq[Long] = Nil
  private var edges: Vector[Gen.Edge] = Vector.empty
  private var expect: Refs.EtlExpect = _
  private var crawlExpect: Map[Long, Long] = Map.empty
  private var lastStore = ""

  private def deltaFilter = col("id").isin(filter: _*)

  def prepare(dir: String): Unit = {
    work = dir
    data = s"$dir/data"
    docs = Gen.etlDocs(ctx.seed, Sources, 20, 90, 0.01)
    Workloads.docsFrame(ctx.spark, docs).coalesce(1)
      .write.mode("overwrite").parquet(s"$data/documents.parquet")
    val delta = docs.filter(Refs.needsVector).map(_.id)
    filter = Gen.sample(ctx.seed, delta, math.max(2, Sources / 100))
    edges = Gen.pageGraph(ctx.seed, Pages, 4, 2)
    ctx.spark.createDataFrame(edges.map(e => (e.src, e.dst))).toDF("src", "dst")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/edges.parquet")
    Files.delete(s"$dir/store_base")
    IncrementalRunner.initStore(ctx.spark, data, s"$dir/store_base")
  }

  def reference(): Unit = {
    expect = Refs.etl(docs, filter.toSet, Etl.ChunkLen)
    crawlExpect = Refs.bfs(edges, 0L, MaxDepth)
  }

  def iterate(i: Int): Iter = {
    val path = s"$work/store_$i"
    Files.copy(s"$work/store_base", path)
    val before = Files.parquetFiles(path).map(f => f.getPath -> f.lastModified).toMap
    val edgeFrame = ctx.spark.read.parquet(s"$work/edges.parquet")
    val roots = ctx.spark.range(1).select(lit(0L).as("node"))
    val cfg = IncrementalRunner.Config(sourceFilter = Some(deltaFilter))
    val t0 = System.nanoTime()
    val visited = ctx.span("crawl.bfs") {
      val v = Crawl.bfs(edgeFrame, roots, MaxDepth)
      ctx.noop(v)
      v
    }
    val ((store, stats), runS) = ctx.timed(ctx.span("runner.run") {
      val r = IncrementalRunner.runWithStats(ctx.spark, data, path, cfg)
      ctx.count("processed", r._2.processed.toDouble)
      ctx.count("skipped", r._2.skipped.toDouble)
      ctx.count("failed", r._2.failed.toDouble)
      ctx.count("vectorized", r._2.vectorizedChunks.toDouble)
      r
    })
    ctx.span("store.read")(ctx.noop(store))
    val wall = (System.nanoTime() - t0) / 1e9

    // the clock stopped: count the files the run rewrote (traced runs),
    // collect the outputs for the reference checks
    ctx.tracer.foreach { t =>
      val fresh = Files.parquetFiles(path)
        .filter(f => !before.get(f.getPath).contains(f.lastModified))
      val parts = fresh.map(_.getParentFile.getName).distinct.size
      t.countOn("runner.run", "output_files", fresh.size.toDouble)
      t.countOn("runner.run", "partitions_rewritten_per_source",
        parts.toDouble / math.max(1L, stats.processed))
    }
    val rows = Workloads.storeChunks(store)
    val textBytes = rows.map(_.text.getBytes("UTF-8").length.toLong).sum
    val amp = Files.bytes(path).toDouble / textBytes
    // keep only the latest store: the standalone calls re-use it
    if (lastStore.nonEmpty) Files.delete(lastStore)
    lastStore = path
    val got = visited.collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
    val rounds = if (got.isEmpty) 0.0 else got.map(_._2).max + 1.0
    Iter(wall, runS, docs.size, amp,
      () => (Refs.checkEtl(expect, rows, Workloads.runStats(stats)) ++
        Refs.checkCrawl(crawlExpect, got), 1.0),
      Map("crawl.bfs.rounds" -> rounds))
  }

  /** The layers `runWithStats` composes, each called on its own. */
  def standalone(): Unit = {
    val s = ctx.spark
    // the bulk-write side of the store: a first full run into a fresh path
    val fresh = s"$work/store_init"
    ctx.span("store.init", "standalone")(IncrementalRunner.initStore(s, data, fresh))
    Files.delete(fresh)
    val delta = ctx.span("etl.delta", "standalone") {
      val d = Etl.manifestDelta(s, data).persist()
      ctx.noop(d)
      val ids = filter.toSet
      val n = d.filter(col("needs_vector")).select(col("id")).as[Long].collect()
        .count(ids)
      ctx.count("delta_share", n.toDouble / docs.size)
      d
    }
    val toChunk = Etl.manifestDelta(s, data).filter(col("needs_vector"))
      .select(col("id"), col("content_hash"))
      .where(deltaFilter)
      .join(s.read.parquet(s"$data/documents.parquet"), col("id") === col("doc_id"))
      .filter(trim(col("text")) =!= "")
      .select(col("doc_id"), col("content_hash"), col("text"))
      .as[Etl.DocWithHash].localCheckpoint()
    val chunks = Etl.chunkLinearHashed(toChunk, Etl.ChunkLen).toDF()
    ctx.span("etl.chunk", "standalone") {
      ctx.noop(chunks)
      ctx.count("chunks", expect.stats.vectorized.toDouble)
    }
    // the runner's chunk-id derivation, re-upserted into a copy of the
    // last iteration's store: same rows, so the same partitions rewrite
    val rows = chunks.select(
      sha2(concat(lit("/docs/"), col("doc_id"), lit("|"), col("content_hash"),
        lit("|"), col("chunk_index")), 256).as("chunk_id"),
      col("chunk_index"), col("chunk_text"), col("content_hash"),
      col("doc_id").as("src_id"))
    val copy = s"$work/store_standalone"
    Files.copy(lastStore, copy)
    ctx.span("store.upsert", "standalone")(VectorStoreWriter.upsert(rows, copy))
    ctx.span("store.read", "standalone") {
      val (df, listS) = ctx.timed(VectorStoreWriter.read(s, copy))
      val (_, scanS) = ctx.timed(ctx.noop(df))
      ctx.count("list_s", listS)
      ctx.count("scan_s", scanS)
      ctx.count("files", df.inputFiles.length.toDouble)
    }
    delta.unpersist()
    Files.delete(copy)
  }
}

/** curate — incremental near-duplicate curation over a corpus with a
  * planted share of duplicates that straddle batches: bootstrap from
  * batch 0, ingest the rest, read the keeper frame. Exercises the
  * minhash kernels, the LSH pair join, label merging, the signature
  * append and the label-table swap; it uses no vector store, so ETL
  * store changes should not move it.
  */
final class Curate(ctx: Ctx) extends Workload {
  val Docs = 1200
  val Batches = 2
  private var path = ""
  private var docs: Vector[Gen.Doc] = Vector.empty
  private var expect: Map[Long, Long] = Map.empty
  private var textBytes = 0L

  private def frame: DataFrame = ctx.spark.read.parquet(path)
  private def batch(i: Int): DataFrame =
    frame.filter(pmod(col("doc_id"), lit(Batches)) === i)

  def prepare(dir: String): Unit = {
    docs = Gen.curateDocs(ctx.seed, Docs, 40, 100, 0.2)
    textBytes = docs.map(_.text.getBytes("UTF-8").length.toLong).sum
    path = s"$dir/docs.parquet"
    Workloads.docsFrame(ctx.spark, docs).coalesce(1)
      .write.mode("overwrite").parquet(path)
  }

  /** The one-shot recompute the incremental loop must reproduce. */
  def reference(): Unit = {
    expect = Dedup.keepFrom(frame.select(col("doc_id")), Dedup.minhashPairs(frame))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    ctx.spark.catalog.clearCache()
  }

  private def tables(tag: String) = (s"bench_sigs_$tag", s"bench_labels_$tag")

  private def drop(tag: String): Unit = {
    val (sigT, lblT) = tables(tag)
    Seq(sigT, s"${sigT}_del", lblT, s"${lblT}_next")
      .foreach(t => ctx.spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  private def tableBytes(t: String): Long = {
    val loc = ctx.spark.sessionState.catalog.getTableMetadata(
      ctx.spark.sessionState.sqlParser.parseTableIdentifier(t)).location
    Files.bytes(new File(loc).getPath)
  }

  def iterate(i: Int): Iter = {
    val s = ctx.spark
    val tag = s"${java.lang.Long.toHexString(ctx.seed)}_${i + 1}"
    val (sigT, lblT) = tables(tag)
    val t0 = System.nanoTime()
    ctx.span("curator.init")(IncrementalCurator.init(s, batch(0), sigT, lblT))
    (1 until Batches).foreach(b =>
      ctx.span("curator.ingest")(IncrementalCurator.ingest(s, batch(b), sigT, lblT)))
    val ingestS = (System.nanoTime() - t0) / 1e9
    val cur = IncrementalCurator.curated(s, sigT, lblT)
    ctx.span("curator.curated")(ctx.noop(cur))
    val wall = (System.nanoTime() - t0) / 1e9
    val got = cur.collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    val amp = (tableBytes(sigT) + tableBytes(lblT)).toDouble / textBytes
    drop(tag)
    Iter(wall, ingestS, docs.size, amp, () => (Refs.checkCurated(expect, got), 1.0))
  }

  def standalone(): Unit = {
    val s = ctx.spark
    val tag = s"${java.lang.Long.toHexString(ctx.seed)}_standalone"
    val (sigT, lblT) = tables(tag)
    ctx.span("dedup.signatures", "standalone") {
      ctx.noop(Dedup.minhashSignatures(Dedup.shingleDocs(batch(1))))
      ctx.count("docs", docs.count(_.id % Batches == 1).toDouble)
    }
    val shingled = Dedup.shingleDocs(frame).localCheckpoint()
    ctx.span("kernel.minhash", "standalone") {
      ctx.noop(shingled.select(graft.functions.SigExprs.minhashSig(
        graft.functions.SigExprs.hashPairs(col("sh")))))
      ctx.count("rows", docs.size.toDouble)
    }
    SignatureStore.build(batch(0), sigT)
    val labels = Components.fromPairs(SignatureStore.pairs(s, sigT)).localCheckpoint()
    val pairs = ctx.span("sigstore.pairs", "standalone") {
      val p = SignatureStore.incrementalPairs(s, batch(1), sigT).localCheckpoint()
      ctx.count("pairs", p.collect().length.toDouble)
      p
    }
    ctx.span("components.merge", "standalone")(ctx.noop(Components.mergePairs(labels, pairs)))
    ctx.span("sigstore.append", "standalone")(SignatureStore.append(batch(1), sigT))
    drop(tag)
  }
}

/** ann_serve — build an IVF-PQ index over clustered embeddings, open
  * it, answer one batch of queries, then a sequence of single queries.
  * Build (writes) and search (reads) share `IndexStore`; this is the
  * only workload that reaches the vector kernels (`VecDot`,
  * `NearestCentroids`, ADC).
  */
final class AnnServe(ctx: Ctx) extends Workload {
  val N = 4000
  val Dim = 32
  val NList = 16
  val NProbe = 4
  val M = 8
  val KCode = 16
  val Iters = 2
  val K = 10
  val Queries = 200
  val Singles = 2
  private var work = ""
  private var corpus: Vector[Gen.Vec] = Vector.empty
  private var corpusIds: Set[Long] = Set.empty
  private var exact: Map[Long, Vector[Long]] = Map.empty
  private var batch: Vector[Gen.Vec] = Vector.empty
  private var singles: Vector[Gen.Vec] = Vector.empty
  private var lastIndex = ""

  private def vectors = ctx.spark.read.parquet(s"$work/vectors.parquet")
  private def queries = ctx.spark.read.parquet(s"$work/queries.parquet")

  def prepare(dir: String): Unit = {
    work = dir
    corpus = Gen.embeddings(ctx.seed, N, Dim, NList, 10, 0.8, 0.15)
    corpusIds = corpus.map(_.id).toSet
    val qs = Gen.queries(ctx.seed, corpus, Queries + Singles, 0.15, 1000000000L)
    batch = qs.take(Queries)
    singles = qs.drop(Queries)
    Workloads.vecFrame(ctx.spark, corpus).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/vectors.parquet")
    Workloads.vecFrame(ctx.spark, batch).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/queries.parquet")
  }

  def reference(): Unit = exact = Refs.exactTopK(corpus, batch ++ singles, K)

  private def rows(df: Array[Row]): Seq[(Long, Long, Long, Double)] =
    df.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank"),
      r.getAs[Long]("vec_id"), r.getAs[Double]("cos_sim"))).toSeq

  def iterate(i: Int): Iter = {
    val s = ctx.spark
    val path = s"$work/index_$i"
    val one = singles.map(q => Workloads.vecFrame(s, Seq(q)))
    val t0 = System.nanoTime()
    ctx.span("index.build")(IndexStore.build(vectors, path, Dim,
      nlist = NList, m = M, kcode = KCode, iters = Iters))
    val h = ctx.span("index.open")(IndexStore.open(s, path))
    val (res, searchS) = ctx.timed(ctx.span("index.search") {
      val r = h.search(queries, k = K, nprobe = NProbe)
      ctx.noop(r)
      ctx.count("queries", Queries)
      r
    })
    // a single-query caller reads its rows on the driver: collect
    // materializes every column, as the noop sink does for batches
    val singleTimes = one.map(q => ctx.timed(ctx.span("index.search.single") {
      h.search(q, k = K, nprobe = NProbe).collect()
    }))
    val wall = (System.nanoTime() - t0) / 1e9
    val batchRows = rows(res.collect())
    val singleRows = singleTimes.flatMap(t => rows(t._1))
    def verify() = {
      val singleIds = singles.map(_.id).toSet
      val (p1, recall) = Refs.checkSearch(exact.filter(e => !singleIds(e._1)),
        corpusIds, batchRows, K, 0.5)
      val (p2, _) = Refs.checkSearch(exact.filter(e => singleIds(e._1)),
        corpusIds, singleRows, K, 0.5)
      (p1 ++ p2, recall)
    }
    val amp = Files.bytes(path).toDouble / (N.toLong * Dim * 4)
    if (lastIndex.nonEmpty) Files.delete(lastIndex)
    lastIndex = path
    Iter(wall, searchS, Queries, amp, () => verify(),
      Map("index.search.single_ms_p50" -> Stats.median(singleTimes.map(_._2 * 1e3))))
  }

  def standalone(): Unit = {
    val v = vectors.localCheckpoint()
    ctx.span("kmeans.fit", "standalone")(ctx.noop(KMeansVec.fit(v, NList, Iters)))
    ctx.span("pq.fit", "standalone")(ctx.noop(PQ.fitFrame(v, Dim, M, KCode, Iters)))
    val withNrm = v.withColumn("nrm", graft.operators.Ann.norm(col("embedding")))
      .localCheckpoint()
    val q = corpus.head.emb
    ctx.span("kernel.vecdot", "standalone") {
      ctx.noop(withNrm.select(graft.functions.VecDot(col("embedding"),
        typedLit(q.toSeq))))
      ctx.count("rows", N.toDouble)
    }
    val cents = IndexStore.centroids(ctx.spark, lastIndex)
    ctx.span("kernel.nearest_centroids", "standalone") {
      ctx.noop(withNrm.select(graft.functions.NearestCentroids.fromFrame(
        col("embedding"), cents, NProbe)))
      ctx.count("rows", N.toDouble)
    }
    Files.delete(lastIndex)
  }
}

/** Two workloads run back to back as one: the weekly batch window that
  * curates the corpus and rebuilds the serving index. Throughput, store
  * amplification and recall are the first workload's and the second's
  * respectively; the trace keeps their layers apart.
  */
final class Both(a: Workload, b: Workload) extends Workload {
  def prepare(dir: String): Unit = { a.prepare(s"$dir/a"); b.prepare(s"$dir/b") }
  def reference(): Unit = { a.reference(); b.reference() }
  def iterate(i: Int): Iter = {
    val x = a.iterate(i)
    val y = b.iterate(i)
    Iter(x.wallS + y.wallS, x.workS, x.workItems, x.storeAmp,
      () => {
        val (px, _) = x.verify()
        val (py, recall) = y.verify()
        (px ++ py, recall)
      }, x.extra ++ y.extra)
  }
  def standalone(): Unit = { a.standalone(); b.standalone() }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}
