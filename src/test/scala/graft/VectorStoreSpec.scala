package graft

import java.io.File
import java.nio.file.Files

import graft.operators.{Etl, IncrementalRunner}
import graft.sources.VectorStoreWriter
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

/** The bucketed vector store: layout, upsert semantics, and the staged
  * bucket swap under injected crashes.
  */
class VectorStoreSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private def newPath(): String =
    Files.createTempDirectory("vstore_").toString + "/store"

  /** `k` rows per source; `tag` marks which write produced them. */
  private def rows(srcs: Seq[Long], k: Int, tag: String): DataFrame =
    srcs.flatMap(s => (0 until k).map(i => (s"$s-$i-$tag", i.toLong, s"text $s $i $tag", s)))
      .toDF("chunk_id", "chunk_index", "chunk_text", "src_id")

  private def contents(path: String): Seq[Row] =
    VectorStoreWriter.read(spark, path).collect().toSeq.sortBy(_.getString(0))

  private def bucketDirs(path: String): Seq[File] =
    new File(path).listFiles().toSeq.filter(_.getName.startsWith("bucket="))
      .sortBy(_.getName)

  private def rmTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree))
    f.delete()
  }

  /** Runs `body` with `spark.sql.files.maxPartitionBytes` — the split
    * size the store's bucket count divides by — at `bytes`.
    */
  private def withSplit[T](bytes: Long)(body: => T): T = {
    val key = "spark.sql.files.maxPartitionBytes"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, bytes)
    try body finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("one bucket: a source sharing the bucket with a changed one keeps its exact rows") {
    val p = newPath()
    VectorStoreWriter.init(rows(1L to 300L, 3, "v1"), p)
    assert(bucketDirs(p).map(_.getName) == Seq("bucket=0"),
      "a small store is one bucket, whatever its source count")
    assert(VectorStoreWriter.read(spark, p).inputFiles.length == 1)
    val before = contents(p)
    VectorStoreWriter.upsert(rows(Seq(2L), 5, "v2").unionByName(rows(Seq(301L), 2, "v1")), p)
    val after = contents(p)
    val untouched = (r: Row) => !Set(2L, 301L)(r.getLong(3))
    assert(after.filter(untouched) == before.filter(untouched))
    assert(after.filter(_.getLong(3) == 2L).map(_.getString(0)) ==
      (0 until 5).map(i => s"2-$i-v2").sorted)
    assert(after.count(_.getLong(3) == 301L) == 2)
    assert(bucketDirs(p).size == 1 && !new File(s"$p/_staging").exists)
  }

  test("read returns the writer's columns, src_id as the writer's long") {
    val p = newPath()
    IncrementalRunner.initStore(spark, sf, p)
    val store = VectorStoreWriter.read(spark, p)
    assert(store.columns.toSeq ==
      Seq("chunk_id", "chunk_index", "chunk_text", "content_hash", "src_id"))
    assert(store.schema("src_id").dataType == LongType)
    assert(store.select(col("src_id").cast("int")).count() == store.count())
  }

  test("runner: new and failed sources behave as a delete-changed + insert; a rerun is idempotent") {
    val data = Files.createTempDirectory("vstore_data").toString
    // ids % 10 == 0 are new (not in the manifest), % 7 changed; 21 is a
    // changed source whose text is blank, so it fails
    (1L to 60L).map(i => (i, s"s$i",
      if (i == 21L) " " else (1 to 40).map(w => s"w${i}_$w").mkString(" ")))
      .toDF("doc_id", "source", "text")
      .write.parquet(s"$data/documents.parquet")
    val p = newPath()
    IncrementalRunner.initStore(spark, data, p)
    val before = contents(p)
    val upserted = IncrementalRunner.run(spark, data, p,
      IncrementalRunner.Config(dryRun = true)).collect().toSeq
    val changed = upserted.map(_.getAs[Long]("src_id")).toSet
    val delta = Etl.manifestDelta(spark, data).filter(col("needs_vector"))
      .select("id").as[Long].collect().toSet
    assert(delta(21L) && !changed(21L) && changed(10L) && changed(7L))
    val (_, stats) = IncrementalRunner.runWithStats(spark, data, p)
    assert(stats.failed == 1L)
    val after = contents(p)
    val expected = (before.filter(r => !changed(r.getAs[Long]("src_id"))) ++
      upserted.map(r => Row.fromSeq(r.toSeq))).sortBy(_.getString(0))
    assert(after == expected)
    assert(!after.exists(_.getAs[Long]("src_id") == 21L))
    IncrementalRunner.run(spark, data, p)
    assert(contents(p) == after, "a rerun of the same delta gives the same rows")
  }

  test("upsert reads only the affected buckets: bucket PartitionFilter, broadcast delta ids") {
    val p = newPath()
    withSplit(2048) {
      VectorStoreWriter.init(rows(1L to 200L, 2, "v1"), p)
      assert(bucketDirs(p).size > 4, "a small split size gives several buckets")
      val plan = VectorStoreWriter.merged(rows(Seq(3L), 2, "v2"), p).get
        .queryExecution.executedPlan.toString
      assert("PartitionFilters: \\[[^\\]]*bucket".r.findFirstIn(plan).isDefined, plan)
      assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"), plan)
      assert(!plan.linesIterator.exists(l =>
        l.contains("Exchange") && !l.contains("BroadcastExchange")), plan)
    }
  }

  /** A multi-bucket store and a delta touching several buckets: the
    * crash `inject`ed after staging, then the next read and the next
    * upsert, against an uninterrupted upsert of the same delta.
    */
  private def crashCase(committed: Boolean)(inject: String => Unit): Unit =
    withSplit(2048) {
      val init = rows(1L to 200L, 2, "v1")
      val delta = rows(Seq(5L, 50L, 120L, 170L), 3, "v2")
        .unionByName(rows(Seq(201L), 1, "v2"))
      val clean = newPath()
      VectorStoreWriter.init(init, clean)
      val old = contents(clean)
      VectorStoreWriter.upsert(delta, clean)
      val uninterrupted = contents(clean)

      val p = newPath()
      VectorStoreWriter.init(init, p)
      VectorStoreWriter.stage(delta, p)
      assert(new File(s"$p/_staging/_SUCCESS").exists)
      assert(bucketDirs(s"$p/_staging").size > 1,
        "the delta must touch several buckets")
      inject(p)
      assert(contents(p) == (if (committed) uninterrupted else old))
      assert(!new File(s"$p/_staging").exists)
      VectorStoreWriter.upsert(delta, p)
      assert(contents(p) == uninterrupted)
    }

  test("crash after staging, before any swap: the next read rolls forward") {
    crashCase(committed = true)(_ => ())
  }

  test("crash inside the swap: one bucket moved, one old bucket deleted, the rest not begun") {
    crashCase(committed = true) { p =>
      val staged = bucketDirs(s"$p/_staging")
      val moved = staged.head
      rmTree(new File(p, moved.getName))
      assert(moved.renameTo(new File(p, moved.getName)))
      val torn = new File(p, staged(1).getName)
      assert(torn.exists)
      rmTree(torn)
    }
  }

  test("crash before the staging write committed: the upsert never happened") {
    crashCase(committed = false) { p =>
      assert(new File(s"$p/_staging/_SUCCESS").delete())
    }
  }
}
