package graft

import graft.operators.{Analytics, Crawl, Etl}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .withExtensions(new GraftExtensions)
      // fresh warehouse per run: saveAsTable tests must not trip over
      // a stale location left by a killed JVM
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      // from session birth, so streaming-clone conf snapshots and
      // parallel-suite schema inference can never see it unset
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}

class EtlSpec extends AnyFunSuite {
  import SparkTestSession._

  test("entry flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query runs at sf0.001 and has an oracle") {
    SparkEntry.queries.foreach { case (name, fn) =>
      assert(fn(spark, sf).count() >= 0, s"$name failed")
      assert(SparkEntry.oracleSql.contains(name), s"$name has no oracle")
    }
  }

  test("chunker packs greedily like the reference chunk_text") {
    import spark.implicits._
    // reference semantics (etl.py:239-251): break BEFORE the word that
    // would overflow, never emit empty chunks, separators don't count
    val df = Seq("aaaa bb cc ddddd e").toDF("text")
      .select(Etl.chunkTokens(col("text"), 6).as("chunks"))
    val got = df.as[Seq[String]].head()
    // aaaa(4)+bb(2)=6 fits; +cc would be 8 > 6 -> break; cc(2)+ddddd(5)=7>6 -> break
    assert(got == Seq("aaaa bb", "cc", "ddddd e"))
  }

  test("chunker handles oversized single word and empty text") {
    import spark.implicits._
    val df = Seq("superlongword x", "", "   ").toDF("text")
      .select(Etl.chunkTokens(col("text"), 4).as("chunks"))
    val got = df.as[Seq[String]].collect().toSeq
    assert(got(0) == Seq("superlongword", "x"))
    assert(got(1) == Seq.empty)
    assert(got(2) == Seq.empty)
  }

  test("linear chunker matches the expression chunker on the corpus") {
    import spark.implicits._
    val viaExpr = Etl.chunk(spark, sf)
      .select("doc_id", "chunk_index", "chunk_text")
      .as[(Long, Long, String)].collect().toSet
    val viaLinear = Etl.chunkLinear(
      Tables.documents(spark, sf).select("doc_id", "text").as[Etl.DocText],
      Etl.ChunkLen)
      .collect().map(c => (c.doc_id, c.chunk_index, c.chunk_text)).toSet
    assert(viaExpr == viaLinear)
    // oversized-word edge: a word longer than maxLen sits alone
    val edge = Etl.chunkLinear(Seq(Etl.DocText(1L, "tiny superlongword x")).toDS(), 4)
      .collect().sortBy(_.chunk_index).map(_.chunk_text).toSeq
    assert(edge == Seq("tiny", "superlongword", "x"))
  }

  test("manifest delta classifies new/changed/unchanged") {
    val byStatus = Etl.manifestDelta(spark, sf)
      .groupBy("status").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byStatus.keySet == Set("new", "changed", "unchanged"))
    // every 10th doc is absent from the manifest
    assert(byStatus("new") == 50)
  }

  test("upsert retains unchanged vectors and rewrites the delta") {
    val st = Etl.upsertState(spark, sf)
    val prov = st.groupBy("provenance").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(prov.contains("retained") && prov.contains("upserted"))
    assert(st.select("src_id").distinct().count() == st.count(),
      "one vector file per source")
  }

  // both BFS paths: every round distributed (−1), and on the driver
  // (the default threshold)
  private def bothPaths(body: => Unit): Unit =
    Seq(-1L, spark.sessionState.conf.autoBroadcastJoinThreshold)
      .foreach(t => BroadcastThreshold(spark, t)(body))

  test("bfs finds min depth") {
    import spark.implicits._
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (0L, 2L), (3L, 0L))
      .toDF("src", "dst")
    val roots = Seq(0L).toDF("node")
    bothPaths {
      val got = Crawl.bfs(edges, roots, 10).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == Map(0L -> 0L, 1L -> 1L, 2L -> 1L, 3L -> 2L))
    }
  }

  test("keyed bfs equals the union of single-root runs tagged with their root") {
    import spark.implicits._
    // two roots whose reach overlaps (0 and 4 both reach 2 and 3) at
    // different depths, plus a node only one of them reaches
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (0L, 2L), (3L, 0L),
      (4L, 2L), (3L, 5L), (6L, 4L)).toDF("src", "dst")
    bothPaths {
      val keyed = Crawl.bfs(edges, Seq((0L, 0L), (4L, 4L)).toDF("root", "node"), 10)
        .as[(Long, Long, Long)].collect().toSet
      val single = Seq(0L, 4L).flatMap { r =>
        Crawl.bfs(edges, Seq(r).toDF("node"), 10).as[(Long, Long)].collect()
          .map { case (n, d) => (r, n, d) }
      }.toSet
      assert(keyed == single)
      assert(keyed.contains((0L, 3L, 2L)) && keyed.contains((4L, 3L, 2L)) &&
        keyed.contains((4L, 0L, 3L)) && !keyed.exists(_._2 == 6L))
    }
  }

  test("sessionize splits on 30-minute gaps") {
    val sess = Analytics.sessionize(spark, sf)
    assert(sess.count() > 0)
    assert(sess.filter(col("n_events") < 1).isEmpty)
  }
}
