package graft

import graft.operators.{Crawl, Iterate}
import org.apache.spark.JobCounter
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.udf
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.funsuite.AnyFunSuite

/** [[Crawl.bfs]] returns the same frame, schema included, whichever
  * hop [[operators.Iterate]]'s size rule picks: every round
  * distributed (threshold −1), every round on the driver (the
  * default), or a driver start handed over to the distributed hop
  * mid-run (a threshold a few rows wide).
  */
class BfsPathSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  // a cycle (3 → 0), a self-loop (5 → 5), a node reached at two depths
  // (2), a fan-out that outgrows a tiny threshold (2 → 5, 6, 7, 8), a
  // node with no out-edges (9) and one no edge touches (10)
  private lazy val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (0L, 2L),
    (3L, 0L), (2L, 5L), (2L, 6L), (2L, 7L), (2L, 8L), (5L, 5L), (6L, 9L),
    (4L, 2L), (8L, 4L)).toDF("src", "dst")

  private val Default = spark.sessionState.conf.autoBroadcastJoinThreshold

  private def sorted(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  /** The threshold the size rule needs (all long columns) to hold
    * `out`'s seed plus round one's state, so a run whose round two
    * grows hands over mid-run.
    */
  private def roundOneBytes(out: DataFrame): Long = {
    val seedRows = out.filter($"depth" === 0L).count()
    val d1 = out.filter($"depth" === 1L).count()
    (seedRows + 2L * d1) * (8L + 8L * out.columns.length) * Iterate.HeldOverhead
  }

  private def leaves(df: DataFrame): Set[String] =
    df.queryExecution.analyzed.collectLeaves().map {
      case _: LocalRelation => "local"
      case _: LogicalRDD => "cut"
      case l => l.nodeName
    }.toSet

  /** The three paths' frames equal the distributed one's. */
  private def samePaths(e: DataFrame, roots: DataFrame, maxDepth: Int,
    handover: Boolean = false): Unit = {
    val want = BroadcastThreshold(spark, -1L)(Crawl.bfs(e, roots, maxDepth))
    val tiny = math.max(1L, roundOneBytes(want))
    for (t <- Seq(Default, tiny)) {
      val got = BroadcastThreshold(spark, t)(Crawl.bfs(e, roots, maxDepth))
      assert(got.schema == want.schema, s"threshold $t")
      assert(sorted(got) == sorted(want), s"threshold $t")
      if (t == tiny && handover)
        assert(leaves(got) == Set("local", "cut"),
          s"threshold $t must hand a driver start over mid-run: ${leaves(got)}")
    }
  }

  test("unkeyed roots over cycles, self-loops and fan-out: every path equal") {
    samePaths(edges, Seq(0L).toDF("node"), 20, handover = true)
    samePaths(edges, Seq(0L).toDF("node"), 2)
  }

  test("keyed roots: every path equal") {
    samePaths(edges, Seq((0L, 0L), (4L, 4L), (9L, 9L)).toDF("root", "node"), 20,
      handover = true)
  }

  test("duplicate roots keep their duplicate depth-0 rows on every path") {
    samePaths(edges, Seq(0L, 0L, 3L).toDF("node"), 20)
    samePaths(edges, Seq((1L, 0L), (1L, 0L), (2L, 6L)).toDF("x", "node"), 20)
    val got = Crawl.bfs(edges, Seq(0L, 0L).toDF("node"), 20)
    assert(got.filter($"depth" === 0L).count() == 2)
  }

  test("empty roots, maxDepth 0, and roots with no out-edges") {
    samePaths(edges, Seq.empty[Long].toDF("node"), 20)
    samePaths(edges, Seq.empty[(Long, Long)].toDF("root", "node"), 20)
    samePaths(edges, Seq(0L, 1L).toDF("node"), 0)
    samePaths(edges, Seq(9L, 10L).toDF("node"), 20)
    samePaths(edges, Seq((9L, 9L), (10L, 10L)).toDF("root", "node"), 20)
  }

  test("null endpoints and null keys behave as on the distributed path") {
    val withNull = Seq((0L, Some(1L)), (1L, None), (1L, Some(2L)), (2L, Some(0L)))
      .toDF("src", "dst")
    samePaths(withNull, Seq(0L).toDF("node"), 5)
    samePaths(withNull, Seq[(Option[Long], Option[Long])]((None, Some(0L)),
      (Some(7L), Some(0L)), (Some(8L), None)).toDF("root", "node"), 5)
  }

  test("driver path: one scan per round, the result a local relation") {
    val (out, jobs) = JobCounter(spark.sparkContext) {
      val v = BroadcastThreshold(spark, Default)(
        Crawl.bfs(edges, Seq(0L).toDF("node"), 20))
      (v, v.collect())
    }
    val rounds = out._2.map(_.getLong(1)).max + 1
    assert(jobs <= rounds + 2, s"$jobs jobs for $rounds rounds")
    assert(leaves(out._1) == Set("local"))
  }

  test("a hub's out-edges over many partitions: the round hands over") {
    // 400 out-edges of node 0 spread over 64 partitions, at a threshold
    // whose edge collect holds 100 rows: each partition's share is 2,
    // so the round hands over after reading at most 164 edges
    val hub = (1L to 400L).map(d => (0L, d)) ++ (1L to 400L).map(d => (d, d + 1000L))
    val wide = hub.toDF("src", "dst").repartition(64)
    val t = 100L * 24L * Iterate.HeldOverhead
    val want = BroadcastThreshold(spark, -1L)(Crawl.bfs(wide, Seq(0L).toDF("node"), 3))
    val got = BroadcastThreshold(spark, t)(Crawl.bfs(wide, Seq(0L).toDF("node"), 3))
    assert(got.schema == want.schema)
    assert(sorted(got) == sorted(want))
    assert(leaves(got) == Set("local", "cut"))
  }

  test("collectIfFits reads at most the rule's rows plus one per partition") {
    val pulled = spark.sparkContext.longAccumulator("pulled")
    val tick = udf { (x: Long) => pulled.add(1); x }
    // one long column: 16 bytes by Spark's estimate, so 100 rows
    val t = 100L * 16L * Iterate.HeldOverhead
    val wide = spark.range(0, 3200, 1, 64).select(tick($"id").as("id"))
    BroadcastThreshold(spark, t) {
      assert(Iterate.maxRows(wide) == 100L)
      assert(Iterate.collectIfFits(wide).isEmpty)
      assert(pulled.value <= 100L + 64L, s"${pulled.value} rows read")
      val few = spark.range(0, 64, 1, 64).select(tick($"id").as("id"))
      assert(Iterate.collectIfFits(few).map(_.length).contains(64))
    }
  }
}
