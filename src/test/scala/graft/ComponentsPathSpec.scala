package graft

import graft.operators.{Bowtie, Components, Iterate, Scc}
import org.apache.spark.JobCounter
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

/** The min-label fixpoint has two paths under [[Iterate]]'s size rule:
  * rounds on the driver while the edges and the seed fit, distributed
  * cut rounds otherwise. Every user of [[Components.minLabel]] must
  * give the same frame, schema (nullability included) and round count
  * at threshold −1 (always distributed), at Spark's default (driver)
  * and at a threshold whose collects are attempted and fail.
  */
class ComponentsPathSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private val Default = 10L * 1024 * 1024
  // a (long, long) row is 24 bytes by Spark's estimate: 4 rows fit
  private val Tiny = 4L * 24L * Iterate.HeldOverhead
  private val Thresholds = Seq(-1L, Default, Tiny)

  private def run(body: => DataFrame): Seq[(Seq[String], StructType, Int)] =
    Thresholds.map(t => BroadcastThreshold(spark, t) {
      val df = body
      (df.collect().map(_.toString).sorted.toSeq, df.schema, Components.lastRounds)
    })

  private def same(what: String, got: Seq[(Seq[String], StructType, Int)]): Unit = {
    val Seq(want, driver, handed) = got
    assert(want._1.nonEmpty, s"$what: empty fixture")
    assert(driver._1 == want._1 && handed._1 == want._1, s"$what: rows diverge")
    assert(driver._2 == want._2 && handed._2 == want._2,
      s"$what: schema ${driver._2} / ${handed._2} vs ${want._2}")
    assert(driver._3 == want._3 && handed._3 == want._3,
      s"$what: rounds ${got.map(_._3)}")
  }

  // a chain whose ids fall along it (one round per hop), a star, an
  // isolated pair and a repeated edge
  private val pairs = ((30L to 21L by -1L).map(i => (i, i - 1)) ++
    Seq((5L, 1L), (5L, 2L), (5L, 3L), (40L, 41L), (40L, 41L))).toDF("a_id", "b_id")

  test("fromPairs and connectedComponents: same labels, schema and rounds on every path") {
    same("fromPairs", run(Components.fromPairs(pairs)))
    val nodes = spark.range(0, 45).select(col("id"))
    same("connectedComponents", run(Components.connectedComponents(nodes, pairs)))
    val e = Tables.edges(spark, sf)
    same("crawl graph", run(Components.fromPairs(
      e.select(col("src").as("a_id"), col("dst").as("b_id")))))
  }

  test("mergePairs: same merged labels, schema and rounds on every path") {
    val dir = java.nio.file.Files.createTempDirectory("cc_paths").toString
    BroadcastThreshold(spark, -1L)(Components.fromPairs(pairs))
      .write.parquet(s"$dir/labels")
    val labels = spark.read.parquet(s"$dir/labels")
    // joins two stored components through a new id, relabels a stored
    // one below its min, adds a new component and a self-pair
    val batch = Seq((22L, 100L), (100L, 40L), (0L, 41L), (200L, 201L), (7L, 7L))
      .toDF("a_id", "b_id")
    same("mergePairs", run(Components.mergePairs(labels, batch)))
    same("mergePairs, empty batch", run(Components.mergePairs(labels, batch.limit(0))))
  }

  test("scc and bowtie: same labels, schema and rounds on every path") {
    val e = Tables.edges(spark, sf)
    val nodes = e.select(col("src").as("id")).unionAll(e.select(col("dst").as("id"))).distinct()
    val scc = Thresholds.map(t => BroadcastThreshold(spark, t) {
      val df = Scc.scc(nodes, e)
      (df.collect().map(_.toString).sorted.toSeq, df.schema, Scc.lastRounds)
    })
    same("scc", scc)
    same("bowtie", run(Bowtie.classify(nodes, e)))
  }

  test("a fixpoint that fits runs as its collects; mergePairs adds one scan's broadcast rewrite") {
    val sym = pairs.select(col("a_id").as("src"), col("b_id").as("dst")).localCheckpoint()
    val seed = sym.select(col("src").as("id"), col("src").as("lbl")).localCheckpoint()
    // the result is a local relation: building it costs the collects
    // edges and seed come back in one collect
    val (_, fixJobs) = JobCounter(spark.sparkContext)(Components.minLabel(sym, seed))
    assert(fixJobs == 1, s"$fixJobs jobs")
    // fromPairs holds the pairs alone and derives the seed from them
    val cut = pairs.localCheckpoint()
    val (_, ccJobs) = JobCounter(spark.sparkContext)(Components.fromPairs(cut))
    assert(ccJobs == 1, s"$ccJobs jobs")
    val labels = Components.fromPairs(pairs)
    val batch = Seq((22L, 100L), (0L, 41L)).toDF("a_id", "b_id").localCheckpoint()
    // the batch collect, the stored-label lookup, the moved
    // representatives' broadcast and the materialization
    val (_, mergeJobs) = JobCounter(spark.sparkContext)(
      Iterate.materialize(Components.mergePairs(labels, batch)))
    assert(mergeJobs == 4, s"$mergeJobs jobs")
  }

  test("distributed mergePairs reads its endpoint lookup once") {
    // the returned frame reads the lookup cut: materializing it must not
    // re-run the two broadcast lookups over the stored labels
    BroadcastThreshold(spark, -1L) {
      val labels = Components.fromPairs(pairs)
      val batch = Seq((22L, 100L), (100L, 40L), (200L, 201L)).toDF("a_id", "b_id")
        .localCheckpoint()
      val merged = Components.mergePairs(labels, batch)
      val (_, sites) = JobCounter.callSites(spark.sparkContext)(Iterate.materialize(merged))
      // the rewrite's and the new ids' join's stage jobs, then the
      // materialization: 4 (re-running the lookups too made it 9)
      assert(sites.size == 4, s"${sites.size} jobs: ${sites.mkString("; ")}")
    }
  }
}
