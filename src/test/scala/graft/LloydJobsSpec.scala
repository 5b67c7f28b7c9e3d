package graft

import graft.operators.{KMeansVec, PQ}
import org.apache.spark.JobCounter
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Pins the Spark jobs one Lloyd training run costs. On the
  * distributed path (threshold −1): 3 for the init, then 4 per round
  * (the centroid collect, plus the materialization of the recentered
  * frame, whose two adaptive shuffle stages each run as a job of their
  * own). On the driver path, taken while the vectors fit Iterate's size
  * rule: the one collect of the vectors, at any number of rounds. A
  * change that adds a driver round-trip per round shows up here as a
  * different count, not as noise in a timing.
  */
class LloydJobsSpec extends AnyFunSuite {
  import SparkTestSession._

  private val Dim = 64

  private def vecs = Tables.embeddings(spark, sf)
    .select(col("vec_id"), col("embedding"))

  private def jobs(body: => Unit): Int = JobCounter(spark.sparkContext)(body)._2

  private def distributed[T](body: => T): T = BroadcastThreshold(spark, -1L)(body)

  test("flat k-means: jobs per fit at 1 and 2 Lloyd rounds") {
    val v = vecs
    val got = distributed(Seq(1, 2).map(iters => jobs(KMeansVec.fit(v, 8, iters))))
    assert(got == Seq(7, 11))
  }

  test("fused PQ fit: jobs per fitFrame at 1 and 2 Lloyd rounds") {
    val v = vecs
    val got = distributed(Seq(1, 2).map(iters => jobs(PQ.fitFrame(v, Dim, 4, 8, iters))))
    assert(got == Seq(7, 11))
  }

  test("index build: each Lloyd round trains both the coarse and the PQ quantizer") {
    val v = vecs
    val dir = java.nio.file.Files.createTempDirectory("lloyd_build").toString
    val got = distributed(Seq(1, 2).map(iters => jobs(graft.sources.IndexStore.build(v,
      s"$dir/i$iters", Dim, nlist = 8, m = 4, kcode = 8, iters = iters))))
    assert(got(1) - got(0) == 8, s"jobs at iters 1, 2: $got")
  }

  test("driver path: one job per fit at any number of Lloyd rounds") {
    val v = vecs
    val flat = Seq(1, 2, 5).map(iters => jobs(KMeansVec.fit(v, 8, iters)))
    val fused = Seq(1, 2, 5).map(iters => jobs(PQ.fitFrame(v, Dim, 4, 8, iters)))
    assert(flat == Seq(1, 1, 1) && fused == Seq(1, 1, 1), s"flat $flat, fused $fused")
    val dir = java.nio.file.Files.createTempDirectory("lloyd_build_driver").toString
    val build = Seq(1, 2).map(iters => jobs(graft.sources.IndexStore.build(v,
      s"$dir/i$iters", Dim, nlist = 8, m = 4, kcode = 8, iters = iters)))
    assert(build(1) == build(0), s"jobs at iters 1, 2: $build")
  }

  test("fits drop only the cache entries they created") {
    val v = vecs
    val mine = v.select(col("vec_id"), col("embedding")).persist()
    try {
      mine.count()
      val entries = org.apache.spark.sql.CacheEntries(spark)
      KMeansVec.fit(v, 8, 1)
      PQ.fitFrame(v, Dim, 4, 8, 1)
      KMeansVec.fitRouted(v, 2, 4, 1)
      assert(mine.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
        "a fit must not drop the caller's cache entry for its input plan")
      assert(org.apache.spark.sql.CacheEntries(spark) == entries,
        "a fit must leave no cache entry of its own behind")
    } finally mine.unpersist()
  }

  test("PQ encode collects its m codebooks in one job") {
    val v = vecs
    val books = PQ.fit(v, Dim, 4, 8, 1)
    assert(jobs(PQ.encode(v, books, Dim)) == 1)
  }
}
