package graft

import graft.operators.{KMeansVec, PQ}
import org.apache.spark.JobCounter
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Pins the Spark jobs one Lloyd training run costs: 3 for the init,
  * then 4 per round (the centroid collect, plus the materialization of
  * the recentered frame, whose two adaptive shuffle stages each run as
  * a job of their own). A change that adds a driver round-trip per
  * round shows up here as a different count, not as noise in a timing.
  */
class LloydJobsSpec extends AnyFunSuite {
  import SparkTestSession._

  private val Dim = 64

  private def vecs = Tables.embeddings(spark, sf)
    .select(col("vec_id"), col("embedding"))

  private def jobs(body: => Unit): Int = JobCounter(spark.sparkContext)(body)._2

  test("flat k-means: jobs per fit at 1 and 2 Lloyd rounds") {
    val v = vecs
    val got = Seq(1, 2).map(iters => jobs(KMeansVec.fit(v, 8, iters)))
    assert(got == Seq(7, 11))
  }

  test("fused PQ fit: jobs per fitFrame at 1 and 2 Lloyd rounds") {
    val v = vecs
    val got = Seq(1, 2).map(iters => jobs(PQ.fitFrame(v, Dim, 4, 8, iters)))
    assert(got == Seq(7, 11))
  }
}
