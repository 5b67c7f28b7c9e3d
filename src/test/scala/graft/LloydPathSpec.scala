package graft

import graft.operators.{KMeansVec, PQ}
import org.apache.spark.JobCounter
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The Lloyd loop's two paths under Iterate's size rule: rounds on the
  * driver while the vectors fit at their real width, distributed
  * materialized rounds otherwise. Both must train the same quantizers:
  * centroids within one float ulp (the paths sum a mean's terms in
  * different orders), identical assignments and PQ codes.
  */
class LloydPathSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private val Dim = 64
  private def vecs = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))

  private def cents(df: DataFrame): Map[(Int, Long), (Seq[Float], Double)] = {
    val sub = df.columns.contains("sub")
    df.collect().map(r => ((if (sub) r.getAs[Int]("sub") else 0, r.getAs[Long]("cent_id")),
      (r.getSeq[Float](r.fieldIndex("c_emb")).toSeq, r.getAs[Double]("c_nrm")))).toMap
  }

  private def near(a: Map[(Int, Long), (Seq[Float], Double)],
    b: Map[(Int, Long), (Seq[Float], Double)]): Boolean =
    a.keySet == b.keySet && a.forall { case (key, (emb, nrm)) =>
      val (emb2, nrm2) = b(key)
      emb.size == emb2.size &&
        emb.zip(emb2).forall { case (x, y) => math.abs(x - y) <= math.ulp(x) } &&
        math.abs(nrm - nrm2) <= 1e-6 * math.max(nrm, 1e-12)
    }

  test("flat k-means: the driver path trains the distributed centroids") {
    val v = vecs
    val dist = BroadcastThreshold(spark, -1L)(KMeansVec.fit(v, 8, 3))
    val drv = KMeansVec.fit(v, 8, 3)
    assert(drv.schema == dist.schema, s"${drv.schema} vs ${dist.schema}")
    assert(near(cents(drv), cents(dist)), "centroids differ by more than an ulp")
    def assigned(c: DataFrame) = KMeansVec.assign(
      v.withColumn("nrm", graft.operators.Ann.norm(col("embedding"))), c)
      .select(col("vec_id"), col("cent_id")).as[(Long, Long)].collect().toMap
    assert(assigned(drv) == assigned(dist))
  }

  test("fused PQ: the driver path trains the distributed codebooks") {
    val v = vecs
    val dist = BroadcastThreshold(spark, -1L)(PQ.fitFrame(v, Dim, 8, 16, 2))
    val drv = PQ.fitFrame(v, Dim, 8, 16, 2)
    assert(drv.schema == dist.schema, s"${drv.schema} vs ${dist.schema}")
    assert(near(cents(drv), cents(dist)), "codebooks differ by more than an ulp")
    def codes(b: DataFrame) = PQ.encodeFromRows(v, PQ.collectRows(b), Dim)
      .as[(Long, Seq[Long])].collect().toMap
    assert(codes(drv) == codes(dist))
  }

  test("wide vectors are counted at their real width: a 1536-d frame runs distributed") {
    // 300 rows pass the rule by Spark's row estimate (an array counts
    // as one element) but not at 300 × (1536 × 4 + 8) bytes
    val d = 1536
    val rnd = new scala.util.Random(7)
    val rows = (1 to 300).map(i => Row(i.toLong, Seq.fill(d)(rnd.nextFloat())))
    val wide = spark.createDataFrame(java.util.List.of(rows: _*), StructType(Seq(
      StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType)))))
    val (want, distJobs) = BroadcastThreshold(spark, -1L)(
      JobCounter(spark.sparkContext)(cents(KMeansVec.fit(wide, 4, 1))))
    val (got, jobs) = JobCounter(spark.sparkContext)(cents(KMeansVec.fit(wide, 4, 1)))
    // the distributed rounds plus the one collect that did not fit
    assert(jobs == distJobs + 1, s"$jobs jobs, distributed $distJobs")
    assert(got == want)
  }
}
