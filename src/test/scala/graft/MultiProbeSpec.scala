package graft

import graft.operators.Ann
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class MultiProbeSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private val sf = "/root/testdata/sf0.01"
  private lazy val corpus = Tables.embAug(spark, sf).cache()

  test("HyperplaneProbes home keys encode exactly the HyperplaneBits band values") {
    val bits = graft.functions.HyperplaneBits(col("embedding"), Ann.Coefs)
    val keys = graft.functions.HyperplaneProbes(
      col("embedding"), Ann.Coefs, Ann.PlanesPerBand, 2)
    val rows = corpus.limit(50)
      .select(col("vec_id"), bits.as("bits"), keys.as("keys"))
      .as[(Long, Seq[Long], Seq[Long])].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (id, b, k) =>
      assert(k.length == Ann.PlaneBands * 3)
      (0 until Ann.PlaneBands).foreach { band =>
        val bval = (0 until Ann.PlanesPerBand).map(j =>
          b(band * Ann.PlanesPerBand + j) <<
            (Ann.PlanesPerBand - 1 - j)).sum
        val want = (band.toLong << Ann.PlanesPerBand) + bval
        assert(k(band * 3) == want, s"vec $id band $band home mismatch")
        // perturbed keys stay inside the band and differ by exactly one bit
        Seq(k(band * 3 + 1), k(band * 3 + 2)).foreach { pk =>
          assert(pk >> Ann.PlanesPerBand == band.toLong)
          assert(java.lang.Long.bitCount(pk ^ want) == 1)
        }
        assert(k(band * 3 + 1) != k(band * 3 + 2))
      }
    }
  }

  test("probes=0 reproduces single-probe nearDups exactly") {
    val single = Ann.nearDups(corpus, 0.95)
      .as[(Long, Long, Double)].collect().toSeq.sortBy(p => (p._1, p._2))
    val zero = Ann.nearDupsMultiProbe(corpus, 0.95, probes = 0)
      .as[(Long, Long, Double)].collect().toSeq.sortBy(p => (p._1, p._2))
    assert(single.nonEmpty)
    assert(zero == single,
      s"probes=0 must be the single-probe candidate set " +
        s"(first diff: ${zero.zip(single).find(p => p._1 != p._2)})")
  }

  test("a degenerate (NaN) embedding degrades gracefully instead of crashing") {
    val withNaN = corpus.unionAll(
      corpus.sparkSession.createDataFrame(Seq(
        (9999999L, Array(Float.NaN) ++ Array.fill(Ann.Dim - 1)(0.0f))))
        .toDF("vec_id", "embedding"))
    val clean = Ann.nearDupsMultiProbe(corpus, 0.95, probes = 2)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    // the NaN row's cosine is NaN -> filtered; the probe expression
    // must not throw while computing its perturbations
    val dirty = Ann.nearDupsMultiProbe(withNaN, 0.95, probes = 2)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(dirty == clean, "a NaN vector must not change (or crash) the pair set")
  }

  test("multi-probe recall is monotone in probes and bounded by brute force") {
    val e = corpus.withColumn("nrm", Ann.norm(col("embedding")))
    val a = e.select(col("vec_id").as("a_id"), col("embedding").as("a_emb"),
      col("nrm").as("a_nrm"))
    val b = e.select(col("vec_id").as("b_id"), col("embedding").as("b_emb"),
      col("nrm").as("b_nrm"))
    val truth = a.crossJoin(b).filter(col("a_id") < col("b_id"))
      .filter(Ann.cosine(col("a_emb"), col("a_nrm"),
        col("b_emb"), col("b_nrm")) >= 0.95)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(truth.nonEmpty)
    def found(probes: Int): Set[(Long, Long)] =
      Ann.nearDupsMultiProbe(corpus, 0.95, probes)
        .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val f0 = found(0); val f2 = found(2); val f4 = found(4)
    // verify-on-candidates means every reported pair is a TRUE pair
    assert(f0.subsetOf(truth) && f2.subsetOf(truth) && f4.subsetOf(truth))
    // more probes never lose a pair
    assert(f0.subsetOf(f2) && f2.subsetOf(f4),
      s"recall must be monotone: ${f0.size} / ${f2.size} / ${f4.size} of ${truth.size}")
    // the exact-duplicate injections collide in every scheme
    val injected = truth.filter { case (x, y) => y == x + 1000000L }
    assert(injected.nonEmpty && injected.subsetOf(f0))
  }
}
