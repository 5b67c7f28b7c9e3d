package graft

import graft.operators.{Audience, Events, Hll}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class AudienceSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  test("overlap matrix closed form, dense over disjoint pairs") {
    val ev = Seq(
      ("a", 1L), ("a", 2L), ("a", 3L), ("a", 3L),
      ("b", 2L), ("b", 3L), ("b", 4L),
      ("c", 9L)).toDF("event_type", "user_id")
    val got = Audience.overlap(ev)
      .as[(String, String, Long, Long, Long, Double)].collect().toSeq
      .sortBy(r => (r._1, r._2))
    assert(got == Seq(
      ("a", "b", 3L, 3L, 2L, 0.5),
      ("a", "c", 3L, 1L, 0L, 0.0),
      ("b", "c", 3L, 1L, 0L, 0.0)))
  }

  test("HLL inclusion-exclusion tracks the exact overlap (the 100 TB serving path)") {
    val ev = Tables.events(spark, sf).select(col("event_type"), col("user_id"))
    val exact = Audience.overlap(ev)
      .as[(String, String, Long, Long, Long, Double)].collect()
    val types = exact.flatMap(r => Seq(r._1, r._2)).distinct.sorted
    val sketches = types.map { t =>
      t -> Hll.sketch(ev.filter(col("event_type") === t), col("user_id"))
        .persist()
    }.toMap
    exact.filter(_._5 > 100).foreach { case (a, b, _, _, nBoth, _) =>
      val ea = Hll.estimateCorrected(sketches(a))
      val eb = Hll.estimateCorrected(sketches(b))
      val eu = Hll.estimateCorrected(Hll.merge(sketches(a), sketches(b)))
      val est = ea + eb - eu
      // inclusion-exclusion amplifies register error; the serve-path
      // contract is order-of-magnitude agreement, audited here
      assert(math.abs(est - nBoth) <= 0.25 * nBoth,
        s"$a∩$b exact=$nBoth est=$est")
    }
    sketches.values.foreach(_.unpersist())
  }

  test("power: MDE recomputes from the abtest moments; powered is the rounded compare") {
    val ab = Events.abtest(spark, sf)
      .select(col("na"), col("ca"), col("nb"), col("cb"))
      .as[(Long, Long, Long, Long)].head()
    val (na, ca, nb, cb) = ab
    val p = (ca + cb).toDouble / (na + nb)
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val mde = r6((Events.ZAlpha + Events.ZPower) *
      math.sqrt(p * (1 - p) * (1.0 / na + 1.0 / nb)))
    val diff = r6(math.abs(ca.toDouble / na - cb.toDouble / nb))
    val got = Events.power(spark, sf)
      .as[(Long, Long, Option[Double], Option[Double], Option[Double],
        Option[Double], Option[Int])].head()
    assert(got._1 == na && got._2 == nb)
    assert(got._4.contains(mde) && got._6.contains(diff))
    assert(got._7.contains(if (diff >= mde) 1 else 0))
  }
}
