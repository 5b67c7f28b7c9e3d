package graft

import graft.operators.DpRelease
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DpReleaseSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  test("noise is exactly discrete-Laplace(1/2): P(0)=1/3, ratio e^eps=2, E|X|=4/3") {
    // 200k md5-keyed uniforms -> empirical noise distribution
    val n = 200000L
    val noise = spark.range(n)
      .select(DpRelease.geometricNoise(
        conv(substring(md5(concat(lit("t:"), col("id"))), 1, 10), 16, 10)
          .cast("long")).as("x"))
      .groupBy(col("x")).agg(count(lit(1)).as("c"))
      .as[(Long, Long)].collect().toMap
    val p0 = noise(0L).toDouble / n
    assert(math.abs(p0 - 1.0 / 3) < 0.01, s"P(X=0)=$p0, want 1/3")
    // the privacy ratio IS alpha: P(k)/P(k+1) = 2 = e^eps for every step
    for (k <- 0L to 3L) {
      val r = noise(k).toDouble / noise(k + 1)
      assert(math.abs(r - 2.0) < 0.25, s"P($k)/P(${k + 1})=$r, want 2")
      val rn = noise(-k).toDouble / noise(-k - 1)
      assert(math.abs(rn - 2.0) < 0.25, s"P(${-k})/P(${-k - 1})=$rn, want 2")
    }
    val meanAbs = noise.map { case (k, c) => math.abs(k) * c }.sum.toDouble / n
    assert(math.abs(meanAbs - 4.0 / 3) < 0.02, s"E|X|=$meanAbs, want 4/3")
  }

  test("release is deterministic (sticky noise), utility-bounded, and domain-complete") {
    val df = Seq(
      ("a", "x", 30), ("a", "y", 12), ("b", "x", 7)
      // (b, y) absent on purpose: the public-domain grid must still
      // release a (noisy) zero for it, or set membership leaks exactly
    ).flatMap { case (s0, l, c) => (1 to c).map(_ => (s0, l)) }
      .toDF("source", "lang")
    val r1 = DpRelease.noisyCounts(df, Seq("source", "lang"), "v1")
      .as[(String, String, Long, Long)].collect().sortBy(r => (r._1, r._2))
    val r2 = DpRelease.noisyCounts(df, Seq("source", "lang"), "v1")
      .as[(String, String, Long, Long)].collect().sortBy(r => (r._1, r._2))
    assert(r1.toSeq == r2.toSeq, "same seed must release identical noise")
    assert(r1.length == 4, "full 2x2 public domain, empty cell included")
    assert(r1.forall(_._4 == DpRelease.EpsMicro))
    val truth = Map(("a", "x") -> 30L, ("a", "y") -> 12L, ("b", "x") -> 7L)
      .withDefaultValue(0L)
    r1.foreach { case (s0, l, rel, _) =>
      assert(math.abs(rel - truth((s0, l))) <= 40L,
        s"($s0,$l): hard tail bound (40-bit uniform) violated: $rel")
    }
    // a different seed is a fresh mechanism draw
    val r3 = DpRelease.noisyCounts(df, Seq("source", "lang"), "v2")
      .as[(String, String, Long, Long)].collect().sortBy(r => (r._1, r._2))
    assert(r3.map(_._3).toSeq != r1.map(_._3).toSeq,
      "a new seed must spend fresh epsilon (different noise)")
  }

  test("noisy sums: clamped, lattice-rounded, deterministic, utility-bounded") {
    val df = Seq(
      ("a", 5000L), ("a", 25000L), ("a", 800L), // 25000 clips to 10000
      ("b", 100L), ("b", 200L)
    ).toDF("grp", "cents")
    val clamp = DpRelease.SumClampCents
    val out = DpRelease.noisySum(df, Seq("grp"), col("cents"), clamp, "s1")
      .as[(String, Long, Long, Long)].collect().sortBy(_._1)
    val truth = Map("a" -> (5000L + 10000L + 800L), "b" -> 300L)
    out.foreach { case (g, rel, c, eps) =>
      assert(c == clamp && eps == DpRelease.EpsMicro)
      assert(rel % clamp == 0L, "release lives on the clamp lattice")
      // |release - clamped truth| <= clamp * (|noise| + 1); |noise| <= 40
      assert(math.abs(rel - truth(g)) <= clamp * 41L, s"$g: $rel vs ${truth(g)}")
    }
    val again = DpRelease.noisySum(df, Seq("grp"), col("cents"), clamp, "s1")
      .as[(String, Long, Long, Long)].collect().sortBy(_._1)
    assert(out.toSeq == again.toSeq, "sticky noise on sums too")
  }

  test("user-level release: contribution capped at UserCap, budget stamped K*eps") {
    // one power user touching every group, several one-group users
    val df = (Seq.tabulate(6)(i => (100L + i, s"g${i % 3}")) ++
      Seq.tabulate(5)(i => (999L, s"g$i"))) // user 999 touches 5 groups
      .toDF("user_id", "grp")
    val rel = DpRelease.noisyUserCounts(df, "user_id", "grp", "v1")
      .as[(String, Long, Long)].collect()
    assert(rel.forall(_._3 == DpRelease.EpsMicro * DpRelease.UserCap),
      "the ledger must stamp K*eps, not eps")
    // total capped contributions: 6 single-group users (1 each, all
    // distinct (u, grp)) + user 999 capped to UserCap
    val totalTrue = 6 + DpRelease.UserCap
    // released total differs from capped truth only by noise (<=40/cell)
    val released = rel.map(_._2).sum
    assert(math.abs(released - totalTrue) <= 40L * rel.length,
      s"released=$released cappedTruth=$totalTrue")
    // determinism
    val again = DpRelease.noisyUserCounts(df, "user_id", "grp", "v1")
      .as[(String, Long, Long)].collect()
    assert(rel.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
  }

  test("released histogram is useful: most cells within +-4 of truth at sf0.001") {
    val dir = "/root/testdata/sf0.001"
    val rel = graft.operators.DpRelease.dpCounts(spark, dir)
      .select(col("source"), col("lang"), col("n_released"))
      .as[(String, String, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    val truth = Tables.documents(spark, dir)
      .groupBy(col("source"), col("lang")).agg(count(lit(1)).as("c"))
      .as[(String, String, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    val errs = rel.map { case (k, v) => math.abs(v - truth.getOrElse(k, 0L)) }
    // P(|X| >= 5) = 2^-4/3 ~ 2%: out of 100 cells, a handful may exceed
    assert(errs.count(_ > 4L) <= 10, s"too many cells off by >4: ${errs.toSeq.sorted.reverse.take(5)}")
    assert(errs.sum.toDouble / errs.size <= 3.0, "mean abs error must sit near E|X|=4/3")
  }

  test("DP quantiles: within one bin of truth on a planted staircase, sticky, one eps") {
    // 4000 docs spread evenly over bins 0..19 (200 per bin): true
    // quantile q lands in bin ceil(q*20/100)-1; +-4 noise per bin
    // against 200-deep bins cannot move the CDF crossing by a bin
    val docs = (0 until 4000)
      .map(i => (i.toLong, (i % 20) * DpRelease.QBinWidth + 50L))
      .toDF("doc_id", "n_chars")
    val r = DpRelease.dpQuantileOf(spark, docs).collect()
      .map(x => x.getAs[Long]("q_pct") ->
        ((x.getAs[Long]("bin"), x.getAs[Long]("est_chars_le"),
          x.getAs[Long]("eps_micro")))).toMap
    for ((q, trueBin) <- Seq(10L -> 1L, 25L -> 4L, 50L -> 9L,
      75L -> 14L, 90L -> 17L)) {
      val (bin, est, eps) = r(q)
      assert(math.abs(bin - trueBin) <= 1L,
        s"q$q: bin $bin should sit within 1 of $trueBin")
      assert(est == (bin + 1) * DpRelease.QBinWidth)
      assert(eps == DpRelease.EpsMicro,
        "the whole ladder is post-processing of ONE release")
    }
    // sticky noise: the release is a pure function of (seed, data)
    val again = DpRelease.dpQuantileOf(spark, docs).collect().toSet
    assert(again == DpRelease.dpQuantileOf(spark, docs).collect().toSet)
  }
}
