package graft

import java.sql.Timestamp
import graft.operators.{CorpusStats, Psi}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class PsiSkipgramSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private def ev(rows: Seq[(String, Long, Double)]) =
    rows.map { case (t, sec, v) => (t, new Timestamp(sec * 1000), v) }
      .toDF("event_type", "ts", "value")

  // sequential PSI reference: same edge rule (min value whose running
  // reference count reaches k/10, integer compare), dense 10-bucket
  // grid, Laplace +1, per-bucket micro-rounding before the sum
  private def psiRef(early: Seq[Double], late: Seq[Double]): Long = {
    val n1 = early.size.toLong
    val n2 = late.size.toLong
    val c1 = early.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val grid = (early ++ late).distinct.sorted
    var r1 = 0L
    val run = grid.map { v => r1 += c1.getOrElse(v, 0L); v -> r1 }
    val edges = (1 until Psi.Buckets).map { k =>
      run.find { case (_, r) => r * Psi.Buckets >= k * n1 }.get._1
    }
    def bucket(v: Double): Int = edges.count(v > _)
    val s1 = Array.fill(Psi.Buckets)(0L)
    val s2 = Array.fill(Psi.Buckets)(0L)
    early.foreach(v => s1(bucket(v)) += 1)
    late.foreach(v => s2(bucket(v)) += 1)
    (0 until Psi.Buckets).map { b =>
      val p = (s1(b) + 1).toDouble / (n1 + Psi.Buckets)
      val q = (s2(b) + 1).toDouble / (n2 + Psi.Buckets)
      math.floor((p - q) * math.log(p / q) * 1e6 + 0.5).toLong
    }.sum
  }

  test("psi: identical arms are stable, a disjoint shift is shifted, empty arm is NULL") {
    val vals = (1 to 50).map(_.toDouble)
    val same = ev(vals.map(("m", 100L, _)) ++ vals.map(("m", 100000L, _)))
    val sameRow = Psi.psiDrift(same).as[(String, Long, Long, Option[Long], Option[String])].head()
    assert(sameRow._2 == 50L && sameRow._3 == 50L)
    assert(sameRow._5.contains("stable") && sameRow._4.get < Psi.WatchMicro)

    val shifted = ev(vals.map(("m", 100L, _)) ++ vals.map(v => ("m", 100000L, v + 1000)))
    val shiftRow = Psi.psiDrift(shifted).as[(String, Long, Long, Option[Long], Option[String])].head()
    assert(shiftRow._5.contains("shifted"), s"psi=${shiftRow._4}")

    // every event at one instant: span midpoint = that instant, ts < mid
    // never holds, so the reference arm is empty -> NULL psi/verdict
    val degenerate = ev(vals.map(("m", 100L, _)))
    val degRow = Psi.psiDrift(degenerate).as[(String, Long, Long, Option[Long], Option[String])].head()
    assert(degRow._2 == 0L && degRow._4.isEmpty && degRow._5.isEmpty)
  }

  test("psi: engine psi_micro equals the sequential reference exactly, per type") {
    val early = (1 to 50).map(_.toDouble)
    val late = (21 to 70).map(_.toDouble)
    val mixed = ev(early.map(("a", 100L, _)) ++ late.map(("a", 100000L, _)) ++
      early.map(("b", 100L, _)) ++ early.map(("b", 100000L, _)))
    val got = Psi.psiDrift(mixed).orderBy(col("event_type"))
      .as[(String, Long, Long, Option[Long], Option[String])].collect()
    assert(got(0)._4.get == psiRef(early, late))
    assert(got(1)._4.get == psiRef(early, early))
    assert(got(0)._4.get > got(1)._4.get)
  }

  test("skipgram matches the brute-force window count and is symmetric") {
    val texts = Seq(
      "a b c a b c a b c a b c a b",
      "b a b a b a b a b a",
      "c c a c c a c c a")
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    // brute force: directed pairs at |i-j| <= SkipWindow, i != j
    val brute = scala.collection.mutable.Map.empty[(String, String), Long]
    texts.foreach { t =>
      val w = t.split(" ").filter(_.nonEmpty)
      for (i <- w.indices; j <- w.indices
           if i != j && math.abs(i - j) <= CorpusStats.SkipWindow) {
        brute((w(i), w(j))) = brute.getOrElse((w(i), w(j)), 0L) + 1
      }
    }
    val expected = brute.toSeq
      .filter(_._2 >= CorpusStats.SkipMinCount)
      .map { case ((c, x), n) => (c, x, n) }.sortBy(p => (p._1, p._2))
    val got = CorpusStats.skipgram(docs)
      .as[(String, String, Long)].collect().toSeq.sortBy(p => (p._1, p._2))
    assert(got == expected)
    // the full directed matrix is symmetric by construction
    brute.foreach { case ((c, x), n) => assert(brute((x, c)) == n) }
  }
}
