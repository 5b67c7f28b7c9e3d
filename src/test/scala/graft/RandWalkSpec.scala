package graft

import graft.operators.RandWalk
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class RandWalkSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  /** The step rule, sequentially: md5-keyed index into the
    * dst-sorted neighbor list.
    */
  private def seqWalk(adj: Map[Long, Seq[Long]], start: Long): (Long, String) = {
    var cur = start
    var path = start.toString
    var steps = 0
    var dead = false
    while (steps < RandWalk.Steps && !dead) {
      adj.get(cur) match {
        case Some(nbrs) =>
          val key = s"walk:$start:$steps:$cur"
          val md = java.security.MessageDigest.getInstance("MD5")
            .digest(key.getBytes("UTF-8")).map(b => f"$b%02x").mkString
          val idx = (java.lang.Long.parseLong(md.take(7), 16) % nbrs.size).toInt
          cur = nbrs.sorted.apply(idx)
          path += s"->$cur"
          steps += 1
        case None => dead = true
      }
    }
    (cur, path)
  }

  test("walks follow the md5 step rule exactly on a hand graph") {
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L), (3L, 4L),
      (4L, 1L), (2L, 4L)).toDF("src", "dst")
    val adj = Map(1L -> Seq(2L, 3L), 2L -> Seq(3L, 4L),
      3L -> Seq(1L, 4L), 4L -> Seq(1L))
    val got = RandWalk.walks(edges).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getString(3))).toMap
    (1L to 4L).foreach { n =>
      assert(got(n) == seqWalk(adj, n), s"walk from $n diverged")
    }
    assert(got.values.forall(_._2.split("->").length == RandWalk.Steps + 1),
      "no dead ends here: every walk must run the full length")
  }

  test("dead ends terminate the walk with the truncated path") {
    // 1 -> 2 -> 3, 3 is a sink
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val got = RandWalk.walks(edges).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(3))).toMap
    assert(got(1L) == (2L, "1->2->3"))
    assert(got(2L) == (1L, "2->3"))
    assert(got(3L) == (0L, "3"), "sink-start walk takes zero steps")
  }

  test("walks are reproducible run to run (the sampler contract)") {
    val e = Tables.edges(spark, sf)
    val a = RandWalk.walks(e).collect().map(r => (r.getLong(0), r.getString(3)))
      .sortBy(_._1)
    val b = RandWalk.walks(e).collect().map(r => (r.getLong(0), r.getString(3)))
      .sortBy(_._1)
    assert(a.sameElements(b))
    assert(a.nonEmpty)
  }

  test("the step plan joins ranked edges, never collects adjacency arrays") {
    val e = Tables.edges(spark, sf)
    val plan = RandWalk.walks(e).queryExecution.executedPlan.toString
    assert(!plan.contains("collect_list"),
      s"a supernode must not materialize its neighbor array:\n$plan")
  }
}
