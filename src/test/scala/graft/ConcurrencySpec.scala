package graft

import java.sql.Timestamp
import graft.operators.Concurrency
import org.scalatest.funsuite.AnyFunSuite

class ConcurrencySpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private val base = Timestamp.valueOf("2024-03-01 00:00:00").getTime

  private def ts(min: Int) = new Timestamp(base + min * 60000L)

  private def run(ev: Seq[(Long, Long, Timestamp)]) =
    Concurrency.concurrency(ev.toDF("user_id", "event_id", "ts"))
      .orderBy("h").collect()
      .map(r => (r.getAs[Long]("started"), r.getAs[Long]("ended"),
        r.getAs[Long]("active")))

  test("sweep line closed form: overlapping sessions counted per hour") {
    var id = 0L
    def e(u: Long, min: Int) = { id += 1; (u, id, ts(min)) }
    val ev = Seq(
      e(1, 0), e(1, 10),                               // u1: [h0, h0]
      e(2, 30), e(2, 55), e(2, 80), e(2, 105), e(2, 130), // u2: [h0, h2]
      e(3, 120),                                       // u3: [h2, h2]
      e(1, 180), e(1, 200))                            // u1 again: [h3, h3]
    val r = run(ev)
    assert(r.toSeq == Seq(
      (2L, 1L, 2L),   // h0: u1 + u2 live, u1 ends
      (0L, 0L, 1L),   // h1: only u2 spans the quiet hour
      (1L, 2L, 2L),   // h2: u3 starts, u2 + u3 end
      (1L, 1L, 1L)),  // h3: u1's second session
      s"got ${r.toSeq}")
  }

  test("dead hours stay on the grid with active 0; gap splits sessions") {
    val ev = Seq((1L, 1L, ts(0)), (1L, 2L, ts(305)))   // gap 305min >> 30
    val r = run(ev)
    assert(r.length == 6, s"grid h0..h5: ${r.toSeq}")
    assert(r.head == ((1L, 1L, 1L)) && r.last == ((1L, 1L, 1L)))
    assert(r.slice(1, 5).forall(_ == ((0L, 0L, 0L))), s"${r.toSeq}")
  }
}
