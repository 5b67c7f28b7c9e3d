package graft

import graft.operators.{Cusum, Events}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class CusumSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private def evOf(counts: Seq[Int]): DataFrame =
    counts.zipWithIndex.flatMap { case (c, t) => Seq.fill(c)(t.toLong) }
      .toDF("t")
      .select(expr("timestamp_micros(t * 3600000000)").as("ts"),
        lit("x").as("event_type"))

  test("a +30% sustained shift alarms CUSUM but never the per-hour z-screen") {
    // 48 reference hours at 10, then 12 at 10, then 36 at 13: each
    // 13-hour is unremarkable alone (z ~ 1.5 < 2) but the EXCESS
    // accumulates: 13e6 - mu0 - k = 2e6-ish per hour -> the decision
    // line mu0 + 1e6 falls within ~6 shifted hours
    val counts = Seq.fill(48)(10) ++ Seq.fill(12)(10) ++ Seq.fill(36)(13)
    val ev = evOf(counts)
    val r = Cusum.cusum(ev).collect().head
    assert(r.getAs[Long]("mu0_micro") == 10000000L)
    assert(r.getAs[Int]("drifted") == 1)
    val alarm = r.getAs[Long]("first_alarm")
    assert(alarm >= 60L && alarm <= 66L, s"alarm at $alarm")
    assert(r.getAs[Long]("max_down_micro") == 0L)
    // the per-hour z-screen never flags a 13-count hour here
    val z = Events.anomaly(ev).collect()
    assert(z.filter(_.getAs[Long]("n_events") == 13L)
      .forall(_.getAs[Int]("is_anomaly") == 0),
      "a +30% shift must be invisible hour-by-hour")
  }

  test("hand-walked recursion: excess, reset, and the decision line") {
    // ref 2 hours at 5 (mu0 = 5e6, k = 5e5, h = 6e6); monitor 5, 9, 9
    // S+ walks: 5 -> max(0, 0 + 5e6-5e6-5e5) = 0; 9 -> 3.5e6; 9 -> 7e6 > 6e6
    val r = Cusum.cusum(evOf(Seq(5, 5, 5, 9, 9))).collect().head
    assert(r.getAs[Long]("mu0_micro") == 5000000L)
    assert(r.getAs[Long]("max_up_micro") == 7000000L)
    assert(r.getAs[Long]("first_alarm") == 4L)
    assert(r.getAs[Int]("drifted") == 1)
  }

  test("stream-maintained cells feed the monitor: streamed == batch") {
    implicit val sqlCtx = spark.sqlContext
    val counts = Seq.fill(20)(10) ++ Seq.fill(20)(14)
    val rows = evOf(counts)
      .collect().map(r => (r.getString(1), r.getTimestamp(0)))
    val (b1, b2) = rows.splitAt(rows.length / 2)
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, java.sql.Timestamp)]
    val q = graft.streaming.StreamingChangepoint.cells(
      mem.toDF().toDF("event_type", "ts"))
      .writeStream.format("memory").queryName("cusum_cells")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Complete()).start()
    try {
      mem.addData(b1.toSeq); q.processAllAvailable()
      mem.addData(b2.toSeq); q.processAllAvailable()
    } finally q.stop()
    val streamed = Cusum.cusumFromCells(spark.table("cusum_cells"))
      .orderBy("event_type").collect()
    val batch = Cusum.cusum(evOf(counts)).orderBy("event_type").collect()
    assert(streamed.toSeq == batch.toSeq)
    assert(batch.head.getAs[Int]("drifted") == 1)
  }

  test("stable series never alarms; a downward outage trips the lower side") {
    val stable = Cusum.cusum(evOf(Seq.fill(40)(8))).collect().head
    assert(stable.getAs[Int]("drifted") == 0)
    assert(stable.isNullAt(stable.fieldIndex("first_alarm")))
    assert(stable.getAs[Long]("max_up_micro") == 0L)
    // outage: second half drops to 2/hour (-75%)
    val down = Cusum.cusum(evOf(Seq.fill(20)(8) ++ Seq.fill(20)(2)))
      .collect().head
    assert(down.getAs[Int]("drifted") == 1)
    assert(down.getAs[Long]("max_down_micro") > down.getAs[Long]("max_up_micro"))
  }
}
