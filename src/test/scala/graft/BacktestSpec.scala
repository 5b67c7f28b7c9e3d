package graft

import graft.operators.Backtest
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class BacktestSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  /** Events with exactly counts(t) rows in hour t. */
  private def evOf(counts: Seq[Int]): DataFrame =
    counts.zipWithIndex.flatMap { case (c, t) => Seq.fill(c)(t.toLong) }
      .toDF("t")
      .select(expr("timestamp_micros(t * 3600000000)").as("ts"),
        lit("x").as("event_type"))

  private def byKey(df: DataFrame): Map[(String, Long), (Long, Long, Long)] =
    df.collect().map(r => (r.getAs[String]("method"), r.getAs[Long]("horizon")) ->
      ((r.getAs[Long]("n"), r.getAs[Long]("mae_micro"),
        r.getAs[Long]("smape_micro")))).toMap

  test("constant series: both forecasters are exact (MAE = sMAPE = 0)") {
    val got = byKey(Backtest.backtest(evOf(Seq.fill(30)(5))))
    assert(got.size == 6) // 2 methods x 3 horizons
    for (((m, h), (n, mae, sm)) <- got) {
      assert(n == 6L, s"$m/$h n") // targets t in [24, 29]
      assert(mae == 0L, s"$m/$h mae")
      assert(sm == 0L, s"$m/$h smape")
    }
  }

  test("period-24 series: seasonal-naive exact, naive pays at the spikes") {
    // y(t) = 3 when t%24 == 5 else 1, 72 hours
    val got = byKey(Backtest.backtest(
      evOf((0 until 72).map(t => if (t % 24 == 5) 3 else 1))))
    for (h <- 1L to 3L) {
      assert(got(("snaive", h))._2 == 0L, s"snaive mae h=$h")
      assert(got(("naive", h))._2 > 0L, s"naive mae h=$h")
      assert(got(("naive", h))._1 == 48L) // targets t in [24, 71]
    }
    // h=1 exactly: |3-1| at t%24==5 and |1-3| at t%24==6, twice each
    // over 48 targets: sae = 8
    assert(got(("naive", 1L))._2 == (8L * 1000000L) / 48L)
    // smape per spike point: 2e6*2 div 4 = 1000000; 4 points over 48
    assert(got(("naive", 1L))._3 == (4L * 1000000L) / 48L)
  }

  test("stream-maintained cells feed the backtest: streamed == batch") {
    // the backtest re-scores forecasters per trigger off the SAME
    // state StreamingChangepoint maintains — raw events never re-read
    implicit val sqlCtx = spark.sqlContext
    val counts = (0 until 60).map(t => 1 + (t % 24) / 8)
    val rows = evOf(counts)
      .collect().map(r => (r.getString(1), r.getTimestamp(0)))
    val (b1, b2) = rows.splitAt(rows.length / 2)
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, java.sql.Timestamp)]
    val q = graft.streaming.StreamingChangepoint.cells(
      mem.toDF().toDF("event_type", "ts"))
      .writeStream.format("memory").queryName("bt_cells")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Complete()).start()
    try {
      mem.addData(b1.toSeq); q.processAllAvailable()
      mem.addData(b2.toSeq); q.processAllAvailable()
    } finally q.stop()
    val streamed = Backtest.backtestFromCells(spark.table("bt_cells"))
      .orderBy("event_type", "method", "horizon").collect()
    val batch = Backtest.backtest(evOf(counts))
      .orderBy("event_type", "method", "horizon").collect()
    assert(streamed.toSeq == batch.toSeq)
  }

  test("missing hours densify to zero and the both-zero convention holds") {
    // one event in hour 0 and hour 47, nothing between: every target
    // hour is 0 except t=47; zero-vs-zero scores sMAPE 0, not NULL
    val got = byKey(Backtest.backtest(evOf(
      Seq(1) ++ Seq.fill(46)(0) ++ Seq(1))))
    assert(got(("naive", 1L))._1 == 24L) // targets t in [24, 47]
    // t=47: y=1, naive fy=y(46)=0 -> ae 1, smape 2e6*1 div 1 = 2e6
    assert(got(("naive", 1L))._2 == (1L * 1000000L) / 24L)
    assert(got(("naive", 1L))._3 == 2000000L / 24L)
    // snaive at t=47 reads y(23)=0 -> ae 1 as well; t=24 reads y(0)=1 vs y(24)=0 -> ae 1
    assert(got(("snaive", 1L))._2 == (2L * 1000000L) / 24L)
  }
}
