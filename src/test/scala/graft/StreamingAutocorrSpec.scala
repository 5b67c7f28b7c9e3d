package graft

import java.sql.Timestamp
import graft.operators.Autocorr
import graft.streaming.StreamingChangepoint
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

/** The ACF ladder on a stream shares the changepoint/KS/PSI/seasonal
  * monitors' ONE maintained state store (per-(type, hour) cells):
  * maintenance is the standard incremental aggregation, and
  * [[Autocorr.acf]] re-runs per trigger over the H·|types| cell
  * frame, volume-independent — the period-choice diagnosis stays
  * live as the feed accretes.
  */
class StreamingAutocorrSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  test("ACF over stream-maintained cells equals the batch operator") {
    implicit val sqlCtx = spark.sqlContext
    val rows = Tables.events(spark, sf)
      .select(col("event_type"), col("ts"))
      .collect().map(r => (r.getString(0), r.getTimestamp(1)))
    val (b1, b2) = rows.splitAt(rows.length / 2)

    val mem = MemoryStream[(String, Timestamp)]
    val q = StreamingChangepoint.cells(
      mem.toDF().toDF("event_type", "ts"))
      .writeStream.format("memory").queryName("acf_cells")
      .outputMode(OutputMode.Complete()).start()
    try {
      mem.addData(b1.toSeq)
      q.processAllAvailable()
      // a mid-stream ladder reads the same store (exercised, discarded)
      Autocorr.acf(spark.table("acf_cells")).count()
      mem.addData(b2.toSeq)
      q.processAllAvailable()
    } finally q.stop()

    val a = Autocorr.acf(spark.table("acf_cells"))
      .orderBy("event_type", "lag").collect().map(_.toSeq)
    val b = Autocorr.autocorr(rows.toSeq.toDF("event_type", "ts"))
      .orderBy("event_type", "lag").collect().map(_.toSeq)
    assert(a.nonEmpty && a.toSeq == b.toSeq,
      "streamed ACF ladder diverges from batch")
  }
}
