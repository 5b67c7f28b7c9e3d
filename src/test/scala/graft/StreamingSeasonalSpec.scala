package graft

import java.sql.Timestamp
import graft.operators.Seasonal
import graft.streaming.StreamingChangepoint
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

/** The seasonal screen on a stream shares the changepoint monitor's
  * ONE maintained state store (per-(type, hour) cells — the Ks/Psi
  * two-detectors-one-store precedent, now three): maintenance is the
  * standard incremental aggregation, and [[Seasonal.detect]] re-runs
  * per trigger over the H·|types| cell frame, volume-independent.
  */
class StreamingSeasonalSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  test("seasonal screen over stream-maintained cells equals the batch operator") {
    implicit val sqlCtx = spark.sqlContext
    val rows = Tables.events(spark, sf)
      .select(col("event_type"), col("ts"))
      .collect().map(r => (r.getString(0), r.getTimestamp(1)))
    val (b1, b2) = rows.splitAt(rows.length / 2)

    val mem = MemoryStream[(String, Timestamp)]
    val q = StreamingChangepoint.cells(
      mem.toDF().toDF("event_type", "ts"))
      .writeStream.format("memory").queryName("seas_cells")
      .outputMode(OutputMode.Complete()).start()
    try {
      mem.addData(b1.toSeq)
      q.processAllAvailable()
      // mid-stream verdicts come off the same store (just exercised,
      // output discarded — only the final comparison is asserted)
      Seasonal.detect(spark.table("seas_cells")).count()
      mem.addData(b2.toSeq)
      q.processAllAvailable()
    } finally q.stop()

    val a = Seasonal.detect(spark.table("seas_cells"))
      .orderBy("event_type", "hour").collect().map(_.toSeq)
    val b = Seasonal.seasonal(rows.toSeq.toDF("event_type", "ts"))
      .orderBy("event_type", "hour").collect().map(_.toSeq)
    assert(a.nonEmpty && a.toSeq == b.toSeq,
      "streamed seasonal verdicts diverge from batch")
  }
}
