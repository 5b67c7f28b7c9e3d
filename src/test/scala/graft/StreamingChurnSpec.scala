package graft

import java.sql.Timestamp
import graft.operators.Churn
import graft.streaming.StreamingChurn
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class StreamingChurnSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  test("ladder over stream-maintained spans equals the batch operator, replay-proof") {
    implicit val sqlCtx = spark.sqlContext
    val rows = Tables.events(spark, sf)
      .select(col("user_id"), col("ts"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1)))
    val (b1, b2) = rows.splitAt(rows.length / 2)

    val mem = MemoryStream[(Long, Timestamp)]
    val q = StreamingChurn.spans(mem.toDF().toDF("user_id", "ts"))
      .writeStream.format("memory").queryName("churn_spans")
      .outputMode("update").start()
    mem.addData(b1.toSeq)
    q.processAllAvailable()
    // batch 2 includes a REPLAY of half of batch 1: min/max state is
    // idempotent, so the spans must come out identical anyway
    mem.addData((b2 ++ b1.take(b1.length / 2)).toSeq)
    q.processAllAvailable()

    // latest emission per user wins (update mode re-emits touched users)
    val spans = spark.sql(
      """SELECT user_id, first_us, last_us FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id
        |    ORDER BY last_us DESC, first_us ASC) AS rn FROM churn_spans)
        |WHERE rn = 1""".stripMargin)
      .as[StreamingChurn.Span].collect().toSeq
    q.stop()

    val streamed = StreamingChurn.ladderOf(spark, spans).orderBy("k").collect().toSeq
    val batch = Churn.churn(Tables.events(spark, sf)
      .select(col("user_id"), col("ts"))).orderBy("k").collect().toSeq
    assert(streamed == batch,
      s"stream ladder must equal batch: ${streamed.take(3)} vs ${batch.take(3)}")
  }
}
