package graft

import graft.operators.Skew
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SkewReportSpec extends AnyFunSuite {
  import SparkTestSession._

  test("report surfaces the planted hot key with the right stats and salt") {
    import spark.implicits._
    // 1 hot key with 90 rows + 30 cold keys with 1 row each
    val rows = Seq.fill(90)(7L) ++ (100L until 130L)
    val df = rows.toDF("k").select(col("k").as("user_id"))
    val got = Skew.report(df, "user_id").orderBy("rank").collect()
    assert(got.length == Skew.ReportTopK)
    val top = got.head
    assert(top.getAs[Long]("key") == 7L && top.getAs[Long]("c") == 90L)
    // n_keys=31, n_rows=120, max=90; mean=120/31, skew=90*31/120,
    // salt=ceil(90*31/120)=ceil(23.25)=24
    assert(top.getAs[Long]("n_keys") == 31L)
    assert(top.getAs[Long]("n_rows") == 120L)
    assert(top.getAs[Long]("max_c") == 90L)
    assert(top.getAs[Long]("mean_micro") == 1000000L * 120 / 31)
    assert(top.getAs[Long]("skew_micro") == 1000000L * 90 * 31 / 120)
    assert(top.getAs[Long]("rec_salt") == 24L)
    // cold keys rank behind, in key order, all stats riding each row
    assert(got.tail.map(_.getAs[Long]("key")).toSeq == (100L until 109L))
    assert(got.forall(_.getAs[Long]("rec_salt") == 24L))
  }

  test("uniform keys recommend salt 1 (no salting needed)") {
    import spark.implicits._
    val df = (0L until 40L).flatMap(k => Seq(k, k)).toDF("user_id")
    val got = Skew.report(df, "user_id").collect()
    assert(got.head.getAs[Long]("rec_salt") == 1L)
    assert(got.head.getAs[Long]("skew_micro") == 1000000L)
  }

  test("top-k is a partial top-k, not a global sort") {
    import spark.implicits._
    val df = (0L until 1000L).toDF("user_id")
    val plan = Skew.report(df, "user_id").queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }
}
