package graft

import graft.operators.{Autocorr, Backtest, Changepoint, Iterate, Seasonal}
import org.apache.spark.JobCounter
import org.apache.spark.sql.functions.{col, min}
import org.scalatest.funsuite.AnyFunSuite

/** Pins the Spark jobs the dense-grid time-series operators spend
  * before their result frame is read: the hour span rides the cells'
  * materialization job ([[Changepoint.cellSpan]]) instead of costing a
  * second `agg(min, max)` job. That separate span query cost each
  * call two jobs (its aggregate's shuffle stage plus the result): the
  * counts were 7, 3 and 3 before it rode the materialization.
  */
class CellSpanJobsSpec extends AnyFunSuite {
  import SparkTestSession._

  private lazy val cells =
    Iterate.materialize(Changepoint.cells(Tables.events(spark, sf)))

  private def jobs(body: => Any): Int = JobCounter(spark.sparkContext)(body)._2

  test("backtest, acf and seasonal detect: jobs per call") {
    val c = cells
    val got = Seq(jobs(Backtest.backtestFromCells(c)), jobs(Autocorr.acf(c)),
      jobs(Seasonal.detect(c)))
    assert(got == Seq(5, 1, 1))
  }

  test("empty cells: each operator returns an empty frame") {
    val none = cells.filter(col("y") < 0L)
    assert(Backtest.backtestFromCells(none).isEmpty)
    assert(Autocorr.acf(none).isEmpty)
    assert(Seasonal.detect(none).isEmpty)
  }

  test("cells of events filtered to nothing at run time: empty frames") {
    // the filter is data-dependent, so the plan keeps the cells'
    // shuffle: its stage runs and comes up empty, and AQE may drop the
    // stage holding the span's observed node
    val ev = Tables.events(spark, sf)
    val none = Changepoint.cells(ev.filter(col("ts") < ev.agg(min(col("ts"))).head().get(0)))
    assert(Backtest.backtestFromCells(none).isEmpty)
    assert(Autocorr.acf(none).isEmpty)
    assert(Seasonal.detect(none).isEmpty)
  }
}
