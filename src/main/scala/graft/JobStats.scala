package graft
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Structural-cost probe for the optimization rounds: runs named
  * queries and reports DETERMINISTIC cost counters — Spark jobs,
  * stages, tasks, shuffle bytes read/written — instead of seconds.
  * Wall-clock on a shared sandbox carries ±20-40% noise on 1-2 s
  * queries (the r11 verdict's finding); job/stage/shuffle counts are
  * exact and are precisely what the optimization guide says dominates
  * at 100 TB (actions, passes, exchanges per query). Diagnostic
  * tooling like [[PlanDump]] — NOT part of the bench contract.
  *
  * Usage: runMain graft.JobStats <sfDir> <q1,q2,...>
  */
object JobStats {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, names) = args
    val spark = GraftSession()
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new AtomicInteger; val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val shufR = new AtomicLong; val shufW = new AtomicLong
    val inB = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        { jobs.incrementAndGet(); () }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(e.stageInfo.numTasks)
        shufR.addAndGet(e.stageInfo.taskMetrics.shuffleReadMetrics.totalBytesRead)
        shufW.addAndGet(e.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
        inB.addAndGet(e.stageInfo.taskMetrics.inputMetrics.bytesRead)
        ()
      }
    })
    def waitListener(sp: SparkSession): Unit = {
      // listener delivery is async; give the bus a moment to drain
      // (private API waitUntilEmpty is inaccessible — polling counters
      // stable for 200 ms is enough for a diagnostic)
      var prev = (-1, -1L)
      var cur = (jobs.get, shufR.get + shufW.get + inB.get + tasks.get)
      while (prev != cur) {
        prev = cur; Thread.sleep(200)
        cur = (jobs.get, shufR.get + shufW.get + inB.get + tasks.get)
      }
    }
    names.split(',').map(_.trim).filter(_.nonEmpty).foreach { n =>
      // one untimed warm pass at the smallest SF so codegen/broadcast
      // infra jobs don't pollute the counted run
      val warmDir = {
        val small = new java.io.File("/root/testdata/sf0.001")
        if (small.isDirectory) small.getPath else sfDir
      }
      try SparkEntry.queries(n)(spark, warmDir).count()
      catch { case scala.util.control.NonFatal(_) => () }
      spark.catalog.clearCache()
      // settle listener events from the warm pass before zeroing
      waitListener(spark)
      jobs.set(0); stages.set(0); tasks.set(0)
      shufR.set(0); shufW.set(0); inB.set(0)
      val t0 = System.nanoTime()
      SparkEntry.queries(n)(spark, sfDir).count()
      val sec = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      waitListener(spark)
      println(f"""[jobstats] {"q":"$n","jobs":${jobs.get},"stages":${stages.get},"tasks":${tasks.get},"shuffle_read_mb":${shufR.get / 1e6}%.1f,"shuffle_write_mb":${shufW.get / 1e6}%.1f,"input_mb":${inB.get / 1e6}%.1f,"sec":$sec%.2f}""")
    }
    spark.stop()
  }
}
