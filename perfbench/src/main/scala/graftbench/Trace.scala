package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Spans around the benchmark's calls into graft, with Spark counters
  * per span. A span's jobs are the ones submitted while it was the
  * innermost open span: its id rides the jobs as a local property,
  * which Spark copies to the threads a call starts (broadcasts, AQE
  * stages, `Concurrently` pools). Counters of a span include its
  * descendants'.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  private val origin = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  @volatile var iteration: Int = -1

  // listener-thread state, guarded by `lock`
  private val lock = new Object
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val jobsBySpan = mutable.HashMap.empty[Int, Int].withDefaultValue(0)
  private val execSpan = mutable.HashMap.empty[Long, Int]
  private val stages = mutable.ArrayBuffer.empty[StageRec]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val id = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .map(_.toInt).getOrElse(-1)
      jobsBySpan(id) += 1
      e.stageInfos.foreach(s => stageSpan.getOrElseUpdate(s.stageId, id))
      Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(x => execSpan.getOrElseUpdate(x.toLong, id))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      lock.synchronized {
        val i = e.stageInfo
        val m = i.taskMetrics
        stages += StageRec(stageSpan.getOrElse(i.stageId, -1),
          i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
          i.numTasks, m.executorRunTime,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.diskBytesSpilled + m.memoryBytesSpilled, m.outputMetrics.bytesWritten,
          m.inputMetrics.recordsRead, m.inputMetrics.bytesRead)
      }
  }
  sc.addSparkListener(listener)

  def close(): Unit = sc.removeSparkListener(listener)

  /** Run `body` inside a span named `name`. `label` marks spans that are
    * not part of an iteration's own call chain (`standalone` calls).
    */
  def span[T](name: String, label: String = "")(body: => T): T = {
    val s = new Span(spans.length, name, label, stack.headOption.map(_.id).getOrElse(-1),
      iteration)
    spans += s
    val prev = sc.getLocalProperty(SpanKey)
    stack = s :: stack
    sc.setLocalProperty(SpanKey, s.id.toString)
    s.startMs = System.currentTimeMillis(); s.startNs = System.nanoTime()
    try body
    finally {
      s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
      stack = stack.tail
      sc.setLocalProperty(SpanKey, prev)
    }
  }

  /** Attach a domain counter to the innermost open span. */
  def count(key: String, value: Double): Unit =
    stack.headOption.foreach(_.counters(key) = value)

  /** Attach a counter to the latest span named `name`, after it closed
    * (for counters read off disk once the clock stopped).
    */
  def countOn(name: String, key: String, value: Double): Unit =
    spans.reverseIterator.find(_.name == name).foreach(_.counters(key) = value)

  /** Final per-span rows, computed after the listener bus drained. */
  def report(): Seq[SpanRow] = {
    org.apache.spark.graftbench.BusDrain(sc)
    val children = spans.toSeq.groupBy(_.parent)
    def subtree(s: Span): Seq[Span] = s +: children.getOrElse(s.id, Nil).flatMap(subtree)
    val files = writtenFiles()
    lock.synchronized {
      val stagesBySpan = stages.groupBy(_.span)
      spans.toSeq.map { s =>
        val ids = subtree(s).map(_.id).toSet
        val st = ids.toSeq.flatMap(stagesBySpan.getOrElse(_, Nil))
        val wall = (s.endNs - s.startNs) / 1e9
        val childCover = union(children.getOrElse(s.id, Nil)
          .map(c => (c.startNs, c.endNs))) / 1e9
        val stageCover = union(st.map(x => (math.max(x.submit, s.startMs),
          math.min(x.complete, s.endMs)))) / 1e3
        SpanRow(s.id, s.name, s.label, s.parent, s.iteration,
          (s.startNs - origin) / 1e9, wall, wall - childCover,
          ids.toSeq.map(jobsBySpan).sum, st.size, st.map(_.tasks).sum,
          st.map(_.busyMs).sum / 1e3, math.max(0.0, wall - stageCover),
          st.map(_.shuffleRead).sum, st.map(_.shuffleWrite).sum,
          st.map(_.spill).sum, st.map(_.output).sum,
          ids.toSeq.map(files.getOrElse(_, 0L)).sum,
          st.map(_.inputRecords).sum, st.map(_.inputBytes).sum,
          s.counters.toMap)
      }
    }
  }

  /** Files written per span, from the SQL executions' write metrics. */
  private def writtenFiles(): Map[Int, Long] = {
    val store = spark.sharedState.statusStore
    val bySpan = lock.synchronized(execSpan.toSeq)
    bySpan.groupBy(_._2).map { case (span, execs) =>
      span -> execs.map { case (ex, _) =>
        store.execution(ex).map { ui =>
          val ids = ui.metrics.filter(_.name == "number of written files")
            .map(_.accumulatorId).toSet
          store.executionMetrics(ex).collect {
            case (k, v) if ids(k) => v.trim.replace(",", "").toLongOption.getOrElse(0L)
          }.sum
        }.getOrElse(0L)
      }.sum
    }
  }
}

object Tracer {
  val SpanKey = "graftbench.span"

  final class Span(val id: Int, val name: String, val label: String,
    val parent: Int, val iteration: Int) {
    var startNs, endNs, startMs, endMs = 0L
    val counters = mutable.LinkedHashMap.empty[String, Double]
  }

  final case class StageRec(span: Int, submit: Long, complete: Long, tasks: Int,
    busyMs: Long, shuffleRead: Long, shuffleWrite: Long, spill: Long,
    output: Long, inputRecords: Long, inputBytes: Long)

  final case class SpanRow(id: Int, name: String, label: String, parent: Int,
    iteration: Int, start_s: Double, wall_s: Double, self_s: Double,
    jobs: Long, stages: Long, tasks: Long, busy_s: Double, driver_gap_s: Double,
    shuffle_read_bytes: Long, shuffle_write_bytes: Long, spill_bytes: Long,
    output_bytes: Long, output_files: Long, input_records: Long,
    input_bytes: Long, counters: Map[String, Double])

  /** Total length covered by a set of intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total, curS, curE = 0L
    var open = false
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (!open || a > curE) {
        if (open) total += curE - curS
        curS = a; curE = b; open = true
      } else curE = math.max(curE, b)
    }
    if (open) total += curE - curS
    total
  }
}
