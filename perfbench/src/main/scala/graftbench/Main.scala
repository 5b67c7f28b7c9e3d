package graftbench

import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** The benchmark's main: one process, `local[k]` with k <= 4 cores and
  * k shuffle partitions, one closed-loop client (the next iteration
  * starts after the previous result is fully materialized and
  * collected for its reference check).
  *
  *   graftbench.Main --workload <name> --seed <n> --seconds <s>
  *     --trace <0|1> --work <dir> --trace-out <file>
  *
  * Prints one JSON line on stdout: the end-to-end metrics (trace 0) or
  * the per-layer metrics (trace 1). A traced run also writes every
  * span, with its Spark counters, to `--trace-out`.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int,
    trace: Boolean, work: String, traceOut: String)

  /** `--train <dir>` runs every benchmarked workload once, traced, and
    * prints nothing: the class-loading profile a JVM start-up archive is dumped
    * from (see run.py).
    */
  def parse(argv: Array[String]): Either[String, Args] = {
    val m = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    if (m.contains("--train"))
      return Right(Args("all", 1L, 1, trace = true, m("--train"), ""))
    for {
      w <- m.get("--workload").filter(Workloads.Names.contains)
        .toRight(s"--workload must be one of ${Workloads.Names.mkString(", ")}")
      seed <- m.get("--seed").flatMap(_.toLongOption).toRight("--seed <n> is required")
      secs <- m.get("--seconds").flatMap(_.toIntOption).filter(_ > 0)
        .toRight("--seconds <positive n> is required")
      trace <- m.get("--trace").orElse(Some("0")).filter(Set("0", "1"))
        .toRight("--trace takes 0 or 1")
      work <- m.get("--work").toRight("--work <dir> is required")
    } yield Args(w, seed, secs, trace == "1", work,
      m.getOrElse("--trace-out", s"$work/trace.json"))
  }

  /** Live heap: used heap after full collections. The second one runs
    * after Spark's cleaner released what the first one made
    * unreachable (blocks and broadcasts of dropped frames).
    */
  private def heapUsedMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  def main(argv: Array[String]): Unit = {
    val a = parse(argv) match {
      case Right(a) => a
      case Left(err) => System.err.println(err); sys.exit(2)
    }
    val t0 = System.nanoTime()
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graftbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    try if (a.workload == "all") train(a, spark) else run(a, spark, sessionS)
    finally spark.stop()
  }

  private def train(a: Args, spark: SparkSession): Unit =
    Workloads.Names.foreach { name =>
      val ctx = new Ctx(spark, a.seed)
      val w = Workloads(name, ctx).get
      val tracer = new Tracer(spark)
      ctx.tracer = Some(tracer)
      w.prepare(s"${a.work}/$name")
      w.iterate(0)
      tracer.report()
      tracer.close()
      spark.catalog.clearCache()
    }

  /** One measured iteration: its outcome, GC seconds during it, and
    * live heap after it.
    */
  final case class IterRec(it: Iter, gcS: Double, heapMb: Double)

  private def run(a: Args, spark: SparkSession, sessionS: Double): Unit = {
    val ctx = new Ctx(spark, a.seed)
    val w = Workloads(a.workload, ctx).get
    val (_, prepS) = ctx.timed(w.prepare(s"${a.work}/input"))
    val setupS = sessionS + prepS
    System.err.println(f"[graftbench] ${a.workload} seed ${a.seed}: session $sessionS%.2fs, " +
      f"prepare $prepS%.2fs")

    // The first iteration runs in a fresh JVM, as a daily or weekly
    // batch job does, so its time includes the JIT and code-generation
    // warm-up a real run pays. Later iterations (runs given more
    // seconds than one iteration takes) are warm. A traced run makes
    // three: iteration 0 traced (the per-layer figures, under the same
    // conditions as an untraced run's iteration), then one untraced and
    // one traced warm iteration whose difference is the tracing
    // overhead.
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    val iters = scala.collection.mutable.ArrayBuffer.empty[IterRec]
    val deadline = System.nanoTime() + a.seconds * 1000000000L
    def more = if (a.trace) iters.size < 3 else iters.isEmpty || System.nanoTime() < deadline
    while (more) {
      val i = iters.size
      ctx.tracer = if (i % 2 == 0) tracer else None
      tracer.foreach(_.iteration = i)
      val gc0 = gcSeconds()
      val it =
        try w.iterate(i)
        catch {
          case e: Exception =>
            val msg = s"iteration threw ${e.getClass.getSimpleName}: ${e.getMessage}"
            Iter(Double.NaN, Double.NaN, 0, Double.NaN, () => (Seq(msg), Double.NaN))
        }
      val gc = gcSeconds() - gc0
      val heap = heapUsedMb()
      spark.catalog.clearCache()
      iters += IterRec(it, gc, heap)
    }
    w.reference()
    ctx.tracer = tracer
    tracer.foreach(_.iteration = -2)
    tracer.foreach(_ => w.standalone())
    ctx.tracer = None

    val all = iters.toSeq
    val verified = all.map(_.it.verify())
    verified.zipWithIndex.filter(_._1._1.nonEmpty).foreach { case ((p, _), i) =>
      System.err.println(s"[graftbench] iteration $i failed: ${p.mkString("; ")}")
    }
    val failed = verified.count(_._1.nonEmpty)
    val ok = all.zip(verified).filter(_._2._1.isEmpty).map { case (r, v) => (r.it, v._2) }
    def p50(f: Iter => Double) = Stats.median(ok.map(x => f(x._1)))
    val endToEnd = Seq(
      ("setup_s", setupS, "s"),
      ("iter_s", p50(_.wallS), "s"),
      ("items_per_s", p50(x => x.workItems / x.workS), "1/s"),
      ("store_amp", p50(_.storeAmp), "ratio"),
      ("recall", Stats.median(ok.map(_._2)), "share"),
      ("peak_heap_mb", if (ok.isEmpty) Double.NaN else all.map(_.heapMb).max, "MB"))
    val metrics = tracer match {
      case None => endToEnd
      case Some(t) =>
        val rows = t.report()
        t.close()
        val layer = Layers.summary(rows, all)
        SideFile.write(a, rows, layer, endToEnd, all.size, failed)
        layer
    }
    println(Json.result(failed == 0, all.size, failed, metrics))
  }
}
