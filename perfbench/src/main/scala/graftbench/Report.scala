package graftbench

import graftbench.Tracer.SpanRow
import java.io.{File, PrintWriter}

/** The per-layer metrics a traced run prints. Every workload prints the
  * same names; a layer the workload does not reach reads 0.
  */
object Layers {

  /** Spans of iteration 0 (summed when a span repeats) and their
    * metric, with unit.
    */
  private val IterSpans: Seq[(String, Seq[(String, String)])] = Seq(
    "crawl.bfs" -> Seq("wall_s" -> "s", "jobs" -> "count", "driver_gap_s" -> "s"),
    "runner.run" -> Seq("wall_s" -> "s", "jobs" -> "count", "tasks" -> "count",
      "driver_gap_s" -> "s", "shuffle_bytes" -> "bytes"),
    "store.read" -> Seq("wall_s" -> "s"),
    "curator.init" -> Seq("wall_s" -> "s", "jobs" -> "count", "driver_gap_s" -> "s",
      "shuffle_bytes" -> "bytes"),
    "curator.ingest" -> Seq("wall_s" -> "s", "jobs" -> "count", "driver_gap_s" -> "s",
      "shuffle_bytes" -> "bytes"),
    "curator.curated" -> Seq("wall_s" -> "s", "jobs" -> "count"),
    "index.build" -> Seq("wall_s" -> "s", "jobs" -> "count", "driver_gap_s" -> "s",
      "output_files" -> "count"),
    "index.open" -> Seq("wall_s" -> "s", "jobs" -> "count"),
    "index.search" -> Seq("wall_s" -> "s", "jobs" -> "count"))

  /** Standalone spans (one call after the loop) and their metric. */
  private val StandaloneSpans: Seq[(String, Seq[(String, String)])] = Seq(
    "store.init" -> Seq("wall_s" -> "s", "jobs" -> "count", "output_files" -> "count"),
    "etl.delta" -> Seq("wall_s" -> "s", "shuffle_bytes" -> "bytes"),
    "etl.chunk" -> Seq("wall_s" -> "s"),
    "store.upsert" -> Seq("wall_s" -> "s", "jobs" -> "count"),
    "dedup.signatures" -> Seq("wall_s" -> "s"),
    "sigstore.pairs" -> Seq("wall_s" -> "s", "shuffle_bytes" -> "bytes", "jobs" -> "count"),
    "sigstore.append" -> Seq("wall_s" -> "s", "jobs" -> "count"),
    "components.merge" -> Seq("wall_s" -> "s", "jobs" -> "count", "driver_gap_s" -> "s"),
    "kmeans.fit" -> Seq("wall_s" -> "s", "jobs" -> "count", "driver_gap_s" -> "s"),
    "pq.fit" -> Seq("wall_s" -> "s", "jobs" -> "count", "driver_gap_s" -> "s"))

  /** Spans that the standalone calls break down, with the standalone
    * spans that make them up.
    */
  val Parts: Seq[(String, Seq[String])] = Seq(
    "runner.run" -> Seq("etl.delta", "etl.chunk", "store.upsert"),
    "index.build" -> Seq("kmeans.fit", "pq.fit"))

  def field(r: SpanRow, f: String): Double = f match {
    case "wall_s" => r.wall_s
    case "jobs" => r.jobs.toDouble
    case "tasks" => r.tasks.toDouble
    case "driver_gap_s" => r.driver_gap_s
    case "shuffle_bytes" => r.shuffle_write_bytes.toDouble
    case "output_files" => r.output_files.toDouble
    case c => r.counters.getOrElse(c, 0.0)
  }

  /** Per-layer figures from iteration 0 (traced, under the same
    * conditions as an untraced run's iteration) and from the standalone
    * calls. Tracing overhead shows two ways: `trace.iter_s` against the
    * untraced runs' `iter_s`, and in-process as the warm traced minus
    * the warm untraced iteration (which still carries some warm-up).
    */
  def summary(rows: Seq[SpanRow], iters: Seq[Main.IterRec]): Seq[(String, Double, String)] = {
    val first = iters.headOption
    val inIter = rows.filter(r => r.label.isEmpty && r.iteration == 0)
    val standalone = rows.filter(_.label == "standalone")
    def inIteration(name: String, f: SpanRow => Double): Double =
      inIter.filter(_.name == name).map(f).sum
    def alone(name: String, f: SpanRow => Double): Double =
      standalone.find(_.name == name).map(f).getOrElse(0.0)
    def extra(key: String): Double = first.flatMap(_.it.extra.get(key)).getOrElse(0.0)
    def perUnit(name: String, counter: String, scale: Double): Double =
      standalone.find(_.name == name).filter(_.counters.getOrElse(counter, 0.0) > 0)
        .map(r => r.wall_s * scale / r.counters(counter)).getOrElse(0.0)

    val spanMetrics =
      IterSpans.flatMap { case (n, fs) =>
        fs.map { case (f, u) => (s"$n.$f", inIteration(n, field(_, f)), u) } } ++
      StandaloneSpans.flatMap { case (n, fs) =>
        fs.map { case (f, u) => (s"$n.$f", alone(n, field(_, f)), u) } }
    val single = inIter.filter(_.name == "index.search.single")
    val queries = inIteration("index.search", field(_, "queries"))
    val coverage = Parts.map { case (parent, parts) =>
      val w = inIteration(parent, _.wall_s)
      (s"$parent.standalone_share",
        if (w > 0) parts.map(alone(_, _.wall_s)).sum / w else 0.0, "share")
    }
    val overhead = iters.drop(1).take(2) match {
      case Seq(plain, traced) => traced.it.wallS - plain.it.wallS
      case _ => 0.0
    }
    val unattributed = first.map(f => f.it.wallS - inIter.filter(_.parent == -1)
      .map(_.wall_s).sum).getOrElse(0.0)
    spanMetrics ++ coverage ++ Seq(
      ("crawl.bfs.rounds", extra("crawl.bfs.rounds"), "count"),
      ("runner.run.processed", inIteration("runner.run", field(_, "processed")), "count"),
      ("runner.run.skipped", inIteration("runner.run", field(_, "skipped")), "count"),
      ("runner.run.failed", inIteration("runner.run", field(_, "failed")), "count"),
      ("runner.run.vectorized", inIteration("runner.run", field(_, "vectorized")), "count"),
      ("store.upsert.partitions_rewritten_per_source",
        inIteration("runner.run", field(_, "partitions_rewritten_per_source")), "share"),
      ("store.upsert.output_files", inIteration("runner.run", field(_, "output_files")), "count"),
      ("store.read.list_s", alone("store.read", field(_, "list_s")), "s"),
      ("store.read.scan_s", alone("store.read", field(_, "scan_s")), "s"),
      ("store.read.files", alone("store.read", field(_, "files")), "count"),
      ("etl.delta.delta_share", alone("etl.delta", field(_, "delta_share")), "share"),
      ("etl.chunk.ns_per_chunk", perUnit("etl.chunk", "chunks", 1e9), "ns"),
      ("dedup.signatures.ns_per_doc", perUnit("dedup.signatures", "docs", 1e9), "ns"),
      ("sigstore.pairs.pairs", alone("sigstore.pairs", field(_, "pairs")), "count"),
      ("index.search.jobs_per_call",
        if (single.isEmpty) 0.0 else Stats.median(single.map(_.jobs.toDouble)), "count"),
      ("index.search.rows_scanned_per_query",
        if (queries > 0) inIteration("index.search", _.input_records.toDouble) / queries
        else 0.0, "count"),
      ("index.search.single_ms_p50", extra("index.search.single_ms_p50"), "ms"),
      ("index.search.qps",
        if (queries > 0) queries / inIteration("index.search", _.wall_s) else 0.0, "1/s"),
      ("kernel.vecdot.ns_per_row", perUnit("kernel.vecdot", "rows", 1e9), "ns"),
      ("kernel.nearest_centroids.ns_per_row",
        perUnit("kernel.nearest_centroids", "rows", 1e9), "ns"),
      ("kernel.minhash.ns_per_row", perUnit("kernel.minhash", "rows", 1e9), "ns"),
      ("jvm.gc_s", first.map(_.gcS).getOrElse(0.0), "s"),
      ("jvm.heap_live_mb", first.map(_.heapMb).getOrElse(0.0), "MB"),
      ("trace.iter_s", first.map(_.it.wallS).getOrElse(0.0), "s"),
      ("trace.overhead_s", overhead, "s"),
      ("trace.unattributed_s", unattributed, "s"))
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null"
    else if (x == math.rint(x) && math.abs(x) < 1e15) x.toLong.toString
    else x.toString

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")

  def arr(xs: Seq[String]): String = xs.mkString("[", ", ", "]")

  def metrics(ms: Seq[(String, Double, String)]): String =
    obj(ms.map { case (n, v, u) => n -> obj(Seq("value" -> num(v), "unit" -> str(u))) })

  def result(correct: Boolean, attempted: Int, failed: Int,
    ms: Seq[(String, Double, String)]): String =
    obj(Seq("correct" -> correct.toString, "attempted" -> attempted.toString,
      "failed" -> failed.toString, "metrics" -> metrics(ms)))
}

/** The traced run's side file: every span with its counters, the
  * per-layer summary, the end-to-end figures of the same run, and the
  * per-iteration remainder no top-level span covers.
  */
object SideFile {
  def write(a: Main.Args, rows: Seq[SpanRow], layer: Seq[(String, Double, String)],
    endToEnd: Seq[(String, Double, String)], attempted: Int, failed: Int): Unit = {
    def span(r: SpanRow): String = Json.obj(Seq(
      "id" -> r.id.toString, "name" -> Json.str(r.name), "label" -> Json.str(r.label),
      "parent" -> r.parent.toString, "iteration" -> r.iteration.toString,
      "start_s" -> Json.num(r.start_s), "wall_s" -> Json.num(r.wall_s),
      "self_s" -> Json.num(r.self_s), "jobs" -> r.jobs.toString,
      "stages" -> r.stages.toString, "tasks" -> r.tasks.toString,
      "busy_s" -> Json.num(r.busy_s), "driver_gap_s" -> Json.num(r.driver_gap_s),
      "shuffle_read_bytes" -> r.shuffle_read_bytes.toString,
      "shuffle_write_bytes" -> r.shuffle_write_bytes.toString,
      "spill_bytes" -> r.spill_bytes.toString, "output_bytes" -> r.output_bytes.toString,
      "output_files" -> r.output_files.toString,
      "input_records" -> r.input_records.toString, "input_bytes" -> r.input_bytes.toString,
      "counters" -> Json.obj(r.counters.toSeq.map { case (k, v) => k -> Json.num(v) })))
    val text = Json.obj(Seq(
      "workload" -> Json.str(a.workload), "seed" -> a.seed.toString,
      "seconds" -> a.seconds.toString, "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "failed_share" -> Json.num(failed.toDouble / math.max(1, attempted)),
      "end_to_end_untraced_iterations" -> Json.metrics(endToEnd),
      "per_layer" -> Json.metrics(layer),
      "spans" -> Json.arr(rows.map(span))))
    val f = new File(a.traceOut)
    Option(f.getParentFile).foreach(_.mkdirs())
    val w = new PrintWriter(f, "UTF-8")
    try w.println(text) finally w.close()
    System.err.println(s"[graftbench] trace written to ${a.traceOut}")
  }
}
