package lcsbench

import scala.collection.mutable

/** The per-layer metrics of the traced run: every name listed in
  * BENCHMARK.json `per_layer`, reported on every workload (0 where the
  * workload does not call that layer). Each value is a mean per traced
  * op of the op kind that issues the layer call, over the traced run's
  * attribution window. */
object Layers {

  /** What the traced ops of one kind added up to. */
  final class KindTotals {
    var ops = 0
    var wallMs = 0.0
    var coveredMs = 0.0  // by jobs
    var topSpanMs = 0.0  // by outermost layer spans
    val spark = new Trace.TaskAgg
    val spanWall = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
    val spanAgg = mutable.HashMap.empty[String, Trace.TaskAgg]
    val counters = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
    def span(name: String): Trace.TaskAgg = spanAgg.getOrElse(name, new Trace.TaskAgg)
    def per(x: Double): Double = if (ops == 0) 0.0 else x / ops
  }

  final case class Metric(name: String, unit: String, value: Double)

  private val sparkMetrics: Seq[(String, String, Trace.TaskAgg => Double)] = Seq(
    ("jobs", "count", _.jobs.toDouble),
    ("stages", "count", _.stages.toDouble),
    ("tasks", "count", _.tasks.toDouble),
    ("failed_tasks", "count", _.failedTasks.toDouble),
    ("exec_run_ms", "ms", _.runMs),
    ("exec_cpu_ms", "ms", _.cpuMs),
    ("sched_delay_ms", "ms", _.schedMs),
    ("gc_ms", "ms", _.gcMs),
    ("input_bytes", "B", _.inBytes),
    ("input_records", "count", _.inRecords),
    ("shuffle_read_bytes", "B", _.shReadBytes),
    ("shuffle_write_bytes", "B", _.shWriteBytes),
    ("spill_bytes", "B", _.spillBytes))

  /** Sum the traced ops of `trace` per kind. Call after [[Trace.drain]]. */
  def totals(trace: Trace, window: Trace#OpRec => Boolean): Map[String, KindTotals] = {
    val byKind = Op.Kinds.map(_ -> new KindTotals).toMap
    trace.ops.filter(r => r.traced && window(r)).foreach { r =>
      val k = byKind(r.kind)
      k.ops += 1
      k.wallMs += r.wallMs
      k.coveredMs += trace.listener.jobCoveredMs(r.index, r.startMs, r.endMs)
      r.spans.foreach(s => k.spanWall(s.name) += s.ms)
      k.topSpanMs += r.topSpanMs
      trace.listener.forOp(r.index).foreach { case (span, a) =>
        k.spark.add(a)
        k.spanAgg.getOrElseUpdate(span, new Trace.TaskAgg).add(a)
      }
      r.counters.foreach { case (n, v) => k.counters(n) += v }
    }
    byKind
  }

  /** Every per-layer metric, in BENCHMARK.json order. `overheadMs` is
    * traced-minus-untraced median op wall per kind. */
  def metrics(t: Map[String, KindTotals], cores: Int, codegenFallbacks: Long,
      overheadMs: Map[String, Double]): Seq[Metric] = {
    val (w, r, m) = (t(Op.Write), t(Op.Read), t(Op.Maint))
    def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b
    val sparkPart = (for {
      (label, unit, f) <- sparkMetrics
      kind <- Op.Kinds
    } yield Metric(s"spark.$label.$kind", unit, t(kind).per(f(t(kind).spark)))) ++
      Op.Kinds.flatMap { kind =>
        val k = t(kind)
        Seq(Metric(s"spark.driver_gap_ms.$kind", "ms", k.per(k.wallMs - k.coveredMs)),
          Metric(s"spark.core_util.$kind", "ratio", ratio(k.spark.runMs, k.wallMs * cores)))
      }
    def ms(k: KindTotals, span: String) = k.per(k.spanWall(span))
    def jobs(k: KindTotals, span: String) = k.per(k.span(span).jobs.toDouble)
    def ctr(k: KindTotals, name: String) = k.per(k.counters(name))
    val zorderOut = Seq(w, m).map(k => k.spanAgg.collect {
      case (s, a) if s.startsWith("zorder.") => a.outBytes }.sum).sum
    val sampleJobs = Seq(w, m).map(k => k.spanAgg.collect {
      case (s, a) if s.startsWith("zorder.") => a.sampleJobs.toDouble }.sum).sum
    sparkPart ++ Seq(
      Metric("pipeline.run_ms", "ms", ms(w, "pipeline.run")),
      Metric("pipeline.overhead_ms", "ms", ctr(w, "pipeline.overhead_ms")),
      Metric("pipeline.tasks_run", "count", ctr(w, "pipeline.tasks_run")),
      Metric("pipeline.tasks_skipped", "count", ctr(w, "pipeline.tasks_skipped")),
      Metric("pipeline.tasks_failed", "count", ctr(w, "pipeline.tasks_failed")),
      Metric("sources.extract_ms", "ms", ms(w, "sources.extract")),
      Metric("sources.extract_pages", "count", ctr(w, "sources.extract_pages")),
      Metric("sources.extract_bytes", "B", ctr(w, "sources.extract_bytes")),
      Metric("sources.extract_rows", "count", ctr(w, "sources.extract_rows")),
      Metric("zorder.append_ms", "ms", ms(w, "zorder.append")),
      Metric("zorder.append_jobs", "count", jobs(w, "zorder.append")),
      Metric("zorder.delete_ms", "ms", ms(w, "zorder.delete")),
      Metric("zorder.delete_jobs", "count", jobs(w, "zorder.delete")),
      Metric("zorder.fold_ms", "ms", ms(m, "zorder.fold")),
      Metric("zorder.fold_jobs", "count", jobs(m, "zorder.fold")),
      Metric("zorder.compact_ms", "ms", ms(m, "zorder.compact")),
      Metric("zorder.compact_jobs", "count", jobs(m, "zorder.compact")),
      Metric("zorder.vacuum_ms", "ms", ms(m, "zorder.vacuum")),
      Metric("zorder.read_ms", "ms", ms(r, "zorder.read")),
      Metric("zorder.read_jobs", "count", jobs(r, "zorder.read")),
      Metric("zorder.sample_jobs", "count", w.per(sampleJobs)),
      Metric("zorder.rows_decoded_per_row", "ratio",
        ratio(r.span("zorder.read").inRecords, r.counters("zorder.rows_returned"))),
      Metric("zorder.files_scanned_ratio", "ratio",
        ratio(r.counters("zorder.files_scanned"), r.counters("zorder.files_total"))),
      Metric("zorder.write_amp", "ratio", ratio(zorderOut, w.span("zorder.append").outBytes)),
      Metric("zorder.tail_files", "count", ctr(w, "zorder.tail_files")),
      Metric("zorder.dv_debt", "ratio", ctr(w, "zorder.dv_debt")),
      Metric("functions.codegen_fallbacks", "count", codegenFallbacks.toDouble),
      Metric("functions.score_ms", "ms", ms(w, "functions.score")),
      Metric("dedup.exact_ms", "ms", ms(w, "dedup.exact")),
      Metric("dedup.exact_jobs", "count", jobs(w, "dedup.exact")),
      Metric("dedup.near_ms", "ms", ms(w, "dedup.near")),
      Metric("dedup.near_jobs", "count", jobs(w, "dedup.near")),
      Metric("dedup.index_append_ms", "ms", ms(w, "dedup.index_append")),
      Metric("dedup.index_bytes", "B", ctr(w, "dedup.index_bytes")),
      Metric("ann.probe_ms", "ms", ms(r, "ann.probe")),
      Metric("ann.probe_jobs", "count", jobs(r, "ann.probe")),
      Metric("ann.probe_input_bytes", "B", r.per(r.span("ann.probe").inBytes)),
      Metric("ann.probe_rows_scored", "count", r.per(r.span("ann.probe").inRecords)),
      Metric("ann.append_ms", "ms", ms(w, "ann.append")),
      Metric("ann.append_jobs", "count", jobs(w, "ann.append")),
      Metric("ann.list_skew", "ratio", ctr(w, "ann.list_skew")),
      Metric("postings.probe_ms", "ms", ms(r, "postings.probe")),
      Metric("postings.probe_jobs", "count", jobs(r, "postings.probe")),
      Metric("postings.probe_input_bytes", "B", r.per(r.span("postings.probe").inBytes)),
      Metric("postings.append_ms", "ms", ms(w, "postings.append"))
    ) ++ Op.Kinds.map(kind =>
      Metric(s"trace.coverage.$kind", "ratio", ratio(t(kind).topSpanMs, t(kind).wallMs))
    ) ++ Op.Kinds.map(kind =>
      Metric(s"trace.overhead_ms.$kind", "ms", overheadMs.getOrElse(kind, 0.0)))
  }
}
