package lcsbench

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Turns a finished run into its diagnostics and its result line. */
object Bench {

  /** end_to_end metric name -> bound, from BENCHMARK.json. */
  def bounds(path: String): Map[String, Double] = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File(path))
    root.get("end_to_end").elements().asScala
      .map(m => m.get("name").asText() -> m.get("bound").asDouble()).toMap
  }

  /** Peak resident set of this JVM, in MB (Linux `VmHWM`). */
  def peakRssMb(): Double =
    scala.util.Using.resource(scala.io.Source.fromFile("/proc/self/status"))(
      _.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0))

  /** The bound the trend diagnostic holds each op kind's timing to. */
  private def trendBound(kind: String, bounds: Map[String, Double]): Double = kind match {
    case Op.Read => bounds("read_p50_ms")
    case _ => bounds("write_items_per_s")
  }

  def result(a: Main.Args, trace: Trace, wl: Workload, samples: Seq[Runner.Sample],
      setupS: Seq[Double], spaceAmp: Double, loopS: Double,
      attempted: Long, failed: Long, bounds: Map[String, Double]): String = {
    val walls = Op.Kinds.map(k => k -> samples.filter(_.kind == k).map(_.wallMs)).toMap
    val items = samples.filter(_.kind == wl.primaryKind).map(_.items).sum
    val writes = samples.filter(_.kind == Op.Write)
    println(f"diag warmup_ops=${wl.warmupOps} timed_ops=${samples.length} " +
      f"timed_s=$loopS%.3f items=$items")
    Op.Kinds.filter(walls(_).nonEmpty).foreach { k =>
      val xs = walls(k)
      val tailText = Stats.tailPercentile(xs.length)
        .map(p => f"p${p.toInt} (${Stats.beyond(xs.length, p)} beyond)")
        .getOrElse("none (fewer than 20 samples)")
      val reported = if (k != Op.Read) "" else wl.readTail match {
        case Some(p) =>
          val n = Stats.beyond(xs.length, p)
          f" reported_tail=p${p.toInt} ($n beyond${if (n < 10) ", TOO FEW" else ""})"
        case None => " reported_tail=mean (totals-based)"
      }
      val trendText = Stats.trend(xs).map { case (h1, h2, gap) =>
        val bound = trendBound(k, bounds)
        f"first_half_median=$h1%.2f second_half_median=$h2%.2f gap=${gap * 100}%.1f%% " +
          f"bound=${bound * 100}%.0f%% " + (if (gap > bound) "FLAGGED" else "ok")
      }.getOrElse("trend n/a")
      println(f"diag op=$k samples=${xs.length} median_ms=${Stats.median(xs)}%.2f " +
        s"rule_tail=$tailText$reported $trendText")
    }
    val metrics: Seq[(String, String, Double)] =
      if (a.trace) {
        trace.drain()
        val window = samples.zipWithIndex.collect { case (s, i) if s.inWindow => i }.toSet
        val firstTimed = trace.ops.length - samples.length
        val totals = Layers.totals(trace, r => window(r.index - firstTimed))
        val overhead = Op.Kinds.map { k =>
          val (on, off) = samples.filter(s => s.kind == k && s.inWindow).partition(_.traced)
          k -> (if (on.isEmpty || off.isEmpty) 0.0
            else Stats.median(on.map(_.wallMs)) - Stats.median(off.map(_.wallMs)))
        }.toMap
        Layers.metrics(totals, a.cores, CodegenFallbacks.count, overhead)
          .map(m => (m.name, m.unit, m.value))
      } else {
        val reads = walls(Op.Read)
        Seq(
          ("setup_s", "s", Stats.median(setupS)),
          ("read_p50_ms", "ms", Stats.median(reads)),
          ("read_tail_ms", "ms", wl.readTail.fold(reads.sum / reads.length)(
            Stats.percentile(reads, _))),
          ("write_items_per_s", "1/s", writes.map(_.items).sum / (writes.map(_.wallMs).sum / 1e3)),
          ("items_per_s", "1/s", items / loopS),
          ("success_rate", "ratio", (attempted - failed).toDouble / attempted),
          ("recall", "ratio", wl.recall),
          ("space_amp", "ratio", spaceAmp),
          ("peak_rss_mb", "MB", peakRssMb()))
      }
    println(s"diag codegen_fallbacks=${CodegenFallbacks.count}")
    val body = metrics.map { case (n, u, v) =>
      s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {$body}}"""
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) throw new IllegalStateException(s"metric value $v")
    else java.math.BigDecimal.valueOf(v).toPlainString
}

/** Small Hadoop-filesystem helpers for the workloads' own directories. */
object Fs {
  private def fs(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def delete(spark: SparkSession, path: String): Unit =
    fs(spark, path).delete(new org.apache.hadoop.fs.Path(path), true)

  /** Bytes of every file under `path`, hidden files and markers included. */
  def bytes(spark: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val f = fs(spark, path)
    if (!f.exists(p)) 0L else f.getContentSummary(p).getLength
  }

  /** Names of the data files directly under `path`. */
  def dataFiles(spark: SparkSession, path: String): Seq[String] =
    fs(spark, path).listStatus(new org.apache.hadoop.fs.Path(path)).toSeq
      .filter(_.isFile).map(_.getPath.getName)
      .filter(n => !n.startsWith("_") && !n.startsWith(".") && n.endsWith(".parquet"))
}
