package lcsbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Per-layer attribution for the traced run.
  *
  * The benchmark wraps every call into an engine layer in [[span]]. A
  * span records its wall time on the driver and sets the local property
  * `lcsbench.span` while it runs; [[inOp]] sets `lcsbench.op` to the op's
  * index. Spark copies local properties into every job and stage it
  * submits from that thread (and from the threads SQL execution hands
  * work to), so [[Listener]] can charge each job, stage and task to the
  * op and the layer call that issued it. Nothing in the engine is
  * instrumented. Untraced ops set no properties and the listener
  * ignores their jobs. */
final class Trace(spark: SparkSession, enabled: Boolean) {
  import Trace._

  private val sc = spark.sparkContext
  val listener = new Listener
  if (enabled) sc.addSparkListener(listener)

  /** One op as the driver saw it. */
  final class OpRec(val index: Int, val kind: String, val traced: Boolean) {
    var startMs = 0L // wall clock, to line up with listener event times
    var endMs = 0L
    var startNs = 0L
    var endNs = 0L
    /** Layer calls in completion order. */
    val spans = mutable.ArrayBuffer.empty[Span]
    val counters = mutable.LinkedHashMap.empty[String, Double]
    def wallMs: Double = (endNs - startNs) / 1e6

    /** Milliseconds of the op covered by at least one outermost span. */
    def topSpanMs: Double = {
      val ivs = spans.filter(_.depth == 0).map(s => (s.startNs, s.endNs)).sortBy(_._1)
      var covered = 0L
      var curEnd = Long.MinValue
      ivs.foreach { case (a, b) =>
        if (a >= curEnd) { covered += b - a; curEnd = b }
        else if (b > curEnd) { covered += b - curEnd; curEnd = b }
      }
      covered / 1e6
    }
  }

  val ops = mutable.ArrayBuffer.empty[OpRec]
  private var current: Option[OpRec] = None
  private var depth = 0

  /** Run one op; when `traced`, its jobs and spans are attributed. */
  def inOp[A](index: Int, kind: String, traced: Boolean)(body: => A): (OpRec, A) = {
    val rec = new OpRec(index, kind, traced)
    ops += rec
    current = Some(rec)
    if (traced) sc.setLocalProperty(OpProp, index.toString)
    rec.startMs = System.currentTimeMillis()
    rec.startNs = System.nanoTime()
    try (rec, body)
    finally {
      rec.endNs = System.nanoTime()
      rec.endMs = System.currentTimeMillis()
      sc.setLocalProperty(OpProp, null)
      sc.setLocalProperty(SpanProp, null)
      current = None
    }
  }

  /** Untimed work after an op (its reference check) that may add to the
    * op's layer counters; its Spark jobs are not charged to the op. */
  def after[A](rec: OpRec)(body: => A): A = {
    current = Some(rec)
    try body finally current = None
  }

  /** Time one layer call (`layer.verb`) inside the current op. */
  def span[A](name: String)(body: => A): A = current.filter(_.traced) match {
    case None => body
    case Some(rec) =>
      val outer = sc.getLocalProperty(SpanProp)
      sc.setLocalProperty(SpanProp, name)
      val d = depth
      depth = d + 1
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        rec.spans += Span(name, t0, t1, d)
        depth = d
        sc.setLocalProperty(SpanProp, outer)
      }
  }

  /** Add to a layer counter of the current op (traced ops only). */
  def count(name: String, v: Double): Unit =
    current.filter(_.traced).foreach(r =>
      r.counters(name) = r.counters.getOrElse(name, 0.0) + v)

  def tracing: Boolean = current.exists(_.traced)

  def drain(): Unit = org.apache.spark.LcsbenchBus.drain(sc)
}

object Trace {
  final case class Span(name: String, startNs: Long, endNs: Long, depth: Int) {
    def ms: Double = (endNs - startNs) / 1e6
  }

  val OpProp = "lcsbench.op"
  val SpanProp = "lcsbench.span"
  val NoSpan = "-"

  /** Task-level totals of one (op, span). */
  final class TaskAgg {
    var jobs = 0L; var sampleJobs = 0L; var stages = 0L
    var tasks = 0L; var failedTasks = 0L
    var runMs = 0.0; var cpuMs = 0.0; var schedMs = 0.0; var gcMs = 0.0
    var inBytes = 0.0; var inRecords = 0.0
    var shReadBytes = 0.0; var shWriteBytes = 0.0; var spillBytes = 0.0
    var outBytes = 0.0; var outRecords = 0.0
    def add(o: TaskAgg): Unit = {
      jobs += o.jobs; sampleJobs += o.sampleJobs; stages += o.stages
      tasks += o.tasks; failedTasks += o.failedTasks
      runMs += o.runMs; cpuMs += o.cpuMs; schedMs += o.schedMs; gcMs += o.gcMs
      inBytes += o.inBytes; inRecords += o.inRecords
      shReadBytes += o.shReadBytes; shWriteBytes += o.shWriteBytes
      spillBytes += o.spillBytes; outBytes += o.outBytes; outRecords += o.outRecords
    }
  }

  /** Charges jobs, stages and tasks to (op index, span) from the local
    * properties Spark attached at submission. */
  final class Listener extends SparkListener {
    private val byKey = mutable.HashMap.empty[(Int, String), TaskAgg]
    private val stageKey = mutable.HashMap.empty[Int, (Int, String)]
    /** op index -> job intervals (start ms, end ms). */
    private val jobStart = mutable.HashMap.empty[Int, (Int, Long)]
    private val intervals = mutable.HashMap.empty[Int, mutable.ArrayBuffer[(Long, Long)]]

    private def keyOf(props: java.util.Properties): Option[(Int, String)] =
      Option(props).flatMap(p => Option(p.getProperty(OpProp))).map(op =>
        (op.toInt, Option(props.getProperty(SpanProp)).getOrElse(NoSpan)))

    private def agg(k: (Int, String)): TaskAgg = byKey.getOrElseUpdate(k, new TaskAgg)

    /** The sketch job `repartitionByRange` runs before its shuffle: a
      * result job (no shuffle map stage as its final stage) submitted
      * from inside an Exchange operator's scope. */
    private def isRangeSample(e: SparkListenerJobStart): Boolean = {
      val scope = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.rdd.scope"))).getOrElse("")
      val last = e.stageInfos.maxByOption(_.stageId)
      scope.contains("\"name\":\"Exchange\"") && last.exists(s => !org.apache.spark.LcsbenchBus.isShuffleMapStage(s))
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      keyOf(e.properties).foreach { k =>
        val a = agg(k)
        a.jobs += 1
        if (isRangeSample(e)) a.sampleJobs += 1
        jobStart(e.jobId) = (k._1, e.time)
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId).foreach { case (op, t0) =>
        intervals.getOrElseUpdate(op, mutable.ArrayBuffer.empty) += ((t0, e.time))
      }
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      keyOf(e.properties).foreach { k =>
        agg(k).stages += 1
        stageKey(e.stageInfo.stageId) = k
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageKey.get(e.stageId).foreach { k =>
        val a = agg(k)
        a.tasks += 1
        if (!e.taskInfo.successful) a.failedTasks += 1
        val m = e.taskMetrics
        if (m != null) {
          val i = e.taskInfo
          val gettingResult =
            if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L
          val duration = i.finishTime - i.launchTime
          a.runMs += m.executorRunTime
          a.cpuMs += m.executorCpuTime / 1e6
          a.schedMs += math.max(0L, duration - m.executorDeserializeTime -
            m.executorRunTime - m.resultSerializationTime - gettingResult)
          a.gcMs += m.jvmGCTime
          a.inBytes += m.inputMetrics.bytesRead
          a.inRecords += m.inputMetrics.recordsRead
          a.shReadBytes += m.shuffleReadMetrics.localBytesRead +
            m.shuffleReadMetrics.remoteBytesRead
          a.shWriteBytes += m.shuffleWriteMetrics.bytesWritten
          a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          a.outBytes += m.outputMetrics.bytesWritten
          a.outRecords += m.outputMetrics.recordsWritten
        }
      }
    }

    /** Totals of one op, per span. */
    def forOp(op: Int): Map[String, TaskAgg] = synchronized {
      byKey.collect { case ((o, s), a) if o == op => s -> a }.toMap
    }

    /** Milliseconds of [from, to] covered by at least one of the op's jobs. */
    def jobCoveredMs(op: Int, from: Long, to: Long): Double = synchronized {
      val ivs = intervals.getOrElse(op, mutable.ArrayBuffer.empty)
        .map { case (a, b) => (math.max(a, from), math.min(b, to)) }
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curEnd = Long.MinValue
      ivs.foreach { case (a, b) =>
        if (a >= curEnd) { covered += b - a; curEnd = b }
        else if (b > curEnd) { covered += b - curEnd; curEnd = b }
      }
      covered.toDouble
    }
  }
}
