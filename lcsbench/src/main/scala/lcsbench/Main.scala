package lcsbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Entry point: one workload, one seed, one JVM, one closed-loop client
  * thread against Spark `local[cores]`.
  *
  * {{{
  * Main --workload lifecycle|serve --seed N --seconds S --trace 0|1
  *      --work DIR --cores K --benchmark BENCHMARK.json
  * Main --check-gen --seed N --work DIR --cores K
  * }}}
  *
  * Prints diagnostics, then as the last stdout line one JSON object:
  * `{"correct", "attempted", "failed", "metrics"}` with the end-to-end
  * metrics (untraced run) or the per-layer metrics (traced run). */
object Main {

  final case class Args(workload: String = "", seed: Long = 1L, seconds: Int = 10,
      trace: Boolean = false, work: String = "", cores: Int = 4,
      benchmark: String = "BENCHMARK.json", checkGen: Boolean = false)

  def parse(argv: List[String], a: Args = Args()): Args = argv match {
    case Nil => a
    case "--workload" :: v :: rest => parse(rest, a.copy(workload = v))
    case "--seed" :: v :: rest => parse(rest, a.copy(seed = v.toLong))
    case "--seconds" :: v :: rest => parse(rest, a.copy(seconds = v.toInt))
    case "--trace" :: v :: rest => parse(rest, a.copy(trace = v == "1"))
    case "--work" :: v :: rest => parse(rest, a.copy(work = v))
    case "--cores" :: v :: rest => parse(rest, a.copy(cores = v.toInt))
    case "--benchmark" :: v :: rest => parse(rest, a.copy(benchmark = v))
    case "--check-gen" :: rest => parse(rest, a.copy(checkGen = true))
    case other => throw new IllegalArgumentException(s"unknown argument: ${other.head}")
  }

  def session(a: Args): SparkSession = {
    val spark = graft.Session.builder("lcsbench", a.cores)
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toList)
    require(a.work.nonEmpty, "--work DIR is required")
    val code =
      try {
        CodegenFallbacks.install()
        val spark = session(a)
        try {
          val line = if (a.checkGen) GenCheck.run(spark, a) else Runner.run(spark, a)
          println(line)
          0
        } finally spark.stop()
      } catch {
        case t: Throwable =>
          System.err.println(s"lcsbench: ${a.workload} failed")
          t.printStackTrace()
          1
      }
    System.out.flush()
    sys.exit(code)
  }
}

/** The op loop: setup (timed several times), a fixed warm-up, then the
  * timed loop for `seconds`, ending on a cycle boundary. */
object Runner {
  /** A run stops starting ops after this long, whatever else holds. */
  val HardCapS = 150.0

  final case class Sample(kind: String, wallMs: Double, traced: Boolean, inWindow: Boolean,
      items: Long)

  def workload(name: String, spark: SparkSession, trace: Trace, seed: Long,
      cores: Int): Workload = name match {
    case "lifecycle" => new Lifecycle(spark, trace, seed, cores)
    case "serve" => new Serve(spark, trace, seed)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  def run(spark: SparkSession, a: Main.Args): String = {
    val started = System.nanoTime()
    def since(t: Long) = (System.nanoTime() - t) / 1e9
    val trace = new Trace(spark, a.trace)
    val wl = workload(a.workload, spark, trace, a.seed, a.cores)
    val bounds = Bench.bounds(a.benchmark)

    val setupS = (1 to wl.setupReps).map { r =>
      val t0 = System.nanoTime()
      wl.setup(s"${a.work}/setup$r")
      val s = since(t0)
      if (r > 1) Fs.delete(spark, s"${a.work}/setup${r - 1}")
      s
    }
    println(f"diag setup_s samples=${setupS.map(x => f"$x%.3f").mkString(",")}")

    var index = 0
    var attempted = 0L
    var failed = 0L
    val failures = mutable.LinkedHashMap.empty[String, Int]

    /** Run the next op; `traceIf` decides, from the op, whether the
      * traced run attributes it. */
    def runOne(traceIf: Op => Boolean): (Op, Double, Boolean) = {
      val op = wl.next()
      val traced = traceIf(op)
      attempted += 1
      val (rec, outcome) = trace.inOp(index, op.kind, traced) {
        try Right(op.run()) catch { case e: Exception => Left(e) }
      }
      val verdict = outcome match {
        case Left(e) => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
        case Right(check) =>
          try trace.after(rec)(check())
          catch { case e: Exception => Some(s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
      }
      verdict.foreach { why =>
        failed += 1
        val n = failures.getOrElse(op.kind, 0)
        failures(op.kind) = n + 1
        if (n < 3) println(s"diag FAILED op=$index kind=${op.kind}: ${why.take(400)}")
      }
      index += 1
      (op, rec.wallMs, traced)
    }

    val setupDone = System.nanoTime()
    while (index < wl.warmupOps) runOne(_ => false)
    val spaceAmp = wl.spaceAmp()
    val warmDone = System.nanoTime()

    val samples = mutable.ArrayBuffer.empty[Sample]
    val seen = mutable.Map.empty[String, Int].withDefaultValue(0)
    val t0 = System.nanoTime()
    var loopS = 0.0
    def windowOpen = a.trace && samples.length < wl.traceOps
    def readsShort = samples.count(_.kind == Op.Read) < wl.minReads
    while ((loopS < a.seconds || !wl.atCycleStart || windowOpen || readsShort) &&
        since(started) < HardCapS) {
      val inWindow = windowOpen
      // inside the window, every other op of each kind is traced, so the
      // traced and untraced halves see the same op mix and state
      val (op, ms, traced) = runOne { op =>
        inWindow && { val n = seen(op.kind); seen(op.kind) = n + 1; n % 2 == 0 }
      }
      samples += Sample(op.kind, ms, traced, inWindow, op.items)
      loopS = since(t0)
    }
    wl.close()
    val jvmS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    println(f"diag phases_s jvm_to_now=$jvmS%.1f runner=${since(started)}%.1f " +
      f"setup=${(setupDone - started) / 1e9}%.1f warmup=${(warmDone - setupDone) / 1e9}%.1f " +
      f"timed=${since(warmDone)}%.1f")
    Bench.result(a, trace, wl, samples.toSeq, setupS, spaceAmp, loopS,
      attempted, failed, bounds)
  }
}
