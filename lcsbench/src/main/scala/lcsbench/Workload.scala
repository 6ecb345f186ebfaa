package lcsbench

/** One op of a workload's seeded sequence. `run` does the timed work
  * and returns the reference check, which the runner calls untimed:
  * None = the result matches the plain-Scala reference. The check may
  * also sample layer counters for the traced run ([[Trace.count]]). */
final case class Op(kind: String, items: Long, run: () => (() => Option[String]))

object Op {
  val Write = "write"
  val Read = "read"
  val Maint = "maint"
  val Kinds: Seq[String] = Seq(Write, Read, Maint)
}

/** A workload: a starting state and an endless, seeded op sequence.
  * The sequence depends only on the seed and on the ops already run,
  * so op n finds the same state in every run and on every commit. */
trait Workload {
  /** Build the starting state under `dir` from generated inputs. The
    * runner calls it several times into fresh directories to time it;
    * the last call's state is the one the ops run against. */
  def setup(dir: String): Unit

  /** Setups per run; setup_s reports their median. The first one is
    * the JVM's cold one, so a cheap setup takes more reps to keep the
    * median on warm setups. */
  def setupReps: Int

  /** Ops run before timing starts (JIT, codegen caches, and the layout
    * reaching steady state). The trend diagnostic shows what is left. */
  def warmupOps: Int

  /** The op kind whose items are the workload's output (rows ingested,
    * documents curated, queries answered): items_per_s counts these. */
  def primaryKind: String

  /** What read_tail_ms reports, fixed per workload so every run and
    * both commits report the same figure: Some(p) is the p-th
    * percentile, None the mean read latency (a totals-based figure, for
    * reads too heavy to time the forty a p75 needs). */
  def readTail: Option[Double]

  /** Reads the timed loop holds at least: enough for ten samples beyond
    * every reported percentile (the median needs 20, a p75 40). */
  def minReads: Int

  /** Timed ops in the traced run's attribution window. */
  def traceOps: Int

  /** The next op of the sequence. */
  def next(): Op

  /** True when the next op starts a new cycle of the op mix; the timed
    * loop ends only there, so every run times whole cycles. */
  def atCycleStart: Boolean

  /** Bytes on disk per byte of live user data, measured by the runner at
    * the end of warm-up (a fixed op index, so every run sees the same
    * state). */
  def spaceAmp(): Double

  /** Share of the reference result returned, over the ops the workload
    * scores (a fixed prefix of the sequence). */
  def recall: Double

  def close(): Unit = ()
}
