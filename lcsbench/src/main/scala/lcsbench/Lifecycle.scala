package lcsbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import com.sun.net.httpserver.HttpServer
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.Zorder
import graft.pipeline.Pipeline
import Gen.Life._

/** The paper's own pipeline, once per simulated day: extract the day's
  * hourly air-quality readings and orders from a paged JSON API, cast
  * the readings to the declared `aq_fields` schema, append them to a
  * clustered layout, retire the day that fell out of the retention
  * window, and report per-station-group figures and the total order
  * value. Maintenance runs as its own op whenever the layout
  * says it is due; box reads run between days.
  *
  * Op cycle per day: write (the day's DAG), maint (if due), then
  * [[ReadsPerDay]] reads. */
final class Lifecycle(spark: SparkSession, trace: Trace, seed: Long, cores: Int)
    extends Workload {
  import Lifecycle._

  private val pages = math.min(cores, 4)
  private val served = new AtomicLong(0L)
  private val server = {
    val s = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    s.createContext("/", ex => {
      // /r/<day>/<page> or /o/<day>/<page>: a page of one day's feed
      val Array(_, feed, day, page) = ex.getRequestURI.getPath.split("/")
      val (d, p) = (day.toInt, page.toInt)
      val body = (feed match {
        case "r" => readingsJson(readings(seed, d).iterator.zipWithIndex
          .collect { case (x, i) if i % pages == p => x })
        case _ => ordersJson(orders(seed, d).iterator.zipWithIndex
          .collect { case (x, i) if i % pages == p => x })
      }).getBytes(UTF_8)
      served.addAndGet(body.length)
      ex.getResponseHeaders.add("Content-Type", "application/json")
      ex.sendResponseHeaders(200, body.length)
      val os = ex.getResponseBody
      try os.write(body) finally os.close()
    })
    s.setExecutor(Executors.newFixedThreadPool(pages))
    s.start()
    s
  }
  private val base = s"http://127.0.0.1:${server.getAddress.getPort}"

  private var path = ""
  private var day = 0
  /** Days whose readings are live, oldest first. */
  private val live = mutable.Queue.empty[(Int, Array[Reading])]
  private val pending = mutable.Queue.empty[Op]
  private var maintDue = false
  private var readsScored = 0
  private var rowsExpected = 0L
  private var rowsReturned = 0L

  /** A setup costs about 1 s. */
  def setupReps: Int = 4
  def warmupOps: Int = 2 + ReadsPerDay
  def traceOps: Int = 2 * (2 + ReadsPerDay)
  def readTail: Option[Double] = Some(75.0)
  def minReads: Int = Stats.minSamples(75.0)
  def primaryKind: String = Op.Write

  def setup(dir: String): Unit = {
    path = s"$dir/readings"
    live.clear(); pending.clear(); maintDue = false
    (0 until RetainDays).foreach(d => live.enqueue(d -> readings(seed, d)))
    Zorder.writeHilbert(frame(live.iterator.flatMap(_._2).toSeq), path,
      ClusterCols, bits = 16, numFiles = MainFiles)
    day = RetainDays
  }

  def atCycleStart: Boolean = pending.isEmpty && !maintDue

  def next(): Op =
    if (pending.isEmpty) {
      val op = dayOp(day)
      day += 1
      maintDue = true
      op
    } else if (maintDue) {
      // the day just ran: ask whether maintenance is due, as a cron would
      maintDue = false
      val tail = Zorder.tailCompactDue(spark, path)
      val dv = Zorder.dvCompactDue(spark, path)
      if (tail || dv) maintOp(tail, dv) else pending.dequeue()
    } else pending.dequeue()

  private def frame(rs: Seq[Reading]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rs.map(x => Row.fromSeq(Seq(x.station, new java.sql.Timestamp(x.ts * 1000L)) ++
        x.values)),
      math.max(1, cores)), LayoutSchema)

  private def dayOp(d: Int): Op = {
    val rs = readings(seed, d)
    val os = orders(seed, d)
    val expired = live.head
    val keys = spark.createDataFrame(spark.sparkContext.parallelize(
      expired._2.toSeq.map(x => Row(x.station, new java.sql.Timestamp(x.ts * 1000L), x.pm25)),
      1), KeySchema)
    val tasks = Pipeline.chain(
      Pipeline.Task("extract_readings", _ => Pipeline.Value(extract("r", d, ReadingFeed))),
      Pipeline.Task("cast", ctx => Pipeline.Value(
        ctx.xcom[DataFrame]("extract_readings").select(
          (Seq(col("fmisid").cast("int").as("fmisid"), timestamp_seconds(col("time")).as("time")) ++
            Pollutants.map(col)): _*))),
      Pipeline.Task("load", ctx => Pipeline.Value(trace.span("zorder.append") {
        Zorder.appendClustered(ctx.xcom[DataFrame]("cast"), path, batchId = d,
          batchFiles = BatchFiles)
      })),
      Pipeline.Task("retention", _ => Pipeline.Value(trace.span("zorder.delete") {
        Zorder.deleteClustered(spark, path, keys, Seq("fmisid", "time"))
      }))) ++ Seq(
      Pipeline.Task("extract_orders", _ => Pipeline.Value(extract("o", d, OrderFeed))),
      Pipeline.Task("report", ctx => Pipeline.Value(report(
        ctx.xcom[DataFrame]("cast"), ctx.xcom[DataFrame]("extract_orders"))),
        upstream = Seq("cast", "extract_orders")))
    // reads run against the post-retention live set
    live.dequeue()
    live.enqueue(d -> rs)
    val liveNow = live.iterator.flatMap(_._2).toArray
    (0 until ReadsPerDay).foreach(j => pending.enqueue(readOp(box(seed, d, j), liveNow)))

    Op(Op.Write, rs.length.toLong + os.length, () => {
      var taskMs = 0L
      val statuses = mutable.ArrayBuffer.empty[Pipeline.Status]
      val t0 = System.nanoTime()
      val res = trace.span("pipeline.run") {
        Pipeline.run(tasks, listener = new Pipeline.Listener {
          override def onTaskDone(task: String, status: Pipeline.Status, elapsedMs: Long): Unit = {
            taskMs += elapsedMs; statuses += status
          }
        })
      }
      val runMs = (System.nanoTime() - t0) / 1e6
      Seq("extract_readings", "extract_orders").foreach(t =>
        res.results.get(t).collect { case df: org.apache.spark.sql.Dataset[_] => df.unpersist(false) })
      () => {
        trace.count("pipeline.overhead_ms", runMs - taskMs)
        trace.count("pipeline.tasks_run", statuses.count(s =>
          s == Pipeline.Success || s == Pipeline.Failed).toDouble)
        trace.count("pipeline.tasks_skipped", statuses.count(_ == Pipeline.Skipped).toDouble)
        trace.count("pipeline.tasks_failed", statuses.count(s =>
          s == Pipeline.Failed || s == Pipeline.UpstreamFailed).toDouble)
        if (trace.tracing) {
          trace.count("zorder.tail_files",
            Fs.dataFiles(spark, path).count(_.matches("b\\d+-.*")).toDouble)
          trace.count("zorder.dv_debt", Zorder.dvDebt(spark, path))
        }
        val failedTask = res.statuses.collectFirst { case (t, s) if s != Pipeline.Success =>
          s"$t: $s ${res.results.get(t).map(_.toString.take(300)).getOrElse("")}" }
        failedTask.orElse {
          val (want, got) = (reportRef(rs, os), res.value[Report]("report"))
          Check.all(
            if (res.value[Boolean]("load")) None else Some(s"day $d append was a replay"),
            if (res.value[Long]("retention") == expired._2.length) None
            else Some(s"retention tombstoned ${res.value[Long]("retention")} rows, " +
              s"expected ${expired._2.length}"),
            Check.sameRows(s"day $d report", want.groups, got.groups),
            // the total is a float sum: Spark adds in another order
            if (want.orders._1 == got.orders._1 &&
              math.abs(want.orders._2 - got.orders._2) <= 1e-9 * want.orders._2) None
            else Some(s"day $d orders: expected ${want.orders}, got ${got.orders}"))
        }
      }
    })
  }

  private def extract(feed: String, d: Int, schema: StructType): DataFrame =
    trace.span("sources.extract") {
      val before = served.get()
      val df = spark.read.format("graft.sources.HttpBatchSource")
        .option("urlTemplate", s"$base/$feed/$d/{page}")
        .option("pages", pages.toString)
        .schema(schema).load().cache()
      val n = df.count()
      trace.count("sources.extract_pages", pages)
      trace.count("sources.extract_rows", n)
      trace.count("sources.extract_bytes", served.get() - before)
      df
    }

  private def report(cast: DataFrame, ords: DataFrame): Report =
    trace.span("pipeline.report") {
      val groups = cast.groupBy((col("fmisid") % Groups).cast("int").as("grp"))
        .agg(count(lit(1)).as("n"), max(col(Pm25)).as("pm25_max"))
        .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2))).toMap
      val total = ords.agg(count(lit(1)), sum(col("amount"))).head()
      Report(groups, (total.getLong(0), total.getDouble(1)))
    }

  private def reportRef(rs: Array[Reading], os: Array[Order]): Report =
    Report(rs.groupBy(x => groupOf(x.station)).map { case (g, xs) =>
      g -> (xs.length.toLong, xs.map(_.pm25).max) },
      (os.length.toLong, os.map(_.amount).sum))

  private def maintOp(tail: Boolean, dv: Boolean): Op = Op(Op.Maint, 0L, () => {
    if (tail) trace.span("zorder.fold")(Zorder.compactTail(spark, path))
    if (dv) trace.span("zorder.compact")(Zorder.compactClustered(spark, path))
    trace.span("zorder.vacuum")(Zorder.vacuumClustered(spark, path, olderThanMs = 0L))
    val expected = live.iterator.map(_._2.length.toLong).sum
    () => {
      val n = Zorder.readClustered(spark, path).count()
      if (n == expected) None else Some(s"after maintenance $n live rows, expected $expected")
    }
  })

  private def readOp(b: Box, liveNow: Array[Reading]): Op = Op(Op.Read, 0L, () => {
    val pruned = trace.span("zorder.read") {
      Zorder.readClustered(spark, path,
        Seq(("fmisid", b.stLo: Any, b.stHi: Any), (Pm25, b.pmLo: Any, b.pmHi: Any)))
    }
    val exact = pruned.filter(col("fmisid").between(b.stLo, b.stHi) &&
      col(Pm25).between(b.pmLo, b.pmHi)).select(col("fmisid"), col("time"))
    val got = trace.span("zorder.read")(exact.collect()
      .map(r => key(r.getInt(0), r.getTimestamp(1).getTime / 1000L)).toSeq)
    () => {
      val expected = liveNow.iterator.filter(b.contains).map(_.id).toSeq
      if (readsScored < RecallReads) {
        readsScored += 1
        rowsExpected += expected.length
        rowsReturned += got.toSet.intersect(expected.toSet).size
      }
      if (trace.tracing) {
        trace.count("zorder.rows_returned", got.length)
        trace.count("zorder.files_scanned", pruned.inputFiles.length)
        trace.count("zorder.files_total", Zorder.readClustered(spark, path).inputFiles.length)
      }
      Check.sameIds(s"box $b", expected, got)
    }
  })

  def spaceAmp(): Double =
    Fs.bytes(spark, path).toDouble / (live.iterator.map(_._2.length).sum * RawRowBytes)

  def recall: Double = if (rowsExpected == 0) 1.0 else rowsReturned.toDouble / rowsExpected

  override def close(): Unit = {
    server.stop(0)
    server.getExecutor match {
      case e: java.util.concurrent.ExecutorService =>
        e.shutdownNow(); e.awaitTermination(10, TimeUnit.SECONDS)
      case _ =>
    }
  }
}

object Lifecycle {
  val RetainDays = 6
  val ReadsPerDay = 14
  val RecallReads = 32
  val MainFiles = 8
  val BatchFiles = 2
  val ClusterCols = Seq("fmisid", Pm25)
  /** int32 station, timestamp and eight float64 values, fixed-width. */
  val RawRowBytes: Int = 4 + 8 + 8 * Pollutants.length

  /** Per station group (rows, max pm2.5), and (orders, total value). */
  final case class Report(groups: Map[Int, (Long, Double)], orders: (Long, Double))

  val LayoutSchema: StructType = StructType(Seq(
    StructField("fmisid", IntegerType), StructField("time", TimestampType)) ++
    Pollutants.map(StructField(_, DoubleType)))
  val KeySchema: StructType = StructType(Seq(
    StructField("fmisid", IntegerType), StructField("time", TimestampType),
    StructField(Pm25, DoubleType)))
  val ReadingFeed: StructType = StructType(Seq(
    StructField("fmisid", LongType), StructField("time", LongType)) ++
    Pollutants.map(StructField(_, DoubleType)))
  val OrderFeed: StructType = StructType.fromDDL("order_id LONG, amount DOUBLE")
}
