package lcsbench

import java.security.MessageDigest
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Generator check mode: the same seed gives the same input
  * fingerprint, another seed changes it, and the planted counts read
  * back from written inputs equal the declared ones. */
object GenCheck {
  val Days = 8
  val Batches = 3
  val Queries = 12

  /** SHA-256 over a fixed slice of every workload's generated inputs. */
  def fingerprint(seed: Long): String = {
    val md = MessageDigest.getInstance("SHA-256")
    def add(s: String): Unit = md.update(s.getBytes(UTF_8))
    (0 until Days).foreach { d =>
      add(Gen.Life.readingsJson(Gen.Life.readings(seed, d).iterator))
      add(Gen.Life.ordersJson(Gen.Life.orders(seed, d).iterator))
      add(Gen.Life.box(seed, d, 0).toString)
    }
    val srv = new Gen.Srv.Source(seed)
    srv.corpus.foreach(i => add(s"${i.id}:${i.vec.mkString(",")}:${i.text}"))
    (0 until Batches).foreach(b => srv.batch(b).items.foreach(i =>
      add(s"${i.id}:${i.vec.mkString(",")}:${i.text}")))
    (0 until Queries).foreach { q =>
      val x = srv.query(q, srv.corpus)
      add(s"${x.id}:${x.vec.mkString(",")}:${x.phrase.mkString(" ")}")
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** (check name, passed, detail) for every check. */
  def checks(spark: SparkSession, seed: Long, work: String): Seq[(String, Boolean, String)] = {
    val fp = fingerprint(seed)
    val fpAgain = fingerprint(seed)
    val fpOther = fingerprint(seed + 1)
    // write the inputs with their planted kinds, then count them back
    val srv = new Gen.Srv.Source(seed)
    val kinds = (0 until Batches).flatMap { b =>
      val batch = srv.batch(b)
      batch.items.map(d => Row(d.id, d.text,
        if (batch.junk(d.id)) "junk" else if (batch.exact(d.id)) "exact"
        else if (batch.near.contains(d.id)) "near" else "clean"))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(kinds, 2), StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("kind", StringType)))).write.parquet(s"$work/gencheck/batches")
    val counted = spark.read.parquet(s"$work/gencheck/batches").groupBy("kind").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val days = (0 until Days).flatMap(d => Gen.Life.readings(seed, d).map(x => Row(d, x.id)))
    spark.createDataFrame(spark.sparkContext.parallelize(days, 2), StructType(Seq(
      StructField("day", IntegerType), StructField("reading_id", LongType))))
      .write.parquet(s"$work/gencheck/readings")
    val dayCounts = spark.read.parquet(s"$work/gencheck/readings").groupBy("day").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val qs = (0 until Queries).map(q => Row(srv.query(q, srv.corpus).id))
    spark.createDataFrame(spark.sparkContext.parallelize(qs, 1),
      StructType(Seq(StructField("query_id", LongType)))).write.parquet(s"$work/gencheck/queries")
    val queryCount = spark.read.parquet(s"$work/gencheck/queries").distinct().count()
    def declared(kind: String, n: Long) =
      (s"planted $kind", counted.getOrElse(kind, 0L) == n,
        s"declared $n, read back ${counted.getOrElse(kind, 0L)}")
    Seq(
      ("same seed, same fingerprint", fp == fpAgain, fp.take(16)),
      ("other seed, other fingerprint", fp != fpOther, fpOther.take(16)),
      declared("junk", Gen.Srv.JunkPerBatch.toLong * Batches),
      declared("exact", Gen.Srv.ExactPerBatch.toLong * Batches),
      declared("near", Gen.Srv.NearPerBatch.toLong * Batches),
      ("days", dayCounts.size == Days &&
        dayCounts.values.forall(_ == Gen.Life.ReadingsPerDay), s"read back ${dayCounts.size} days"),
      ("queries", queryCount == Queries, s"declared $Queries, read back $queryCount"))
  }

  def run(spark: SparkSession, a: Main.Args): String = {
    val results = checks(spark, a.seed, a.work)
    results.foreach { case (n, ok, detail) =>
      println(s"diag gencheck ${if (ok) "ok" else "FAILED"} $n: $detail") }
    val failed = results.count(!_._2)
    s"""{"correct": ${failed == 0}, "attempted": ${results.length}, "failed": $failed, "metrics": {}}"""
  }
}
