package lcsbench

import java.nio.file.{Files, Paths}
import org.apache.logging.log4j.LogManager
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class GenCheckSpec extends AnyFunSuite {

  test("same seed, same inputs; another seed, other inputs") {
    assert(GenCheck.fingerprint(3L) == GenCheck.fingerprint(3L))
    assert(GenCheck.fingerprint(3L) != GenCheck.fingerprint(4L))
  }

  test("planted counts read back from written inputs equal the declared ones") {
    val work = Files.createTempDirectory(Files.createDirectories(Paths.get("target")),
      "gencheck").toString
    val spark = SparkSession.builder().master("local[2]").appName("gencheck")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val results = GenCheck.checks(spark, 5L, work)
      assert(results.forall(_._2), results.filterNot(_._2).mkString("; "))
    } finally spark.stop()
  }

  test("the codegen fallback counter counts WARN and above on the codegen loggers") {
    CodegenFallbacks.install()
    val before = CodegenFallbacks.count
    val log = LogManager.getLogger(CodegenFallbacks.Loggers.head)
    log.info("not a fallback")
    log.warn("Whole-stage codegen disabled")
    log.error("failed to compile")
    assert(CodegenFallbacks.count == before + 2)
  }
}
