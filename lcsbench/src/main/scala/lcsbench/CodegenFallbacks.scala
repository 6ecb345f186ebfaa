package lcsbench

import java.util.concurrent.atomic.AtomicLong
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}

/** Counts silent codegen fallbacks: Spark logs a compile failure from
  * `CodeGenerator` and a whole-stage fallback from
  * `WholeStageCodegenExec` at WARN or above, then carries on with
  * interpreted execution and returns correct results. A log appender
  * on those two loggers is the only way to see it from outside. */
object CodegenFallbacks {
  val Loggers: Seq[String] = Seq(
    "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator",
    "org.apache.spark.sql.execution.WholeStageCodegenExec")

  private val n = new AtomicLong(0L)
  @volatile private var installed = false

  def count: Long = n.get()

  def install(): Unit = synchronized {
    if (!installed) {
      val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
      val config = ctx.getConfiguration
      val appender = new AbstractAppender("lcsbench-codegen", null, null,
          true, Property.EMPTY_ARRAY) {
        override def append(e: LogEvent): Unit =
          if (e.getLevel.isMoreSpecificThan(Level.WARN)) n.incrementAndGet()
      }
      appender.start()
      Loggers.foreach { name =>
        val lc = new LoggerConfig(name, Level.WARN, true)
        lc.addAppender(appender, Level.WARN, null)
        config.addLogger(name, lc)
      }
      ctx.updateLoggers()
      installed = true
    }
  }
}
