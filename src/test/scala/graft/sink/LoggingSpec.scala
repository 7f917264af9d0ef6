package graft.sink

import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** O15 — the sink's operational log surface (reference
  * `writer.py:8,156,159,190,301`): a user tailing logs sees every
  * overwrite-delete, shard open, and close. Captured through a real
  * log4j2 appender on the sink's slf4j logger, the way an operator's
  * log pipeline would consume it.
  */
class LoggingSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val schema = StructType(Seq(StructField("id", LongType)))

  private def withCapturedLogs[A](f: => A): Seq[String] = {
    val loggerName = classOf[ParquetStreamSink].getName
    val messages = ArrayBuffer.empty[String]
    val appender = new AbstractAppender("graft-test-capture", null, null, true,
      org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        messages.synchronized { messages += e.getMessage.getFormattedMessage }
    }
    appender.start()
    // resolve the context through the sink's classloader — under sbt's
    // layered test classloaders getContext(false) can land on a
    // different LoggerContext than the one slf4j routes the sink to
    val ctx = LogManager
      .getContext(classOf[ParquetStreamSink].getClassLoader, false)
      .asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    val before = Option(cfg.getLoggerConfig(loggerName))
      .filter(_.getName == loggerName).map(_.getLevel)
    Configurator.setLevel(loggerName, Level.INFO)
    cfg.getLoggerConfig(loggerName).addAppender(appender, Level.INFO, null)
    ctx.updateLoggers()
    try { f; messages.toSeq }
    finally {
      cfg.getLoggerConfig(loggerName).removeAppender("graft-test-capture")
      appender.stop()
      before.foreach(l => Configurator.setLevel(loggerName, l))
      ctx.updateLoggers()
    }
  }

  test("shard open, overwrite-delete, and close are logged at info") {
    spark // force session init FIRST — it reconfigures log4j, which
    // would drop an appender installed before it
    val parent = Files.createTempDirectory("sink-log-")
    val out = parent.resolve("shards")
    Files.createDirectory(out) // pre-existing dir → overwrite must log the delete
    val logs = withCapturedLogs {
      val sink = new ParquetStreamSink(spark, out, schema,
        shardSizeBytes = Some(64), bufferSizeBytes = 64, overwrite = true)
      ParquetStreamSink.withSink(sink) { s =>
        // two over-threshold writes: the second flush finds the shard
        // over its byte limit and rolls over → a second shard-open log
        s.writeRows((1L to 32L).map(Row(_)))
        s.writeRows((33L to 64L).map(Row(_)))
      }
    }
    assert(logs.exists(_.startsWith("Deleting existing directory:")),
      s"missing overwrite-delete log in: $logs")
    assert(logs.count(_.startsWith("Opened new Parquet shard:")) >= 2,
      s"expected a shard-open log per rollover in: $logs")
    val closed = logs.filter(_.startsWith("Closed Parquet writer for:"))
    assert(closed.size == 1, s"missing close log in: $logs")
    // the sink's counters: two flushes of 32 rows, one shard each
    val fields = "(\\w+)=([0-9.]+)".r.findAllMatchIn(closed.head)
      .map(m => m.group(1) -> m.group(2)).toMap
    assert(fields.keySet == Set("flushes", "shards", "rows", "encoded_bytes", "encode_ms"),
      closed.head)
    assert(fields("flushes") == "2" && fields("shards") == "2" && fields("rows") == "64", closed.head)
    assert(fields("encoded_bytes").toLong > 0 && fields("encode_ms").toDouble > 0, closed.head)
  }
}
