package graft.streaming

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

class StreamStateDirsSpec extends AnyFunSuite with SparkSpec {

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("v", StringType)))

  /** `body`'s result and the WARN-or-worse messages logged meanwhile. */
  private def withWarnings[T](body: => T): (T, Seq[String]) = {
    val seen = new ConcurrentLinkedQueue[String]
    val app = new AbstractAppender("capture-warnings", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.WARN))
          seen.add(e.getMessage.getFormattedMessage)
    }
    app.start()
    val root = LogManager.getRootLogger.asInstanceOf[CoreLogger]
    root.addAppender(app)
    try (body, seen.asScala.toSeq)
    finally { root.removeAppender(app); app.stop() }
  }

  test("readOrEmpty: a missing directory reads as empty state without a logged exception") {
    val dir = Files.createTempDirectory("graft_state").toString + "/never_written"
    val (df, warnings) =
      withWarnings(StreamStateDirs.readOrEmpty(spark, dir, schema))
    assert(df.schema === schema)
    assert(df.count() === 0)
    assert(!warnings.exists(_.contains("metadata directory")), warnings)
  }
}
