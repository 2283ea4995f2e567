package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM per `sbt test` fork). */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.spark

  /** `body`'s value and every message the log4j logger `name` logged
    * while it ran. */
  def logged[A](name: String)(body: => A): (A, Seq[String]) = {
    import scala.jdk.CollectionConverters._
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender(s"graft-capture-$name", null, null,
                                       true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        seen.add(e.getMessage.getFormattedMessage)
    }
    capture.start()
    val logger = LogManager.getLogger(name).asInstanceOf[CoreLogger]
    logger.addAppender(capture)
    val out = try body finally { logger.removeAppender(capture); capture.stop() }
    (out, seen.asScala.toSeq)
  }
}

object SparkSuite {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.warehouse.dir", tempDir("graft-warehouse"))
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.core.Normalize.register(s)
    s
  }

  /** Every [[tempDir]] of this JVM, deleted when it exits (suites run in
    * one forked test JVM). */
  private val tempDirs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  sys.addShutdownHook(tempDirs.forEach { d =>
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d))
  })

  def tempDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toString
    tempDirs.add(d)
    d
  }
}
