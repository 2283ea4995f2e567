package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** What a workload run hands back to [[Main]]: its metrics, how many
  * operations it attempted and how many threw or failed their check, and
  * lines of the traced run's profile for the log. */
final class Report {
  val metrics = mutable.LinkedHashMap[String, (Double, String)]()
  var attempted = 0
  var failed = 0
  val log = mutable.ArrayBuffer[String]()

  def metric(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)

  /** Runs one operation, counting it, and counts a throw as a failure. */
  def attempt[A](what: String)(f: => A): Option[A] = {
    attempted += 1
    try Some(f)
    catch {
      case e: Throwable =>
        failed += 1
        System.err.println(s"perfbench: $what failed: $e")
        e.printStackTrace()
        None
    }
  }

  def check(what: String, ok: Boolean, detail: => String = ""): Unit =
    if (!ok) {
      failed += 1
      System.err.println(s"perfbench: $what: wrong output $detail")
    }
}

/** Command-line options of one run. `run.py` writes the query tables under
  * `<work>/tables`. */
final case class RunArgs(seed: Long, seconds: Double, trace: Boolean,
                         work: String) {
  def dir(name: String): String = s"$work/$name"
  def tables: String = dir("tables")
}

/** JVM side of the benchmark: runs one workload and writes `result.json`
  * (and a traced run's `profile.txt`) into the work directory. `run.py`
  * builds and launches it. */
object Main {
  val Threads = 4

  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Threads]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Threads.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.core.Normalize.register(s)
    s
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse(sys.error("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def main(argv: Array[String]): Unit = {
    val opt = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val args = RunArgs(opt("seed").toLong, opt("seconds").toDouble,
      opt("trace") == "1", opt("work"))
    val preSetup = opt.getOrElse("pre-setup-s", "0").toDouble
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(args.work)
    val report = new Report
    // each workload calls this when its timed region begins
    val setupDone = (_: Unit) => report.metric("setup_s",
      preSetup + (System.currentTimeMillis() - jvmStart) / 1000.0, "s")
    opt("workload") match {
      case "cc_head" => CcHead.run(spark, args, report, setupDone)
      case "queries" => Queries.run(spark, args, report, setupDone)
      case w => sys.error(s"unknown workload $w")
    }
    report.metric("peak_rss_mb", peakRssMb(), "MB")
    spark.stop()
    val metrics = report.metrics.map { case (k, (v, u)) =>
      s""""$k":{"value":$v,"unit":"$u"}""" }.mkString("{", ",", "}")
    val json = s"""{"attempted":${report.attempted},"failed":${report.failed},""" +
      s""""metrics":$metrics}"""
    Files.write(Paths.get(args.dir("profile.txt")),
      report.log.map(_ + "\n").mkString.getBytes(UTF_8))
    Files.write(Paths.get(args.dir("result.json")), json.getBytes(UTF_8))
  }
}
