package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One timed interval: a benchmark call into a layer, or a pipeline stage
  * inside such a call. Times are epoch milliseconds, the clock Spark's
  * listener events carry, so spans and listener records line up. */
final case class Span(id: Int, name: String, parent: Int, runId: String,
                      start: Long, end: Long) {
  def seconds: Double = (end - start) / 1000.0
}

/** Engine counters summed over one or more intervals. */
final case class EngineStats(jobs: Int, tasks: Int, runMs: Long,
                             shuffleWriteBytes: Long, spillBytes: Long,
                             maxTaskMs: Long, medianTaskMs: Double,
                             planningMs: Long)

/** The span recorder and the Spark listener of a traced run.
  *
  * Spans are kept in memory. The listener records every job, task and SQL
  * execution; an execution that writes a parquet table carries its output
  * path, which is how a pipeline stage's jobs are told apart from the
  * outside: a stage's checkpoint is `<outDir>/<stage>`, so each job and
  * execution belongs to the stage whose checkpoint write follows it.
  *
  * Listener events arrive asynchronously; [[sync]] waits until every event
  * posted before it has been delivered. */
final class Tracer(spark: SparkSession, val runId: String) extends SparkListener {
  private case class Job(id: Int, start: Long, end: Long, exec: Long)
  private case class Exec(id: Long, start: Long, end: Long)
  private case class Plan(out: Option[String], planningMs: Long)
  private case class Task(job: Int, runMs: Long, durMs: Long, shuffleWrite: Long,
                          spill: Long)

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val nextId = new java.util.concurrent.atomic.AtomicInteger()
  private val jobStarts = new ConcurrentHashMap[Int, (Long, Long)]()
  private val jobs = new ConcurrentLinkedQueue[Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val tasks = new ConcurrentLinkedQueue[Task]()
  private val execStarts = new ConcurrentHashMap[Long, Long]()
  private val execs = new ConcurrentLinkedQueue[Exec]()
  private val plans = new ConcurrentHashMap[Long, Plan]()
  private val sentinels = new ConcurrentHashMap[String, CountDownLatch]()
  private val sentinelJobs = new ConcurrentHashMap[Int, String]()
  private val SentinelKey = "perfbench.sentinel"

  private var attached = false
  def attach(): Unit =
    if (!attached) { spark.sparkContext.addSparkListener(this); attached = true }
  def detach(): Unit =
    if (attached) { spark.sparkContext.removeSparkListener(this); attached = false }

  /** The finished execution's `QueryExecution`. Spark attaches it to the
    * end event for its own in-process listeners; the field is not part of
    * the public API, so it is read reflectively. */
  private def queryExecution(e: SparkListenerSQLExecutionEnd): QueryExecution =
    e.getClass.getMethod("qe").invoke(e).asInstanceOf[QueryExecution]

  private def plan(e: Exec): Plan = Option(plans.get(e.id)).getOrElse(Plan(None, 0L))

  def add(s: Span): Span = { spans.add(s); s }
  def newId(): Int = nextId.incrementAndGet()

  /** Appends every span to the profile, one tab-separated line each. */
  def dump(report: Report): Unit = {
    report.log += "span\tid\tparent\trun\tname\tstart_ms\tend_ms"
    spans.asScala.toSeq.sortBy(s => (s.start, s.id)).foreach { s =>
      report.log += s"span\t${s.id}\t${s.parent}\t${s.runId}\t${s.name}\t${s.start}\t${s.end}"
    }
  }

  /** Blocks until the listener has seen every event posted so far: a
    * one-task sentinel job is posted after them and the bus is FIFO. */
  def sync(): Unit = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val latch = new CountDownLatch(1)
    sentinels.put(tag, latch)
    sc.setLocalProperty(SentinelKey, tag)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(SentinelKey, null)
    require(latch.await(60, TimeUnit.SECONDS), "listener bus did not drain")
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty(SentinelKey))) match {
      case Some(tag) => sentinelJobs.put(e.jobId, tag)
      case None =>
        val exec = props
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .map(_.toLong).getOrElse(-1L)
        jobStarts.put(e.jobId, (exec, e.time))
        e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(sentinelJobs.get(e.jobId)).flatMap(t => Option(sentinels.get(t)))
      .foreach(_.countDown())
    Option(jobStarts.get(e.jobId)).foreach { case (exec, start) =>
      jobs.add(Job(e.jobId, start, e.time, exec))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null && stageJob.containsKey(e.stageId))
      tasks.add(Task(stageJob.get(e.stageId), m.executorRunTime,
        e.taskInfo.duration, m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = {
    e match {
      case s: SparkListenerSQLExecutionStart => execStarts.put(s.executionId, s.time)
      case end: SparkListenerSQLExecutionEnd =>
        execs.add(Exec(end.executionId,
          Option(execStarts.get(end.executionId)).map(_.longValue).getOrElse(end.time),
          end.time))
        Option(queryExecution(end)).foreach { qe =>
          val out = qe.analyzed.collectFirst {
            case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toUri.getPath
          }
          plans.put(end.executionId,
                    Plan(out, qe.tracker.phases.values.map(_.durationMs).sum))
        }
      case _ =>
    }
  }

  private def inside(t: Long, within: Seq[Span]): Boolean =
    within.exists(s => t >= s.start && t <= s.end)

  /** Counters of the jobs and executions that started inside `within`. */
  def engine(within: Seq[Span]): EngineStats = {
    val js = jobs.asScala.filter(j => inside(j.start, within)).toSeq
    val ids = js.map(_.id).toSet
    val ts = tasks.asScala.filter(t => ids.contains(t.job)).toSeq
    val durs = ts.map(_.durMs).sorted
    val median =
      if (durs.isEmpty) 0.0
      else if (durs.size % 2 == 1) durs(durs.size / 2).toDouble
      else (durs(durs.size / 2 - 1) + durs(durs.size / 2)) / 2.0
    EngineStats(js.size, ts.size, ts.map(_.runMs).sum, ts.map(_.shuffleWrite).sum, ts.map(_.spill).sum,
      if (durs.isEmpty) 0L else durs.last, median,
      execs.asScala.filter(x => inside(x.start, within)).map(plan(_).planningMs).sum)
  }

  /** Child spans, one per pipeline stage, of a call that wrote its stages
    * under `outDir`. A stage's span runs from the first job or execution
    * that started after the previous stage's checkpoint write to the end
    * of its own write; work in the calling thread before that first job falls
    * between stages. */
  def stageSpans(call: Span, outDir: String): Seq[Span] = {
    val root = new java.io.File(outDir).getCanonicalPath + "/"
    def stageOf(path: String): Option[String] =
      Some(path).filter(_.startsWith(root)).map(_.stripPrefix(root).takeWhile(_ != '/'))
    val inCall = (t: Long) => t >= call.start && t <= call.end
    val execEvents = execs.asScala.toSeq.filter(x => inCall(x.start))
      .map(x => (x.start, x.end, plan(x).out.flatMap(stageOf)))
    val bareJobs = jobs.asScala.toSeq.filter(j => j.exec < 0 && inCall(j.start))
      .map(j => (j.start, j.end, Option.empty[String]))
    val events = (execEvents ++ bareJobs).sortBy(_._1)
    val out = Seq.newBuilder[Span]
    var segStart = -1L
    var lastEnd = call.start
    // an event that starts before the previous write ended ran nested in it
    for ((start, end, stage) <- events if start >= lastEnd) {
      if (segStart < 0) segStart = start
      stage.foreach { name =>
        out += Span(newId(), name, call.id, runId, segStart, end)
        segStart = -1L
        lastEnd = end
      }
    }
    // consecutive writes of one stage (a carry layer's drop set and its
    // marker) form one span
    out.result().foldLeft(List.empty[Span]) {
      case (prev :: rest, s) if prev.name == s.name => prev.copy(end = s.end) :: rest
      case (acc, s) => s :: acc
    }.reverse
  }
}

/** Collection time of every garbage collector of this JVM (in local mode
  * the executors' too), in seconds. */
object Gc {
  def seconds(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1000.0
}

/** Generated-code compile time, from Spark's codegen histogram (one
  * sample per Janino compile). The histogram keeps a sample of at most
  * 1028 values: while it holds every compile the total is exact, beyond
  * that it is the compile count times the sampled mean. */
object Codegen {
  private def h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
  def mark(): (Long, Double) = (h.getCount, h.getSnapshot.getValues.map(_.toDouble).sum)

  /** (compiles, seconds) since `m`. */
  def since(m: (Long, Double)): (Long, Double) = {
    val (c0, s0) = m
    val (c1, s1) = mark()
    val ms = if (c1 <= h.getSnapshot.size) s1 - s0 else (c1 - c0) * h.getSnapshot.getMean
    (c1 - c0, ms / 1000.0)
  }
}
