package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Workload `queries`: the query library (`graft.SparkEntry.queries`) over
  * seeded tables of the sf0.1 shape at 1/10 of its rows (`tables.py`).
  *
  * Why: the `ops` layer and its pins are touched by no other workload.
  *
  * A full pass of all 73 timed queries costs ~50 s warm and ~80 s cold on
  * 4 threads, almost all of it fixed per-query overhead, which does not fit
  * the benchmark's run budget. The workload therefore runs one query per
  * ops family, so that every family is measured: a pass runs each once
  * over the seeded tables. perfbench/README.md lists their walls beside
  * their walls over sf0.1. Every output is written as parquet and compared
  * with the query's DuckDB oracle (`SparkEntry.oracleSql`) by `run.py`.
  */
object Queries {

  /** (query, ops family). The family is the object implementing it. */
  val Selected: Seq[(String, String)] = Seq(
    "g9_connected_components" -> "relational",
    "f9_frequent_label"       -> "mining",
    "ed_alignment_edges"      -> "kg",
    "dedup_minhash_lsh"       -> "dedup",
    "ann_ivf_topk"            -> "ann",
    "text_quality_score"      -> "text",
    "sample_split_assign"     -> "sampling",
    "nif_context_roundtrip"   -> "nif",
    "stream_sessionize"       -> "streaming",
    "xml_pages_roundtrip"     -> "other")

  val Families: Seq[String] = Selected.map(_._2).distinct

  /** Passes per run; `build_s` is their median. */
  val TimedPasses = 2

  /** Runs every selected query once over `tables`, writing each result to
    * `<out>/<query>`; returns the query spans. Each output is listed in
    * `checks.txt` for the oracle comparison. */
  def pass(spark: SparkSession, tables: String, out: String, report: Report,
           tracer: Tracer, parent: Int): Seq[Span] = {
    val all = graft.SparkEntry.queries
    Selected.flatMap { case (name, _) =>
      val start = System.currentTimeMillis()
      report.attempt(s"query $name") {
        all(name)(spark, tables).write.mode("overwrite").parquet(s"$out/$name")
      }.map { _ =>
        val s = Span(tracer.newId(), name, parent, tracer.runId, start,
                     System.currentTimeMillis())
        Files.write(Paths.get(out).getParent.resolve("checks.txt"),
          s"$name\t$tables\t$out/$name\n".getBytes(UTF_8),
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.APPEND)
        tracer.add(s)
      }
    }
  }

  /** Writes `oracles.json`: the oracle SQL of every selected query. */
  def writeOracles(work: String): Unit = {
    def esc(s: String) = s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case '\r' => "\\r"; case '\t' => "\\t"; case c => c.toString
    }
    val sql = graft.SparkEntry.oracleSql
    val json = Selected.map { case (n, _) => s""""$n":"${esc(sql(n))}"""" }
      .mkString("{", ",", "}")
    Files.write(Paths.get(work, "oracles.json"), json.getBytes(UTF_8))
  }

  def run(spark: SparkSession, args: RunArgs, report: Report,
          setupDone: Unit => Unit): Unit = {
    writeOracles(args.work)
    val tracer = new Tracer(spark, s"queries-${args.seed}")
    // warm-up: one pass over the small tables
    pass(spark, s"${args.tables}/warm", args.dir("out/warm"), report, tracer, -1)
    // a traced run also profiles the pipeline layers, which this workload's
    // own calls never reach, on a build and refresh of the small corpus;
    // one build of it warms them here
    val pipeline = if (args.trace) Some(CcHead.smallProfile(spark, args, report, tracer))
                   else None
    setupDone(())
    def timedPass(tag: String): (Span, Seq[Span]) = {
      val id = tracer.newId()
      val start = System.currentTimeMillis()
      val qs = pass(spark, s"${args.tables}/base", args.dir(s"out/$tag"), report,
                    tracer, id)
      (tracer.add(Span(id, "queries.pass", -1, tracer.runId, start,
                       System.currentTimeMillis())), qs)
    }
    if (args.trace) {
      // the traced pass mirrors an untraced run's
      tracer.attach()
      val (mark, gc0) = (Codegen.mark(), Gc.seconds())
      val (p, qs) = timedPass("traced")
      val (codegen, gc) = (Codegen.since(mark), Gc.seconds() - gc0)
      tracer.sync()
      Layers.engine(report, tracer.engine(Seq(p)), Seq(p), codegen, gc)
      profile(report, qs)
      val (twin, _) = Selected.head
      Layers.overhead(report, tracer)(tag =>
        graft.SparkEntry.queries(twin)(spark, s"${args.tables}/warm")
          .write.parquet(args.dir(s"out/$tag")))
      pipeline.foreach(_())
      tracer.dump(report)
    } else {
      val passes = Loop.repeat(args.seconds, TimedPasses)(i => timedPass(s"p$i"))
      report.metric("build_s", Loop.median(passes.map(_._1.seconds)), "s")
      report.log += "pass walls (s): " + passes.map(p => f"${p._1.seconds}%.3f").mkString(" ")
      report.log += "median query walls (s): " + Selected.map { case (q, _) =>
        f"$q=${Loop.median(passes.flatMap(_._2).filter(_.name == q).map(_.seconds))}%.3f"
      }.mkString(" ")
    }
  }

  /** `ops.<family>_s`: the family's share of one pass (the spans given),
    * and the slowest single query of it. */
  def profile(report: Report, spans: Seq[Span]): Unit = {
    val family = Selected.toMap
    Families.foreach { f =>
      report.metric(s"ops.${f}_s",
        spans.filter(s => family.get(s.name).contains(f)).map(_.seconds).sum, "s")
    }
    report.metric("ops.query_max_s",
      if (spans.isEmpty) 0.0 else spans.map(_.seconds).max, "s")
    report.log += "query spans (s): " +
      spans.map(s => f"${s.name}=${s.seconds}%.3f").mkString(" ")
  }
}
