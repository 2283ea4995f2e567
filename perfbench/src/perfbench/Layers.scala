package perfbench

/** Spark engine metrics of a traced run's timed calls. */
object Layers {
  def engine(report: Report, s: EngineStats, calls: Seq[Span],
             codegen: (Long, Double), gcSeconds: Double): Unit = {
    val wallMs = calls.map(c => c.end - c.start).sum.toDouble
    report.metric("spark.jobs", s.jobs, "count")
    report.metric("spark.tasks", s.tasks, "count")
    report.metric("spark.busy_share", s.runMs / (wallMs * Main.Threads), "ratio")
    report.metric("spark.shuffle_write_mb", s.shuffleWriteBytes / 1048576.0, "MB")
    report.metric("spark.spill_mb", s.spillBytes / 1048576.0, "MB")
    report.metric("spark.gc_s", gcSeconds, "s")
    report.metric("spark.task_skew",
      if (s.medianTaskMs > 0) s.maxTaskMs / s.medianTaskMs else 0.0, "ratio")
    report.metric("sql.planning_s", s.planningMs / 1000.0, "s")
    report.metric("sql.codegen_s", codegen._2, "s")
    report.log += f"engine: ${s.jobs} jobs, ${s.tasks} tasks, ${codegen._1} code " +
      f"compiles (${codegen._2}%.3f s), planning ${s.planningMs / 1000.0}%.3f s"
  }

  /** Pairs of calls behind `trace.overhead_s`. */
  val OverheadPairs = 3

  /** `trace.overhead_s`: the median, over [[OverheadPairs]] pairs, of the
    * traced minus the untraced wall of `call`. An untimed call warms it
    * first, and the pairs alternate which side runs first, so that neither
    * side is the warmer one. `call` is short: a pair of pipeline builds
    * would cost ~40 s more per traced run, and their run-to-run spread
    * (~1 s) exceeds the listener's cost. */
  def overhead(report: Report, tracer: Tracer)(call: String => Unit): Unit = {
    def wall(attached: Boolean, tag: String): Double = {
      if (attached) tracer.attach() else tracer.detach()
      val t0 = System.nanoTime()
      call(tag)
      (System.nanoTime() - t0) / 1e9
    }
    wall(attached = false, "twin-warm")
    val diffs = (0 until OverheadPairs).map { i =>
      val first = wall(attached = i % 2 == 1, s"twin-$i-a")
      val second = wall(attached = i % 2 == 0, s"twin-$i-b")
      if (i % 2 == 0) second - first else first - second
    }
    report.metric("trace.overhead_s", Loop.median(diffs), "s")
    report.log += "trace overhead per pair (s): " +
      diffs.map(d => f"$d%+.3f").mkString(" ")
  }
}

/** The timed region's loop. */
object Loop {
  /** Runs `f` at least `times` times and until `seconds` have passed. */
  def repeat[A](seconds: Double, times: Int)(f: Int => A): Seq[A] = {
    val t0 = System.nanoTime()
    val out = Seq.newBuilder[A]
    var i = 0
    while (i < times || (System.nanoTime() - t0) / 1e9 < seconds) {
      out += f(i)
      i += 1
    }
    out.result()
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
