package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Pipeline
import graft.core.Schemas.Preds
import graft.testkit.CorpusGen

/** Workload `cc_head`: full `Pipeline.run` builds, in Components mode, of
  * the replicated `CorpusGen` world. A traced run follows its build with
  * `Pipeline.runDelta` over a seeded 1 % re-crawl of the same corpus.
  *
  * Why: replication creates head-entity keys and boilerplate labels that
  * F9 must suppress, and most of the time is the fixed per-stage overhead
  * of `Pipeline`/`runtime`.
  */
object CcHead {
  /** 4 leaf types x 25 countries x {list, table} pages plus the special
    * pages, replicated 4 times: 964 pages. */
  val Countries = 25
  val Replicas = 4
  val KnownPerListing = 12
  /** The warm-up corpus: the same world at 4 countries, 1 replica. */
  val WarmCountries = 4
  val WarmReplicas = 1
  /** Builds per run: one; a second would push the run past its budget. */
  val TimedBuilds = 1

  final case class Corpus(world: CorpusGen.World, suffixes: Seq[String],
                          pages: String) {
    /** The generator oracle's triples, with every provenance row expanded
      * to each replica's url, as the replica urls were rewritten. */
    def expected: Set[(String, String, String, Boolean)] =
      world.expectedTriples.flatMap { t =>
        if (t.pred == Preds.WasDerivedFrom)
          suffixes.map(s => (t.subj, t.pred, replicaUrl(t.obj, s), t.is_literal))
        else Seq((t.subj, t.pred, t.obj, t.is_literal))
      }.toSet
  }

  def replicaUrl(url: String, suffix: String): String = s"$url?rep=$suffix"

  /** Replica url suffixes, salted by the seed. */
  def suffixes(seed: Long, n: Int): Seq[String] =
    (0 until n).map(r => s"$r-" + java.lang.Long.toHexString(
      new scala.util.Random(seed * 1000003L + r).nextLong()))

  def corpus(spark: SparkSession, countries: Int, replicas: Int, seed: Long,
             path: String): Corpus = {
    import spark.implicits._
    val world = CorpusGen.World(nCountries = countries,
                                knownPerListing = KnownPerListing)
    val sfx = suffixes(seed, replicas)
    spark.createDataset(world.pages).toDF()
      .crossJoin(sfx.toDF("rep"))
      .withColumn("url", concat(col("url"), lit("?rep="), col("rep")))
      .drop("rep")
      .write.parquet(path)
    Corpus(world, sfx, path)
  }

  /** The re-crawl: a seeded 1 % of the pages get a new capture (a later
    * timestamp and an appended paragraph). Their text changes but their
    * mentions do not, so the refresh must return the build's triples. */
  def churn(spark: SparkSession, pagesPath: String, seed: Long, path: String): Unit = {
    val pages = spark.read.parquet(pagesPath)
    val n = math.max(1L, pages.count() / 100).toInt
    val urls = pages.select("url").orderBy(xxhash64(col("url"), lit(seed)))
      .limit(n).collect().map(_.getString(0))
    val changed = col("url").isin(urls.toSeq: _*)
    pages
      .withColumn("warc_ts", when(changed, col("warc_ts") + expr("INTERVAL 1 HOUR"))
        .otherwise(col("warc_ts")))
      .withColumn("html", when(changed,
          concat(col("html"), lit(" <p>updated</p>".getBytes("UTF-8"))))
        .otherwise(col("html")))
      .write.parquet(path)
  }

  /** Compares a triple table with the oracle set; counts a mismatch as a
    * failed operation. */
  def check(report: Report, what: String, triples: DataFrame,
            expected: Set[(String, String, String, Boolean)]): Unit = {
    val rows = triples.select("subj", "pred", "obj", "is_literal").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getBoolean(3)))
    val got = rows.toSet
    report.check(what, rows.length == got.size && got == expected,
      s"(${rows.length} rows, ${got.size} distinct, ${expected.size} expected, " +
      s"${(got -- expected).size} extra, ${(expected -- got).size} missing)")
  }

  /** A timed call and the outDir it wrote. */
  final case class Call(span: Span, dir: String)

  private def timed[A](tracer: Tracer, name: String)(f: => A): (Span, A) = {
    val start = System.currentTimeMillis()
    val a = f
    (tracer.add(Span(tracer.newId(), name, -1, tracer.runId, start,
                     System.currentTimeMillis())), a)
  }

  /** `Pipeline.run` over `c` into `dir`, checked against the oracle. */
  def build(spark: SparkSession, c: Corpus, seeds: Pipeline.Seeds, dir: String,
            report: Report, tracer: Tracer): Call = {
    val (span, out) = timed(tracer, "Pipeline.run") {
      report.attempt("build") {
        Pipeline.run(spark, spark.read.parquet(c.pages), seeds, dir, "build")
      }
    }
    out.foreach(t => check(report, "build", t, c.expected))
    Call(span, dir)
  }

  def run(spark: SparkSession, args: RunArgs, report: Report,
          setupDone: Unit => Unit): Unit = {
    val tracer = new Tracer(spark, s"cc_head-${args.seed}")
    val c = corpus(spark, Countries, Replicas, args.seed, args.dir("pages"))
    val seeds = c.world.seeds(spark)
    // warm-up: a full build of the small corpus. Measured at 4 threads on
    // 964 pages, the first build takes 46 s cold, 29-43 s after a warm-up
    // of the per-page prefix only, and 17-21 s after this one.
    val warm = corpus(spark, WarmCountries, WarmReplicas, args.seed, args.dir("warm-pages"))
    build(spark, warm, warm.world.seeds(spark), args.dir("warm-build"), report, tracer)
    // a traced run also profiles the ops layer, which this workload's own
    // calls never reach, on the small tables; one pass over them warms it
    if (args.trace) {
      Queries.writeOracles(args.work)
      Queries.pass(spark, s"${args.tables}/warm", args.dir("out/warm"), report, tracer, -1)
    }
    setupDone(())
    if (args.trace) {
      // the traced build mirrors an untraced run's; the refresh follows it
      tracer.attach()
      val (mark, gc0) = (Codegen.mark(), Gc.seconds())
      val b = build(spark, c, seeds, args.dir("traced-build"), report, tracer)
      val r = refresh(spark, c, seeds, b, args, report, tracer)
      val (codegen, gc) = (Codegen.since(mark), Gc.seconds() - gc0)
      tracer.sync()
      Layers.engine(report, tracer.engine(Seq(b.span, r.span)), Seq(b.span, r.span),
                    codegen, gc)
      profile(spark, report, tracer, b, r)
      Layers.overhead(report, tracer)(tag => prefix(spark, warm, args.dir(tag)))
      Queries.profile(report, Queries.pass(spark, s"${args.tables}/warm",
        args.dir("out/ops"), report, tracer, tracer.newId()))
      tracer.dump(report)
    } else {
      val builds = Loop.repeat(args.seconds, TimedBuilds)(i =>
        build(spark, c, seeds, args.dir(s"build-$i"), report, tracer))
      report.metric("build_s", Loop.median(builds.map(_.span.seconds)), "s")
      report.log += "build walls (s): " + builds.map(b => f"${b.span.seconds}%.3f").mkString(" ")
    }
  }

  /** The refresh of build `b`: `Pipeline.runDelta` over a seeded 1 %
    * re-crawl of `c`, checked against the same oracle. */
  private def refresh(spark: SparkSession, c: Corpus, seeds: Pipeline.Seeds,
                      b: Call, args: RunArgs, report: Report, tracer: Tracer): Call = {
    val churned = b.dir + "-recrawl"
    val dir = b.dir + "-refresh"
    churn(spark, c.pages, args.seed, churned)
    val (span, out) = timed(tracer, "Pipeline.runDelta") {
      report.attempt("refresh") {
        Pipeline.runDelta(spark, spark.read.parquet(churned), seeds, dir, b.dir, "refresh")
      }
    }
    out.foreach(t => check(report, "refresh", t, c.expected))
    Call(span, dir)
  }

  /** The per-page prefix of the pipeline (`TextExtract.extract` →
    * `ListingExtract.mentions` → `AliasLink.linkAll`) over `c`, written to
    * `out`. */
  private def prefix(spark: SparkSession, c: Corpus, out: String): Unit = {
    val aliases = c.world.seeds(spark).aliases
    val dict = graft.link.AliasLink.bestPerKey(graft.link.AliasLink.buildDict(aliases))
      .drop("is_hot")
    val text = graft.ingest.TextExtract.extract(spark.read.parquet(c.pages))
    val mentions = graft.listings.ListingExtract.mentions(text)
    graft.link.AliasLink.linkAll(mentions, dict, dictPrepared = true)
      .write.parquet(out)
  }

  /** The pipeline layers for the `queries` workload's traced run, whose
    * own calls never reach them: builds the warm-up corpus once, to warm
    * them, and returns the call that builds and refreshes it again and
    * profiles that build and refresh. The warm-up is a build only: a
    * refresh costs ~30 s more, and the refresh runs the build's stages in
    * their carry-layer form. (Measured on 4 threads in this traced run,
    * the build and refresh took 19.6 and 27.5 s without a warm-up, 19.8
    * and 30.3 s after one build and refresh.) */
  def smallProfile(spark: SparkSession, args: RunArgs, report: Report,
                   tracer: Tracer): () => Unit = {
    val c = corpus(spark, WarmCountries, WarmReplicas, args.seed, args.dir("small-pages"))
    val seeds = c.world.seeds(spark)
    build(spark, c, seeds, args.dir("small-warm"), report, tracer)
    () => {
      val b = build(spark, c, seeds, args.dir("small-build"), report, tracer)
      val r = refresh(spark, c, seeds, b, args, report, tracer)
      tracer.sync()
      profile(spark, report, tracer, b, r)
    }
  }

  /** Module of a pipeline stage (its checkpoint name, without the delta
    * suffixes). */
  def moduleOf(stage: String): String =
    stage.stripSuffix("_fresh").stripSuffix("_affected") match {
      case "crawl_manifest" | "seeds_fp" | "pages_text" => "ingest"
      case "mentions" => "listings"
      case "linked_all" | "linked" => "link"
      case "hypernyms_by_url" | "hypernyms" => "mine"
      case "unlinked_label_counts" | "nil_entities" | "subjects" |
           "graph_canon_fp" => "canonical"
      case s if s.startsWith("subjects_") || s.startsWith("ed_") ||
                s.startsWith("bu_") => "canonical"
      case "subject_listings" | "type_rules" | "relation_rules" => "taxonomy.rules"
      case "tag_stats" | "valid_tags" | "type_cand_counts" | "rel_cand_counts" |
           "types" | "relations" | "axioms" | "restriction_facts" => "taxonomy.inference"
      case "label_counts" | "prov_pairs" | "triples_prov" | "triples_core" |
           "ontology_meta" => "emit"
      case _ => "other"
    }

  private final case class Lineage(stage: String, rowsOut: Long, wallMs: Long,
                                   loopRounds: Long)

  /** A call's `_lineage` stage rows in append order (the row files are
    * named `lineage-<nanoTime>-<seq>`). */
  private def lineage(spark: SparkSession, outDir: String): Seq[Lineage] =
    spark.read.parquet(s"$outDir/_lineage")
      .select(input_file_name(), col("stage"), col("rows_out"), col("wall_ms"),
              col("loop_rounds"))
      .collect().toSeq
      .sortBy(r => r.getString(0).split("lineage-").last.split('-').head.toLong)
      .map(r => Lineage(r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .filterNot(_.stage.contains('/')) // per-partition rows of a stage

  /** Stage spans, module self times, `runtime.*` and the span/lineage
    * consistency check of a traced build and its refresh. */
  def profile(spark: SparkSession, report: Report, tracer: Tracer, build: Call,
              refresh: Call): Unit = {
    val calls = Seq(build, refresh)
    val stageSpans = calls.flatMap(c => tracer.stageSpans(c.span, c.dir).map(tracer.add))
    val lin = calls.map(c => c -> lineage(spark, c.dir))
    val allLin = lin.flatMap(_._2)
    val stageWall = allLin.map(_.wallMs).sum / 1000.0
    val callWall = calls.map(_.span.seconds).sum
    report.metric("runtime.refresh_s", refresh.span.seconds, "s")
    report.metric("runtime.stage_wall_s", stageWall, "s")
    report.metric("runtime.between_stages_s", callWall - stageWall, "s")
    report.metric("runtime.stages", allLin.size, "count")
    report.metric("runtime.carried_stages",
      new java.io.File(refresh.dir).listFiles().count(d =>
        new java.io.File(d, "_layer").isFile).toDouble, "count")
    report.metric("runtime.fresh_rows", lin.drop(1).flatMap(_._2)
      .filter(_.stage.endsWith("_fresh")).map(_.rowsOut).sum.toDouble, "count")
    val byModule = stageSpans.groupBy(s => moduleOf(s.name))
      .map { case (m, ss) => m -> ss.map(_.seconds).sum }
    Seq("ingest" -> "ingest.extract_s", "listings" -> "listings.mentions_s",
        "link" -> "link.link_s", "mine" -> "mine.hypernyms_s",
        "canonical" -> "canonical.subjects_s", "taxonomy.rules" -> "taxonomy.rules_s",
        "taxonomy.inference" -> "taxonomy.inference_s", "emit" -> "emit.triples_s")
      .foreach { case (m, name) => report.metric(name, byModule.getOrElse(m, 0.0), "s") }
    val linked = spark.read.parquet(s"${build.dir}/linked_all")
      .agg(count(col("ent")), count(lit(1))).head()
    report.metric("link.linked_share", linked.getLong(0).toDouble / linked.getLong(1), "ratio")
    report.metric("canonical.loop_rounds",
      allLin.map(_.loopRounds).filter(_ > 0).sum.toDouble, "count")

    // the profile: per-stage spans against _lineage, and self time by module
    val log = report.log
    for ((Call(call, _), rows) <- lin) {
      val spans = stageSpans.filter(_.parent == call.id)
      val spanOf = spans.map(s => s.name -> s.seconds).toMap
      log += f"${call.name} ${call.seconds}%.3f s, ${rows.size} stages:"
      log += f"  ${"stage"}%-26s ${"module"}%-20s ${"span_s"}%8s ${"lineage_s"}%9s"
      rows.foreach { l =>
        log += f"  ${l.stage}%-26s ${moduleOf(l.stage)}%-20s " +
          f"${spanOf.getOrElse(l.stage, 0.0)}%8.3f ${l.wallMs / 1000.0}%9.3f"
      }
      val sumSpans = spans.map(_.seconds).sum
      val sumLin = rows.map(_.wallMs).sum / 1000.0
      val between = call.seconds - sumLin
      log += f"  stage spans $sumSpans%.3f s + between stages $between%.3f s = " +
        f"${sumSpans + between}%.3f s; call ${call.seconds}%.3f s; " +
        f"stage spans vs _lineage: ${sumSpans - sumLin}%+.3f s"
    }
    log += "self time by module (s): " + (byModule.toSeq :+
      ("runtime" -> (callWall - stageSpans.map(_.seconds).sum))).sortBy(_._1)
      .map { case (m, s) => f"$m=$s%.3f" }.mkString(" ")
  }
}
