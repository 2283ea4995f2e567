package graft

import org.apache.spark.sql.functions._
import graft.testkit.CorpusGen

/** Resumability (north rule): kill-and-resume re-executes only missing
  * stages and yields an identical final snapshot; lineage records both. */
class ResumeSpec extends SparkSuite {
  import spark.implicits._

  private lazy val world = CorpusGen.default
  private def seeds = world.seeds(spark)

  private def rm(p: java.io.File): Unit = {
    if (p.isDirectory) p.listFiles.foreach(rm); p.delete()
  }

  test("resume after simulated mid-pipeline kill reproduces the snapshot") {
    val outDir = SparkSuite.tempDir("graft-resume")
    val pagesDf = world.pages.toDS().toDF()
    val first = Pipeline.run(spark, pagesDf, seeds, outDir, runId = "run-1")
      .select("subj", "pred", "obj").as[(String, String, String)]
      .collect().sorted

    // simulate a crash that lost the late stages
    Seq("types", "relations", "triples_core", "triples_prov").foreach(s =>
      rm(new java.io.File(s"$outDir/$s")))

    val second = Pipeline.run(spark, pagesDf, seeds, outDir, runId = "run-2")
      .select("subj", "pred", "obj").as[(String, String, String)]
      .collect().sorted
    assert(first.sameElements(second))

    // lineage: run-2 must have SKIPPED the early stages and RE-RUN the rest
    val lin = spark.read.parquet(s"$outDir/_lineage")
      .filter(col("run_id") === "run-2")
      .select("stage", "resumed").as[(String, Boolean)].collect().toMap
    assert(lin("pages_text") && lin("mentions") && lin("linked_all"),
           s"early stages should resume: $lin")
    assert(!lin("types") && !lin("relations") && !lin("triples_core") &&
             !lin("triples_prov"),
           s"late stages should re-run: $lin")
  }

  test("a run that failed mid-graph resumes to the expected triples") {
    // the run header is committed before any stage, so the stages a
    // failed run committed are resumed by the retry, not refused
    val failInPagesText = udf { (html: Array[Byte]) =>
      val job = org.apache.spark.TaskContext.get()
        .getLocalProperty("spark.job.description")
      if (job != null && job.endsWith(" pages_text"))
        throw new IllegalStateException("pages_text failed")
      html
    }
    val pagesDir = SparkSuite.tempDir("graft-resume-fail-pages")
    world.pages.toDS().toDF().write.mode("overwrite").parquet(pagesDir)
    val outDir = SparkSuite.tempDir("graft-resume-fail")
    intercept[Exception] {
      Pipeline.run(spark, spark.read.parquet(pagesDir)
                     .withColumn("html", failInPagesText(col("html"))),
                   seeds, outDir, runId = "run-1")
    }
    assert(new java.io.File(outDir, "_run_fp").isFile)
    assert(!graft.runtime.StageRunner.completed(spark, outDir, "pages_text"))
    val triples = Pipeline.run(spark, spark.read.parquet(pagesDir), seeds,
                               outDir, runId = "run-2")
    val pr = graft.emit.TripleDiff.diff(triples,
                                        world.expectedTriples.toDS().toDF())
    assert(pr.precision == 1.0 && pr.recall == 1.0, s"resume drift: $pr")
  }

  test("re-running a complete outDir resumes every stage, triples_core too") {
    val outDir = SparkSuite.tempDir("graft-rerun")
    val pagesDf = world.pages.toDS().toDF()
    Pipeline.run(spark, pagesDf, seeds, outDir, runId = "run-1")
    Pipeline.run(spark, pagesDf, seeds, outDir, runId = "run-2")
    def lineageOf(runId: String) = spark.read.parquet(s"$outDir/_lineage")
      .filter(col("run_id") === runId)
      .select("stage", "resumed").as[(String, Boolean)].collect()
    val lin = lineageOf("run-2")
    assert(lin.map(_._1).contains("triples_core"), lin.toSeq)
    assert(lin.forall(_._2), s"stages re-run: ${lin.filterNot(_._2).toSeq}")
    // a resumed run records every stage the first run did (tag_stats too)
    val first = lineageOf("run-1").map(_._1).toSet
    assert(lin.map(_._1).toSet == first,
           s"missing: ${first -- lin.map(_._1)}, extra: ${lin.map(_._1).toSet -- first}")
  }

  test("two default-id runs into one outDir record two run ids") {
    val outDir = SparkSuite.tempDir("graft-resume-ids")
    val pagesDf = world.pages.toDS().toDF()
    def runIds = spark.read.parquet(s"$outDir/_lineage")
      .select("run_id").distinct().as[String].collect().toSet
    Pipeline.run(spark, pagesDf, seeds, outDir)
    val first = runIds
    Pipeline.run(spark, pagesDf, seeds, outDir)
    val second = runIds -- first
    assert(first.size == 1 && second.size == 1, s"run ids: $first, $second")
    // every row of the second run is a resumed stage
    val resumed = spark.read.parquet(s"$outDir/_lineage")
      .filter(col("run_id") === second.head)
      .select("resumed").as[Boolean].collect()
    assert(resumed.nonEmpty && resumed.forall(identity),
           s"rows of the second run: ${resumed.toSeq}")
  }

  test("losing concurrent branches re-runs exactly those stages") {
    val outDir = SparkSuite.tempDir("graft-resume-branches")
    val pagesDf = world.pages.toDS().toDF()
    def triples(runId: String) =
      Pipeline.run(spark, pagesDf, seeds, outDir, runId = runId)
        .select("subj", "pred", "obj").as[(String, String, String)]
        .collect().sorted
    val first = triples("run-1")
    // three stages on side branches of the graph: hypernym mining, the
    // relation branch and the axioms (their consumers stay committed)
    val lost = Set("hypernyms", "relations", "axioms")
    lost.foreach(s => rm(new java.io.File(s"$outDir/$s")))
    val second = triples("run-2")
    assert(first.sameElements(second))
    val rerun = spark.read.parquet(s"$outDir/_lineage")
      .filter(col("run_id") === "run-2" && !col("resumed"))
      .select("stage").as[String].collect().toSet
    assert(rerun == lost, s"re-ran: $rerun")
  }

  for ((tag, canon) <- Seq("ed" -> Pipeline.Canonicalization.ScoredEd(),
                           "bu" -> Pipeline.Canonicalization.BottomUp()))
    test(s"losing subjects_$tag re-runs it from the recorded key counts") {
      val outDir = SparkSuite.tempDir(s"graft-resume-$tag")
      val pagesDf = world.pages.toDS().toDF()
      def triples(runId: String) =
        Pipeline.run(spark, pagesDf, seeds, outDir, runId = runId,
                     canon = canon)
          .select("subj", "pred", "obj").as[(String, String, String)]
          .collect().sorted
      val first = triples("run-1")
      // the subjects stage and every stage downstream of it; the key-count
      // view the recompute reads its hot set from stays
      val lost = Set(s"subjects_$tag", s"${tag}_components",
                     "subject_listings", "type_rules", "relation_rules",
                     "label_counts", "type_cand_counts", "rel_cand_counts",
                     "prov_pairs", "types", "relations", "axioms",
                     "restriction_facts", "triples_core", "triples_prov",
                     "ontology_meta")
      lost.foreach(s => rm(new java.io.File(s"$outDir/$s")))
      val second = triples("run-2")
      assert(first.sameElements(second))
      val lin = spark.read.parquet(s"$outDir/_lineage")
        .filter(col("run_id") === "run-2" && !col("stage").contains("/"))
        .select("stage", "resumed").as[(String, Boolean)].collect().toMap
      assert(lin(s"${tag}_key_counts"), s"key counts should resume: $lin")
      assert(lin.filterNot(_._2).keySet == lost, s"re-ran: $lin")
    }

  test("file:// URI outDirs resume a completed stage and commit a layer") {
    import graft.runtime.{Drops, StageRunner}
    val prev = "file://" + SparkSuite.tempDir("graft-uri-prev")
    val out = "file://" + SparkSuite.tempDir("graft-uri-out")
    new StageRunner(spark, prev, "r1").run("t") {
      Seq(("a", 1), ("b", 2)).toDF("url", "v")
    }
    val again = new StageRunner(spark, prev, "r2")
    again.run("t") { sys.error("a completed stage must not re-run") }
    assert(again.lineage().filter(col("run_id") === "r2")
      .select("resumed").as[Boolean].collect().toSeq == Seq(true))
    val delta = new StageRunner(spark, out, "d1")
    delta.run("t_fresh") { Seq(("b", 3), ("c", 4)).toDF("url", "v") }
    val carried = delta.runCarried("t", prev, Seq("url"),
                                   Drops(Seq("b").toDF("url"), small = false),
                                   "t_fresh")
    assert(StageRunner.layerDepth(spark, s"$out/t") == 1)
    assert(carried.select("url", "v").as[(String, Int)].collect().toSet ==
             Set(("a", 1), ("b", 3), ("c", 4)))
    // one directory in two spellings is still the same outDir
    val e = intercept[IllegalArgumentException] {
      Pipeline.runDelta(spark, world.pages.toDS().toDF(), seeds,
                        prev, prev.stripPrefix("file://"))
    }
    assert(e.getMessage.contains("outDir must differ"))
  }

  test("partition backfill rewrites only the targeted predicate partition") {
    import graft.runtime.StageRunner
    val dir = SparkSuite.tempDir("graft-backfill")
    val r1 = new StageRunner(spark, dir, "t1")
    r1.runPartitioned("tp", "pred") {
      Seq(("a", "rdf:type", 1), ("b", "rdfs:label", 2))
        .toDF("subj", "pred", "v")
    }
    val labelDir = new java.io.File(s"$dir/tp/pred=rdfs%3Alabel")
    val beforeFiles = labelDir.listFiles().map(f => f.getName -> f.lastModified).toMap
    // simulate a damaged/missing type partition + stale success marker
    rm(new java.io.File(s"$dir/tp/pred=rdf%3Atype"))
    new java.io.File(s"$dir/tp/_SUCCESS").delete()
    // backfill ONLY the type partition
    val r2 = new StageRunner(spark, dir, "t2")
    r2.runPartitioned("tp", "pred") {
      Seq(("a", "rdf:type", 99)).toDF("subj", "pred", "v")
    }
    // the label partition's files are byte-for-byte untouched
    val afterFiles = labelDir.listFiles().map(f => f.getName -> f.lastModified).toMap
    assert(afterFiles == beforeFiles)
    // and the table now holds the old label row + the new type row
    val got = spark.read.parquet(s"$dir/tp")
      .select("subj", "pred", "v").as[(String, String, Int)]
      .collect().toSet
    assert(got == Set(("a", "rdf:type", 99), ("b", "rdfs:label", 2)))
  }

  test("a truncated uncommitted lineage file does not break lineage()") {
    import graft.runtime.StageRunner
    val dir = SparkSuite.tempDir("graft-lineage-crash")
    val runner = new StageRunner(spark, dir, "t1")
    runner.run("a") { Seq(1, 2).toDF("v") }
    // a crash mid-append leaves the dot-prefixed temp file behind
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "_lineage", ".lineage-1-1.snappy.parquet"),
      Array[Byte]('P', 'A', 'R', '1', 0, 1, 2))
    runner.run("b") { Seq(3).toDF("v") }
    val stages = runner.lineage().select("stage").as[String].collect()
    assert(stages.sorted.toSeq == Seq("a", "b"))
    // committed appends leave no temp file of their own
    val temps = new java.io.File(dir, "_lineage").list()
      .filter(n => n.startsWith(".") && n.endsWith(".parquet"))
    assert(temps.toSeq == Seq(".lineage-1-1.snappy.parquet"))
  }

  test("per-partition lineage rows exist for the triple table") {
    val outDir = SparkSuite.tempDir("graft-lin")
    Pipeline.run(spark, world.pages.toDS().toDF(), seeds, outDir)
    val parts = spark.read.parquet(s"$outDir/_lineage")
      .filter(col("stage").startsWith("triples_core/pred="))
      .select("stage").as[String].collect()
    assert(parts.length >= 3, s"per-pred lineage missing: ${parts.toSeq}")
    // iterative stages surface their loop rounds + convergence in lineage
    // (north-rule counters: truncation must be observable, not just logged)
    val lin = spark.read.parquet(s"$outDir/_lineage")
      .select("stage", "loop_rounds", "converged")
      .as[(String, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // Components canonicalization is a closed-form projection (the
    // mention↔key graph is degree-1-bipartite) — subjects must report
    // NON-iterative
    assert(lin("subjects")._1 == -1L && lin("subjects")._2,
           s"subjects counters: ${lin("subjects")}")
    assert(lin("types")._1 >= 1 && lin("types")._2, // taxonomy closure loop
           s"types counters: ${lin("types")}")
    assert(lin("pages_text")._1 == -1L) // non-iterative stages stay unmarked
    // the NastyLinker loop reports through the same seam
    val rep = new graft.runtime.LoopReport
    graft.canonical.NastyLinker.cluster(
      Seq(("m:1", "e:a", 0.9), ("m:1", "e:b", 0.8), ("m:2", "m:1", 1.0))
        .toDF("src", "dst", "weight"), report = rep)
      .count()
    assert(rep.rounds >= 1 && rep.converged, s"(${rep.rounds}, ${rep.converged})")
  }
}
