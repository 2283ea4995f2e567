package graft

import org.apache.spark.sql.functions._
import graft.testkit.CorpusGen
import graft.emit.TripleDiff

/** End-to-end gate: full pipeline on the deterministic corpus must
  * reproduce the expected triple set at P/R >= 0.95 (north rule; in fact
  * exactly 1.0 — any drift is a semantics bug, so we assert both). */
class PipelineSpec extends SparkSuite {
  import spark.implicits._

  private lazy val world = CorpusGen.default
  private lazy val seeds = world.seeds(spark)

  test("pipeline reproduces expected triples at P/R >= 0.95 (exact match)") {
    val outDir = SparkSuite.tempDir("graft-pipe")
    val triples = Pipeline.run(spark, world.pages.toDS().toDF(), seeds, outDir)
    val expected = world.expectedTriples.toDS().toDF()
    val pr = TripleDiff.diff(triples, expected)
    if (pr.precision < 1.0 || pr.recall < 1.0) {
      TripleDiff.diffByPred(triples, expected).show(50, truncate = false)
      triples.join(expected, Seq("subj", "pred", "obj", "is_literal"),
                   "left_anti").show(30, truncate = false)
      expected.join(triples, Seq("subj", "pred", "obj", "is_literal"),
                    "left_anti").show(30, truncate = false)
    }
    assert(pr.precision >= 0.95 && pr.recall >= 0.95,
           s"P/R gate failed: $pr")
    assert(pr.precision == 1.0 && pr.recall == 1.0, s"exact-match drift: $pr")
    // F9: the planted boilerplate label must not leak into any triple
    assert(triples.filter(col("subj").contains("loremipsum") ||
                          col("obj").contains("Lorem Ipsum")).count() == 0)
  }

  test("Hearst hypernym stage mines the planted prose counts") {
    val outDir = SparkSuite.tempDir("graft-hyp")
    Pipeline.run(spark, world.pages.toDS().toDF(), seeds, outDir)
    val got = spark.read.parquet(s"$outDir/hypernyms")
      .as[(String, String, Long)].collect().toSet
    assert(got == world.expectedHypernyms.toSet, s"got $got")
  }

  test("triples are written partitioned by predicate") {
    val outDir = SparkSuite.tempDir("graft-part")
    Pipeline.run(spark, world.pages.toDS().toDF(), seeds, outDir)
    val dirs = new java.io.File(s"$outDir/triples_core").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(dirs.exists(_.startsWith("pred=")), s"no pred partitions: $dirs")
    assert(dirs.size >= 3, s"expected >=3 predicate partitions, got $dirs")
  }

  test("scored ED mode ≡ CC mode at default thresholds (validity rule)") {
    // the Ada alignment component holds ONE entity at meThreshold=0.5 (the
    // 0.3-prior edge to B is cut), so greedy_clustering.py:71-77's validity
    // rule passes the whole component through — identical triples
    val outDir = SparkSuite.tempDir("graft-ed-default")
    val triples = Pipeline.run(spark, world.pages.toDS().toDF(), seeds,
      outDir, canon = Pipeline.Canonicalization.ScoredEd())
    val pr = TripleDiff.diff(triples, world.expectedTriples.toDS().toDF())
    assert(pr.precision == 1.0 && pr.recall == 1.0, s"scored-default: $pr")
  }

  test("scored ED mode splits the multi-entity component (hand-computed)") {
    // meThreshold=0.25 admits "Ada Prime"→B (0.3): two entities in one
    // component → NastyLinker split; the 0.7 path is NOT > 0.75, so the
    // "Ada Prime" mention demotes to new:adaprime (greedy_clustering.py:83-102)
    val outDir = SparkSuite.tempDir("graft-ed-split")
    val triples = Pipeline.run(spark, world.pages.toDS().toDF(), seeds,
      outDir, canon = Pipeline.Canonicalization.ScoredEd(meThreshold = 0.25))
    val expected = world.expectedTriplesScoredSplit.toDS().toDF()
    val pr = TripleDiff.diff(triples, expected)
    if (pr.precision < 1.0 || pr.recall < 1.0) {
      triples.join(expected, Seq("subj", "pred", "obj", "is_literal"),
                   "left_anti").show(30, truncate = false)
      expected.join(triples, Seq("subj", "pred", "obj", "is_literal"),
                    "left_anti").show(30, truncate = false)
    }
    assert(pr.precision >= 0.95 && pr.recall >= 0.95, s"P/R gate: $pr")
    assert(pr.precision == 1.0 && pr.recall == 1.0, s"split drift: $pr")
  }

  test("bottom-up mode ≡ CC mode at default thresholds") {
    // single selected entity per alignment component (the 0.3 B edge is
    // cut at meThreshold=0.5), so the fold's closed form is the component
    // attach — identical triples (bottomup_clustering.py:33-52)
    val outDir = SparkSuite.tempDir("graft-bu-default")
    val triples = Pipeline.run(spark, world.pages.toDS().toDF(), seeds,
      outDir, canon = Pipeline.Canonicalization.BottomUp())
    val pr = TripleDiff.diff(triples, world.expectedTriples.toDS().toDF())
    assert(pr.precision == 1.0 && pr.recall == 1.0, s"bottom-up default: $pr")
  }

  test("bottom-up mode links the ambiguous mention by argmax — no path " +
       "demotion (differs from ScoredEd at the same threshold)") {
    // meThreshold=0.25 admits "Ada Prime"→B (0.3) into the graph, but the
    // fold's ME edge is the per-mention ARGMAX (A, 0.7) and bottom-up has
    // no path threshold (bottomup_clustering.py:59-65): the mention LINKS
    // to A — the same triples as the default run, where ScoredEd at 0.25
    // demotes it to new:adaprime (the hand-computed split test above)
    val outDir = SparkSuite.tempDir("graft-bu-025")
    val triples = Pipeline.run(spark, world.pages.toDS().toDF(), seeds,
      outDir, canon = Pipeline.Canonicalization.BottomUp(meThreshold = 0.25))
    val pr = TripleDiff.diff(triples, world.expectedTriples.toDS().toDF())
    assert(pr.precision == 1.0 && pr.recall == 1.0, s"bottom-up argmax: $pr")
  }

  test("ScoredEd scoreFn seam reproduces expected triples (batched path)") {
    // the whole-DataFrame scorer override (the batched-model seam): the
    // prior expressed as a scoreFn must reproduce the default run exactly —
    // proving the Pipeline wiring, not just the AlignmentGraph-level
    // equivalence BatchedScorerSpec pins
    val outDir = SparkSuite.tempDir("graft-ed-scorefn")
    val triples = Pipeline.run(spark, world.pages.toDS().toDF(), seeds,
      outDir, canon = Pipeline.Canonicalization.ScoredEd(
        scoreFn = Some(cand => cand.withColumn("score", col("freq")))))
    val pr = TripleDiff.diff(triples, world.expectedTriples.toDS().toDF())
    assert(pr.precision == 1.0 && pr.recall == 1.0, s"scoreFn seam: $pr")
  }

  test("scored ED output is invariant to input partitioning") {
    val pagesDf = world.pages.toDS().toDF()
    def go(parts: Int, tag: String) =
      Pipeline.run(spark, pagesDf.repartition(parts), seeds,
        SparkSuite.tempDir(tag),
        canon = Pipeline.Canonicalization.ScoredEd(meThreshold = 0.25))
        .select("subj", "pred", "obj").as[(String, String, String)]
        .collect().sorted
    assert(go(1, "graft-ed-i1").sameElements(go(16, "graft-ed-i16")))
  }

  test("pipeline output is invariant to input partitioning") {
    val out1 = SparkSuite.tempDir("graft-p1")
    val out2 = SparkSuite.tempDir("graft-p2")
    val pagesDf = world.pages.toDS().toDF()
    val t1 = Pipeline.run(spark, pagesDf.repartition(1), seeds, out1)
      .select("subj", "pred", "obj").as[(String, String, String)]
      .collect().sorted
    val t2 = Pipeline.run(spark, pagesDf.repartition(16), seeds, out2)
      .select("subj", "pred", "obj").as[(String, String, String)]
      .collect().sorted
    assert(t1.sameElements(t2))
  }

  test("two captures of one url: each new entity keeps its own labels " +
       "(all three modes)") {
    // a later capture of one page holds, at the same listing positions as
    // the first, unknown labels with different alias keys — so two rows
    // share each `url#listing_key#item_idx` mention id. A new entity's
    // label counts (and its emitted rdfs:label) must come from its own
    // mentions only, never from the other capture's row with that id
    import graft.core.Normalize.aliasKeyJava
    val host = world.pages.find(_.url.contains("list-of-books")).get
    def body(name: String) = (Seq("== Extra ==") ++
      (0 until 4).map(j => s"* [[$name $j]] — extra entry.")).mkString("\n")
    val first = body("Quill Marrow")
    val later = body("Vesper Tarn")
    val pages = world.pages.map { p =>
      if (p.url == host.url)
        p.copy(html = world.htmlFor(first), text = first)
      else p
    } :+ host.copy(warc_ts = new java.sql.Timestamp(host.warc_ts.getTime + 777777L),
                   html = world.htmlFor(later), text = later)
    val planted = (for (name <- Seq("Quill Marrow", "Vesper Tarn");
                        j <- 0 until 4) yield s"$name $j")
      .map(l => s"new:${aliasKeyJava(l)}" -> l).toMap
    for ((canon, subjects) <- Seq(
           Pipeline.Canonicalization.Components -> "subjects",
           Pipeline.Canonicalization.ScoredEd() -> "subjects_ed",
           Pipeline.Canonicalization.BottomUp() -> "subjects_bu")) {
      val outDir = SparkSuite.tempDir("graft-two-captures")
      val triples = Pipeline.run(spark, pages.toDS().toDF(), seeds, outDir,
                                 canon = canon)
      // the fixture does share mention ids between differently-keyed rows
      val shared = spark.read.parquet(s"$outDir/$subjects")
        .groupBy("mention_id").agg(countDistinct("label").as("n"))
        .filter(col("n") > 1).count()
      assert(shared == 4, s"$canon: $shared shared mention ids")
      val counts = spark.read.parquet(s"$outDir/label_counts")
        .filter(col("ent").startsWith("new:"))
        .select("ent", "label").as[(String, String)].collect()
      val foreign = counts.filter { case (e, l) =>
        e.stripPrefix("new:") != aliasKeyJava(l) }
      assert(foreign.isEmpty, s"$canon: foreign labels ${foreign.toSeq}")
      assert(planted.toSet.subsetOf(counts.toSet), s"$canon: ${counts.toSeq}")
      val labels = triples
        .filter(col("pred") === graft.core.Schemas.Preds.Label &&
                col("subj").isin(planted.keys.toSeq: _*))
        .select("subj", "obj").as[(String, String)].collect().toMap
      assert(labels == planted, s"$canon: rdfs:label $labels")
    }
  }
}
