package graft

import java.sql.Timestamp
import graft.core.Schemas.Page
import graft.emit.TripleDiff
import graft.testkit.CorpusGen

/** Incremental re-crawl processing ([[Pipeline.runDelta]]): a delta run over
  * a new crawl snapshot must emit EXACTLY the triples a full run over that
  * snapshot emits, while sending only changed/added captures through the
  * per-page extract→parse→link prefix. The scenario exercises all three
  * delta classes at once: a page ADDED since the previous crawl, a page
  * MODIFIED (new capture timestamp, different body), and a page DELETED
  * (present before, absent now — its stale content must not leak). */
class DeltaSpec extends SparkSuite {
  import spark.implicits._

  private lazy val world = CorpusGen.default
  private lazy val seeds = world.seeds(spark)

  /** Previous crawl: v2 minus one listing page (added later), with one
    * page's earlier capture carrying a DIFFERENT body (modified since),
    * plus one page v2 no longer contains (deleted). The stale bodies plant
    * unique unknown labels (3+ items each, passing the usefulness filter)
    * so any carry-over bug leaks `new:stale.../new:ghost...` triples and
    * the exact-match gate fails loudly. */
  private def previousCrawl(v2: Seq[Page]): (Seq[Page], String, String) = {
    val addedUrl = v2.find(_.url.contains("table-of-scientists")).get.url
    val modifiedUrl = v2.find(_.url.contains("list-of-artists")).get.url
    val staleBody = (Seq("== Old items ==") ++
      (0 until 4).map(j => s"* [[Stale Thing $j]] — superseded entry."))
      .mkString("\n")
    // the prose sentence plants a Hearst pair ONLY this page evidences:
    // the delta's hypernym maintenance must subtract it to exactly zero
    val ghostBody = (Seq("A ghost is a spook.", "== Ghosts ==") ++
      (0 until 4).map(j => s"* [[Ghost Label $j]] — removed entry."))
      .mkString("\n")
    val deleted = Page("https://example.org/deleted-page",
      new Timestamp(1600000000000L), world.htmlFor(ghostBody), ghostBody, "en")
    val v1 = v2.filterNot(_.url == addedUrl).map { p =>
      if (p.url == modifiedUrl)
        p.copy(warc_ts = new Timestamp(p.warc_ts.getTime - 999999L),
               html = world.htmlFor(staleBody), text = staleBody)
      else p
    } :+ deleted
    (v1, addedUrl, modifiedUrl)
  }

  test("delta over a re-crawl == full run over the new crawl (exact)") {
    val v2 = world.pages
    val (v1, _, _) = previousCrawl(v2)
    val prevDir = SparkSuite.tempDir("graft-delta-prev")
    val outDir = SparkSuite.tempDir("graft-delta-out")
    Pipeline.run(spark, v1.toDS().toDF(), seeds, prevDir)
    val triples = Pipeline.runDelta(spark, v2.toDS().toDF(), seeds,
                                    outDir, prevDir)
    val expected = world.expectedTriples.toDS().toDF()
    val pr = TripleDiff.diff(triples, expected)
    if (pr.precision < 1.0 || pr.recall < 1.0) {
      triples.join(expected, Seq("subj", "pred", "obj", "is_literal"),
                   "left_anti").show(30, truncate = false)
      expected.join(triples, Seq("subj", "pred", "obj", "is_literal"),
                    "left_anti").show(30, truncate = false)
    }
    assert(pr.precision == 1.0 && pr.recall == 1.0, s"delta drift: $pr")
    // the stale/deleted bodies must leave no trace
    assert(triples.filter(org.apache.spark.sql.functions.col("subj")
      .contains("stalething")).count() == 0)
    assert(triples.filter(org.apache.spark.sql.functions.col("subj")
      .contains("ghostlabel")).count() == 0)
    // the delta-maintained hypernym counts equal the full-run aggregate
    val hyp = spark.read.parquet(s"$outDir/hypernyms")
      .as[(String, String, Long)].collect().toSet
    assert(hyp == world.expectedHypernyms.toSet, s"maintained counts: $hyp")
    // work saved: only the added + modified pages were parsed
    val deltaMentions = spark.read.parquet(s"$outDir/mentions_fresh")
    val fullMentions = spark.read.parquet(s"$prevDir/mentions")
    val parsedUrls = deltaMentions.select("url").distinct().count()
    assert(parsedUrls == 2, s"delta parsed $parsedUrls pages, expected 2")
    assert(deltaMentions.count() < fullMentions.count() / 4)
  }

  test("a delta reads its carry layers' drop sets without hidden-path warnings") {
    val v2 = world.pages
    val (v1, _, _) = previousCrawl(v2)
    val prevDir = SparkSuite.tempDir("graft-delta-warn-prev")
    val outDir = SparkSuite.tempDir("graft-delta-warn-out")
    Pipeline.run(spark, v1.toDS().toDF(), seeds, prevDir)
    // Spark logs a directory read of a `_`-named root (the layers'
    // `_layer_drops`) as "All paths were ignored"
    val (n, seen) =
      logged("org.apache.spark.sql.execution.datasources.DataSource") {
        Pipeline.runDelta(spark, v2.toDS().toDF(), seeds, outDir, prevDir)
          .count()
      }
    assert(n > 0)
    val ignored = seen.filter(_.contains("All paths were ignored"))
    assert(ignored.isEmpty, ignored.mkString("\n"))
  }

  test("a delta puts no broadcast hint outside a join") {
    // a hinted drop set written as a carry layer makes Spark log the hint
    // as ignored, once per committed layer; a Components delta and a
    // carrying ScoredEd delta together write every kind of drop set
    val v2 = world.pages
    val (v1, _, _) = previousCrawl(v2)
    for (canon <- Seq(Pipeline.Canonicalization.Components,
                      Pipeline.Canonicalization.ScoredEd())) {
      val prevDir = SparkSuite.tempDir("graft-delta-hint-prev")
      Pipeline.run(spark, v1.toDS().toDF(), seeds, prevDir, canon = canon)
      val (n, seen) =
        logged("org.apache.spark.sql.catalyst.analysis.HintErrorLogger") {
          Pipeline.runDelta(spark, v2.toDS().toDF(), seeds,
                            SparkSuite.tempDir("graft-delta-hint-out"),
                            prevDir, canon = canon).count()
        }
      assert(n > 0)
      val ignored = seen.filter(_.contains("not part of a join relation"))
      assert(ignored.isEmpty, s"$canon: ${ignored.size} ignored hints")
    }
  }

  test("chained deltas: a delta outDir is a valid prevDir for the next") {
    // crawl v1 (missing two classes of pages) → delta to v1.5 (adds the
    // modified page's new capture) → delta to v2 (adds the remaining page).
    // Every delta outDir checkpoints carry LAYERS for the url-keyed merged
    // tables plus materialized maintained aggregates, so snapshot N+1
    // chains off snapshot N's outDir — the recurring-crawl lifecycle. The
    // final chained KG must equal the expected full-run triples exactly.
    val v2 = world.pages
    val (v1, addedUrl, _) = previousCrawl(v2)
    val mid = v2.filterNot(_.url == addedUrl) // v1.5: still missing `added`
    val d0 = SparkSuite.tempDir("graft-chain-0")
    val d1 = SparkSuite.tempDir("graft-chain-1")
    val d2 = SparkSuite.tempDir("graft-chain-2")
    Pipeline.run(spark, v1.toDS().toDF(), seeds, d0)
    Pipeline.runDelta(spark, mid.toDS().toDF(), seeds, d1, d0)
    val triples = Pipeline.runDelta(spark, v2.toDS().toDF(), seeds, d2, d1)
    val pr = TripleDiff.diff(triples, world.expectedTriples.toDS().toDF())
    assert(pr.precision == 1.0 && pr.recall == 1.0, s"chained drift: $pr")
    // the second hop parsed ONLY the one page added after v1.5
    assert(spark.read.parquet(s"$d2/mentions_fresh")
      .select("url").distinct().count() == 1)
  }

  test("layer chains compact at maxLayerDepth and stay result-identical") {
    // depth cap 1: gen-1 lays a depth-1 layer; gen-2 would reach depth 2,
    // so every carried stage COMPACTS (materializes) instead — bounded
    // read amplification (the LSM discipline). Output must stay exact and
    // the compacted stage must be a plain parquet table again.
    val v2 = world.pages
    val (v1, addedUrl, _) = previousCrawl(v2)
    val mid = v2.filterNot(_.url == addedUrl)
    val d0 = SparkSuite.tempDir("graft-compact-0")
    val d1 = SparkSuite.tempDir("graft-compact-1")
    val d2 = SparkSuite.tempDir("graft-compact-2")
    spark.conf.set("graft.delta.maxLayerDepth", "1")
    try {
      Pipeline.run(spark, v1.toDS().toDF(), seeds, d0)
      Pipeline.runDelta(spark, mid.toDS().toDF(), seeds, d1, d0)
      assert(graft.runtime.StageRunner.layerDepth(spark, s"$d1/subjects") == 1)
      val triples = Pipeline.runDelta(spark, v2.toDS().toDF(), seeds, d2, d1)
      val pr = TripleDiff.diff(triples, world.expectedTriples.toDS().toDF())
      assert(pr.precision == 1.0 && pr.recall == 1.0, s"compaction drift: $pr")
      for (st <- Seq("pages_text", "linked_all", "subjects",
                     "subject_listings", "type_rules", "relation_rules",
                     "prov_pairs", "hypernyms_by_url")) {
        assert(graft.runtime.StageRunner.layerDepth(spark, s"$d2/$st") == 0,
               s"$st should have compacted")
        assert(java.nio.file.Files.exists(
                 java.nio.file.Paths.get(s"$d2/$st", "_SUCCESS")),
               s"$st should be materialized parquet after compaction")
      }
    } finally spark.conf.unset("graft.delta.maxLayerDepth")
  }

  test("losing one of a url's captures re-derives the url from survivors") {
    // prev crawl holds TWO captures of one url — the real one plus an extra
    // capture whose body plants a unique label; the new crawl keeps only
    // the real capture. The url's capture SET changed while the surviving
    // capture's (url, warc_ts) did not — dropping carried state on changed
    // captures alone would carry the extra capture's content forever.
    val v2 = world.pages
    val host = v2.find(_.url.contains("list-of-books")).get
    val extraBody = (Seq("== Extra ==") ++
      (0 until 4).map(j => s"* [[Orphan Capture $j]] — extra entry."))
      .mkString("\n")
    val extra = host.copy(
      warc_ts = new Timestamp(host.warc_ts.getTime + 777777L),
      html = world.htmlFor(extraBody), text = extraBody)
    val v1 = v2 :+ extra
    val prevDir = SparkSuite.tempDir("graft-delta-cap-prev")
    val outDir = SparkSuite.tempDir("graft-delta-cap-out")
    Pipeline.run(spark, v1.toDS().toDF(), seeds, prevDir)
    val triples = Pipeline.runDelta(spark, v2.toDS().toDF(), seeds,
                                    outDir, prevDir)
    val pr = TripleDiff.diff(triples, world.expectedTriples.toDS().toDF())
    assert(pr.precision == 1.0 && pr.recall == 1.0, s"capture-loss: $pr")
    assert(triples.filter(org.apache.spark.sql.functions.col("subj")
      .contains("orphancapture")).count() == 0)
    // the touched url's surviving capture was re-extracted, nothing else
    assert(spark.read.parquet(s"$outDir/mentions_fresh")
      .select("url").distinct().count() == 1)
  }

  test("delta composes with scored-ED canonicalization (prefix is canon-free)") {
    // the carried stages (manifest, pages_text, linked_all, hypernyms) are
    // canonicalization-independent, so a scored-ED delta chains off a
    // CC-mode previous run and must equal the full scored-ED output (which
    // at default thresholds equals the expected triples — PipelineSpec)
    val v2 = world.pages
    val (v1, _, _) = previousCrawl(v2)
    val prevDir = SparkSuite.tempDir("graft-delta-ed-prev")
    val outDir = SparkSuite.tempDir("graft-delta-ed-out")
    Pipeline.run(spark, v1.toDS().toDF(), seeds, prevDir)
    val triples = Pipeline.runDelta(spark, v2.toDS().toDF(), seeds,
      outDir, prevDir, canon = Pipeline.Canonicalization.ScoredEd())
    val pr = TripleDiff.diff(triples, world.expectedTriples.toDS().toDF())
    assert(pr.precision == 1.0 && pr.recall == 1.0, s"ED-delta drift: $pr")
    // CC-mode prevDir lacks the ED state → this was the BOOTSTRAP path,
    // which must itself record the state for the next delta in the chain
    Seq("subjects_ed", "ed_components", "ed_key_counts").foreach { s =>
      assert(graft.runtime.StageRunner.completed(spark, outDir, s),
             s"bootstrap did not record $s")
    }
    reverseBootstrap(outDir, v1, prevDir)
  }

  test("delta composes with bottom-up canonicalization (bootstrap path)") {
    // a CC-mode prevDir lacks the BU graph state, so a BottomUp delta
    // BOOTSTRAPS: per-page prefix carried, corpus stages recomputed — and
    // the bootstrap records the BU state for the next delta in the chain.
    // The delta must equal the full bottom-up output, which at default
    // thresholds equals the expected triples (PipelineSpec)
    val v2 = world.pages
    val (v1, _, _) = previousCrawl(v2)
    val prevDir = SparkSuite.tempDir("graft-delta-bu-prev")
    val outDir = SparkSuite.tempDir("graft-delta-bu-out")
    Pipeline.run(spark, v1.toDS().toDF(), seeds, prevDir)
    val triples = Pipeline.runDelta(spark, v2.toDS().toDF(), seeds,
      outDir, prevDir, canon = Pipeline.Canonicalization.BottomUp())
    val pr = TripleDiff.diff(triples, world.expectedTriples.toDS().toDF())
    assert(pr.precision == 1.0 && pr.recall == 1.0, s"BU-delta drift: $pr")
    // the bootstrap recorded the BU graph state — the next delta is
    // component-bounded
    Seq("subjects_bu", "bu_components", "bu_key_counts").foreach { s =>
      assert(graft.runtime.StageRunner.completed(spark, outDir, s),
             s"bootstrap did not record '$s'")
    }
    reverseBootstrap(outDir, v1, prevDir)
  }

  /** The reverse of the two bootstrap tests above: the graph-mode outDir
    * `graphDir` seeds a Components delta back to crawl `v1`. Its
    * canonicalization differs, so the corpus stages bootstrap (no
    * `subjects_fresh`), and the triples equal those of the full
    * Components run `ccDir` over `v1`. */
  private def reverseBootstrap(graphDir: String, v1: Seq[Page],
                               ccDir: String): Unit = {
    val back = SparkSuite.tempDir("graft-delta-back")
    val delta = Pipeline.runDelta(spark, v1.toDS().toDF(), seeds, back,
                                  graphDir)
    val pr = TripleDiff.diff(delta,
                             Pipeline.run(spark, v1.toDS().toDF(), seeds, ccDir))
    assert(pr.precision == 1.0 && pr.recall == 1.0, s"reverse drift: $pr")
    assert(!graft.runtime.StageRunner.completed(spark, back, "subjects_fresh"),
           "a Components delta over a graph-mode prevDir must bootstrap")
  }

  test("BU-mode delta is COMPONENT-bounded and == a fresh full BU run") {
    val bu = Pipeline.Canonicalization.BottomUp()
    val v2 = world.pages
    val (v1, _, _) = previousCrawl(v2)
    val prevDir = SparkSuite.tempDir("graft-buc-prev")
    val outDir = SparkSuite.tempDir("graft-buc-out")
    val freshDir = SparkSuite.tempDir("graft-buc-fresh")
    Pipeline.run(spark, v1.toDS().toDF(), seeds, prevDir, canon = bu)
    val delta = Pipeline.runDelta(spark, v2.toDS().toDF(), seeds,
                                  outDir, prevDir, canon = bu)
    val full = Pipeline.run(spark, v2.toDS().toDF(), seeds, freshDir,
                            canon = bu)
    val pr = TripleDiff.diff(delta, full)
    if (pr.precision < 1.0 || pr.recall < 1.0) {
      delta.join(full, Seq("subj", "pred", "obj", "is_literal"),
                 "left_anti").show(30, truncate = false)
      full.join(delta, Seq("subj", "pred", "obj", "is_literal"),
                "left_anti").show(30, truncate = false)
    }
    assert(pr.precision == 1.0 && pr.recall == 1.0, s"BU comp-delta: $pr")
    // the re-folded slice crossed urls (shared keys pull whole MM
    // components in — the case a url-sliced recompute cannot handle), yet
    // stays FAR from the whole corpus
    import org.apache.spark.sql.functions.col
    val sliceUrls = spark.read.parquet(s"$outDir/subjects_bu_fresh")
      .select("url").distinct()
    val touched = spark.read.parquet(s"$outDir/pages_text_fresh")
      .select("url").distinct()
    assert(sliceUrls.join(touched, Seq("url"), "left_anti").count() > 0,
           "no untouched url in the BU slice — the cross-url case is dead")
    val corpusUrls = full.sparkSession.read
      .parquet(s"$freshDir/pages_text").select("url").distinct().count()
    assert(sliceUrls.count() < corpusUrls,
           "slice == corpus: the BU delta is not component-bounded")
    assert(graft.runtime.StageRunner
      .read(spark, s"$outDir/bu_components").count() > 0)
  }

  test("a STABLY-hot key does not drag its population into the delta slice") {
    // maxKeyBucket=2 (constant across the whole chain): two untouched
    // pages hold 6 mentions of the known alias "hot widget" (hot in both
    // crawls — the mm cap suppresses their pair edges in BOTH graphs), and
    // the re-crawl's changed page gains ONE entering "hot widget" mention.
    // The entering mention cannot reach the old singletons through a key
    // that never forms mm edges, so the hot pages must stay OUT of the
    // recomputed slice — without the stably-hot exclusion, one boilerplate
    // entrant would re-fold the key's entire population (10^8 mentions of
    // "home" at web scale) on every delta.
    val bu = Pipeline.Canonicalization.BottomUp()
    def hotPage(n: Int): Page = {
      val body = (Seq(s"== Hot $n ==") ++
        (0 until 3).map(j => s"* [[Hot Widget]] — widget $j.")).mkString("\n")
      Page(s"https://example.org/hot-$n", new Timestamp(1600000000000L),
           world.htmlFor(body), body, "en")
    }
    def changer(withHot: Boolean): Page = {
      val items = Seq("* [[Fresh Gadget A]] — new.",
                      "* [[Fresh Gadget B]] — new.",
                      "* [[Fresh Gadget C]] — new.") ++
        (if (withHot) Seq("* [[Hot Widget]] — late arrival.") else Nil)
      val body = (Seq("== Gadgets ==") ++ items).mkString("\n")
      Page("https://example.org/changer",
           new Timestamp(if (withHot) 1600000600000L else 1600000000000L),
           world.htmlFor(body), body, "en")
    }
    val hotSeeds = seeds.copy(aliases = seeds.aliases.unionByName(
      Seq(("hot widget", "Hot_Widget", 9L, false))
        .toDF("alias", "ent", "freq", "is_hot")))
    val v1 = world.pages ++ Seq(hotPage(1), hotPage(2), changer(false))
    val v2 = world.pages ++ Seq(hotPage(1), hotPage(2), changer(true))
    val prevDir = SparkSuite.tempDir("graft-buhot-prev")
    val outDir = SparkSuite.tempDir("graft-buhot-out")
    val freshDir = SparkSuite.tempDir("graft-buhot-fresh")
    spark.conf.set("graft.ed.maxKeyBucket", "2")
    try {
      Pipeline.run(spark, v1.toDS().toDF(), hotSeeds, prevDir, canon = bu)
      val delta = Pipeline.runDelta(spark, v2.toDS().toDF(), hotSeeds,
                                    outDir, prevDir, canon = bu)
      val full = Pipeline.run(spark, v2.toDS().toDF(), hotSeeds, freshDir,
                              canon = bu)
      val pr = TripleDiff.diff(delta, full)
      assert(pr.precision == 1.0 && pr.recall == 1.0, s"hot-key delta: $pr")
      // the entering mention still links (ME edges are uncapped) …
      import org.apache.spark.sql.functions.col
      assert(delta.filter(col("subj").contains("Hot_Widget")).count() > 0)
      // … but the untouched hot pages were never re-folded
      val sliceUrls = spark.read.parquet(s"$outDir/subjects_bu_fresh")
        .select("url").distinct()
      assert(sliceUrls.filter(col("url").startsWith(
               "https://example.org/hot-")).count() == 0,
             "stably-hot key dragged its untouched population into the slice")
    } finally spark.conf.unset("graft.ed.maxKeyBucket")
  }

  test("ED mode: a stably-hot UNLINKED key stays out of the delta slice") {
    // the ED engine shares the stably-hot exclusion, but its entity-
    // adjacency probe must still pull hot-key entrants' components when
    // the label is in the dictionary — so the ED win shows on UNLINKED
    // boilerplate (the real web shape: "home"/"contact" link to nothing):
    // no dictionary candidates ⇒ no entity adjacency, stably-hot key ⇒ no
    // mm adjacency, and the 6 untouched singleton mentions must not
    // re-score. Their shared NIL id ("new:hot widget") is content-derived,
    // so the entrant coins the SAME id without seeing them.
    val ed = Pipeline.Canonicalization.ScoredEd()
    def hotPage(n: Int): Page = {
      val body = (Seq(s"== Hot $n ==") ++
        (0 until 3).map(j => s"* [[Hot Widget]] — widget $j.")).mkString("\n")
      Page(s"https://example.org/hot-$n", new Timestamp(1600000000000L),
           world.htmlFor(body), body, "en")
    }
    def changer(withHot: Boolean): Page = {
      val items = Seq("* [[Fresh Gadget A]] — new.",
                      "* [[Fresh Gadget B]] — new.",
                      "* [[Fresh Gadget C]] — new.") ++
        (if (withHot) Seq("* [[Hot Widget]] — late arrival.") else Nil)
      val body = (Seq("== Gadgets ==") ++ items).mkString("\n")
      Page("https://example.org/changer",
           new Timestamp(if (withHot) 1600000600000L else 1600000000000L),
           world.htmlFor(body), body, "en")
    }
    val v1 = world.pages ++ Seq(hotPage(1), hotPage(2), changer(false))
    val v2 = world.pages ++ Seq(hotPage(1), hotPage(2), changer(true))
    val prevDir = SparkSuite.tempDir("graft-edhot-prev")
    val outDir = SparkSuite.tempDir("graft-edhot-out")
    val freshDir = SparkSuite.tempDir("graft-edhot-fresh")
    spark.conf.set("graft.ed.maxKeyBucket", "2")
    try {
      Pipeline.run(spark, v1.toDS().toDF(), seeds, prevDir, canon = ed)
      val delta = Pipeline.runDelta(spark, v2.toDS().toDF(), seeds,
                                    outDir, prevDir, canon = ed)
      val full = Pipeline.run(spark, v2.toDS().toDF(), seeds, freshDir,
                              canon = ed)
      val pr = TripleDiff.diff(delta, full)
      assert(pr.precision == 1.0 && pr.recall == 1.0, s"ED hot-key: $pr")
      import org.apache.spark.sql.functions.col
      val sliceUrls = spark.read.parquet(s"$outDir/subjects_ed_fresh")
        .select("url").distinct()
      assert(sliceUrls.filter(col("url").startsWith(
               "https://example.org/hot-")).count() == 0,
             "stably-hot unlinked key dragged its population into the slice")
    } finally spark.conf.unset("graft.ed.maxKeyBucket")
  }

  test("ED-mode delta is COMPONENT-bounded and == a fresh full ED run, " +
       "re-scoring components that span untouched urls") {
    val ed = Pipeline.Canonicalization.ScoredEd()
    val v2 = world.pages
    val (v1, _, _) = previousCrawl(v2)
    val prevDir = SparkSuite.tempDir("graft-edc-prev")
    val outDir = SparkSuite.tempDir("graft-edc-out")
    val freshDir = SparkSuite.tempDir("graft-edc-fresh")
    Pipeline.run(spark, v1.toDS().toDF(), seeds, prevDir, canon = ed)
    val delta = Pipeline.runDelta(spark, v2.toDS().toDF(), seeds,
                                  outDir, prevDir, canon = ed)
    val full = Pipeline.run(spark, v2.toDS().toDF(), seeds, freshDir,
                            canon = ed)
    val pr = TripleDiff.diff(delta, full)
    if (pr.precision < 1.0 || pr.recall < 1.0) {
      delta.join(full, Seq("subj", "pred", "obj", "is_literal"),
                 "left_anti").show(30, truncate = false)
      full.join(delta, Seq("subj", "pred", "obj", "is_literal"),
                "left_anti").show(30, truncate = false)
    }
    assert(pr.precision == 1.0 && pr.recall == 1.0, s"ED comp-delta: $pr")
    // the component slice crossed urls: the re-disambiguated slice holds
    // mentions from urls the crawl never touched (shared keys/entities pull
    // whole alignment components in — the case a url-sliced recompute
    // cannot handle), yet stays FAR from the whole corpus
    import org.apache.spark.sql.functions.col
    val sliceUrls = spark.read.parquet(s"$outDir/subjects_ed_fresh")
      .select("url").distinct()
    val touched = spark.read.parquet(s"$outDir/pages_text_fresh")
      .select("url").distinct()
    val untouchedInSlice = sliceUrls.join(touched, Seq("url"), "left_anti")
      .count()
    assert(untouchedInSlice > 0,
           "no untouched url in the ED slice — the cross-url case is dead")
    val corpusUrls = full.sparkSession.read
      .parquet(s"$freshDir/pages_text").select("url").distinct().count()
    assert(sliceUrls.count() < corpusUrls,
           "slice == corpus: the ED delta is not component-bounded")
    // the ED state carries: both tables resolve and the components table
    // drops whole components (comp-keyed layer)
    assert(graft.runtime.StageRunner
      .read(spark, s"$outDir/ed_components").count() > 0)
  }

  test("changed canonicalization parameters BOOTSTRAP instead of carrying " +
       "(carried rows embed prevDir's thresholds)") {
    // full ED at the default pathThreshold, then a delta at a DIFFERENT
    // pathThreshold: the graph state exists but its run header's canon rows
    // mismatch, so the delta must NOT slice-carry (it would mix two
    // configurations' linked/NIL decisions) — it bootstraps, recomputing
    // the corpus stages under the CURRENT parameters, and must equal a
    // fresh full run at those parameters.
    val v2 = world.pages
    val (v1, _, _) = previousCrawl(v2)
    val prevDir = SparkSuite.tempDir("graft-canonfp-prev")
    val outDir = SparkSuite.tempDir("graft-canonfp-out")
    val freshDir = SparkSuite.tempDir("graft-canonfp-fresh")
    Pipeline.run(spark, v1.toDS().toDF(), seeds, prevDir,
                 canon = Pipeline.Canonicalization.ScoredEd())
    val changed = Pipeline.Canonicalization.ScoredEd(pathThreshold = 0.9)
    val delta = Pipeline.runDelta(spark, v2.toDS().toDF(), seeds,
                                  outDir, prevDir, canon = changed)
    val full = Pipeline.run(spark, v2.toDS().toDF(), seeds, freshDir,
                            canon = changed)
    val pr = TripleDiff.diff(delta, full)
    assert(pr.precision == 1.0 && pr.recall == 1.0, s"canon-fp drift: $pr")
    // bootstrap evidence: no component-slice stage was written, and the
    // new outDir recorded the CHANGED fingerprint for the next chain hop
    assert(!graft.runtime.StageRunner
             .completed(spark, outDir, "subjects_ed_fresh"),
           "parameter change must not slice-carry")
    val fp = header(outDir)
    assert(fp("canon.path_threshold") == "0.9", s"recorded fp: $fp")
  }

  test("chained ED deltas: an ED delta outDir seeds the next ED delta") {
    val ed = Pipeline.Canonicalization.ScoredEd()
    val v2 = world.pages
    val (v1, addedUrl, _) = previousCrawl(v2)
    val mid = v2.filterNot(_.url == addedUrl) // v1 → mid → v2
    val d0 = SparkSuite.tempDir("graft-edchain-0")
    val d1 = SparkSuite.tempDir("graft-edchain-1")
    val d2 = SparkSuite.tempDir("graft-edchain-2")
    Pipeline.run(spark, v1.toDS().toDF(), seeds, d0, canon = ed)
    Pipeline.runDelta(spark, mid.toDS().toDF(), seeds, d1, d0, canon = ed)
    val triples = Pipeline.runDelta(spark, v2.toDS().toDF(), seeds, d2, d1,
                                    canon = ed)
    val pr = TripleDiff.diff(triples, world.expectedTriples.toDS().toDF())
    assert(pr.precision == 1.0 && pr.recall == 1.0, s"ED chain drift: $pr")
  }

  /** A full ScoredEd run over the previous crawl, which the refusal tests
    * below copy and damage. */
  private lazy val edPrev: String = {
    val d = SparkSuite.tempDir("graft-delta-edprev")
    Pipeline.run(spark, previousCrawl(world.pages)._1.toDS().toDF(), seeds, d,
                 canon = Pipeline.Canonicalization.ScoredEd())
    d
  }

  /** The run header `dir` recorded, as key → value. */
  private def header(dir: String): Map[String, String] =
    scala.util.Using.resource(scala.io.Source.fromFile(s"$dir/_run_fp"))(
      _.getLines().map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }
        .toMap)

  /** A fresh copy of the outDir `dir`. */
  private def copyOf(dir: String): String = {
    import java.nio.file.{Files, Paths}
    val to = SparkSuite.tempDir("graft-delta-copy")
    val from = Paths.get(dir)
    Files.walk(from).forEach { p =>
      val t = Paths.get(to).resolve(from.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t)
    }
    to
  }

  /** `runDelta` over `prevDir` in ScoredEd mode must refuse with a message
    * holding `expected` and write nothing to its outDir. */
  private def assertRefused(prevDir: String, expected: String): Unit = {
    val outDir = SparkSuite.tempDir("graft-delta-refused")
    val e = intercept[IllegalArgumentException] {
      Pipeline.runDelta(spark, world.pages.toDS().toDF(), seeds, outDir,
                        prevDir, canon = Pipeline.Canonicalization.ScoredEd())
    }
    assert(e.getMessage.contains(expected), e.getMessage)
    val written = new java.io.File(outDir).list().toSeq
    assert(written.isEmpty, s"a refused delta wrote $written")
  }

  test("a ScoredEd prevDir missing any graph-state stage is refused") {
    // the run fingerprints match, so the corpus stages carry, and each
    // state table they read is required
    for (stage <- Seq("subjects_ed", "ed_components", "ed_key_counts")) {
      val prevDir = copyOf(edPrev)
      java.nio.file.Files.walk(java.nio.file.Paths.get(prevDir, stage))
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(java.nio.file.Files.delete(_))
      assertRefused(prevDir, s"lacks the '$stage' checkpoint")
    }
  }

  test("a prevDir whose run_fp format differs is refused before any stage " +
       "commits") {
    val prevDir = copyOf(edPrev)
    val fp = header(prevDir)
    assert(fp.contains("format"), s"recorded fp: $fp")
    Seq("_run_fp", "._run_fp.crc").foreach(f =>
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(prevDir, f)))
    graft.runtime.StageRunner.commitMarker(spark, prevDir, "_run_fp",
      fp.map { case (k, v) =>
        s"$k=${if (k == "format") s"$v-old" else v}\n" }.mkString)
    assertRefused(prevDir, "FORMAT changed")
  }

  test("a seeds change between runs refuses to carry (incl. multiset swaps)") {
    val v2 = world.pages
    val (v1, _, _) = previousCrawl(v2)
    // inert extra aliases (match no mention) so only the fingerprint sees
    // them; DUPLICATED rows make the adversarial case: {A,A} -> {B,B} keeps
    // the row count and cancels under a xor-of-hashes fingerprint (even
    // multiplicity), so only a multiset-sensitive fingerprint refuses
    def withExtraAliases(rows: Seq[(String, String, Long, Boolean)]) =
      seeds.copy(aliases = seeds.aliases.unionByName(
        rows.toDF("alias", "ent", "freq", "is_hot")))
    val dupA = withExtraAliases(Seq(("zz dup a", "Zzz_A", 1L, false),
                                    ("zz dup a", "Zzz_A", 1L, false)))
    val dupB = withExtraAliases(Seq(("zz dup b", "Zzz_B", 1L, false),
                                    ("zz dup b", "Zzz_B", 1L, false)))
    val prevDir = SparkSuite.tempDir("graft-delta-seedfp-prev")
    Pipeline.run(spark, v1.toDS().toDF(), dupA, prevDir)
    val e = intercept[IllegalArgumentException] {
      Pipeline.runDelta(spark, v2.toDS().toDF(), dupB,
                        SparkSuite.tempDir("graft-delta-seedfp-o1"), prevDir)
    }
    assert(e.getMessage.contains("seed tables differ"))
    // unchanged seeds (same duplicated rows) must still carry
    Pipeline.runDelta(spark, v2.toDS().toDF(), dupA,
                      SparkSuite.tempDir("graft-delta-seedfp-o2"), prevDir)
  }

  test("runDelta refuses to run in place (outDir == prevDir)") {
    val v = world.pages
    val d = SparkSuite.tempDir("graft-delta-inplace")
    Pipeline.run(spark, v.toDS().toDF(), seeds, d)
    val e = intercept[IllegalArgumentException] {
      Pipeline.runDelta(spark, v.toDS().toDF(), seeds, d, d)
    }
    assert(e.getMessage.contains("outDir must differ"))
  }

  test("a reused outDir resumes only under its own run header") {
    // run and runDelta judge the outDir they write by its run header
    // before any stage runs: other seeds, another mode or another prevDir
    // are refused, and so is a non-empty outDir without a header (an
    // older engine's). Each refusal leaves the outDir as it was.
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    def files(dir: String): Map[String, (Long, Long)] = {
      val root = Paths.get(dir)
      val walk = Files.walk(root)
      try walk.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
        root.relativize(p).toString ->
          ((Files.size(p), Files.getLastModifiedTime(p).toMillis))
      }.toMap finally walk.close()
    }
    def refused(dir: String, expected: String)(call: => Any): Unit = {
      val before = files(dir)
      val e = intercept[IllegalArgumentException](call)
      assert(e.getMessage.contains(expected), e.getMessage)
      assert(files(dir) == before, s"a refused call changed $dir")
    }
    val v2 = world.pages
    val (v1, _, _) = previousCrawl(v2)
    val full = SparkSuite.tempDir("graft-header-full")
    Pipeline.run(spark, v1.toDS().toDF(), seeds, full)
    val out = SparkSuite.tempDir("graft-header-delta")
    Pipeline.runDelta(spark, v2.toDS().toDF(), seeds, out, full)
    assert(files(full).keySet.exists(_.startsWith("_lineage/")))

    val otherSeeds = seeds.copy(aliases = seeds.aliases.unionByName(
      Seq(("zz extra", "Zzz_X", 1L, false)).toDF("alias", "ent", "freq",
                                                  "is_hot")))
    refused(full, "seeds.aliases") {
      Pipeline.run(spark, v1.toDS().toDF(), otherSeeds, full)
    }
    refused(full, "canon.mode") {
      Pipeline.run(spark, v1.toDS().toDF(), seeds, full,
                   canon = Pipeline.Canonicalization.ScoredEd())
    }
    // the same crawl and seeds over another prevDir (a copy of the first)
    refused(out, "rows prev differ") {
      Pipeline.runDelta(spark, v2.toDS().toDF(), seeds, out, copyOf(full))
    }
    // a full run into a delta's outDir lacks its prev row
    refused(out, "rows prev differ") {
      Pipeline.run(spark, v2.toDS().toDF(), seeds, out)
    }
    // an outDir as an engine without run headers left it
    Seq("_run_fp", "._run_fp.crc").foreach(f =>
      Files.deleteIfExists(Paths.get(full, f)))
    refused(full, "no run header") {
      Pipeline.run(spark, v1.toDS().toDF(), seeds, full)
    }
  }

  test("a prevDir missing any one stage is refused or does not matter") {
    // every prevDir table a delta reads is registered by the declaration
    // that reads it, and checked before any stage runs: without the check
    // a delta commits a layer over a missing parent, which every later
    // read (and every resume of the outDir) fails on. A stage no delta
    // reads may be missing.
    import java.nio.file.{Files, Path, Paths}
    def copyTree(from: Path, to: Path): Unit =
      Files.walk(from).forEach { p =>
        val t = to.resolve(from.relativize(p))
        if (Files.isDirectory(p)) Files.createDirectories(t)
        else Files.copy(p, t)
      }
    def rm(p: java.io.File): Unit = {
      if (p.isDirectory) p.listFiles.foreach(rm); p.delete()
    }
    val v2 = world.pages
    val (v1, _, _) = previousCrawl(v2)
    val full = SparkSuite.tempDir("graft-delta-guard-full")
    Pipeline.run(spark, v1.toDS().toDF(), seeds, full)
    def delta(prevDir: String, outDir: String) =
      Pipeline.runDelta(spark, v2.toDS().toDF(), seeds, outDir, prevDir)
        .collect().toSet
    val intact = delta(full, SparkSuite.tempDir("graft-delta-guard-intact"))
    val stages = new java.io.File(full).listFiles.toSeq
      .filter(f => f.isDirectory && !f.getName.startsWith("_"))
      .map(_.getName).sorted
    val unread = stages.filter { stage =>
      val prevDir = SparkSuite.tempDir(s"graft-delta-guard-$stage")
      copyTree(Paths.get(full), Paths.get(prevDir))
      rm(new java.io.File(s"$prevDir/$stage"))
      val outDir = SparkSuite.tempDir(s"graft-delta-guard-$stage-out")
      try {
        assert(delta(prevDir, outDir) == intact, s"without $stage")
        true
      } catch {
        case e: IllegalArgumentException =>
          assert(e.getMessage.contains(s"lacks the '$stage' checkpoint"),
                 e.getMessage)
          val written = new java.io.File(outDir).list().toSeq
          assert(written.isEmpty, s"without $stage the delta wrote $written")
          false
      }
    }
    assert(stages.contains("types") && stages.contains("relations"))
    assert(unread == Seq("mentions", "ontology_meta", "restriction_facts",
                         "triples_core", "axioms")
             .sorted, s"stages a delta need not read: $unread")
  }

  test("delta over an unchanged crawl parses nothing and emits the same KG") {
    val v2 = world.pages
    val prevDir = SparkSuite.tempDir("graft-delta-same-prev")
    val outDir = SparkSuite.tempDir("graft-delta-same-out")
    val full = Pipeline.run(spark, v2.toDS().toDF(), seeds, prevDir)
    val delta = Pipeline.runDelta(spark, v2.toDS().toDF(), seeds,
                                  outDir, prevDir)
    assert(spark.read.parquet(s"$outDir/mentions_fresh").count() == 0)
    val pr = TripleDiff.diff(delta, full)
    assert(pr.precision == 1.0 && pr.recall == 1.0, s"no-op delta drift: $pr")
  }
}
