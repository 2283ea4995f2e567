package graft

import graft.core.Schemas.Page
import graft.emit.TripleDiff
import graft.testkit.CorpusGen

/** Delta maintenance under THRESHOLD CROSSINGS — the cases where an
  * incremental run must change output on urls the crawl never touched:
  *
  *  - F9 boilerplate flips (both directions): a label crossing
  *    [[Pipeline.MaxUnknownLabelFreq]] changes the kept-mention set on
  *    every url carrying it, so the affected-url closure must reach beyond
  *    the touched set;
  *  - candidate-count crossings (both directions): a mined (ent, type)
  *    supported by several listings must survive losing one support
  *    (decrement), vanish when all supports drop (cancel to exactly zero —
  *    the maintenance identity's cancellation case), and appear when a
  *    listing's rule starts firing.
  *
  * Every test asserts delta ≡ a FRESH FULL RUN over the same v2 crawl —
  * no hand-computed expectations, the identity itself is the oracle — plus
  * spot-assertions that each crossing actually happened. */
class DeltaThresholdSpec extends SparkSuite {
  import spark.implicits._
  import org.apache.spark.sql.functions.col

  private lazy val world = CorpusGen.default
  private lazy val seeds = world.seeds(spark)

  private def mapLines(p: Page)(f: Seq[String] => Seq[String]): Page = {
    val body2 = f(p.text.split("\n").toSeq).mkString("\n")
    p.copy(text = body2, html = world.htmlFor(body2))
  }

  /** Remove listing rows containing `mark`; for table rows also drop the
    * preceding "|-" separator (an orphaned separator would be a <2-cell row
    * and F7 would kill the whole table). */
  private def dropRows(p: Page, mark: String): Page = mapLines(p) { lines =>
    val out = scala.collection.mutable.ArrayBuffer[String]()
    for (l <- lines) {
      if (l.contains(mark)) {
        if (out.nonEmpty && out.last.trim == "|-") out.remove(out.size - 1)
      } else out += l
    }
    out.toSeq
  }

  private val junkMark = "Lorem Ipsum Filler"

  /** Insert a "Creeping Boiler" item right after the junk item (inside the
    * listing, so it passes the usefulness filter with the rest). */
  private def addCreeping(p: Page): Page = mapLines(p) { lines =>
    lines.flatMap { l =>
      if (!l.contains(junkMark)) Seq(l)
      else if (p.url.contains("list-of-"))
        Seq(l, "* [[Creeping Boiler]] — creeping entry.")
      else Seq(l, "|-", "| [[Creeping Boiler]] || note")
    }
  }

  private def run3(v1: Seq[Page], v2: Seq[Page], tag: String) = {
    val prevDir = SparkSuite.tempDir(s"$tag-prev")
    val outDir = SparkSuite.tempDir(s"$tag-out")
    val freshDir = SparkSuite.tempDir(s"$tag-fresh")
    Pipeline.run(spark, v1.toDS().toDF(), seeds, prevDir)
    val delta = Pipeline.runDelta(spark, v2.toDS().toDF(), seeds,
                                  outDir, prevDir)
    val full = Pipeline.run(spark, v2.toDS().toDF(), seeds, freshDir)
    val pr = TripleDiff.diff(delta, full)
    if (pr.precision < 1.0 || pr.recall < 1.0) {
      delta.join(full, Seq("subj", "pred", "obj", "is_literal"),
                 "left_anti").show(30, truncate = false)
      full.join(delta, Seq("subj", "pred", "obj", "is_literal"),
                "left_anti").show(30, truncate = false)
    }
    assert(pr.precision == 1.0 && pr.recall == 1.0, s"$tag drift: $pr")
    (delta, outDir)
  }

  test("F9 frequent-label flips in BOTH directions reach untouched urls") {
    // All 34 listing pages carry the junk label (34 > 20 → dropped in v1).
    // v1 additionally plants "Creeping Boiler" on the 20 UNtouched listing
    // pages (20 <= 20 → kept, emits NIL triples).
    // v2 touches only 14 listing pages: junk removed (34→20 → flips to
    // KEPT — untouched pages must start emitting junk triples) and creeping
    // added (20→34 → flips to DROPPED — untouched pages must stop emitting
    // creeping triples). The touched pages are modified with UNCHANGED
    // warc_ts — only the content fingerprint detects them.
    val listingUrls = world.pages
      .filter(p => p.url.contains("list-of-") || p.url.contains("table-of-"))
      .map(_.url).sorted
    val touched = listingUrls.take(14).toSet
    val untouched = listingUrls.drop(14).toSet
    val v1 = world.pages.map(p =>
      if (untouched(p.url)) addCreeping(p) else p)
    // creeping FIRST (it anchors on the junk line), junk drop second
    val v2 = v1.map(p =>
      if (touched(p.url)) dropRows(addCreeping(p), junkMark) else p)

    val (delta, outDir) = run3(v1, v2, "graft-flip")
    // junk flipped to kept: its NIL entity exists, with provenance from an
    // UNTOUCHED url (the flip-affected recompute reached beyond the delta)
    assert(delta.filter(col("subj") === "new:loremipsumfiller").count() > 0)
    val untouchedProv = delta
      .filter(col("subj") === "new:loremipsumfiller" &&
              col("pred") === "prov:wasDerivedFrom")
      .select("obj").as[String].collect().toSet
    assert(untouchedProv.exists(untouched), s"prov: $untouchedProv")
    // creeping flipped to dropped: no trace anywhere
    assert(delta.filter(col("subj").contains("creepingboiler") ||
                        col("obj").contains("Creeping")).count() == 0)
    // only the touched pages were parsed
    assert(spark.read.parquet(s"$outDir/mentions_fresh")
      .select("url").distinct().count() == touched.size)
    // the maintained F9 view holds the post-flip count exactly
    val junkCnt = spark.read.parquet(s"$outDir/unlinked_label_counts")
      .filter(col("label") === junkMark).select("cnt").as[Long].collect()
    val wantJunk = (listingUrls.size - touched.size).toLong
    assert(junkCnt.toSeq == Seq(wantJunk), s"junk counts: ${junkCnt.toSeq}")
  }

  test("candidate counts cross thresholds in BOTH directions under churn") {
    val v1 = world.pages
    val sci0 = Set("https://example.org/list-of-scientists-of-country-0",
                   "https://example.org/table-of-scientists-of-country-0")
    val sci1List = "https://example.org/list-of-scientists-of-country-1"
    val mixed0 = "https://example.org/mixed-of-country-0"
    val allSciBody = ((0 until 4).map(j =>
      s"* [[${world.entName("Scientist", 0, j)}]] — resident.") :+
      "* [[Mixed Mystery 0]] — resident.")
      .prepended("== Mixed ==").mkString("\n")
    val v2 = v1.map { p =>
      val p2 =
        if (sci0(p.url)) dropRows(p, "Mystery Scientist 0")
        else if (p.url == sci1List) dropRows(p, "Mystery Scientist 1")
        else if (p.url == mixed0)
          p.copy(text = allSciBody, html = world.htmlFor(allSciBody))
        else p
      if (p2 eq p) p
      else p2.copy(warc_ts = new java.sql.Timestamp(p.warc_ts.getTime + 1L))
    }

    val (delta, outDir) = run3(v1, v2, "graft-cand")
    // CANCEL TO ZERO: both supports of new:mysteryscientist00/01 dropped —
    // the entity (and its type assertions) must vanish entirely
    assert(delta.filter(col("subj").startsWith("new:mysteryscientist0"))
      .count() == 0)
    // DECREMENT WITHOUT CANCEL: one of two supports dropped — assertion
    // survives, and the maintained view holds cnt == 1 exactly
    assert(delta.filter(col("subj") === "new:mysteryscientist10" &&
                        col("pred") === "rdf:type" &&
                        col("obj") === "Scientist").count() == 1)
    val c = spark.read.parquet(s"$outDir/type_cand_counts")
      .filter(col("ent") === "new:mysteryscientist10" &&
              col("tpe") === "Scientist")
      .select("cnt").as[Long].collect()
    assert(c.toSeq == Seq(1L), s"maintained cand count: ${c.toSeq}")
    // APPEARING RULE: the mixed listing's type rule now fires — its NIL
    // entity gains Scientist + transitive ancestors
    for (t <- Seq("Scientist", "Person", "Thing"))
      assert(delta.filter(col("subj") === "new:mixedmystery0" &&
                          col("pred") === "rdf:type" &&
                          col("obj") === t).count() == 1, s"missing $t")
    // only the four touched pages were parsed
    assert(spark.read.parquet(s"$outDir/mentions_fresh")
      .select("url").distinct().count() == 4)
  }

  test("tag-validity flips reach untouched urls (A9 gate delta closure)") {
    // v1 plants an ALLCAPS NIL item on an UNTOUCHED scientist listing —
    // ALLCAPS is invalid (all linked mentions are TITLE) so its type
    // assertion is gated out. v2 ADDS one page of 40 linked ALLCAPS
    // mentions of seed scientists, pushing P(ALLCAPS|Scientist) over the
    // 0.35 threshold: the (Scientist, ALLCAPS) validity FLIPS, and the
    // untouched listing must gain the planted item's type assertion
    // WITHOUT being re-parsed. Delta ≡ fresh full proves exactness.
    val untouchedUrl = "https://example.org/list-of-scientists-of-country-1"
    val mark = "ZZ TOP NINE"
    val v1 = world.pages.map { p =>
      if (p.url == untouchedUrl) mapLines(p) { lines =>
        lines.flatMap(l =>
          if (l.contains("== See also ==")) Seq(s"* [[$mark]] — anomalous.", l)
          else Seq(l))
      } else p
    }
    val sp = spark
    import sp.implicits._
    val rx = (0 until 40).map { j =>
      (s"RX UNIT $j",
       world.entName("Scientist", j % world.nCountries,
                     j % world.knownPerListing), 1.0, false)
    }
    val seeds2 = seeds.copy(aliases = seeds.aliases.unionByName(
      rx.toDF("alias", "ent", "freq", "is_hot")))
    val rxBody = (Seq("== RX ==") ++
      (0 until 40).map(j => s"* [[RX UNIT $j]] — unit.")).mkString("\n")
    val rxPage = graft.core.Schemas.Page(
      "https://example.org/rx-units", new java.sql.Timestamp(1700000000000L),
      world.htmlFor(rxBody), rxBody, "en")
    val v2 = v1 :+ rxPage

    val prevDir = SparkSuite.tempDir("graft-tagflip-prev")
    val outDir = SparkSuite.tempDir("graft-tagflip-out")
    val freshDir = SparkSuite.tempDir("graft-tagflip-fresh")
    val before = Pipeline.run(spark, v1.toDS().toDF(), seeds2, prevDir)
    val markedEnt = before
      .filter(col("pred") === "rdfs:label" && col("obj") === mark)
      .select("subj").as[String].collect().head
    assert(before.filter(col("subj") === markedEnt &&
             col("pred") === "rdf:type").count() == 0,
           "v1: ALLCAPS item must be gated out")
    val delta = Pipeline.runDelta(spark, v2.toDS().toDF(), seeds2,
                                  outDir, prevDir)
    val full = Pipeline.run(spark, v2.toDS().toDF(), seeds2, freshDir)
    val pr = TripleDiff.diff(delta, full)
    assert(pr.precision == 1.0 && pr.recall == 1.0, s"tag-flip drift: $pr")
    assert(delta.filter(col("subj") === markedEnt &&
             col("pred") === "rdf:type" && col("obj") === "Scientist")
           .count() == 1, "flip must un-gate the planted type assertion")
    // only the ADDED page was parsed; the untouched listing was re-MINED
    // (it appears in the affected slice), not re-parsed
    assert(spark.read.parquet(s"$outDir/mentions_fresh")
      .select("url").distinct().as[String].collect().toSeq ==
      Seq("https://example.org/rx-units"))
    assert(spark.read.parquet(s"$outDir/subjects_fresh")
      .filter(col("url") === untouchedUrl).count() > 0,
           "untouched url must be in the widened affected slice")
  }

  test("high-churn fallback: un-hinted carry joins stay result-identical") {
    // graft.delta.maxBroadcastKeys = 0 disables EVERY delta broadcast hint
    // — the shape a high-churn re-crawl degrades to (SCALE.md rule 1).
    // The maintenance must hold exactly on AQE-planned shuffle joins.
    val v2 = world.pages
    val touched = world.pages.find(_.url.contains("list-of-artists")).get.url
    val v1 = v2.map { p =>
      if (p.url == touched)
        p.copy(warc_ts = new java.sql.Timestamp(p.warc_ts.getTime - 5L))
      else p
    }
    spark.conf.set("graft.delta.maxBroadcastKeys", "0")
    try run3(v1, v2, "graft-nohint")
    finally spark.conf.unset("graft.delta.maxBroadcastKeys")
  }
}
