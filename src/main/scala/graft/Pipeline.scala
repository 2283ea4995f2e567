package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Normalize
import graft.ingest.TextExtract
import graft.listings.ListingExtract
import graft.link.AliasLink
import graft.canonical.{AlignmentGraph, NilCluster}
import graft.taxonomy.{Disjointness, RuleMining}
import graft.emit.TripleEmit
import graft.runtime.{LoopReport, StageRunner}

/** The end-to-end KG-construction pipeline (north rule): pages → invariant
  * text extraction → listings/mentions → salted alias linking → NIL
  * canonicalization (connected components) → listing rule mining +
  * disjointness-guarded, taxonomy-aware type inference → (subj, pred, obj)
  * triples partitioned by predicate, with per-stage checkpoints + lineage.
  *
  * Physical shape (SURVEY.md §4): scan → pushed lang filter → codegen'd
  * extraction chain → per-url windows (one shuffle keyed by url) →
  * broadcast dictionary join (salted hot slice) → CC loop (log-bounded
  * shuffle rounds) → taxonomy-sized dimension joins (broadcast) → one
  * partitionBy(pred) write. The corpus is shuffled ONCE on url and once per
  * candidate-dedup; everything taxonomy-side is broadcast.
  *
  * Every corpus-derived aggregate the emit stages consume (unlinked-label
  * counts for F9, per-(ent,label) label counts, type/relation candidate
  * counts, provenance pairs) is checkpointed as a MATERIALIZED VIEW keyed
  * either by url (carried tables) or by its group key (count tables) — the
  * shape [[runDelta]] maintains incrementally instead of recomputing.
  */
object Pipeline {

  case class Seeds(aliases: DataFrame, entityTypes: DataFrame,
                   taxonomyEdges: DataFrame, disjointPairs: DataFrame,
                   seedRelations: DataFrame, redirects: DataFrame = null)

  /** Pin the seed tables to cluster-resident blocks. A driver-collection-
    * backed seed frame (LocalTableScan) re-pays a SINGLE-THREADED driver
    * encode on every scan — the r5 wide-world soak measured ~30 s per scan
    * of a 5.8 M-row seed table, and the mining/emit stages scan the seed
    * side many times per run. One eager localCheckpoint turns every later
    * scan into a parallel block read; parquet-backed seeds pay one cheap
    * extra materialization. */
  private def pinSeeds(s: Seeds): Seeds =
    Seeds(aliases = s.aliases.localCheckpoint(),
          entityTypes = s.entityTypes.localCheckpoint(),
          taxonomyEdges = s.taxonomyEdges.localCheckpoint(),
          disjointPairs = s.disjointPairs.localCheckpoint(),
          seedRelations = s.seedRelations.localCheckpoint(),
          redirects =
            if (s.redirects == null) null else s.redirects.localCheckpoint())

  /** How mentions become canonical entities (step 4). */
  sealed trait Canonicalization
  object Canonicalization {
    /** Linked mentions keep their broadcast-argmax entity; NIL mentions
      * cluster via connected components over the mention↔key bipartite
      * graph ([[NilCluster]]). The cheap default. */
    case object Components extends Canonicalization

    /** The reference's PRODUCTION ED path
      * (`entity_disambiguation/__init__.py:20-89`): ALL kept mentions +
      * their scored dictionary candidates form the alignment graph
      * ([[AlignmentGraph]]), split by [[graft.canonical.NastyLinker]] —
      * a mention attaches to an entity only when its best path score
      * exceeds `pathThreshold`, so a weak-prior candidate (or a weak
      * `meScore` Column — the bi-encoder seam) is DEMOTED to a new NIL
      * entity even when the argmax join would have linked it. NIL cluster
      * ids stay content-derived ("new:<alias key>" — every NIL cluster is
      * same-key-connected because mention–mention edges only join equal
      * keys), so ids match [[Components]] and stay partition-invariant. */
    case class ScoredEd(meThreshold: Double = 0.5, mmThreshold: Double = 0.5,
                        pathThreshold: Double = 0.75,
                        meScore: Column = DefaultMeScore,
                        /** When set, replaces `meScore` with the
                          * whole-DataFrame scorer seam — the batched-model
                          * path ([[graft.link.BatchedScorer]]). */
                        scoreFn: Option[DataFrame => DataFrame] = None)
        extends Canonicalization {
      // the two scorer knobs are alternatives: passing both would silently
      // drop the Column — fail at construction instead (reference equality
      // on the shared default detects "caller did not pass meScore")
      require(scoreFn.isEmpty || (meScore eq DefaultMeScore),
              "ScoredEd: pass EITHER meScore or scoreFn, not both " +
              "(scoreFn replaces the Column scorer)")
    }

    /** The prior scorer (alias-dictionary frequency) — `ScoredEd`'s
      * default `meScore`. */
    val DefaultMeScore: Column = col("freq")

    /** The reference's BottomUpClusteringMatcher
      * (`entity_disambiguation/matching/bottomup_clustering.py:20-83`) as a
      * canonicalization mode: the same scored alignment graph as
      * [[ScoredEd]], clustered by the ordered union-find edge fold
      * ([[graft.canonical.BottomUpCluster]] — distributed per MM
      * component) instead of the NastyLinker path split. Semantics differ
      * from ScoredEd exactly as in the reference: a mention's cluster
      * keeps its argmax entity with NO path threshold, so a weak-prior
      * best candidate still links (where NastyLinker would demote to NIL).
      * NIL ids stay "new:<alias key>" — MM edges only join equal keys, so
      * every entity-less fold cluster is same-key-connected and the ids
      * match the other modes. */
    case class BottomUp(meThreshold: Double = 0.5, mmThreshold: Double = 0.5,
                        meScore: Column = DefaultMeScore)
        extends Canonicalization
  }

  /** NIL labels more frequent than this with no known entity are boilerplate
    * and dropped (F9, ≙ `/root/reference/impl/wikipedia/__init__.py:59-67`,
    * threshold 50 there; lower here because the fixture corpus is small). */
  val MaxUnknownLabelFreq = 20

  /** Above this row count a delta key set stops being broadcast-hinted and
    * the carry joins degrade to AQE-planned shuffle joins (high-churn
    * re-crawls must not OOM the driver on a forced broadcast — SCALE.md's
    * url-bucketed shape takes over well before this at real scale). */
  val MaxBroadcastKeys = 2000000L

  /** Run (or resume) the full pipeline; returns the triple table.
    * `canon` picks the canonicalization mode; resume is per-stage by name,
    * so use a FRESH outDir when changing modes (mode-specific stages are
    * name-suffixed, but downstream stages are shared).
    *
    * A full run is a [[runDelta]] with no previous state. Both entry points
    * drive one stage list ([[stages]]) in which every corpus-level stage is
    * declared once: its name, its key, the expression that computes its
    * rows over a slice of its inputs, and its maintenance rule — a carried
    * key-keyed table or a count view ([[Stages]]). With no previous state
    * every slice is the whole input and each stage is written under its
    * own name. */
  def run(spark: SparkSession, pages: DataFrame, seedsIn: Seeds,
          outDir: String, runId: String = "run-1",
          canon: Canonicalization = Canonicalization.Components): DataFrame =
    stages(spark, pages, seedsIn, outDir, runId, canon, prev = None)

  /** Incremental run over a RE-CRAWL (the recurring-snapshot shape the
    * reference handles by full re-extraction per dump): [[run]]'s stage
    * list with `prevDir` — the outDir of a completed [[run]] or
    * [[runDelta]] — as the previous state. A url is TOUCHED when its
    * (url, warc_ts, content_fp) capture set changed in either direction;
    * only touched urls pass through the per-page prefix (extract → parse →
    * link), every other url carries its extracted text and linked mentions
    * over. Pages absent from the new crawl drop out (deletions).
    *
    * Downstream, every corpus-level table is maintained rather than
    * recomputed. A carried table writes its rows over the affected slice as
    * `<name>_fresh` and records `<name>` as a layer prev − drops ∪ fresh
    * ([[StageRunner#runCarried]]); a count view applies
    * new = prev − rows(old slice) + rows(new slice), with rows cancelling
    * to 0 dropped ([[maintainCounts]]). In [[Canonicalization.Components]]
    * mode the affected slice is url-bounded: touched urls plus every url
    * whose F9 frequent-label or A9 tag-validity verdict flipped. In
    * [[Canonicalization.ScoredEd]] and [[Canonicalization.BottomUp]] modes
    * canonicalization is COMPONENT-bounded instead ([[graphClosure]]):
    * graph decisions propagate across urls through shared keys, but stay
    * local to an alignment-graph / MM component. A prevDir without the
    * mode's recorded graph state (or with a different canonicalization-
    * parameter fingerprint) bootstraps: the corpus stages run with no
    * previous state once and record the state for the next delta in the
    * chain. Output is IDENTICAL to a full [[run]] over the new crawl
    * (DeltaSpec asserts exactness, including rules and candidate counts
    * crossing their thresholds in both directions).
    *
    * Seeds must be IDENTICAL to the previous run's (checked against the
    * recorded seeds fingerprint — a dictionary change invalidates carried
    * links; use [[run]] on a fresh outDir for that). The same contract
    * covers the canonicalization parameters, enforced by bootstrap rather
    * than refusal (see `graph_canon_fp`). */
  def runDelta(spark: SparkSession, newPages: DataFrame, seedsIn: Seeds,
               outDir: String, prevDir: String, runId: String = "delta-1",
               canon: Canonicalization = Canonicalization.Components): DataFrame = {
    require(new java.io.File(outDir).getCanonicalPath !=
              new java.io.File(prevDir).getCanonicalPath,
            "runDelta: outDir must differ from prevDir — running in place " +
            "would resume every stage from the previous checkpoints and " +
            "silently ignore the new crawl")
    val prefixStages = Seq("crawl_manifest", "seeds_fp", "pages_text",
                           "linked_all", "hypernyms_by_url", "hypernyms")
    val sharedMining = Seq("unlinked_label_counts", "subject_listings",
                           "type_rules", "relation_rules", "label_counts",
                           "tag_stats", "valid_tags", "type_cand_counts",
                           "rel_cand_counts", "prov_pairs", "triples_prov")
    val graphState = canon match {
      case Canonicalization.Components => Nil
      case _: Canonicalization.ScoredEd =>
        Seq("subjects_ed", "ed_components", "ed_key_counts")
      case _: Canonicalization.BottomUp =>
        Seq("subjects_bu", "bu_components", "bu_key_counts")
    }
    // ED/BU deltas are component-bounded when prevDir recorded the mode's
    // graph state (a same-mode run() or runDelta()) AND the recorded
    // canonicalization parameters match this run's: carried subject rows
    // embed prevDir's thresholds/scorer/hot-cap, so carrying them under
    // different parameters would mix two configurations' decisions. Any
    // mismatch — including a prevDir without the fingerprint, or an
    // opaque caller-supplied scoreFn (never provably equal) — BOOTSTRAPS:
    // the corpus stages run with no previous state under the CURRENT
    // parameters and record fresh state for the next delta in the chain.
    // A Components-mode prevDir (the prefix is canon-free) bootstraps the
    // same way.
    def canonFpReady: Boolean =
      StageRunner.completed(prevDir, "graph_canon_fp") && {
        val cur = canonFpOf(spark, canon)
        val prev = spark.read.parquet(s"$prevDir/graph_canon_fp")
          .collect().map(r => r.getString(0) -> r.getString(1)).toMap
        !cur.exists(_._2 == "custom_fn") && prev == cur.toMap
      }
    val carryCorpus = graphState.isEmpty ||
      (graphState.forall(StageRunner.completed(prevDir, _)) && canonFpReady)
    val needed = prefixStages ++
      (if (!carryCorpus) Nil
       else if (graphState.isEmpty) sharedMining :+ "subjects"
       else sharedMining ++ graphState)
    for (stage <- needed)
      require(StageRunner.completed(prevDir, stage),
              s"runDelta: $prevDir lacks the '$stage' checkpoint — prevDir " +
              "must be the outDir of a completed run() or runDelta() in a " +
              "compatible canonicalization mode (pre-manifest or other-mode " +
              "outDirs cannot seed a delta; run full once)")
    stages(spark, newPages, seedsIn, outDir, runId, canon,
           prev = Some(Prev(prevDir, carryCorpus)))
  }

  /** A delta run's previous state: the parent outDir, and whether the
    * corpus stages carry from it (false = graph-mode bootstrap). */
  private case class Prev(dir: String, carryCorpus: Boolean)

  /** The one stage list behind [[run]] (`prev` = None) and [[runDelta]]:
    * the per-page prefix, then [[corpus]]. */
  private def stages(spark: SparkSession, pages: DataFrame, seedsIn: Seeds,
                     outDir: String, runId: String, canon: Canonicalization,
                     prev: Option[Prev]): DataFrame = {
    Normalize.register(spark)
    val seeds = pinSeeds(seedsIn)
    val runner = new StageRunner(spark, outDir, runId)
    val st = new Stages(spark, runner, prev.map(_.dir))

    // 0. crawl manifest: the (url, warc_ts, content_fp) fingerprint of the
    // consumed crawl slice. A later [[runDelta]] anti-joins its new crawl
    // against this to find changed/added pages — the content fingerprint
    // catches a capture rewritten under an unchanged timestamp. Plus the
    // seeds fingerprint: carried links are only valid under identical seeds.
    val seedsFp = prev match {
      case None => seedsFingerprint(spark, seeds)
      case Some(p) => checkedSeedsFp(spark, seeds, p.dir)
    }
    val manifest = runner.run("crawl_manifest") { manifestOf(pages) }
    runner.run("seeds_fp") { seedsFp }
    lazy val touched = touchedUrls(manifest, st.prev("crawl_manifest"))

    // 1. invariant text extraction (byte-identical per url)
    val pagesText = st.carried("pages_text", "url", touched) {
      TextExtract.extract(st.slice(pages, touched))
    }

    // 2. listings → items → subject mentions. Only the slice's mentions
    // are checkpointed ("mentions_fresh" on a delta — run()'s corpus-wide
    // "mentions" checkpoint must never resume into the delta-only shape or
    // vice versa, the linked_all/linked lesson)
    val mentions = st.sliceOnly("mentions") {
      ListingExtract.mentions(pagesText.cur)
    }

    // 3. entity linking (broadcast alias dict incl. folded spelling
    // redirects). ONE broadcast-join execution; linked/unlinked are filters
    // over the checkpointed join output (ent nullable), not two separate
    // stages. Stage name is "linked_all", NOT the pre-r3 "linked": the
    // checkpoint shape changed (nullable ent, unlinked rows included) and
    // StageRunner resumes by name — a stale "linked" checkpoint must never
    // resume into the new shape (it would silently empty the NIL path).
    val dict = buildDict(seeds)
    val linkedAll = st.carried("linked_all", "url", touched,
                               freshName = "linked_fresh") {
      AliasLink.linkAll(mentions, dict)
    }

    // 1b. corpus hypernym mining over page prose (A5/N9 — Hearst patterns),
    // checkpointed per url first; the global aggregate is its rollup, so a
    // delta's minus side is a row drop from the url-keyed view, NOT a
    // re-parse of dropped prose (maintenance cost is 1× the churn, not 2×)
    val hypByUrl = st.carried("hypernyms_by_url", "url", touched) {
      import spark.implicits._
      graft.mine.Hearst.corpusCountsByUrl(
        pagesText.cur.select("url", "text").as[(String, String)])
    }
    st.counts("hypernyms", "sub", "obj") { s =>
      s(hypByUrl).groupBy("sub", "obj").agg(sum("cnt").as("cnt"))
    }

    if (prev.forall(_.carryCorpus))
      corpus(st, linkedAll, touched, dict, seeds, canon)
    else
      corpus(new Stages(spark, runner, None),
             new Rel(linkedAll.all, linkedAll.all), touched, dict, seeds, canon)
  }

  /** The seeds contract of a delta: the recorded fingerprint must match
    * (carried pages_text/linked_all rows silently mix stale semantics
    * otherwise). Returns the current fingerprint, localCheckpointed so the
    * seed tables are scanned ONCE: the comparison collect and the seeds_fp
    * stage write both read the 6-row checkpoint instead of re-aggregating
    * every seed table (aliases is the largest seed input — at scale this
    * halves the delta's seed-scan bill). */
  private def checkedSeedsFp(spark: SparkSession, seeds: Seeds,
                             prevDir: String): DataFrame = {
    val curFpDf = seedsFingerprint(spark, seeds).localCheckpoint()
    val prevFp = spark.read.parquet(s"$prevDir/seeds_fp")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val curFp = curFpDf.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // a FORMAT change is not a seed change: report it as such instead of
    // claiming the (possibly byte-identical) seeds differ (ADVICE r4)
    val prevVer = prevFp.getOrElse("__fp_version", 1L)
    require(prevVer == SeedsFpVersion,
            s"runDelta: seeds-fingerprint FORMAT changed (prevDir " +
            s"recorded v$prevVer, this engine computes v$SeedsFpVersion) " +
            "— the seed tables may be byte-identical, but the recorded " +
            "fingerprint cannot be compared; run full once on a fresh " +
            "outDir to re-record it")
    require(prevFp == curFp,
            s"runDelta: seed tables differ from prevDir's recorded " +
            s"fingerprint (prev=$prevFp, current=$curFp) — carried links " +
            "would be stale; run full on a fresh outDir instead")
    curFpDf
  }

  /** The urls a delta re-derives. The join must be keyed by the SMALL
    * side — the delta, not the corpus. A re-crawl changes ~1% of captures,
    * so the changed/vanished key sets broadcast and every carry is a
    * broadcast (anti/semi) hash join with the corpus side unshuffled;
    * joining on the 99% unchanged set instead would shuffle the whole
    * corpus twice and cost more than the full run it replaces (measured —
    * see BENCH/BASELINE.md). The broadcast hint is guarded: above
    * [[MaxBroadcastKeys]] (a high-churn re-crawl) the hint is dropped and
    * AQE plans the join. At 10^12 docs, where even 1% outgrows a
    * broadcast, the same shape holds with url-bucketed checkpoint tables
    * (SCALE.md).
    *
    * A url is TOUCHED when its capture set changed in either direction:
    * new/changed captures (manifest ∖ prev) or vanished captures
    * (prev ∖ manifest — which covers fully deleted urls too). Touched urls
    * drop their carried state and re-extract whatever captures the new
    * crawl still has — so a url that merely LOST one of several captures
    * re-derives from the survivors instead of carrying the deleted capture
    * forward. */
  private def touchedUrls(manifest: DataFrame,
                          prevManifest: DataFrame): DataFrame = {
    val capKeys = Seq("url", "warc_ts", "content_fp")
    val changedCaptures = manifest.join(prevManifest, capKeys, "left_anti")
    val vanishedCaptures = prevManifest.join(manifest, capKeys, "left_anti")
    hintSmall(
      changedCaptures.select("url")
        .unionByName(vanishedCaptures.select("url"))
        .distinct().localCheckpoint())
  }

  /** The change fingerprint of a crawl slice: (url, warc_ts, content_fp)
    * per capture, content_fp = xxhash64 of the raw bytes — a capture
    * rewritten under an unchanged timestamp is still detected (shared by
    * [[run]] and [[runDelta]]; both sides of the delta anti-join MUST use
    * the same expression). Exact-duplicate capture ROWS (same url, ts, and
    * bytes) are treated as one capture — multiplicity of byte-identical
    * rows is degenerate input, not a change signal. */
  private def manifestOf(pages: DataFrame): DataFrame =
    pages.filter(col("lang") === "en")
      .select(col("url"), col("warc_ts"), xxhash64(col("html")).as("content_fp"))

  /** Order-independent, multiset-sensitive fingerprint of every seed
    * table: SUM of per-row xxhash64 (as decimal(38,0) — wide enough for
    * any row count, and ANSI-safe where a Long sum could overflow-throw),
    * mixed with the row count. bit_xor was multiset-BLIND: even-
    * multiplicity duplicate-row swaps ({A,A,C} → {B,B,C}) cancelled to the
    * same xor, so a changed seed dump could slip past [[runDelta]]'s
    * staleness guard. Nulls coalesce to a per-column marker so a value
    * shifting position across columns cannot alias (xxhash64 folds null
    * fields without a position contribution). Partitioning-invariant;
    * recorded at run time; [[runDelta]] refuses to carry across a change.
    *
    * The fingerprint FORMULA is versioned (the `__fp_version` row): when
    * the formula changes, a byte-identical seed set still produces
    * different fp values, and without the version row [[runDelta]] would
    * misreport that as "seed tables differ" (ADVICE r4 — the r3→r4 formula
    * change silently invalidated every existing delta chain with a
    * misleading diagnostic). Bump [[SeedsFpVersion]] on ANY formula
    * change. */
  private val SeedsFpVersion = 2L

  private def seedsFingerprint(spark: SparkSession, seeds: Seeds): DataFrame = {
    import spark.implicits._
    val tables = Seq(
      "aliases" -> seeds.aliases, "entity_types" -> seeds.entityTypes,
      "taxonomy_edges" -> seeds.taxonomyEdges,
      "disjoint_pairs" -> seeds.disjointPairs,
      "seed_relations" -> seeds.seedRelations, "redirects" -> seeds.redirects)
    // ONE plan — per-table row hashes unioned, one aggregate keyed by
    // table name — instead of six independent aggregates (one exchange for
    // ~7 output rows instead of six). Stage wall measured ~flat at bench
    // scale (the cost there is one-time session codegen, not the
    // aggregates), but the fp VALUES are bit-identical to the former
    // per-table form: sum/count over the same rows grouped by tbl, and the
    // defaults below reproduce the former null-table (fp = 0) and
    // present-but-empty (fp = xxhash64("0", 0)) rows — so SeedsFpVersion
    // is unchanged and fingerprints recorded by older runs still compare
    // equal (proven by the full+delta soak: the delta's fp compare passed
    // against a prevDir written by the same formula, and DeltaSpec
    // compares across runs).
    val hashed = tables.collect { case (name, df) if df != null =>
      val marked = df.columns.map(c =>
        coalesce(col(c).cast("string"), lit("\u0000")))
      df.select(lit(name).as("tbl"), xxhash64(marked: _*).as("h"))
    }
    val grouped = hashed.reduceOption(_ unionByName _).map(
      _.groupBy("tbl")
        .agg(sum(col("h").cast("decimal(38,0)")).as("x"),
             count(lit(1)).as("n"))
        .select(col("tbl"),
                xxhash64(col("x").cast("string"), col("n")).as("fp")))
    // null tables record fp 0; present-but-empty tables produce no group
    // above and record the former empty-aggregate value
    val defaults = tables.map { case (name, df) => (name, df == null) }
      .toDF("tbl", "is_null")
      .select(col("tbl"),
              when(col("is_null"), lit(0L))
                .otherwise(xxhash64(lit("0"), lit(0L))).as("fp"))
    val version = spark.range(1)
      .select(lit("__fp_version").as("tbl"), lit(SeedsFpVersion).as("fp"))
    grouped match {
      case Some(g) =>
        version.unionByName(g).unionByName(
          defaults.join(g.select(col("tbl")), Seq("tbl"), "left_anti"))
      case None => version.unionByName(defaults)
    }
  }

  /** Broadcast-hint a delta key set only while it is actually small
    * (ADVICE r3: an unconditional hint OOMs on high-churn re-crawls);
    * beyond the threshold AQE plans the join unhinted. The session conf
    * `graft.delta.maxBroadcastKeys` overrides [[MaxBroadcastKeys]] —
    * DeltaThresholdSpec pins it to 0 to prove the un-hinted fallback is
    * result-identical (SCALE.md's high-churn shape). */
  private def hintSmall(df: DataFrame): DataFrame = {
    val max = df.sparkSession.conf
      .get("graft.delta.maxBroadcastKeys", MaxBroadcastKeys.toString).toLong
    // probe limit is computed min-first: `max + 1` on Long.MaxValue wraps
    // negative and .toInt would yield a limit(0) that "proves" every frame
    // small — the exact OOM this guard exists to prevent
    val probeRows = (math.min(max, Int.MaxValue.toLong - 1) + 1).toInt
    if (max > 0 && df.limit(probeRows).count() <= max) broadcast(df)
    else df
  }

  /** Alias dictionary incl. folded spelling redirects (shared by [[run]]
    * and [[runDelta]]). */
  private def buildDict(seeds: Seeds): DataFrame = {
    val aliasTable =
      if (seeds.redirects == null) seeds.aliases
      else AliasLink.foldRedirects(seeds.aliases, seeds.redirects)
    AliasLink.buildDict(aliasTable)
  }

  private def fresh(df: DataFrame): DataFrame =
    df.select(df.columns.map(c => col(c).as(c)): _*)

  /** The net change of an additive count aggregate: plus − minus per key,
    * over every key of either side (zero sums included — they are the
    * touched keys too). Inputs carry (keys..., cnt); a DELTA-sized shuffle,
    * checkpointed because [[maintainCounts]] and the touched-key sets read
    * it. */
  private def netCounts(minus: DataFrame, plus: DataFrame,
                        keys: Seq[String]): DataFrame =
    fresh(plus)
      .unionByName(fresh(minus).withColumn("cnt", -col("cnt")))
      .groupBy(keys.map(col): _*).agg(sum("cnt").as("cnt"))
      .localCheckpoint()

  /** The classic materialized-view maintenance identity for an additive
    * count aggregate: new = prev + net ([[netCounts]]), groups cancelling
    * to 0 dropped.
    *
    * Shuffle shape: the previous view is carried with broadcast anti/semi
    * joins on the touched keys; only touched-key rows ever re-aggregate. A
    * naive prev ∪ plus ∪ minus groupBy would shuffle the whole view every
    * delta run. */
  private def maintainCounts(prev: DataFrame, net: DataFrame,
                             keys: Seq[String]): DataFrame = {
    val touched = hintSmall(net.select(keys.map(col): _*))
    fresh(prev).join(touched, keys, "left_anti")
      .unionByName(
        fresh(prev).join(touched, keys, "left_semi")
          .unionByName(net)
          .groupBy(keys.map(col): _*).agg(sum("cnt").as("cnt"))
          .filter(col("cnt") > 0))
  }

  /** The ME scorer of a ScoredEd config as the whole-DataFrame seam. */
  private def edScoreFn(ed: Canonicalization.ScoredEd)
      : DataFrame => DataFrame =
    ed.scoreFn.getOrElse(cand => cand.withColumn("score", ed.meScore))

  /** ED subject assembly: kept mentions × NastyLinker assignment; NIL
    * mentions take the content-derived "new:<alias key>" id (shared by the
    * full run and the delta's component slice — one definition so they
    * cannot diverge). */
  private def edSubjectsOf(keptAll: DataFrame, assign: DataFrame): DataFrame =
    keptAll.drop("ent")
      .join(assign.select(col("mention_id"), col("ent").as("ed_ent")),
            "mention_id")
      .select(col("url"), col("listing_key"), col("mention_id"),
              col("label"),
              coalesce(col("ed_ent"),
                       concat(lit("new:"), col("key"))).as("ent"),
              col("ed_ent").isNull.as("is_new"))

  /** [[edSubjectsOf]] for the BottomUp fold's assignment, which only
    * covers mentions in the fold domain (≥1 scored candidate or MM edge)
    * — a LEFT join keeps the rest as NIL with the shared "new:<key>" id. */
  private def buSubjectsOf(keptAll: DataFrame, assign: DataFrame): DataFrame =
    keptAll.drop("ent")
      .join(assign.select(col("mention_id"), col("ent").as("bu_ent")),
            Seq("mention_id"), "left")
      .select(col("url"), col("listing_key"), col("mention_id"),
              col("label"),
              coalesce(col("bu_ent"),
                       concat(lit("new:"), col("key"))).as("ent"),
              col("bu_ent").isNull.as("is_new"))

  /** The alignment graph's connected components, recorded as the ED delta
    * state: one row per KEPT MENTION (comp, node, mention_id, url, key,
    * label — isolated mentions are their own component) and one per ENTITY
    * node (comp, node, nulls). Component ids are the component's minimum
    * node id ([[graft.canonical.ConnectedComponents]]) — content-derived,
    * so a component slice recomputed by [[runDelta]] reproduces the ids a
    * full run would. `cc` is the SHARED checkpointed component table the
    * caller also feeds NastyLinker — the CC loop runs once per edge set,
    * not once per consuming stage. */
  private def edComponentsOf(keptAll: DataFrame, cc: DataFrame): DataFrame = {
    val mentionRows = keptAll
      .select(col("mention_id"), col("url"), col("label"),
              Normalize.aliasKey(col("label")).as("key"))
      .withColumn("node", concat(lit("m:"), col("mention_id")))
      .join(cc, Seq("node"), "left_outer")
      .select(coalesce(col("component"), col("node")).as("comp"),
              col("node"), col("mention_id"), col("url"), col("key"),
              col("label"))
    val entityRows = cc.filter(col("node").startsWith("e:"))
      .select(col("component").as("comp"), col("node"),
              lit(null).cast("string").as("mention_id"),
              lit(null).cast("string").as("url"),
              lit(null).cast("string").as("key"),
              lit(null).cast("string").as("label"))
    mentionRows.unionByName(entityRows)
  }

  /** The BottomUp fold's ME scorer as the whole-DataFrame seam
    * (≙ [[edScoreFn]]). */
  private def buScoreFn(bu: Canonicalization.BottomUp)
      : DataFrame => DataFrame =
    cand => cand.withColumn("score", bu.meScore)

  /** The alignment graph's ME edges in [[graft.canonical.BottomUpCluster]]
    * shape (bare mention/entity ids). */
  private def buMeEdges(edges: DataFrame): DataFrame =
    edges.filter(col("dst").startsWith("e:"))
      .select(expr("substring(src, 3)").as("mention_id"),
              expr("substring(dst, 3)").as("ent"),
              col("weight").as("score"))

  /** The alignment graph's MM edges above the fold threshold, bare ids —
    * the edge set whose connected components bound the fold
    * ([[graft.canonical.BottomUpCluster.cluster]] `ccIn` contract). */
  private def buMmEdges(edges: DataFrame, mmThreshold: Double): DataFrame =
    edges.filter(col("dst").startsWith("m:"))
      .select(expr("substring(src, 3)").as("m1"),
              expr("substring(dst, 3)").as("m2"),
              col("weight").as("score"))
      .filter(col("score") > mmThreshold)

  /** [[edComponentsOf]] for BottomUp mode: MM-edge components only (bare
    * mention-id nodes, no entity rows — ME edges never merge fold
    * clusters across components, so entities are not component members).
    * One row per kept mention; isolated mentions are their own
    * component. Component ids are the component's minimum mention id —
    * content-derived, so a delta's component-slice recompute reproduces
    * the ids a full run would. */
  private def buComponentsOf(keptAll: DataFrame, cc: DataFrame): DataFrame =
    keptAll
      .select(col("mention_id"), col("url"), col("label"),
              Normalize.aliasKey(col("label")).as("key"))
      .withColumn("node", col("mention_id"))
      .join(cc, Seq("node"), "left_outer")
      .select(coalesce(col("component"), col("node")).as("comp"),
              col("node"), col("mention_id"), col("url"), col("key"),
              col("label"))

  /** What distinguishes one graph canonicalization mode from the other: the
    * recorded stage names, whether entity nodes join components (ED's CC
    * runs over ME+MM edges, so an entering mention can reach an old
    * component through a shared DICTIONARY CANDIDATE; BU components are
    * MM-only), the canonicalization-parameter fingerprint
    * ([[canonFpOf]]), and the graph recompute itself (`recompute(all,
    * hotKeysIn, report)` — `hotKeysIn = None` on a full run, the
    * maintained GLOBAL hot set on a delta slice). Everything else —
    * the stages, and on a delta the slice closure ([[graphClosure]]) — is
    * shared verbatim by the two modes. */
  private case class GraphMode(
      subjectsStage: String, compsStage: String, keyCountsStage: String,
      entityAdjacency: Boolean,
      canonFp: Seq[(String, String)],
      recompute: (DataFrame, Option[DataFrame], LoopReport)
        => (DataFrame, DataFrame))

  /** The canonicalization-parameter fingerprint recorded beside the graph
    * state (`graph_canon_fp`): carried subject rows embed the thresholds,
    * scorer, and hot-key cap of the run that produced them, so a delta
    * under DIFFERENT parameters must not carry (it would mix two
    * configurations' decisions — the seeds-fingerprint argument, applied
    * to the canon config). A caller-supplied `scoreFn` is opaque
    * (`custom_fn`) and never matches — such chains bootstrap every delta
    * (sound: the bootstrap recomputes under the CURRENT scorer). */
  private def canonFpOf(spark: SparkSession,
                        canon: Canonicalization): Seq[(String, String)] =
    canon match {
      case Canonicalization.Components => Seq("mode" -> "components")
      case ed: Canonicalization.ScoredEd => Seq(
        "mode" -> "scored_ed",
        "me_threshold" -> ed.meThreshold.toString,
        "mm_threshold" -> ed.mmThreshold.toString,
        "path_threshold" -> ed.pathThreshold.toString,
        "me_score" ->
          (if (ed.scoreFn.isDefined) "custom_fn" else ed.meScore.toString),
        "max_key_bucket" -> AlignmentGraph.maxKeyBucket(spark).toString)
      case bu: Canonicalization.BottomUp => Seq(
        "mode" -> "bottom_up",
        "me_threshold" -> bu.meThreshold.toString,
        "mm_threshold" -> bu.mmThreshold.toString,
        "me_score" -> bu.meScore.toString,
        "max_key_bucket" -> AlignmentGraph.maxKeyBucket(spark).toString)
    }

  private def edMode(spark: SparkSession, dict: DataFrame,
                     ed: Canonicalization.ScoredEd): GraphMode =
    GraphMode(
      "subjects_ed", "ed_components", "ed_key_counts",
      entityAdjacency = true,
      canonFp = canonFpOf(spark, ed),
      recompute = (all, hotIn, rep) => {
        val edges = AlignmentGraph.buildScored(
            all.select("mention_id", "label"), dict, edScoreFn(ed),
            ed.meThreshold, ed.mmThreshold, hotKeysIn = hotIn)
          .localCheckpoint()
        // ONE component table feeds both the NastyLinker split and the
        // recorded delta state — computed over the KEY-CONTRACTED graph
        // (identical output, no per-mention CC rounds — see
        // AlignmentGraph.components); NastyLinker still reads the FULL
        // weighted edge set.
        val cc = AlignmentGraph.components(
            all.select("mention_id", "label"),
            edges.filter(col("dst").startsWith("e:")).select("src", "dst"),
            ed.mmThreshold, hotIn,
            // the default prior scorer reads only dict-row columns, so the
            // ME edge set is a function of the key — hot buckets contract
            keyDeterminedScores =
              ed.scoreFn.isEmpty &&
                (ed.meScore eq Canonicalization.DefaultMeScore))
          .localCheckpoint()
        val assign = AlignmentGraph.clusterEdges(
          all.select("mention_id", "label"), edges,
          ed.pathThreshold, rep, ccIn = Some(cc),
          nilCliqueHint = Some(AlignmentGraph.mmCliqueHint(
            all.select("mention_id", "label"), ed.mmThreshold, hotIn)))
        (edSubjectsOf(all, assign), edComponentsOf(all, cc))
      })

  private def buMode(spark: SparkSession, dict: DataFrame,
                     bu: Canonicalization.BottomUp): GraphMode =
    GraphMode(
      "subjects_bu", "bu_components", "bu_key_counts",
      entityAdjacency = false,
      canonFp = canonFpOf(spark, bu),
      recompute = (all, hotIn, _) => {
        val edges = AlignmentGraph.buildScored(
            all.select("mention_id", "label"), dict, buScoreFn(bu),
            bu.meThreshold, bu.mmThreshold, hotKeysIn = hotIn)
          .localCheckpoint()
        val mm = buMmEdges(edges, bu.mmThreshold)
        // MM components in closed form — same-key cliques ARE the
        // components, so no CC loop runs at all (see
        // AlignmentGraph.mmComponents); the fold still consumes the full
        // ordered `mm` edge list
        val mmCc = AlignmentGraph.mmComponents(
            all.select("mention_id", "label"), bu.mmThreshold, hotIn)
          .localCheckpoint()
        val assign = graft.canonical.BottomUpCluster.cluster(
          buMeEdges(edges), mm, bu.mmThreshold, bu.meThreshold,
          ccIn = Some(mmCc))
        (buSubjectsOf(all, assign), buComponentsOf(all, mmCc))
      })

  private def canonFpDf(spark: SparkSession,
                        fp: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    fp.toDF("param", "value")
  }

  /** A stage table as the stages downstream of it read it: every row
    * (`all`), the rows this run computed (`cur` — every row on a full run;
    * the net change per touched key for a delta's count view) and, on a
    * delta, the previous run's rows for the same slice (`old`). `cur` and
    * `old` are built on first use, so a stage that resumes, or a full run,
    * never reads the previous state. */
  private final class Rel(val all: DataFrame, curRows: => DataFrame,
                          oldRows: => DataFrame = null) {
    lazy val cur: DataFrame = curRows
    lazy val old: DataFrame = oldRows
  }

  /** The stage declarations of one run, against an optional previous state
    * (`prevDir`, None on a full run). Each corpus-level stage names its
    * maintenance rule by the method that runs it:
    *  - [[carried]]: a key-keyed table. Full run: its rows over the whole
    *    input, written under its own name. Delta: its rows over the affected
    *    slice as `<name>_fresh`, then a carry layer over the previous table
    *    minus `drops` — the "Joins over UNION ALL" shape (PAPERS), whose
    *    carry branch is empty on a full run;
    *  - [[counts]]: an additive count view. Full run: its rows over the
    *    whole input. Delta: [[maintainCounts]] of the previous view with the
    *    rows of the old and the new slice;
    *  - [[derived]]: recomputed from maintained inputs in both runs;
    *  - [[sliceOnly]]: an intermediate only its own run reads.
    * `drops` arguments are only evaluated on a delta, before the stage body
    * runs. */
  private final class Stages(val spark: SparkSession, val runner: StageRunner,
                             prevDir: Option[String]) {
    def delta: Boolean = prevDir.isDefined

    private val prevTables =
      scala.collection.mutable.Map.empty[String, DataFrame]

    /** The previous run's `stage` table (carry layers resolved), read once
      * per run. */
    def prev(stage: String): DataFrame =
      prevTables.getOrElseUpdate(stage,
        StageRunner.read(spark, s"${prevDir.get}/$stage"))

    /** `df` restricted to the keys of `drops` on a delta; all of it on a
      * full run. */
    def slice(df: DataFrame, drops: => DataFrame): DataFrame =
      if (delta) df.join(drops, drops.columns.toSeq, "left_semi") else df

    def sliceOnly(name: String, report: LoopReport = null)
                 (rows: => DataFrame): DataFrame =
      runner.run(if (delta) s"${name}_fresh" else name, report = report)(rows)

    /** `keyed` picks the full-run writer: [[StageRunner#runKeyed]] (bucket
      * layout capable) or plain [[StageRunner#run]]. */
    def carried(name: String, key: String, drops: => DataFrame,
                keyed: Boolean = true, freshName: String = null,
                report: LoopReport = null)(rows: => DataFrame): Rel =
      prevDir match {
        case None =>
          val t =
            if (keyed) runner.runKeyed(name, Seq(key), report = report)(rows)
            else runner.run(name, report = report)(rows)
          new Rel(t, t)
        case Some(dir) =>
          val d = drops
          val fresh = Option(freshName).getOrElse(s"${name}_fresh")
          val cur = runner.run(fresh, report = report)(rows)
          val all =
            runner.runCarried(name, dir, Seq(key), d, runner.pathOf(fresh))
          new Rel(all, cur, prev(name).join(d, Seq(key), "left_semi"))
      }

    /** `rows(side)` computes the view from one side of each input: `_.cur`
      * on a full run; `_.old` (minus) and `_.cur` (plus) on a delta. */
    def counts(name: String, keys: String*)
              (rows: (Rel => DataFrame) => DataFrame): Rel =
      if (!delta) {
        val t = runner.run(name)(rows(_.cur))
        new Rel(t, t)
      } else {
        lazy val net = netCounts(rows(_.old), rows(_.cur), keys)
        new Rel(runner.run(name)(maintainCounts(prev(name), net, keys)), net)
      }

    def derived(name: String)(rows: => DataFrame): Rel = {
      val t = runner.run(name)(rows)
      new Rel(t, t, prev(name))
    }
  }

  /** Rows in exactly one of two distinct sets: the keys whose threshold
    * verdict flipped, in either direction. */
  private def flipped(a: DataFrame, b: DataFrame, keys: String*): DataFrame =
    fresh(a).unionByName(fresh(b))
      .groupBy(keys.map(col): _*).agg(count(lit(1)).as("c"))
      .filter(col("c") === 1).select(keys.map(col): _*)
      .localCheckpoint()

  /** The corpus-level stages downstream of the per-page prefix:
    * canonicalization (the mode's own stages) → [[mineAndEmit]].
    * `touched` is the delta's touched-url set. */
  private def corpus(st: Stages, linkedAll: Rel, touched: => DataFrame,
                     dict: DataFrame, seeds: Seeds,
                     canon: Canonicalization): DataFrame = {
    val seedTypes = seeds.entityTypes.select(col("ent"), col("tpe"))

    // 3b. F9: frequent unknown labels (boilerplate) — counted as a
    // maintained view, filtered before clustering
    def frequentOf(counts: DataFrame): DataFrame =
      counts.filter(col("cnt") > MaxUnknownLabelFreq).select("label")
    val unlCounts = st.counts("unlinked_label_counts", "label") { s =>
      s(linkedAll).filter(col("ent").isNull)
        .groupBy("label").agg(count(lit(1)).as("cnt"))
    }
    val frequent = hintSmall(fresh(frequentOf(unlCounts.all)))

    // A9 tag gate inputs: P(tag|type) stats over linked mentions, validity
    // ≥ threshold with parent-tag inheritance (driver fixpoint over the
    // broadcast taxonomy). The stats count LINKED mentions × seed types —
    // the reference's df_train slice (known entities only,
    // `listing/extract.py:47-48`). Lazy: a full run writes them among the
    // mining stages, a delta before it slices canonicalization (their flips
    // widen the slice).
    lazy val tagStats = st.counts("tag_stats", "tpe", "tag") { s =>
      graft.taxonomy.ValidTags.tagStats(
        s(linkedAll).filter(col("ent").isNotNull)
          .select(col("ent"),
                  graft.taxonomy.ValidTags.shapeTag(col("label")).as("tag")),
        seedTypes)
    }
    lazy val validTags = st.derived("valid_tags") {
      graft.taxonomy.ValidTags.validTagsFromStats(tagStats.all,
                                                  seeds.taxonomyEdges)
    }

    // — delta only: the verdict flips that reach urls the crawl never
    //   touched —
    // a label crossing the F9 boilerplate threshold changes the kept
    // mentions of every url holding it
    lazy val flippedLabels = flipped(frequentOf(unlCounts.all),
      frequentOf(st.prev("unlinked_label_counts")), "label")
    // the urls the mining stages re-derive: the touched ones, every url
    // holding an unlinked mention whose F9 verdict flipped, and every url
    // whose (prev subjects × prev rules) rows hit a (tpe, tag) pair whose
    // A9 validity flipped (it changes gated assertions there), plus the
    // mode's own widenings
    def affectedUrls(subjectsStage: String, extra: DataFrame*): DataFrame = {
      val f9FlipUrls =
        if (flippedLabels.isEmpty) None
        else Some(linkedAll.all.filter(col("ent").isNull)
          .join(hintSmall(flippedLabels), Seq("label"), "left_semi")
          .select("url"))
      val flippedTags = flipped(validTags.all, validTags.old, "tpe", "tag")
      val tagFlipUrls =
        if (flippedTags.isEmpty) None
        else {
          // restrict rules to flipped types FIRST (tiny broadcast) so the
          // listing-keyed join is map-side against a small side
          val rulesFlipped = st.prev("type_rules").join(
            hintSmall(flippedTags.select("tpe").distinct()),
            Seq("tpe"), "left_semi")
          Some(st.prev(subjectsStage)
            .select(col("url"), col("listing_key"),
                    graft.taxonomy.ValidTags.shapeTag(col("label")).as("tag"))
            .join(rulesFlipped, Seq("url", "listing_key"))
            .join(hintSmall(flippedTags), Seq("tpe", "tag"), "left_semi")
            .select("url"))
        }
      val widenings = f9FlipUrls.toSeq ++ tagFlipUrls ++ extra
      hintSmall(
        (if (widenings.isEmpty) touched
         else widenings.foldLeft(touched.select("url"))(_ unionByName _)
           .distinct())
          .localCheckpoint())
    }

    /** Graph canonicalization. Besides the subject table, a run records the
      * mode's delta state: the components stage (the alignment graph's
      * connected components), the key-counts stage (kept-mention key counts
      * — the GLOBAL hot-key cap a slice recompute must use) and
      * `graph_canon_fp` (the parameter fingerprint a delta compares before
      * carrying). A delta first bounds the recompute to the affected
      * components ([[graphClosure]]); one lazy recompute feeds the subject
      * and component stages (a fully-resumed outDir never builds the graph,
      * a partial resume builds it once). */
    def graphCanon(mode: GraphMode): DataFrame = {
      def keptAllOf(la: DataFrame): DataFrame = {
        val (l, u) = AliasLink.splitLinked(la)
        fresh(l).unionByName(
          fresh(u.join(frequent, Seq("label"), "left_anti"))
            .withColumn("ent", lit(null).cast("string")))
      }
      def keyCounts(members: Rel): Rel =
        st.counts(mode.keyCountsStage, "key") { s =>
          AlignmentGraph.graphMentions(s(members))
            .groupBy("key").agg(count(lit(1)).as("cnt"))
        }
      val closure =
        if (!st.delta) None
        else Some(graphClosure(st, mode, linkedAll, touched, frequent,
                               flippedLabels, dict, keptAllOf, keyCounts))
      val rep = new LoopReport
      lazy val recomputed = closure match {
        case None =>
          mode.recompute(keptAllOf(linkedAll.all).localCheckpoint(), None, rep)
        case Some(c) => mode.recompute(c.slice, Some(c.hotKeys), rep)
      }
      // carries: the subjects stage drops the affected components' mention
      // ids (a MENTION-keyed layer — affected mentions live on untouched
      // urls); the components stage drops whole components
      val subjects = st.carried(mode.subjectsStage, "mention_id",
                                closure.get.mentionDrops, keyed = false,
                                report = rep) { recomputed._1 }
      st.carried(mode.compsStage, "comp", closure.get.compDrops) {
        recomputed._2
      }
      if (closure.isEmpty) keyCounts(new Rel(subjects.all, subjects.all))
      st.runner.run("graph_canon_fp") {
        canonFpDf(st.spark, mode.canonFp)
      }
      // mining re-derives every url holding an affected mention
      lazy val urls = affectedUrls(mode.subjectsStage, closure.get.urls: _*)
      val subjectsA =
        if (!st.delta) subjects
        else {
          val u = urls
          new Rel(subjects.all,
            st.runner.run(s"${mode.subjectsStage}_affected") {
              subjects.all.join(u, Seq("url"), "left_semi")
            },
            st.prev(mode.subjectsStage).join(u, Seq("url"), "left_semi"))
        }
      mineAndEmit(st, subjectsA, urls, validTags, seeds)
    }

    // 4 + 5. canonicalization → subject-entity table (known + new)
    canon match {
      case Canonicalization.Components =>
        // 4a. NIL canonicalization via connected components. A delta
        // re-derives the affected urls with the SAME expressions (NIL ids
        // are content-derived and page-local — see NilCluster — listing
        // rules are per (url, listing_key) and the count views are additive
        // over url contributions, so slice ∪ carry ≡ full recompute)
        lazy val urls = affectedUrls("subjects")
        val (linked, unlinked) =
          AliasLink.splitLinked(st.slice(linkedAll.all, urls))
        val keptUnlinked = unlinked.join(frequent, Seq("label"), "left_anti")
        val nilRep = new LoopReport
        val nilAssign = st.sliceOnly("nil_entities", nilRep) {
          NilCluster.cluster(keptUnlinked, nilRep)
        }
        // linked mentions keep their argmax entity; kept-NIL mentions take
        // their content-derived cluster id
        val subjects = st.carried("subjects", "url", urls) {
          linked.select("url", "listing_key", "mention_id", "label", "ent")
            .withColumn("is_new", lit(false))
            .unionByName(
              keptUnlinked.join(nilAssign, "mention_id")
                .select("url", "listing_key", "mention_id", "label", "ent")
                .withColumn("is_new", lit(true)))
        }
        mineAndEmit(st, subjects, urls, validTags, seeds)
      case ed: Canonicalization.ScoredEd =>
        // 4b. scored ED over ALL kept mentions: alignment graph (full
        // candidate dictionary, not the argmax-reduced one) → NastyLinker.
        // ONE corpus-side pass builds the graph; the split decides linked
        // vs NIL, overriding the prior-argmax join above.
        graphCanon(edMode(st.spark, dict, ed))
      case bu: Canonicalization.BottomUp =>
        // 4c. bottom-up union-find over the SAME scored alignment graph
        // as ScoredEd, but clustered by the reference's ordered edge fold
        // (per-MM-component, see BottomUpCluster) — argmax entity, no
        // path-threshold demotion.
        graphCanon(buMode(st.spark, dict, bu))
    }
  }

  /** A graph-mode delta's recompute bound: the kept-mention `slice` to
    * re-cluster under the GLOBAL hot-key set `hotKeys`, the carry drop sets
    * of the subject (`mentionDrops`) and component (`compDrops`) stages, and
    * the urls whose subjects that changes. */
  private case class GraphClosure(slice: DataFrame, hotKeys: DataFrame,
                                  mentionDrops: DataFrame,
                                  compDrops: DataFrame, urls: Seq[DataFrame])

  /** Graph-canonicalization DELTA bound, component-bounded (VERDICT r4 #3).
    * Both graph modes' decisions are COMPONENT-LOCAL (NastyLinker: CC →
    * per-component split; the BU fold: independent per MM component — ME
    * edges are per-mention, and the entity collapse only renames cluster
    * ids the subject table never reads), so it suffices to re-run the mode
    * on the components the churn can reach and carry every other mention's
    * assignment:
    *
    *  - graph-membership deltas: dropped-url mentions and F9 leavers exit;
    *    fresh kept mentions and F9 entrants (labels that stopped being
    *    frequent — on urls the crawl never touched) enter;
    *  - the kept-mention KEY COUNTS are a maintained view (the mode's
    *    key-counts stage, written here by `keyCounts`) because the MM
    *    hot-key cap is GLOBAL: a slice recompute must cap by the new global
    *    counts, and a key whose hotness FLIPS changes mm edges on every
    *    component holding it;
    *  - affected components = components of exiting mentions ∪ components
    *    holding a flipped key ∪ components ADJACENT to an entering
    *    mention — via its key (old same-key mentions; stably-hot keys
    *    excluded, see inline) and, in ED mode, via its dictionary
    *    candidates (old entity nodes); adjacency is direct because only
    *    new mention nodes can bridge two old components (an old mention
    *    belongs to exactly one), so one join closes it. Beyond the
    *    stably-hot exclusion (exact — the cap suppressed those mm edges
    *    in BOTH graphs) the probes are deliberately SUPERSETS (no score
    *    test) — recomputing an extra component is sound, missing one is
    *    not;
    *  - the slice (surviving members of affected components + entrants +
    *    fresh) is closed under the new graph's edges by the same argument,
    *    so it is a union of complete new-graph components: the mode's
    *    clusterer on the slice ≡ the full run restricted to it, and the
    *    slice's CC ids (min node id) reproduce the full run's. */
  private def graphClosure(st: Stages, mode: GraphMode, linkedAll: Rel,
                           dropUrls: DataFrame, frequent: DataFrame,
                           flippedLabels: DataFrame, dict: DataFrame,
                           keptAllOf: DataFrame => DataFrame,
                           keyCounts: Rel => Rel): GraphClosure = {
    val prevLinked = st.prev("linked_all")
    val prevComps = st.prev(mode.compsStage).localCheckpoint()
    val prevCompMentions = prevComps.filter(col("mention_id").isNotNull)
    val prevKeyCounts = st.prev(mode.keyCountsStage)

    // — graph-membership deltas —
    val leaverLabels =
      flippedLabels.join(frequent, Seq("label"), "left_semi")
    val entrantLabels =
      flippedLabels.join(frequent, Seq("label"), "left_anti")
    val droppedRows = prevCompMentions.join(dropUrls, Seq("url"), "left_semi")
    val leaverRows = prevCompMentions
      .join(hintSmall(leaverLabels.localCheckpoint()), Seq("label"), "left_semi")
      .join(dropUrls, Seq("url"), "left_anti")
    // entrants carry full linked rows (subject assembly needs listing_key)
    val entrantRows = prevLinked.filter(col("ent").isNull)
      .join(dropUrls, Seq("url"), "left_anti")
      .join(hintSmall(entrantLabels.localCheckpoint()), Seq("label"), "left_semi")
      .withColumn("ent", lit(null).cast("string"))
    val freshKept = keptAllOf(linkedAll.cur).localCheckpoint()
    val enteringMentions = fresh(freshKept.select("mention_id", "label"))
      .unionByName(entrantRows.select("mention_id", "label"))
      .localCheckpoint()

    // — key-count maintenance + hotness flips (the GLOBAL mm cap) —
    val keys = keyCounts(new Rel(null, enteringMentions,
      droppedRows.select("mention_id", "label")
        .unionByName(leaverRows.select("mention_id", "label"))))
    val maxBucket = AlignmentGraph.maxKeyBucket(st.spark)
    val hotNew = keys.all
      .filter(col("cnt") > maxBucket).select("key")
      .localCheckpoint()
    val hotPrev = prevKeyCounts
      .filter(col("cnt") > maxBucket).select("key")
      .localCheckpoint()
    val flippedKeys = flipped(hotNew, hotPrev, "key")

    // — affected components: exits ∪ flipped keys ∪ adjacency of entrants —
    // STABLY-HOT keys (hot in prev AND new counts) cannot carry MM
    // adjacency: the cap suppressed their mm edges in both graphs, so an
    // entering mention with such a key reaches no old component through
    // it. Excluding them bounds viaKey by the cap — without this, one
    // entering boilerplate-key mention ("home" at 10^8 occurrences) would
    // drag the key's entire singleton population into every delta slice.
    // Hotness FLIPS (either direction) change the key's mm edges
    // everywhere and stay fully covered by viaFlippedKeys.
    val stablyHot = hotNew.join(hotPrev, Seq("key"), "left_semi")
    val enteringKeys = AlignmentGraph.graphMentions(enteringMentions)
      .select("key").distinct().localCheckpoint()
    val enteringMmKeys = enteringKeys
      .join(stablyHot, Seq("key"), "left_anti")
      .localCheckpoint()
    val viaKey = prevCompMentions
      .join(hintSmall(enteringMmKeys), Seq("key"), "left_semi").select("comp")
    // ED only: an entering mention also reaches old components through its
    // DICTIONARY CANDIDATES (ME edges are CC edges there; BU components
    // are MM-only, where ME edges never bridge). The stably-hot exclusion
    // does NOT apply here — the cap suppresses mm edges only, so a
    // hot-key entrant's ME adjacency is real in both graphs.
    val viaEnt =
      if (!mode.entityAdjacency) None
      else {
        val enteringEntNodes = enteringKeys
          .join(broadcast(dict.select("key", "ent")), Seq("key"))
          .select(concat(lit("e:"), col("ent")).as("node")).distinct()
        Some(prevComps.filter(col("mention_id").isNull)
          .join(hintSmall(enteringEntNodes.localCheckpoint()),
                Seq("node"), "left_semi")
          .select("comp"))
      }
    val viaFlippedKeys = prevCompMentions
      .join(hintSmall(flippedKeys), Seq("key"), "left_semi").select("comp")
    val affectedComps = hintSmall(
      (Seq(leaverRows.select("comp"), viaKey) ++ viaEnt :+ viaFlippedKeys)
        .foldLeft(droppedRows.select("comp"))(_ unionByName _)
        .distinct().localCheckpoint())

    // — the slice: surviving members of affected components + entrants +
    //   fresh kept mentions (full rows via prevLinked / linkedAll.cur) —
    val affectedPrevMentions = prevCompMentions
      .join(affectedComps, Seq("comp"), "left_semi")
      .localCheckpoint()
    val survivorIds = affectedPrevMentions
      .join(dropUrls, Seq("url"), "left_anti")
      .join(hintSmall(leaverLabels), Seq("label"), "left_anti")
      .select("mention_id")
    val survivorRows = keptAllOf(
      prevLinked.join(hintSmall(survivorIds.localCheckpoint()),
                      Seq("mention_id"), "left_semi"))
    val sliceAll = survivorRows.unionByName(entrantRows.select(
        survivorRows.columns.map(col): _*))
      .unionByName(freshKept)
      .localCheckpoint()
    GraphClosure(sliceAll, hotNew,
      hintSmall(affectedPrevMentions.select("mention_id").localCheckpoint()),
      affectedComps,
      Seq(affectedPrevMentions.select("url"), freshKept.select("url")))
  }

  /** The mining aggregates (url-keyed tables + count views — the
    * checkpointed materialized views a delta maintains) and the emit
    * stages, over the `subjects` of the affected `urls` (every url on a
    * full run). */
  private def mineAndEmit(st: Stages, subjects: Rel, urls: => DataFrame,
                          validTags: => Rel, seeds: Seeds): DataFrame = {
    val seedTypes = seeds.entityTypes.select(col("ent"), col("tpe"))
    // 6a. the distinct (url, listing_key, ent) projection feeds FIVE
    // consumers (both rule miners, both candidate counts, provenance) —
    // checkpoint it once instead of paying the corpus-wide distinct
    // shuffle per consumer
    val subjectListings = st.carried("subject_listings", "url", urls) {
      subjects.cur.select("url", "listing_key", "ent").distinct()
    }
    val typeRules = st.carried("type_rules", "url", urls) {
      RuleMining.listingTypeRules(subjectListings.cur, seedTypes)
    }
    val relationRules = st.carried("relation_rules", "url", urls) {
      RuleMining.listingRelationRules(subjectListings.cur, seeds.seedRelations)
    }
    val labelCounts = st.counts("label_counts", "ent", "label") { s =>
      s(subjects).groupBy("ent", "label").agg(count(lit(1)).as("cnt"))
    }
    // A9 tag gate at ASSERTION level (≙ `listing/extract.py:158-162`: an
    // assertion survives only when the subject mention's NE tag is valid
    // for the asserted type — a type with no validity entry drops all its
    // assertions): candidate (ent, tpe) counts from mention-level subjects,
    // gated by the broadcast (tpe, tag) validity table, deduped to one row
    // per (listing, ent, tpe) before counting (any valid-tagged mention of
    // the entity in the listing asserts). A delta's minus side counts under
    // the PREVIOUS validity (what the recorded view contains), its plus
    // side under the new one; validity flips on untouched urls are covered
    // by the affected-url widening.
    val valid = validTags
    val typeCandCounts = st.counts("type_cand_counts", "ent", "tpe") { s =>
      s(subjects).select(col("url"), col("listing_key"), col("ent"),
          graft.taxonomy.ValidTags.shapeTag(col("label")).as("tag"))
        .join(s(typeRules), Seq("url", "listing_key"))
        .join(broadcast(s(valid)), Seq("tpe", "tag"), "left_semi")
        .select("url", "listing_key", "ent", "tpe").distinct()
        .groupBy("ent", "tpe").agg(count(lit(1)).as("cnt"))
    }
    val relCandCounts =
      st.counts("rel_cand_counts", "ent", "pred", "obj") { s =>
        s(subjectListings).join(s(relationRules), Seq("url", "listing_key"))
          .groupBy("ent", "pred", "obj").agg(count(lit(1)).as("cnt"))
      }
    val provPairs = st.carried("prov_pairs", "url", urls) {
      fresh(subjectListings.cur.select("ent", "url"))
        .unionByName(
          fresh(typeRules.cur.select(col("tpe").as("ent"), col("url"))))
        .distinct()
    }

    // The emit stages: disjointness-guarded transitive typing, new-relation
    // anti-join, and the triple write — all reading CANDIDATE-sized
    // maintained aggregates (never the corpus), EXCEPT provenance.
    val closRep = new LoopReport
    val closureSelf = Disjointness.closureWithSelf(seeds.taxonomyEdges, closRep)

    // Both tables are entity-∝ (at web scale, corpus-∝ — the r5 wide-world
    // soak measured them as the dominant delta stages), so a delta
    // recomputes ONLY the entities whose candidate-count rows changed —
    // the keys of the count view's net change are exactly those
    // TOUCHED-ENTITY sets: an entity absent from both maintenance slices has
    // an unchanged candidate row set, hence unchanged types/relations rows
    // (the guard, closure and anti-joins are all per-entity given the
    // fingerprint-enforced static seeds). The seed side is semi-joined to
    // the touched set so every join in the fresh slice is broadcast-sized.
    def touchedEnts(counts: Rel): DataFrame =
      hintSmall(counts.cur.select("ent").distinct().localCheckpoint())
    lazy val touchedTypeEnts = touchedEnts(typeCandCounts)
    lazy val touchedRelEnts = touchedEnts(relCandCounts)
    // the per-entity type derivation: J8 + disjointness guard + transitive
    // closure
    val types = st.carried("types", "ent", touchedTypeEnts, report = closRep) {
      val seedT = st.slice(seedTypes, touchedTypeEnts)
      val cand = st.slice(typeCandCounts.all, touchedTypeEnts)
        .select("ent", "tpe")
        .join(seedT, Seq("ent", "tpe"), "left_anti") // J8: drop existing
      val guarded = Disjointness.filterCandidates(
        cand, seedT, closureSelf, seeds.disjointPairs)
      // transitive typing: mined type + all its ancestors, minus existing
      guarded
        .join(broadcast(closureSelf), guarded("tpe") === closureSelf("node"))
        .select(col("ent"), col("anc").as("tpe")).distinct()
        .join(seedT, Seq("ent", "tpe"), "left_anti")
    }
    val relations = st.carried("relations", "ent", touchedRelEnts) {
      val seedRels = st.slice(seeds.seedRelations,
                              touchedRelEnts.withColumnRenamed("ent", "sub"))
      st.slice(relCandCounts.all, touchedRelEnts).select("ent", "pred", "obj")
        .join(seedRels.select(col("sub").as("ent"), col("pred"), col("obj")),
              Seq("ent", "pred", "obj"), "left_anti") // J7: only NEW relations
    }

    // 6b. type-level axioms (Cat2Ax discipline over the listing rules) and
    // the instance facts they imply — both LISTING/candidate-sized, never
    // corpus-sized (Axioms scaladoc).
    val axioms = st.runner.run("axioms") {
      graft.taxonomy.Axioms.typeAxioms(typeRules.all, relationRules.all)
    }
    val restrictionFacts = st.runner.run("restriction_facts") {
      val allTypes = fresh(seedTypes).unionByName(types.all.select("ent", "tpe"))
      graft.taxonomy.Axioms.axiomFacts(axioms, allTypes, closureSelf)
    }

    // 7. triples, partitioned by predicate — the candidate-sized blocks.
    // Ontology flavors (serialize.py:85-146,209-220): class hierarchy +
    // labels + disjointness, predicate typing, hasValue restrictions, and
    // restriction-derived facts — all from tables the engine already holds.
    // stage name is "triples_core", not the pre-carve-out "triples": the
    // shape changed when provenance moved to its own carryable partition
    // (`triples_prov`), and StageRunner resumes by name — an outDir
    // written before the carve-out still holds the prov rows inside its
    // "triples" checkpoint, and resuming it under the old name would emit
    // every provenance triple twice (the linked→linked_all lesson)
    val trip = st.runner.runPartitioned("triples_core", "pred") {
      TripleEmit.assembleFromCounts(
        labelCounts = labelCounts.all,
        types = types.all,
        rels = relations.all,
        extra = Seq(
          TripleEmit.ontologyClassTriples(seeds.taxonomyEdges,
                                          seeds.disjointPairs),
          TripleEmit.ontologyPredicateTriples(
            seeds.seedRelations.select("pred")),
          TripleEmit.restrictionTriples(axioms),
          TripleEmit.relationTriples(restrictionFacts)))
    }

    // 7a. the provenance partition (both reference flavors: INSTANCE —
    // every subject entity wasDerivedFrom the pages mentioning it,
    // serialize.py:231-239; ONTOLOGY-CLASS — every mined type
    // wasDerivedFrom the listings whose rule asserted it,
    // serialize.py:158-164) — the one CORPUS-∝ block, ~`mentions × pages`
    // rows, in its own table like the reference's separate .nt files.
    // obj = the page url, so it is url-keyed and carries like every other
    // url-keyed stage, from the same fresh prov-pair slice `prov_pairs`
    // carried with: the r5 soak ladder measured the monolithic triple
    // re-emit as the dominant delta cost (BENCH/BASELINE.md), and a carried
    // layer replaces it with O(churn) fresh rows + a drop set.
    val provTrips = st.carried("triples_prov", "obj",
                               urls.select(col("url").as("obj"))) {
      TripleEmit.provenanceTriples(provPairs.cur)
    }

    // 7b. void metadata (serialize.py:55-83) — three candidate-sized aggs,
    // its own table like the reference's separate metadata file
    st.runner.run("ontology_meta") {
      val nEnt = labelCounts.all.select("ent").distinct().count()
      val nCls = seeds.taxonomyEdges.select(col("child").as("t"))
        .unionByName(seeds.taxonomyEdges.select(col("parent").as("t")))
        .distinct().count()
      val nPred = seeds.seedRelations.select("pred").distinct().count()
      TripleEmit.metadataTriples(st.spark, nEnt, nCls, nPred)
    }
    trip.unionByName(provTrips.all)
  }
}
