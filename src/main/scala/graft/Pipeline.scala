package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Normalize
import graft.ingest.TextExtract
import graft.listings.ListingExtract
import graft.link.AliasLink
import graft.canonical.{AlignmentGraph, BottomUpCluster, NilCluster}
import graft.taxonomy.{Disjointness, RuleMining}
import graft.emit.TripleEmit
import graft.runtime.{Checkpoints, Drops, LoopReport, Node, StageRunner}
import graft.runtime.Checkpoints.{fresh, pin, pinCount}

/** The end-to-end KG-construction pipeline (north rule): pages → invariant
  * text extraction → listings/mentions → salted alias linking →
  * canonicalization (new entities for NIL mentions) → listing rule mining +
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
  *
  * Stages form a graph, not a sequence: each declares its input stages,
  * and a stage runs as soon as they have committed, concurrently with
  * every other ready stage ([[StageRunner#execute]]). The contract that
  * makes this safe: a stage body reads only its declared inputs (a read
  * of anything else fails on every run); stage and lineage file names
  * are unique, so concurrent commits never collide; the previous-run
  * tables ([[Stages#prev]]) are read through a concurrent map; and
  * [[run]]/[[runDelta]] return only once every stage and its `_lineage`
  * row are committed, rethrowing the first failure after cancelling the
  * stages in flight.
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
    Seeds(aliases = pin(s.aliases),
          entityTypes = pin(s.entityTypes),
          taxonomyEdges = pin(s.taxonomyEdges),
          disjointPairs = pin(s.disjointPairs),
          seedRelations = pin(s.seedRelations),
          redirects =
            if (s.redirects == null) null else pin(s.redirects))

  /** How mentions become canonical entities (step 4). */
  sealed trait Canonicalization
  object Canonicalization {
    /** Linked mentions keep their broadcast-argmax entity; each kept NIL
      * mention takes the new entity of its alias key ([[NilCluster]]: the
      * mention↔key graph's components in closed form, a per-row
      * projection). The cheap default. */
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
    * AQE plans the carry joins (high-churn re-crawls must not OOM the
    * driver on a forced broadcast — SCALE.md rule 1). */
  val MaxBroadcastKeys = 2000000L

  /** Run (or resume) the full pipeline; returns the triple table.
    * `canon` picks the canonicalization mode. Resume is per stage by name,
    * under one rule ([[judge]]), applied before any stage runs: a
    * non-empty outDir resumes only when its run header — the seed tables'
    * fingerprint and the canonicalization parameters it was written under
    * ([[runHeader]]) — equals this call's. Another header is refused with
    * the rows that differ, and so is a non-empty outDir without one
    * (written by an older engine). A refused call writes nothing. The
    * header covers neither the crawl nor an opaque `scoreFn` scorer
    * (`custom_fn`): a resume assumes the same pages and the same scorer.
    *
    * A full run is a [[runDelta]] with no previous state. Both entry points
    * drive one stage list ([[stages]]) in which every corpus-level stage is
    * declared once: its name, its key, the expression that computes its
    * rows over a slice of its inputs, and its maintenance rule — a carried
    * key-keyed table or a count view ([[Stages]]). With no previous state
    * every slice is the whole input and each stage is written under its
    * own name. The default `runId` is new on every call, so a resume's
    * `_lineage` rows are told apart from the first run's. */
  def run(spark: SparkSession, pages: DataFrame, seedsIn: Seeds,
          outDir: String, runId: String = s"run-${java.util.UUID.randomUUID}",
          canon: Canonicalization = Canonicalization.Components): DataFrame =
    stages(spark, pages, seedsIn, outDir, runId, graphMode(spark, canon),
           prevDir = None)

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
    * local to an alignment-graph / MM component. Output is IDENTICAL to a
    * full [[run]] over the new crawl (DeltaSpec asserts exactness,
    * including rules and candidate counts crossing their thresholds in
    * both directions).
    *
    * What the delta may take from prevDir is decided by one rule
    * ([[judge]]), before any stage runs: it compares this run's header
    * ([[runHeader]]) with the run header prevDir recorded.
    *
    * | prevDir's run header                      | outcome   |
    * |-------------------------------------------|-----------|
    * | missing                                   | refused   |
    * | `format` row differs                      | refused   |
    * | a `seeds.*` row differs                   | refused   |
    * | a `canon.*` row differs, or `custom_fn`   | bootstrap |
    * | equal                                     | carry     |
    *
    * Refused: "has no run header", "FORMAT changed", "seed tables differ"
    * (a dictionary change invalidates carried links; use [[run]] on a
    * fresh outDir). Bootstrap: the corpus stages run with no
    * previous state under this run's parameters and record fresh state for
    * the next delta. The prefix (manifest, text, mentions, links,
    * hypernyms) is canonicalization-free and carries in both the last two
    * rows. Carry: every table a declaration reads from prevDir is
    * registered when it is declared ([[Stages]]), and once the graph is
    * declared each must be committed in prevDir, else the delta refuses
    * with "lacks the '<stage>' checkpoint". The delta's own header also
    * records prevDir (`prev`), so a re-run into its outDir resumes only
    * over the same prevDir, as [[run]] resumes. A refused delta commits
    * nothing. The default `runId` is new on every call. */
  def runDelta(spark: SparkSession, newPages: DataFrame, seedsIn: Seeds,
               outDir: String, prevDir: String,
               runId: String = s"delta-${java.util.UUID.randomUUID}",
               canon: Canonicalization = Canonicalization.Components): DataFrame =
    stages(spark, newPages, seedsIn, outDir, runId, graphMode(spark, canon),
           Some(StageRunner.qualified(spark, prevDir)))

  /** The one stage graph behind [[run]] (`prevDir` = None) and
    * [[runDelta]]: the per-page prefix, then [[corpus]]. Every stage names
    * its input stages, and [[StageRunner#execute]] runs each as soon as
    * they have committed — independent branches (the manifest, hypernym
    * mining, the tag gate beside canonicalization,
    * the rule miners, the taxonomy closure, provenance) overlap. Every pin
    * the call takes, on this thread or a stage's, is freed when it returns
    * or throws ([[Checkpoints]]); the returned triples read only parquet.
    * `mode` is the graph canonicalization mode, None for Components. A
    * fresh outDir's run header is committed as the last step of declaring
    * the graph, once every check has passed and before any stage body
    * starts, so every committed stage is covered by it. */
  private def stages(spark: SparkSession, pages: DataFrame, seedsIn: Seeds,
                     outDir: String, runId: String, mode: Option[GraphMode],
                     prevDir: Option[String]): DataFrame = Checkpoints.owned {
    Normalize.register(spark)
    val seeds = pinSeeds(seedsIn)
    val header = runHeader(seeds, mode, prevDir)
    val (resume, carryCorpus) = judge(spark, outDir, prevDir, header.toMap)
    val runner = new StageRunner(spark, outDir, runId)
    val st = new Stages(spark, runner, prevDir)

    // 0. crawl manifest: the (url, warc_ts, content_fp) fingerprint of the
    // consumed crawl slice. A later [[runDelta]] anti-joins its new crawl
    // against this to find changed/added pages — the content fingerprint
    // catches a capture rewritten under an unchanged timestamp.
    runner.execute {
      val manifest = runner.stage("crawl_manifest") { manifestOf(pages) }
      st.reads("crawl_manifest")
      val touched = st.deltaNode("touched_urls", manifest) {
        touchedUrls(manifest(), st.prev("crawl_manifest"))
      }

      // 1. invariant text extraction (byte-identical per url)
      val pagesText = st.carried("pages_text", "url", touched, Nil) {
        TextExtract.extract(slice(pages, touched.map(_())))
      }

      // 2. listings → items → subject mentions. Only the slice's mentions
      // are checkpointed ("mentions_fresh" on a delta)
      val mentions = runner.stage(if (st.delta) "mentions_fresh" else "mentions",
                                  pagesText) {
        ListingExtract.mentions(pagesText().cur)
      }

      // 3. entity linking (broadcast alias dict incl. folded spelling
      // redirects). ONE broadcast-join execution; linked/unlinked are
      // filters over the checkpointed join output (ent nullable), not two
      // separate stages.
      val dict = buildDict(seeds)
      val linkedAll = st.carried("linked_all", "url", touched, Seq(mentions)) {
        AliasLink.linkAll(mentions(), dict)
      }

      // 1b. corpus hypernym mining over page prose (A5/N9 — Hearst
      // patterns), checkpointed per url first; the global aggregate is its
      // rollup, so a delta's minus side is a row drop from the url-keyed
      // view, NOT a re-parse of dropped prose (maintenance cost is 1× the
      // churn, not 2×)
      val hypByUrl = st.carried("hypernyms_by_url", "url", touched,
                                Seq(pagesText)) {
        import spark.implicits._
        graft.mine.Hearst.corpusCountsByUrl(
          pagesText().cur.select("url", "text").as[(String, String)])
      }
      st.counts("hypernyms", Seq("sub", "obj"), hypByUrl) { s =>
        s(hypByUrl()).groupBy("sub", "obj").agg(sum("cnt").as("cnt"))
      }

      val triples =
        if (carryCorpus)
          corpus(st, linkedAll, touched, dict, seeds, mode)
        else
          corpus(new Stages(spark, runner, None),
                 linkedAll.map(r => new Rel(r.all, r.all)), None, dict,
                 seeds, mode)
      st.requirePrev()
      if (!resume) StageRunner.commitMarker(spark, outDir, RunHeader,
        header.map { case (k, v) => s"$k=$v\n" }.mkString)
      triples
    }
  }

  /** The one judge of the committed state a call reuses, before any stage
    * runs; the only reader of a run header. Returns whether outDir
    * resumes, and whether the corpus stages carry from prevDir.
    *  - a delta into its own prevDir is refused ("outDir must differ");
    *  - outDir ([[run]]'s rule): an equal header resumes; another header
    *    is refused with the rows that differ; no header in a non-empty
    *    outDir is refused (an older engine wrote it, and its stages cannot
    *    be matched to a header); an empty or absent outDir runs fresh.
    *    Hidden (`.`-prefixed) entries — a temp file an interrupted header
    *    commit left, checksum files — do not make an outDir non-empty.
    *  - prevDir ([[runDelta]]'s table): refuses a missing header, a
    *    changed `format` (a changed formula is not a seed change, and is
    *    not reported as one — ADVICE r4) and changed seeds (carried
    *    pages_text/linked_all rows would silently mix stale semantics).
    *    The corpus stages carry only when every `canon.*` row matches and
    *    none is an opaque `custom_fn` scorer (never provably equal).
    *    Carried subject rows embed prevDir's thresholds, scorer and
    *    hot-key cap, so carrying them under other parameters would mix two
    *    configurations' decisions. */
  private def judge(spark: SparkSession, outDir: String,
                    prevDir: Option[String],
                    cur: Map[String, String]): (Boolean, Boolean) = {
    def headerOf(dir: String) = StageRunner.metaOf(spark, dir, RunHeader)
    // the rows of `rec` under `prefix` that differ from this call's
    def differ(rec: Map[String, String], prefix: String) = (rec.keySet ++ cur.keySet)
      .filter(k => k.startsWith(prefix) && rec.get(k) != cur.get(k)).mkString(", ")
    require(!cur.get("prev").contains(StageRunner.qualified(spark, outDir)),
            "runDelta: outDir must differ from prevDir")
    val recorded = headerOf(outDir)
    val changed = recorded.fold("")(differ(_, ""))
    require(changed.isEmpty, s"$outDir was written under another run " +
            s"header (rows $changed differ); use a fresh outDir")
    require(recorded.isDefined || StageRunner.isEmpty(spark, outDir),
            s"$outDir holds files but no run header (an older engine " +
            "wrote it); use a fresh outDir")
    val carry = prevDir.forall { dir =>
      val prev = headerOf(dir).getOrElse(throw new IllegalArgumentException(
        s"runDelta: $dir has no run header — prevDir must be the outDir " +
        "of a run() or runDelta() of this engine; run full once"))
      require(differ(prev, "format").isEmpty, "runDelta: run-header FORMAT " +
              s"changed (prevDir recorded v${prev.getOrElse("format", "?")}" +
              s", this engine writes v$RunFpFormat); run full once")
      require(differ(prev, "seeds.").isEmpty, "runDelta: seed tables differ " +
              s"from prevDir's (${differ(prev, "seeds.")}) — carried links " +
              "would be stale; run full on a fresh outDir")
      differ(prev, "canon.").isEmpty &&
        !cur.get("canon.me_score").contains("custom_fn")
    }
    (recorded.isDefined, carry)
  }

  /** The urls a delta re-derives. The join must be keyed by the SMALL
    * side — the delta, not the corpus. A re-crawl changes ~1% of captures,
    * so the changed/vanished key sets broadcast and every carry is a
    * broadcast (anti/semi) hash join with the corpus side unshuffled;
    * joining on the 99% unchanged set instead would shuffle the whole
    * corpus twice and cost more than the full run it replaces (measured —
    * see BENCH/BASELINE.md). The broadcast hint is guarded: above
    * [[MaxBroadcastKeys]] (a high-churn re-crawl) the hint is dropped and
    * AQE plans the join.
    *
    * A url is TOUCHED when its capture set changed in either direction:
    * new/changed captures (manifest ∖ prev) or vanished captures
    * (prev ∖ manifest — which covers fully deleted urls too). Touched urls
    * drop their carried state and re-extract whatever captures the new
    * crawl still has — so a url that merely LOST one of several captures
    * re-derives from the survivors instead of carrying the deleted capture
    * forward. */
  private def touchedUrls(manifest: DataFrame,
                          prevManifest: DataFrame): Drops = {
    val capKeys = Seq("url", "warc_ts", "content_fp")
    val changedCaptures = manifest.join(prevManifest, capKeys, "left_anti")
    val vanishedCaptures = prevManifest.join(manifest, capKeys, "left_anti")
    dropSet(changedCaptures.select("url")
      .unionByName(vanishedCaptures.select("url"))
      .distinct())
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

  /** The run header's file under an outDir: `key=value` lines, the format
    * of a `_layer` marker. */
  private val RunHeader = "_run_fp"

  /** The format of the run header. Bump it on ANY change to how a row is
    * computed — a byte-identical seed set then yields different values,
    * and without the `format` row [[judge]] would misreport that as "seed
    * tables differ" (ADVICE r4) — and on any change to the layout of the
    * stages it covers, so an outDir of the old layout is refused rather
    * than resumed or carried. */
  private val RunFpFormat = "2"

  /** The run header: the (key, value) rows every outDir records in
    * [[RunHeader]], and the one thing [[judge]] compares.
    *  - `format`: [[RunFpFormat]];
    *  - `seeds.<table>`: an order-independent, multiset-sensitive hash of
    *    each seed table — the SUM of per-row xxhash64 (as decimal(38,0),
    *    which no row count overflows), mixed with the row count; "empty"
    *    for an empty table and "none" for an absent one. A xor of row
    *    hashes would be multiset-BLIND: duplicate-row swaps ({A,A,C} →
    *    {B,B,C}) cancel. Nulls coalesce to a marker per column, so a value
    *    shifting across columns cannot alias (xxhash64 folds a null field
    *    without a position contribution). Partitioning-invariant;
    *  - `canon.<param>`: the canonicalization parameters — the graph
    *    mode's `canonFp`, or `mode = components`;
    *  - `prev`: a delta's Hadoop-qualified prevDir.
    * One aggregate over the unioned row hashes of every seed table,
    * collected here, before the stage graph starts. */
  private def runHeader(seeds: Seeds, mode: Option[GraphMode],
                        prev: Option[String]): Seq[(String, String)] = {
    val tables = Seq(
      "aliases" -> seeds.aliases, "entity_types" -> seeds.entityTypes,
      "taxonomy_edges" -> seeds.taxonomyEdges,
      "disjoint_pairs" -> seeds.disjointPairs,
      "seed_relations" -> seeds.seedRelations, "redirects" -> seeds.redirects)
    val hashes = tables.collect { case (name, df) if df != null =>
      val marked = df.columns.map(c =>
        coalesce(col(c).cast("string"), lit("\u0000")))
      df.select(lit(name).as("tbl"), xxhash64(marked: _*).as("h"))
    }.reduce(_ unionByName _)
      .groupBy("tbl")
      .agg(xxhash64(sum(col("h").cast("decimal(38,0)")).cast("string"),
                    count(lit(1))))
      .collect().map(r => r.getString(0) -> r.getLong(1).toString).toMap
    val canon = mode.fold(Seq("mode" -> "components"))(_.canonFp)
    ("format" -> RunFpFormat) +:
      (tables.map { case (name, df) =>
        s"seeds.$name" ->
          (if (df == null) "none" else hashes.getOrElse(name, "empty"))
      } ++ canon.map { case (k, v) => s"canon.$k" -> v } ++
        prev.map("prev" -> _))
  }

  /** `rows` as [[Drops]], where `bound` (a pin's row count — of `rows`
    * itself, or of the pin `rows` projects, filters or dedups) bounds its
    * size: small only while the bound is (ADVICE r3: an unconditional hint
    * OOMs on high-churn re-crawls); beyond the threshold AQE plans the
    * join unhinted. The session conf `graft.delta.maxBroadcastKeys`
    * overrides [[MaxBroadcastKeys]] — DeltaThresholdSpec pins it to 0 to
    * prove the un-hinted fallback, where AQE plans every carry join, is
    * result-identical (SCALE.md's high-churn shape). */
  private def sized(rows: DataFrame, bound: Long): Drops = {
    val max = rows.sparkSession.conf
      .get("graft.delta.maxBroadcastKeys", MaxBroadcastKeys.toString).toLong
    Drops(rows, max > 0 && bound <= max)
  }

  /** `df` pinned as [[Drops]], sized by the pin's own row count. */
  private def dropSet(df: DataFrame): Drops = (sized _).tupled(pinCount(df))

  /** Alias dictionary incl. folded spelling redirects (shared by [[run]]
    * and [[runDelta]]). */
  private def buildDict(seeds: Seeds): DataFrame = {
    val aliasTable =
      if (seeds.redirects == null) seeds.aliases
      else AliasLink.foldRedirects(seeds.aliases, seeds.redirects)
    AliasLink.buildDict(aliasTable)
  }

  /** The net change of an additive count aggregate: plus − minus per key,
    * over every key of either side (zero sums included — they are the
    * touched keys too). Inputs carry (keys..., cnt); a DELTA-sized shuffle,
    * checkpointed because [[maintainCounts]] and the touched-key sets read
    * it. Returns the pin and its row count. */
  private def netCounts(minus: DataFrame, plus: DataFrame,
                        keys: Seq[String]): (DataFrame, Long) =
    pinCount(fresh(plus)
      .unionByName(fresh(minus).withColumn("cnt", -col("cnt")))
      .groupBy(keys.map(col): _*).agg(sum("cnt").as("cnt")))

  /** The classic materialized-view maintenance identity for an additive
    * count aggregate: new = prev + net ([[netCounts]], of `netRows` rows),
    * groups cancelling to 0 dropped.
    *
    * Shuffle shape: the previous view is carried with broadcast anti/semi
    * joins on the touched keys; only touched-key rows ever re-aggregate. A
    * naive prev ∪ plus ∪ minus groupBy would shuffle the whole view every
    * delta run. */
  private def maintainCounts(prev: DataFrame, net: DataFrame, netRows: Long,
                             keys: Seq[String]): DataFrame = {
    val touched = sized(net.select(keys.map(col): _*), netRows).hinted
    fresh(prev).join(touched, keys, "left_anti")
      .unionByName(
        fresh(prev).join(touched, keys, "left_semi")
          .unionByName(net)
          .groupBy(keys.map(col): _*).agg(sum("cnt").as("cnt"))
          .filter(col("cnt") > 0))
  }

  /** One graph canonicalization mode, defined once: the three stages that
    * record its delta state, its canonicalization parameters, whether
    * entity nodes join its components, and its recompute. [[runDelta]]'s
    * fingerprint and [[corpus]] both read this one value; the stages, and
    * on a delta the slice closure ([[graphClosure]]), are shared verbatim
    * by the modes.
    *
    * `canonFp` lists the parameters that carried subject rows embed — the
    * thresholds, scorer, and hot-key cap — as the `canon.*` rows of the
    * run header ([[runHeader]]). A caller-supplied `scoreFn` is
    * opaque (`custom_fn`) and never matches, so such chains bootstrap
    * every delta (sound: the bootstrap recomputes under the CURRENT
    * scorer).
    *
    * `entityAdjacency`: ED's CC runs over ME+MM edges, so an entering
    * mention can reach an old component through a shared DICTIONARY
    * CANDIDATE, and entity nodes are component members; BU components are
    * MM-only. `cluster(mentions, edges, hotKeys, report)` is the mode's one
    * clusterer in `graft.canonical` ([[AlignmentGraph.disambiguate]],
    * [[BottomUpCluster.clusterGraph]]): it returns the (mention_id, ent)
    * assignment and the (node, component) table it clustered per
    * component. */
  private final case class GraphMode(
      tag: String, canonFp: Seq[(String, String)], entityAdjacency: Boolean,
      meScore: DataFrame => DataFrame, meThreshold: Double,
      mmThreshold: Double,
      cluster: (DataFrame, DataFrame, DataFrame, LoopReport)
        => (DataFrame, DataFrame)) {
    val subjectsStage = s"subjects_$tag"
    val compsStage = s"${tag}_components"
    /** Kept-mention key counts: the GLOBAL hot-key cap every recompute
      * reads ([[AlignmentGraph.hotKeys]]). */
    val keyCountsStage = s"${tag}_key_counts"

    /** The subject and component rows of the kept mentions `all`, capped
      * by `hotKeys` — the hot set of the mode's key-count view, which is
      * GLOBAL on a delta slice too. The clusterer's entity-less mentions
      * are NIL ([[subjectRows]]); the LEFT join keeps a mention the
      * assignment does not cover (the BottomUp fold covers only mentions
      * with a scored candidate or MM edge) as NIL. */
    def recompute(dict: DataFrame, all: DataFrame, hotKeys: DataFrame,
                  report: LoopReport): (DataFrame, DataFrame) = {
      val mentions = all.select("mention_id", "label")
      val edges = pin(AlignmentGraph.buildScored(mentions, dict, hotKeys,
                                                 meScore, meThreshold,
                                                 mmThreshold))
      val (assign, cc) = cluster(mentions, edges, hotKeys, report)
      val subjects = subjectRows(all.drop("ent")
        .join(assign.select(col("mention_id"), col("ent").as("graph_ent")),
              Seq("mention_id"), "left"), col("graph_ent"))
      (subjects, AlignmentGraph.componentRows(all, cc, entityAdjacency))
    }
  }

  /** The subject rows of the kept mentions `kept` (url, listing_key,
    * mention_id, label, key), whose entity is `ent`: a null `ent` is a NIL
    * mention, which takes the new entity of its alias key. All three
    * canonicalization modes assemble their subject table here. */
  private def subjectRows(kept: DataFrame, ent: Column): DataFrame =
    kept.select(col("url"), col("listing_key"), col("mention_id"),
                col("label"),
                coalesce(ent, NilCluster.entity(col("key"))).as("ent"))

  /** The [[GraphMode]] of `canon`; None for Components. */
  private def graphMode(spark: SparkSession,
                        canon: Canonicalization): Option[GraphMode] = {
    val maxKeyBucket = AlignmentGraph.maxKeyBucket(spark).toString
    def scorer(meScore: Column): DataFrame => DataFrame =
      _.withColumn("score", meScore)
    canon match {
      case Canonicalization.Components => None
      // 4b. scored ED over ALL kept mentions: alignment graph (full
      // candidate dictionary, not the argmax-reduced one) → NastyLinker.
      // ONE corpus-side pass builds the graph; the split decides linked
      // vs NIL, overriding the prior-argmax join.
      case ed: Canonicalization.ScoredEd => Some(GraphMode("ed",
        Seq("mode" -> "scored_ed",
            "me_threshold" -> ed.meThreshold.toString,
            "mm_threshold" -> ed.mmThreshold.toString,
            "path_threshold" -> ed.pathThreshold.toString,
            "me_score" ->
              (if (ed.scoreFn.isDefined) "custom_fn" else ed.meScore.toString),
            "max_key_bucket" -> maxKeyBucket),
        entityAdjacency = true, ed.scoreFn.getOrElse(scorer(ed.meScore)),
        ed.meThreshold, ed.mmThreshold,
        (mentions, edges, hotKeys, report) => AlignmentGraph.disambiguate(
          mentions, edges, hotKeys, ed.mmThreshold, ed.pathThreshold,
          // the default prior scorer reads only dict-row columns, so the ME
          // edge set is a function of the key — hot buckets contract
          keyDeterminedScores = ed.scoreFn.isEmpty &&
            (ed.meScore eq Canonicalization.DefaultMeScore),
          report = report)))
      // 4c. bottom-up union-find over the SAME scored alignment graph as
      // ScoredEd, but clustered by the reference's ordered edge fold
      // (per-MM-component, see BottomUpCluster) — argmax entity, no
      // path-threshold demotion.
      case bu: Canonicalization.BottomUp => Some(GraphMode("bu",
        Seq("mode" -> "bottom_up",
            "me_threshold" -> bu.meThreshold.toString,
            "mm_threshold" -> bu.mmThreshold.toString,
            "me_score" -> bu.meScore.toString,
            "max_key_bucket" -> maxKeyBucket),
        entityAdjacency = false, scorer(bu.meScore),
        bu.meThreshold, bu.mmThreshold,
        (mentions, edges, hotKeys, _) => BottomUpCluster.clusterGraph(
          mentions, edges, hotKeys, bu.meThreshold, bu.mmThreshold)))
    }
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

  /** `df` restricted to the keys of `drops` on a delta (Some); all of it on
    * a full run (None). */
  private def slice(df: DataFrame, drops: Option[Drops]): DataFrame =
    drops.fold(df)(d => df.join(d.hinted, d.rows.columns.toSeq, "left_semi"))

  /** The stage declarations of one run, against an optional previous state
    * (`prevDir`, None on a full run). Each corpus-level stage names its
    * maintenance rule by the method that declares it, and its input nodes
    * (`inputs`, plus the drop set on a delta):
    *  - [[carried]]: a key-keyed table. Full run: its rows over the whole
    *    input, written under its own name. Delta: its rows over the affected
    *    slice as `<name>_fresh`, then a carry layer over the previous table
    *    minus `drops` — the "Joins over UNION ALL" shape (PAPERS), whose
    *    carry branch is empty on a full run;
    *  - [[counts]]: an additive count view. Full run: its rows over the
    *    whole input. Delta: [[maintainCounts]] of the previous view with the
    *    rows of the old and the new slice;
    *  - [[derived]]: recomputed from maintained inputs in both runs;
    *  - [[deltaNode]]: a driver-side value only a delta computes (None on
    *    a full run) — the touched and affected key sets.
    * `drops` nodes are None exactly on a full run. Bodies run concurrently,
    * so [[prev]] is safe to call from any of them.
    *
    * On a delta, [[carried]], [[counts]] and [[derived]] register their
    * table as a previous-run table when they are declared, and [[reads]]
    * registers any other table a body reads with [[prev]]. [[prev]] of a
    * table nobody registered fails on every run, and [[requirePrev]] —
    * called once the graph is declared, before any body runs — requires
    * every registered table in prevDir: the registrations ARE the prevDir
    * contract of [[runDelta]]. */
  private final class Stages(val spark: SparkSession, val runner: StageRunner,
                             prevDir: Option[String]) {
    def delta: Boolean = prevDir.isDefined

    private val prevStages =
      java.util.Collections.synchronizedSet(new java.util.LinkedHashSet[String])
    private val prevTables =
      new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

    /** Register `stage` as a previous-run table of this delta. */
    def reads(stage: String): Unit = if (delta) prevStages.add(stage)

    /** Fail unless prevDir holds every registered table: the prevDir
      * contract of [[runDelta]]. */
    def requirePrev(): Unit =
      prevDir.foreach(dir => prevStages.forEach { stage =>
        require(StageRunner.completed(spark, dir, stage),
                s"runDelta: $dir lacks the '$stage' checkpoint — prevDir " +
                "must be the outDir of a completed run() or runDelta()")
      })

    /** The previous run's `stage` table (carry layers resolved), read once
      * per run. */
    def prev(stage: String): DataFrame = {
      require(prevStages.contains(stage),
              s"a delta reads the previous run's '$stage' table, which no " +
              "declaration registered")
      prevTables.computeIfAbsent(stage,
        s => StageRunner.read(spark, s"${prevDir.get}/$s"))
    }

    def deltaNode[A](name: String, inputs: Node[_]*)
                    (body: => A): Option[Node[A]] =
      if (delta) Some(runner.node(name, inputs: _*)(body)) else None

    def carried(name: String, key: String, drops: Option[Node[Drops]],
                inputs: Seq[Node[_]], report: LoopReport = null)
               (rows: => DataFrame): Node[Rel] = {
      reads(name)
      runner.node(name, inputs ++ drops: _*) {
        prevDir match {
          case None =>
            val t = runner.run(name, report = report)(rows)
            new Rel(t, t)
          case Some(dir) =>
            val d = drops.get()
            val fresh = s"${name}_fresh"
            val cur = runner.run(fresh, report = report)(rows)
            val all =
              runner.runCarried(name, dir, Seq(key), d, fresh)
            new Rel(all, cur, prev(name).join(d.hinted, Seq(key), "left_semi"))
        }
      }
    }

    /** `rows(side)` computes the view from one side of each input: `_.cur`
      * on a full run; `_.old` (minus) and `_.cur` (plus) on a delta. */
    def counts(name: String, keys: Seq[String], inputs: Node[_]*)
              (rows: (Rel => DataFrame) => DataFrame): Node[Rel] = {
      reads(name)
      runner.node(name, inputs: _*)(countView(name, keys)(rows))
    }

    /** [[counts]] inside the body of the node that declares it; the node's
      * declaration registers `name` ([[reads]]). */
    def countView(name: String, keys: Seq[String])
                 (rows: (Rel => DataFrame) => DataFrame): Rel =
      if (!delta) {
        val t = runner.run(name)(rows(_.cur))
        new Rel(t, t)
      } else {
        lazy val (net, netRows) = netCounts(rows(_.old), rows(_.cur), keys)
        new Rel(runner.run(name)(maintainCounts(prev(name), net, netRows,
                                                keys)), net)
      }

    def derived(name: String, inputs: Node[_]*)
               (rows: => DataFrame): Node[Rel] = {
      reads(name)
      runner.node(name, inputs: _*) {
        val t = runner.run(name)(rows)
        new Rel(t, t, prev(name))
      }
    }
  }

  /** Rows in exactly one of two distinct sets: the keys whose threshold
    * verdict flipped, in either direction. Returns the pin and its row
    * count. */
  private def flipped(a: DataFrame, b: DataFrame,
                      keys: String*): (DataFrame, Long) =
    pinCount(fresh(a).unionByName(fresh(b))
      .groupBy(keys.map(col): _*).agg(count(lit(1)).as("c"))
      .filter(col("c") === 1).select(keys.map(col): _*))

  /** The corpus-level stages downstream of the per-page prefix:
    * canonicalization (the graph `mode`'s own stages, or Components' when
    * None) → [[mineAndEmit]]. `touched` is the delta's touched-url set. */
  private def corpus(st: Stages, linkedAll: Node[Rel],
                     touched: Option[Node[Drops]], dict: DataFrame,
                     seeds: Seeds, mode: Option[GraphMode]): Node[DataFrame] = {
    val seedTypes = seeds.entityTypes.select(col("ent"), col("tpe"))

    // 3b. F9: frequent unknown labels (boilerplate) — counted as a
    // maintained view, filtered before clustering
    def frequentOf(counts: DataFrame): DataFrame =
      counts.filter(col("cnt") > MaxUnknownLabelFreq).select("label")
    val unlCounts = st.counts("unlinked_label_counts", Seq("label"),
                              linkedAll) { s =>
      s(linkedAll()).filter(col("ent").isNull)
        .groupBy("label").agg(count(lit(1)).as("cnt"))
    }
    val frequent = st.runner.node("frequent_labels", unlCounts) {
      dropSet(fresh(frequentOf(unlCounts().all))).hinted
    }
    // the kept mentions of linked rows: the linked ones, and the unlinked
    // ones (`ent` null) whose label is not boilerplate (read inside bodies
    // that declare `frequent`)
    def kept(la: DataFrame): DataFrame =
      fresh(la.filter(col("ent").isNotNull)).unionByName(fresh(
        la.filter(col("ent").isNull)
          .join(frequent(), Seq("label"), "left_anti")))

    // A9 tag gate inputs: P(tag|type) stats over linked mentions, validity
    // ≥ threshold with parent-tag inheritance (driver fixpoint over the
    // broadcast taxonomy). The stats count LINKED mentions × seed types —
    // the reference's df_train slice (known entities only,
    // `listing/extract.py:47-48`). They run beside canonicalization; a
    // delta's slice waits for them (their flips widen it).
    val tagStats = st.counts("tag_stats", Seq("tpe", "tag"), linkedAll) { s =>
      graft.taxonomy.ValidTags.tagStats(
        s(linkedAll()).filter(col("ent").isNotNull)
          .select(col("ent"),
                  graft.taxonomy.ValidTags.shapeTag(col("label")).as("tag")),
        seedTypes)
    }
    val validTags = st.derived("valid_tags", tagStats) {
      graft.taxonomy.ValidTags.validTagsFromStats(tagStats().all,
                                                  seeds.taxonomyEdges)
    }

    // — delta only: the verdict flips that reach urls the crawl never
    //   touched —
    // a label crossing the F9 boilerplate threshold changes the kept
    // mentions of every url holding it
    val flippedLabels = st.deltaNode("flipped_labels", unlCounts) {
      flipped(frequentOf(unlCounts().all),
              frequentOf(st.prev("unlinked_label_counts")), "label")
    }
    // the urls the mining stages re-derive: the touched ones, every url
    // holding an unlinked mention whose F9 verdict flipped, and every url
    // whose (prev subjects × prev rules) rows hit a (tpe, tag) pair whose
    // A9 validity flipped (it changes gated assertions there), plus the
    // urls of the graph closure's components
    def affectedUrls(subjectsStage: String,
                     closure: Option[Node[GraphClosure]])
        : Option[Node[Drops]] =
      st.deltaNode("affected_urls", Seq(linkedAll, validTags) ++ touched ++
                   flippedLabels ++ closure: _*) {
        val (labels, nLabels) = flippedLabels.get()
        val f9FlipUrls =
          if (nLabels == 0) None
          else Some(linkedAll().all.filter(col("ent").isNull)
            .join(sized(labels, nLabels).hinted, Seq("label"), "left_semi")
            .select("url"))
        val (tags, nTags) =
          flipped(validTags().all, validTags().old, "tpe", "tag")
        val tagFlipUrls =
          if (nTags == 0) None
          else {
            // restrict rules to flipped types FIRST (tiny broadcast) so the
            // listing-keyed join is map-side against a small side
            val rulesFlipped = st.prev("type_rules").join(
              sized(tags.select("tpe").distinct(), nTags).hinted,
              Seq("tpe"), "left_semi")
            Some(st.prev(subjectsStage)
              .select(col("url"), col("listing_key"),
                      graft.taxonomy.ValidTags.shapeTag(col("label")).as("tag"))
              .join(rulesFlipped, Seq("url", "listing_key"))
              .join(sized(tags, nTags).hinted, Seq("tpe", "tag"), "left_semi")
              .select("url"))
          }
        val widenings = f9FlipUrls.toSeq ++ tagFlipUrls ++
          closure.toSeq.flatMap(_().urls)
        if (widenings.isEmpty) touched.get()
        else dropSet(widenings.foldLeft(touched.get().rows)(_ unionByName _)
          .distinct())
      }

    /** Graph canonicalization. Besides the subject table, a run records the
      * mode's delta state: the components stage (the alignment graph's
      * connected components) and the key-counts stage (kept-mention key
      * counts — the GLOBAL hot-key cap every recompute reads); its
      * parameters are in the run fingerprint. A full run declares the
      * key-count view over the kept
      * mentions before the recompute; a delta maintains it while it bounds
      * the recompute to the affected components ([[graphClosure]]). Either
      * way the recompute reads its hot set from that one view. One lazy
      * recompute feeds the subject and component stages (a fully-resumed
      * outDir never builds the graph, a partial resume builds it once). */
    def graphCanon(mode: GraphMode): Node[DataFrame] = {
      // the closure maintains the key counts inside its body
      st.reads(mode.keyCountsStage)
      val closure = st.deltaNode("graph_closure", Seq(linkedAll, frequent) ++
                                 touched ++ flippedLabels: _*) {
        graphClosure(st, mode, linkedAll(), touched.get().hinted, frequent(),
                     flippedLabels.get(), dict, kept,
                     members => st.countView(mode.keyCountsStage, Seq("key"))(
                       s => AlignmentGraph.keyCounts(s(members))))
      }
      val hotKeys = closure match {
        case Some(c) => c.map(_.hotKeys)
        case None =>
          st.runner.stage(mode.keyCountsStage, linkedAll, frequent) {
            AlignmentGraph.keyCounts(kept(linkedAll().all))
          }.map(AlignmentGraph.hotKeys)
      }
      val rep = new LoopReport
      // forced by the subjects stage, or by the components stage when the
      // subjects stage resumed — never by both at once: the components
      // stage waits for the subjects stage
      lazy val recomputed = mode.recompute(dict,
        closure.fold(pin(kept(linkedAll().all)))(_().slice), hotKeys(),
        rep)
      // carries: the subjects stage drops the affected components' mention
      // ids (a MENTION-keyed layer — affected mentions live on untouched
      // urls); the components stage drops whole components
      val subjects = st.carried(mode.subjectsStage, "mention_id",
                                closure.map(_.map(_.mentionDrops)),
                                Seq(linkedAll, frequent, hotKeys) ++ closure,
                                report = rep) { recomputed._1 }
      st.carried(mode.compsStage, "comp", closure.map(_.map(_.compDrops)),
                 Seq(subjects)) { recomputed._2 }
      // mining re-derives every url holding an affected mention
      val urls = affectedUrls(mode.subjectsStage, closure)
      val subjectsA = urls.fold(subjects) { u =>
        val name = s"${mode.subjectsStage}_affected"
        st.runner.node(name, subjects, u) {
          new Rel(subjects().all,
            st.runner.run(name) {
              subjects().all.join(u().hinted, Seq("url"), "left_semi")
            },
            st.prev(mode.subjectsStage).join(u().hinted, Seq("url"),
                                             "left_semi"))
        }
      }
      mineAndEmit(st, subjectsA, urls, validTags, seeds)
    }

    // 4 + 5. canonicalization → subject-entity table (known + new)
    mode match {
      case Some(m) => graphCanon(m)
      case None =>
        // 4a. Components: linked mentions keep their argmax entity, kept NIL
        // mentions take the new entity of their alias key — one projection
        // of the kept mentions. A delta re-derives the affected urls with
        // the SAME expression (NIL ids are content-derived and page-local —
        // see NilCluster — listing rules are per (url, listing_key) and the
        // count views are additive over url contributions, so slice ∪ carry
        // ≡ full recompute)
        val urls = affectedUrls("subjects", None)
        val subjects = st.carried("subjects", "url", urls,
                                  Seq(linkedAll, frequent)) {
          subjectRows(kept(slice(linkedAll().all, urls.map(_()))), col("ent"))
        }
        mineAndEmit(st, subjects, urls, validTags, seeds)
    }
  }

  /** A graph-mode delta's recompute bound: the kept-mention `slice` to
    * re-cluster under the GLOBAL hot-key set `hotKeys`, the carry drop sets
    * of the subject (`mentionDrops`) and component (`compDrops`) stages, and
    * the urls whose subjects that changes. */
  private case class GraphClosure(slice: DataFrame, hotKeys: DataFrame,
                                  mentionDrops: Drops, compDrops: Drops,
                                  urls: Seq[DataFrame])

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
                           flippedLabels: (DataFrame, Long), dict: DataFrame,
                           kept: DataFrame => DataFrame,
                           keyCounts: Rel => Rel): GraphClosure = {
    val prevLinked = st.prev("linked_all")
    val prevComps = pin(st.prev(mode.compsStage))
    val prevCompMentions = prevComps.filter(col("mention_id").isNotNull)
    val prevKeyCounts = st.prev(mode.keyCountsStage)

    // — graph-membership deltas —
    val (labels, nLabels) = flippedLabels
    val leaverLabels =
      sized(labels.join(frequent, Seq("label"), "left_semi"), nLabels).hinted
    val droppedRows = prevCompMentions.join(dropUrls, Seq("url"), "left_semi")
    val leaverRows = prevCompMentions
      .join(leaverLabels, Seq("label"), "left_semi")
      .join(dropUrls, Seq("url"), "left_anti")
    // entrants carry full linked rows (subject assembly needs listing_key)
    val entrantRows = prevLinked.filter(col("ent").isNull)
      .join(dropUrls, Seq("url"), "left_anti")
      .join(sized(labels.join(frequent, Seq("label"), "left_anti"),
                  nLabels).hinted, Seq("label"), "left_semi")
      .withColumn("ent", lit(null).cast("string"))
    val freshKept = pin(kept(linkedAll.cur))
    val enteringMentions = pin(fresh(freshKept.select("mention_id", "label"))
      .unionByName(entrantRows.select("mention_id", "label")))

    // — key-count maintenance + hotness flips (the GLOBAL mm cap) —
    val keys = keyCounts(new Rel(null, enteringMentions,
      droppedRows.select("mention_id", "label")
        .unionByName(leaverRows.select("mention_id", "label"))))
    val hotNew = pin(AlignmentGraph.hotKeys(keys.all))
    val hotPrev = pin(AlignmentGraph.hotKeys(prevKeyCounts))
    val flippedKeys = (sized _).tupled(flipped(hotNew, hotPrev, "key"))

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
    val (enteringKeys, nKeys) = pinCount(
      AlignmentGraph.graphMentions(enteringMentions).select("key").distinct())
    val enteringMmKeys =
      sized(enteringKeys.join(stablyHot, Seq("key"), "left_anti"), nKeys)
    val viaKey = prevCompMentions
      .join(enteringMmKeys.hinted, Seq("key"), "left_semi").select("comp")
    // ED only: an entering mention also reaches old components through its
    // DICTIONARY CANDIDATES (ME edges are CC edges there; BU components
    // are MM-only, where ME edges never bridge). The stably-hot exclusion
    // does NOT apply here — the cap suppresses mm edges only, so a
    // hot-key entrant's ME adjacency is real in both graphs.
    val viaEnt =
      if (!mode.entityAdjacency) None
      else Some(prevComps.filter(col("mention_id").isNull)
        .join(dropSet(AlignmentGraph.candidateNodes(enteringKeys, dict)).hinted,
              Seq("node"), "left_semi")
        .select("comp"))
    val viaFlippedKeys = prevCompMentions
      .join(flippedKeys.hinted, Seq("key"), "left_semi").select("comp")
    val affectedComps = dropSet(
      (Seq(leaverRows.select("comp"), viaKey) ++ viaEnt :+ viaFlippedKeys)
        .foldLeft(droppedRows.select("comp"))(_ unionByName _)
        .distinct())

    // — the slice: surviving members of affected components + entrants +
    //   fresh kept mentions (full rows via prevLinked / linkedAll.cur) —
    val (affectedPrevMentions, nAffected) = pinCount(
      prevCompMentions.join(affectedComps.hinted, Seq("comp"), "left_semi"))
    val survivorIds = affectedPrevMentions
      .join(dropUrls, Seq("url"), "left_anti")
      .join(leaverLabels, Seq("label"), "left_anti")
      .select("mention_id")
    val survivorRows = kept(
      prevLinked.join(sized(survivorIds, nAffected).hinted,
                      Seq("mention_id"), "left_semi"))
    val sliceAll = pin(survivorRows.unionByName(entrantRows.select(
        survivorRows.columns.map(col): _*))
      .unionByName(freshKept))
    GraphClosure(sliceAll, hotNew,
      sized(affectedPrevMentions.select("mention_id"), nAffected),
      affectedComps,
      Seq(affectedPrevMentions.select("url"), freshKept.select("url")))
  }

  /** The mining aggregates (url-keyed tables + count views — the
    * checkpointed materialized views a delta maintains) and the emit
    * stages, over the `subjects` of the affected `urls` (every url on a
    * full run, None). Returns the node of the triple table. */
  private def mineAndEmit(st: Stages, subjects: Node[Rel],
                          urls: Option[Node[Drops]], validTags: Node[Rel],
                          seeds: Seeds): Node[DataFrame] = {
    val seedTypes = seeds.entityTypes.select(col("ent"), col("tpe"))
    // 6a. the distinct (url, listing_key, ent) projection feeds FIVE
    // consumers (both rule miners, both candidate counts, provenance) —
    // checkpoint it once instead of paying the corpus-wide distinct
    // shuffle per consumer
    val subjectListings = st.carried("subject_listings", "url", urls,
                                     Seq(subjects)) {
      subjects().cur.select("url", "listing_key", "ent").distinct()
    }
    val typeRules = st.carried("type_rules", "url", urls,
                               Seq(subjectListings)) {
      RuleMining.listingTypeRules(subjectListings().cur, seedTypes)
    }
    val relationRules = st.carried("relation_rules", "url", urls,
                                   Seq(subjectListings)) {
      RuleMining.listingRelationRules(subjectListings().cur,
                                      seeds.seedRelations)
    }
    val labelCounts = st.counts("label_counts", Seq("ent", "label"),
                                subjects) { s =>
      s(subjects()).groupBy("ent", "label").agg(count(lit(1)).as("cnt"))
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
    val typeCandCounts = st.counts("type_cand_counts", Seq("ent", "tpe"),
                                   subjects, typeRules, validTags) { s =>
      s(subjects()).select(col("url"), col("listing_key"), col("ent"),
          graft.taxonomy.ValidTags.shapeTag(col("label")).as("tag"))
        .join(s(typeRules()), Seq("url", "listing_key"))
        .join(broadcast(s(validTags())), Seq("tpe", "tag"), "left_semi")
        .select("url", "listing_key", "ent", "tpe").distinct()
        .groupBy("ent", "tpe").agg(count(lit(1)).as("cnt"))
    }
    val relCandCounts =
      st.counts("rel_cand_counts", Seq("ent", "pred", "obj"),
                subjectListings, relationRules) { s =>
        s(subjectListings()).join(s(relationRules()), Seq("url", "listing_key"))
          .groupBy("ent", "pred", "obj").agg(count(lit(1)).as("cnt"))
      }
    val provPairs = st.carried("prov_pairs", "url", urls,
                               Seq(subjectListings, typeRules)) {
      fresh(subjectListings().cur.select("ent", "url"))
        .unionByName(
          fresh(typeRules().cur.select(col("tpe").as("ent"), col("url"))))
        .distinct()
    }

    // The emit stages: disjointness-guarded transitive typing, new-relation
    // anti-join, and the triple write — all reading CANDIDATE-sized
    // maintained aggregates (never the corpus), EXCEPT provenance. The
    // taxonomy closure depends on the seeds only, so it runs from the start.
    val closRep = new LoopReport
    val closureSelf = st.runner.node("closure_with_self") {
      Disjointness.closureWithSelf(seeds.taxonomyEdges, closRep)
    }

    // Both tables are entity-∝ (at web scale, corpus-∝ — the r5 wide-world
    // soak measured them as the dominant delta stages), so a delta
    // recomputes ONLY the entities whose candidate-count rows changed —
    // the keys of the count view's net change are exactly those
    // TOUCHED-ENTITY sets: an entity absent from both maintenance slices has
    // an unchanged candidate row set, hence unchanged types/relations rows
    // (the guard, closure and anti-joins are all per-entity given the
    // fingerprint-enforced static seeds). The seed side is semi-joined to
    // the touched set so every join in the fresh slice is broadcast-sized.
    def touchedEnts(counts: Node[Rel]): Option[Node[Drops]] =
      st.deltaNode(s"${counts.name}_ents", counts) {
        dropSet(counts().cur.select("ent").distinct())
      }
    val touchedTypeEnts = touchedEnts(typeCandCounts)
    val touchedRelEnts = touchedEnts(relCandCounts)
    // the per-entity type derivation: J8 + disjointness guard + transitive
    // closure
    val types = st.carried("types", "ent", touchedTypeEnts,
                           Seq(typeCandCounts, closureSelf),
                           report = closRep) {
      val ents = touchedTypeEnts.map(_())
      val seedT = slice(seedTypes, ents)
      val cand = slice(typeCandCounts().all, ents)
        .select("ent", "tpe")
        .join(seedT, Seq("ent", "tpe"), "left_anti") // J8: drop existing
      val closure = closureSelf()
      val guarded = Disjointness.filterCandidates(
        cand, seedT, closure, seeds.disjointPairs)
      // transitive typing: mined type + all its ancestors, minus existing
      guarded
        .join(broadcast(closure), guarded("tpe") === closure("node"))
        .select(col("ent"), col("anc").as("tpe")).distinct()
        .join(seedT, Seq("ent", "tpe"), "left_anti")
    }
    val relations = st.carried("relations", "ent", touchedRelEnts,
                               Seq(relCandCounts)) {
      val ents = touchedRelEnts.map(_())
      val seedRels = slice(seeds.seedRelations, ents.map(_.renamed("sub")))
      slice(relCandCounts().all, ents).select("ent", "pred", "obj")
        .join(seedRels.select(col("sub").as("ent"), col("pred"), col("obj")),
              Seq("ent", "pred", "obj"), "left_anti") // J7: only NEW relations
    }

    // 6b. type-level axioms (Cat2Ax discipline over the listing rules) and
    // the instance facts they imply — both LISTING/candidate-sized, never
    // corpus-sized (Axioms scaladoc).
    val axioms = st.runner.stage("axioms", typeRules, relationRules) {
      graft.taxonomy.Axioms.typeAxioms(typeRules().all, relationRules().all)
    }
    val restrictionFacts = st.runner.stage("restriction_facts", types,
                                           axioms, closureSelf) {
      val allTypes = fresh(seedTypes).unionByName(types().all.select("ent", "tpe"))
      graft.taxonomy.Axioms.axiomFacts(axioms(), allTypes, closureSelf())
    }

    // 7. triples, partitioned by predicate — the candidate-sized blocks.
    // Ontology flavors (serialize.py:85-146,209-220): class hierarchy +
    // labels + disjointness, predicate typing, hasValue restrictions, and
    // restriction-derived facts — all from tables the engine already holds.
    // Provenance is not among them: it is its own carried table below.
    val trip = st.runner.node("triples_core", labelCounts, types, relations,
                              axioms, restrictionFacts) {
      st.runner.runPartitioned("triples_core", "pred") {
        TripleEmit.assembleFromCounts(
          labelCounts = labelCounts().all,
          types = types().all,
          rels = relations().all,
          extra = Seq(
            TripleEmit.ontologyClassTriples(seeds.taxonomyEdges,
                                            seeds.disjointPairs),
            TripleEmit.ontologyPredicateTriples(
              seeds.seedRelations.select("pred")),
            TripleEmit.restrictionTriples(axioms()),
            TripleEmit.relationTriples(restrictionFacts())))
      }
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
                               urls.map(_.map(_.renamed("obj"))),
                               Seq(provPairs)) {
      TripleEmit.provenanceTriples(provPairs().cur)
    }

    // 7b. void metadata (serialize.py:55-83) — three candidate-sized aggs,
    // its own table like the reference's separate metadata file
    st.runner.stage("ontology_meta", labelCounts) {
      val nEnt = labelCounts().all.select("ent").distinct().count()
      val nCls = seeds.taxonomyEdges.select(col("child").as("t"))
        .unionByName(seeds.taxonomyEdges.select(col("parent").as("t")))
        .distinct().count()
      val nPred = seeds.seedRelations.select("pred").distinct().count()
      TripleEmit.metadataTriples(st.spark, nEnt, nCls, nPred)
    }
    st.runner.node("triples", trip, provTrips) {
      trip().unionByName(provTrips().all)
    }
  }
}
