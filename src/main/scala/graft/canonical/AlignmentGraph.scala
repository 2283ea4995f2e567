package graft.canonical

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Normalize
import graft.runtime.Checkpoints.pin

/** Alignment-graph construction for entity disambiguation (reference:
  * `greedy_clustering.py:26-35` `_get_alignment_graph`): scored
  * mention–entity candidates above `meThreshold` and mention–mention
  * candidates above `mmThreshold` become the weighted edge set that
  * [[NastyLinker]]/[[EdinCluster]] split — closing the end-to-end ED path
  * mentions → candidates → alignment graph → clusters.
  *
  * Candidate generation is deterministic (the reference scores candidates
  * with a bi-encoder; any scorer Column slots in, same seam as
  * `AliasLink.linkScored`):
  *  - ME candidates: mentions × alias dictionary on the lexical key
  *    (broadcast join), weight = the scorer column (default: the prior);
  *  - MM candidates: mentions sharing a lexical key, weight = 1.0 (an
  *    exact-key match; a similarity scorer replaces the literal the same
  *    way). MM pairs are generated per key with the same hot-bucket cap
  *    discipline as every other bucketed self-join here — a boilerplate
  *    key cannot go quadratic.
  *
  * Output edges (src, dst, weight) use the "m:"/"e:" node namespaces the
  * clusterers expect; the format is private to this package. Scores are
  * clamped at 1 (min(score,1), :33-34).
  *
  * The MM cap is one derivation ([[hotKeys]] over a [[keyCounts]] view),
  * passed explicitly to every step that reads it: a pipeline run reads it
  * from the key-count stage it records (the view a delta maintains), and
  * only [[build]] derives it from its own mentions. [[disambiguate]] is
  * the one ED clusterer over the built graph; the BottomUp fold's entry
  * is [[BottomUpCluster.clusterGraph]].
  */
object AlignmentGraph {

  /** Hot-key cut for MM candidate generation (≙ Dedup.MaxBucket). */
  val MaxKeyBucket = 50

  /** [[MaxKeyBucket]] with a conf override (`graft.ed.maxKeyBucket`) so
    * tests can plant hot keys at fixture scale. The cut must stay CONSTANT
    * across a delta chain: the maintained key-count views compare hotness
    * across runs, and a mid-chain change would misclassify which keys
    * flipped (same contract as the seed tables — change it on a fresh
    * outDir only). */
  def maxKeyBucket(spark: org.apache.spark.sql.SparkSession): Int =
    spark.conf.get("graft.ed.maxKeyBucket", MaxKeyBucket.toString).toInt

  /** Kept-mention key counts (key, cnt): the view the MM hot-key cap is
    * read from ([[hotKeys]]). A pipeline run records it as the mode's
    * `<tag>_key_counts` stage and maintains it across a delta chain. */
  def keyCounts(mentions: DataFrame): DataFrame =
    graphMentions(mentions).groupBy("key").agg(count(lit(1)).as("cnt"))

  /** The hot keys (key) of a [[keyCounts]] view: keys with more than
    * [[maxKeyBucket]] mentions, whose buckets form no MM edges. The one
    * derivation of the cap — the edge build, the component contraction,
    * the clique hint and the delta's hotness flips all read its result. */
  def hotKeys(keyCounts: DataFrame): DataFrame =
    keyCounts.filter(col("cnt") > maxKeyBucket(keyCounts.sparkSession))
      .select("key")

  /** mentions(mention_id, label) × dict(key, ent, freq) → weighted edges,
    * capped by the hot keys of `mentions` itself. `meScore`: any Column
    * over the joined (mention × candidate) row. */
  def build(mentions: DataFrame, dict: DataFrame,
            meThreshold: Double = 0.5, mmThreshold: Double = 0.5,
            meScore: Column = col("freq")): DataFrame =
    buildScored(mentions, dict, hotKeys(keyCounts(mentions)),
                _.withColumn("score", meScore), meThreshold, mmThreshold)

  /** Whole-DataFrame scorer seam (the M2 batched-model path): `scoreFn`
    * receives the ME candidate join (mention_id, label, key + the dict
    * columns) and must append a double `score` column. A Column-expression
    * scorer stays codegen'd (that's what [[build]] passes); a batched
    * model scorer routes the same frame through
    * [[graft.link.BatchedScorer.modelScoreFn]] — the clamp, null-as-zero,
    * and strict-> threshold semantics below apply identically to both.
    *
    * `hotKeys` ([[hotKeys]]) is the MM cap, and it is required: a
    * component-slice recompute (a delta) must cap by the GLOBAL
    * kept-mention key counts, not the slice-local ones, or its MM edges
    * diverge from a full run's — so every caller names the view it caps
    * by, and a full pipeline run reads the same recorded view a delta
    * maintains. */
  def buildScored(mentions: DataFrame, dict: DataFrame, hotKeys: DataFrame,
                  scoreFn: DataFrame => DataFrame,
                  meThreshold: Double = 0.5,
                  mmThreshold: Double = 0.5): DataFrame = {
    val keyed = graphMentions(mentions)

    // — ME edges: scored candidates above the threshold (strict >, :31).
    // NULL scores (partial scorer without .otherwise, null dict prior)
    // mean "no evidence" = 0, NOT max weight: least() skips nulls. —
    val me = scoreFn(keyed.join(broadcast(dict), Seq("key")))
      .withColumn("score", least(coalesce(col("score"), lit(0.0)), lit(1.0)))
      .filter(col("score") > meThreshold)
      .select(mentionNode(col("mention_id")).as("src"),
              entityNode(col("ent")).as("dst"),
              col("score").as("weight"))

    // — MM edges: same lexical key ⇒ candidate pair, weight 1.0 (> any
    //   threshold < 1), capped per key: a broadcast ANTI-join against the
    //   (tiny) hot-key set — NOT a window over the mention set, which
    //   would sort every hot key's 10^8 boilerplate mentions in one task
    //   purely to discard them (the head-key skew the salted link exists
    //   to avoid). —
    val small = keyed.join(hotKeys, Seq("key"), "left_anti")
    val mm = small.select(col("mention_id").as("a"), col("key"))
      .join(small.select(col("mention_id").as("b"), col("key")), "key")
      .filter(col("a") < col("b"))
      .select(mentionNode(col("a")).as("src"),
              mentionNode(col("b")).as("dst"),
              lit(1.0).as("weight"))
      .filter(lit(1.0) > mmThreshold)

    me.unionByName(mm)
  }

  /** The ED clusterer — mentions → alignment graph → NastyLinker split
    * (the reference's predict() path, `greedy_clustering.py:55-59`) — and
    * the one ED entry: the pipeline's ScoredEd mode and the tests both
    * call it. `edges` is [[buildScored]] over `mentions` under the same
    * `hotKeys` and `mmThreshold`, checkpointed by the caller (the split
    * scans it repeatedly: bidirectional groupBy, propagation, NIL
    * subgraph).
    *
    * The split reads the full weighted edge set; its component table is
    * computed over the KEY-CONTRACTED graph ([[components]]) and its NIL
    * clustering takes the MM clique structure ([[mmCliqueHint]]), both
    * identical to the plain loops over `edges` (AlignmentContractionSpec
    * holds the entry to [[NastyLinker.cluster]] over the uncontracted
    * edges). `keyDeterminedScores`: see [[components]].
    *
    * Returns the assignment (mention_id, ent | null, cluster_id) — every
    * mention, one with no candidate edge as a singleton NIL cluster (the
    * reference only clusters graph nodes; kept here for totality) — and
    * the (node, component) table the split ran over, which the pipeline
    * records as delta state. `report` receives the propagation loop's
    * rounds. */
  def disambiguate(mentions: DataFrame, edges: DataFrame, hotKeys: DataFrame,
                   mmThreshold: Double = 0.5, pathThreshold: Double = 0.75,
                   keyDeterminedScores: Boolean = false,
                   report: graft.runtime.LoopReport = null)
      : (DataFrame, DataFrame) = {
    val cc = pin(components(
      mentions, edges.filter(isEntityNode(col("dst"))).select("src", "dst"),
      mmThreshold, hotKeys, keyDeterminedScores))
    // clustered is consumed TWICE below (the left_anti probe and the union
    // output) — without its own checkpoint each action re-executes
    // NastyLinker's cluster-assembly join tree once per consumer
    val clustered = pin(NastyLinker.cluster(edges, pathThreshold,
      report = report, ccIn = Some(cc),
      nilCliqueHint = Some(mmCliqueHint(mentions, mmThreshold, hotKeys))))
    val isolated = mentions.select(col("mention_id"))
      .join(clustered.select("mention_id"), Seq("mention_id"), "left_anti")
      .select(col("mention_id"), lit(null).cast("string").as("ent"),
              concat(lit("nil:"), col("mention_id")).as("cluster_id"))
    (clustered.unionByName(isolated), cc)
  }

  /** Small-bucket mentions with their per-key representative:
    * (mention_id, key, rep = min mention_id of the key, bsize). The cap
    * mirrors [[buildScored]] exactly (same hot-key exclusion). */
  private def smallWithRep(mentions: DataFrame,
                           hotKeys: DataFrame): DataFrame = {
    val small = graphMentions(mentions).join(hotKeys, Seq("key"), "left_anti")
    small.join(
      small.groupBy("key").agg(min("mention_id").as("rep"),
                               count(lit(1)).as("bsize")), "key")
  }

  /** MM-edge connected components in CLOSED FORM: [[buildScored]]'s MM
    * edges connect exactly the small-bucket mentions of one key (a capped
    * clique), so the component table of the MM-only graph — what BottomUp
    * mode records and folds over — is the projection
    * (member, min member of its key) over buckets of size ≥ 2, with no
    * iterative loop at all. Identical to `ConnectedComponents.run` over
    * the MM pair set: same node set (singleton buckets produce no edges),
    * same min-id component labels. Empty when mmThreshold ≥ 1 (no MM edges
    * survive), mirroring the builder's filter. */
  def mmComponents(mentions: DataFrame, mmThreshold: Double,
                   hotKeys: DataFrame): DataFrame =
    smallWithRep(mentions, hotKeys)
      .filter(lit(1.0 > mmThreshold) && col("bsize") >= 2)
      .select(col("mention_id").as("node"), col("rep").as("component"))

  /** Connected components of the FULL alignment graph (ME ∪ MM edges),
    * computed over the KEY-CONTRACTED graph: every same-key MM clique is
    * collapsed into its representative (rep = min member), ME edges are
    * re-pointed at the rep, and the star-contraction loop runs over a
    * graph of |keys| + |hot mentions| + |entities| nodes instead of every
    * mention; members are then expanded back to their rep's component.
    * Identical output to `ConnectedComponents.run(edges)` by construction:
    * contraction preserves connectivity (clique members are mutually
    * connected and share ALL their non-MM adjacency through the
    * component), and component labels are min node ids, which contraction
    * preserves because rep is each clique's min mention. Falls back to the
    * plain loop when mmThreshold ≥ 1 (no MM edges → nothing to contract).
    *
    * `meEdges`: the builder's ME edge subset (mention src, entity dst).
    *
    * `keyDeterminedScores = true` asserts the ME edge SET is a function of
    * the mention's KEY alone (true for the default prior scorer: the score
    * is a dict-row property, so every mention of a key carries the same
    * candidate edges) — then HOT-key mentions contract too: a hot key's
    * members are pairwise connected through any shared candidate entity
    * (all-or-none per key), so collapsing them onto the key's min member
    * preserves both connectivity and min-id labels, and the CC loop runs
    * over ~|keys| + |entities| nodes. Per-mention scorers must pass false
    * (hot mentions then stay individual nodes). */
  def components(mentions: DataFrame, meEdges: DataFrame,
                 mmThreshold: Double, hotKeys: DataFrame,
                 keyDeterminedScores: Boolean = false): DataFrame = {
    if (!(1.0 > mmThreshold))
      return ConnectedComponents.run(meEdges.select("src", "dst"))
    val keyed = graphMentions(mentions)
    // (mention, rep, bsize, is_small): rep/bsize over the CONTRACTIBLE
    // population — small buckets always; hot buckets too when scores are
    // key-determined
    val contractible =
      if (keyDeterminedScores) keyed
      else keyed.join(hotKeys, Seq("key"), "left_anti")
    val m2rep = pin(contractible
      .join(hotKeys.withColumn("is_hot", lit(true)), Seq("key"), "left")
      .join(contractible.groupBy("key")
              .agg(min("mention_id").as("rep"), count(lit(1)).as("bsize")),
            "key")
      .select(col("mention_id"), col("rep"), col("bsize"),
              coalesce(col("is_hot"), lit(false)).as("is_hot")))
    // ME edges re-pointed at the key rep (non-contracted mentions keep
    // their own node)
    val meC = meEdges
      .select(nodeId(col("src")).as("mid"), col("dst"))
      .join(m2rep.select(col("mention_id").as("mid"), col("rep")),
            Seq("mid"), "left")
      .select(mentionNode(coalesce(col("rep"), col("mid"))).as("src"),
              col("dst"))
    val ccSmall = pin(ConnectedComponents.run(meC))
    // expansion: a member surfaces when its key has MM edges (small bucket
    // of size ≥ 2 — then a key with no ME adjacency is its own component)
    // or when its contracted rep reached the ME graph (covers singleton
    // buckets and, under key-determined scores, hot buckets — whose
    // members carry no MM edges and so exist in the full graph only
    // through their ME edges)
    val expanded = m2rep
      .select(mentionNode(col("mention_id")).as("node"),
              mentionNode(col("rep")).as("rep_node"),
              col("bsize"), col("is_hot"))
      .join(ccSmall.select(col("node").as("rep_node"), col("component")),
            Seq("rep_node"), "left")
      .filter((!col("is_hot") && col("bsize") >= 2) ||
              col("component").isNotNull)
      .select(col("node"),
              coalesce(col("component"), col("rep_node")).as("component"))
    // entities (+ hot-key mentions when not contracted) pass through from
    // the contracted run
    val repNodes = m2rep
      .select(mentionNode(col("rep")).as("node")).distinct()
    val passThrough = ccSmall.join(repNodes, Seq("node"), "left_anti")
    expanded.unionByName(passThrough)
  }

  /** The MM clique structure of [[buildScored]]'s edge set as a
    * (node, clique) map over the small-bucket mention nodes (mention node
    * → key): the caller-side assertion [[NastyLinker.cluster]]'s
    * `nilCliqueHint` consumes — every MM edge connects two nodes of one
    * clique and every clique is complete, so any induced subgraph of the
    * MM part clusters per clique in closed form. Empty when
    * mmThreshold ≥ 1 (no MM edges). */
  def mmCliqueHint(mentions: DataFrame, mmThreshold: Double,
                   hotKeys: DataFrame): DataFrame =
    smallWithRep(mentions, hotKeys)
      .filter(lit(1.0 > mmThreshold))
      .select(mentionNode(col("mention_id")).as("node"),
              col("key").as("clique"))

  /** The mention key projection shared by the edge builder and the
    * key-count view ([[keyCounts]]) — one definition so the hot-key cap
    * and its maintenance can never disagree on which mentions are graph
    * nodes. */
  def graphMentions(mentions: DataFrame): DataFrame =
    mentions
      .select(col("mention_id"), col("label"))
      .withColumn("key", Normalize.aliasKey(col("label")))
      // labels that normalize to "" (punctuation-only, non-Latin scripts)
      // share a key vacuously — they must not form edges with each other
      .filter(length(col("key")) > 0)

  /** A component table as recorded delta state: one row per mention of
    * `mentions` (mention_id, url, label) — (comp, node, mention_id, url,
    * key, label), a mention `cc` does not cover being its own component —
    * and, with `entityNodes`, one per entity node of `cc` (comp, node,
    * nulls). `entityNodes` says which graph `cc` is over: the full
    * alignment graph ([[disambiguate]]: mention and entity node ids) or
    * the MM-only graph (the BottomUp fold: bare mention ids). Component
    * ids are the component's minimum node id — content-derived, so a
    * component slice recomputed by a delta reproduces the ids a full run
    * would. */
  def componentRows(mentions: DataFrame, cc: DataFrame,
                    entityNodes: Boolean): DataFrame = {
    val mentionRows = mentions
      .select(col("mention_id"), col("url"), col("label"),
              Normalize.aliasKey(col("label")).as("key"))
      .withColumn("node",
        if (entityNodes) mentionNode(col("mention_id")) else col("mention_id"))
      .join(cc, Seq("node"), "left_outer")
      .select(coalesce(col("component"), col("node")).as("comp"),
              col("node"), col("mention_id"), col("url"), col("key"),
              col("label"))
    if (!entityNodes) mentionRows
    else mentionRows.unionByName(cc.filter(isEntityNode(col("node")))
      .select(col("component").as("comp"), col("node"),
              lit(null).cast("string").as("mention_id"),
              lit(null).cast("string").as("url"),
              lit(null).cast("string").as("key"),
              lit(null).cast("string").as("label")))
  }

  /** The entity nodes (node) of the dictionary candidates of `keys` (key):
    * the old components a mention of one of these keys can reach through
    * an ME edge, before any score test. */
  def candidateNodes(keys: DataFrame, dict: DataFrame): DataFrame =
    keys.join(broadcast(dict.select("key", "ent")), Seq("key"))
      .select(entityNode(col("ent")).as("node")).distinct()

  // — the node-id format: "m:<mention_id>", "e:<ent>" — known only in this
  //   package ([[NastyLinker]] and [[BottomUpCluster]] read it too) —
  private[canonical] def mentionNode(id: Column): Column = concat(lit("m:"), id)
  private[canonical] def entityNode(id: Column): Column = concat(lit("e:"), id)
  private[canonical] def isEntityNode(node: Column): Column =
    node.startsWith("e:")
  private[canonical] def isMentionNode(node: Column): Column =
    node.startsWith("m:")
  /** The bare mention or entity id of a node. */
  private[canonical] def nodeId(node: Column): Column = node.substr(3, Int.MaxValue)
}
