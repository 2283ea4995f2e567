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
  * clusterers expect. Scores are clamped at 1 (min(score,1), :33-34).
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

  /** mentions(mention_id, label) × dict(key, ent, freq) → weighted edges.
    * `meScore`: any Column over the joined (mention × candidate) row. */
  def build(mentions: DataFrame, dict: DataFrame,
            meThreshold: Double = 0.5, mmThreshold: Double = 0.5,
            meScore: Column = col("freq")): DataFrame =
    buildScored(mentions, dict, cand => cand.withColumn("score", meScore),
                meThreshold, mmThreshold)

  /** Whole-DataFrame scorer seam (the M2 batched-model path): `scoreFn`
    * receives the ME candidate join (mention_id, label, key + the dict
    * columns) and must append a double `score` column. A Column-expression
    * scorer stays codegen'd (that's what [[build]] passes); a batched
    * model scorer routes the same frame through
    * [[graft.link.BatchedScorer.modelScoreFn]] — the clamp, null-as-zero,
    * and strict-> threshold semantics below apply identically to both. */
  def buildScored(mentions: DataFrame, dict: DataFrame,
                  scoreFn: DataFrame => DataFrame,
                  meThreshold: Double = 0.5,
                  mmThreshold: Double = 0.5,
                  hotKeysIn: Option[DataFrame] = None): DataFrame = {
    val keyed = graphMentions(mentions)

    // — ME edges: scored candidates above the threshold (strict >, :31).
    // NULL scores (partial scorer without .otherwise, null dict prior)
    // mean "no evidence" = 0, NOT max weight: least() skips nulls. —
    val me = scoreFn(keyed.join(broadcast(dict), Seq("key")))
      .withColumn("score", least(coalesce(col("score"), lit(0.0)), lit(1.0)))
      .filter(col("score") > meThreshold)
      .select(concat(lit("m:"), col("mention_id")).as("src"),
              concat(lit("e:"), col("ent")).as("dst"),
              col("score").as("weight"))

    // — MM edges: same lexical key ⇒ candidate pair, weight 1.0 (> any
    //   threshold < 1), capped per key. The cap is computed with a
    //   map-side-combinable groupBy count + a broadcast ANTI-join against
    //   the (tiny) hot-key set — NOT a window over the mention set, which
    //   would sort every hot key's 10^8 boilerplate mentions in one task
    //   purely to discard them (the head-key skew the salted link exists
    //   to avoid). `hotKeysIn` overrides the computed set: a COMPONENT
    //   SLICE recompute (delta) must cap by the GLOBAL kept-mention key
    //   counts, not the slice-local ones, or its mm edges diverge from a
    //   full run's. —
    val hotKeys = hotKeysIn.getOrElse(
      keyed.groupBy("key").agg(count(lit(1)).as("bsize"))
        .filter(col("bsize") > maxKeyBucket(mentions.sparkSession))
        .select("key"))
    val small = keyed.join(hotKeys, Seq("key"), "left_anti")
    val mm = small.select(col("mention_id").as("a"), col("key"))
      .join(small.select(col("mention_id").as("b"), col("key")), "key")
      .filter(col("a") < col("b"))
      .select(concat(lit("m:"), col("a")).as("src"),
              concat(lit("m:"), col("b")).as("dst"),
              lit(1.0).as("weight"))
      .filter(lit(1.0) > mmThreshold)

    me.unionByName(mm)
  }

  /** The full ED run: mentions → alignment graph → NastyLinker split.
    * Returns (mention_id, ent | null, cluster_id). */
  def disambiguate(mentions: DataFrame, dict: DataFrame,
                   meThreshold: Double = 0.5, mmThreshold: Double = 0.5,
                   pathThreshold: Double = 0.75,
                   meScore: Column = col("freq")): DataFrame =
    disambiguateScored(mentions, dict,
                       cand => cand.withColumn("score", meScore),
                       meThreshold, mmThreshold, pathThreshold)

  /** [[disambiguate]] with the whole-DataFrame scorer seam of
    * [[buildScored]] — the entry point for a batched model scorer. */
  def disambiguateScored(mentions: DataFrame, dict: DataFrame,
                         scoreFn: DataFrame => DataFrame,
                         meThreshold: Double = 0.5,
                         mmThreshold: Double = 0.5,
                         pathThreshold: Double = 0.75,
                         report: graft.runtime.LoopReport = null,
                         hotKeysIn: Option[DataFrame] = None): DataFrame = {
    // checkpoint: NastyLinker scans the edge set repeatedly (bidir groupBy,
    // CC, NIL subgraph) — without this the broadcast join + window + MM
    // self-join lineage would re-execute on every scan
    val edges = pin(buildScored(mentions, dict, scoreFn, meThreshold,
                                mmThreshold, hotKeysIn))
    clusterEdges(mentions, edges, pathThreshold, report,
                 nilCliqueHint =
                   Some(mmCliqueHint(mentions, mmThreshold, hotKeysIn)))
  }

  /** Small-bucket mentions with their per-key representative:
    * (mention_id, key, rep = min mention_id of the key, bsize). The cap
    * mirrors [[buildScored]] exactly (same hot-key exclusion). */
  private def smallWithRep(mentions: DataFrame,
                           hotKeysIn: Option[DataFrame]): DataFrame = {
    val keyed = graphMentions(mentions)
    val hotKeys = hotKeysIn.getOrElse(
      keyed.groupBy("key").agg(count(lit(1)).as("bsize"))
        .filter(col("bsize") > maxKeyBucket(mentions.sparkSession))
        .select("key"))
    val small = keyed.join(hotKeys, Seq("key"), "left_anti")
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
                   hotKeysIn: Option[DataFrame]): DataFrame = {
    val m2rep = smallWithRep(mentions, hotKeysIn)
    m2rep
      .filter(lit(1.0 > mmThreshold) && col("bsize") >= 2)
      .select(col("mention_id").as("node"), col("rep").as("component"))
  }

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
    * `meEdges`: the builder's ME edge subset ("m:" src, "e:" dst).
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
                 mmThreshold: Double,
                 hotKeysIn: Option[DataFrame],
                 keyDeterminedScores: Boolean = false): DataFrame = {
    if (!(1.0 > mmThreshold))
      return ConnectedComponents.run(meEdges.select("src", "dst"))
    val keyed = graphMentions(mentions)
    val hotKeys = hotKeysIn.getOrElse(
      keyed.groupBy("key").agg(count(lit(1)).as("bsize"))
        .filter(col("bsize") > maxKeyBucket(mentions.sparkSession))
        .select("key"))
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
      .select(expr("substring(src, 3)").as("mid"), col("dst"))
      .join(m2rep.select(col("mention_id").as("mid"), col("rep")),
            Seq("mid"), "left")
      .select(concat(lit("m:"), coalesce(col("rep"), col("mid"))).as("src"),
              col("dst"))
    val ccSmall = pin(ConnectedComponents.run(meC))
    // expansion: a member surfaces when its key has MM edges (small bucket
    // of size ≥ 2 — then a key with no ME adjacency is its own component)
    // or when its contracted rep reached the ME graph (covers singleton
    // buckets and, under key-determined scores, hot buckets — whose
    // members carry no MM edges and so exist in the full graph only
    // through their ME edges)
    val expanded = m2rep
      .select(concat(lit("m:"), col("mention_id")).as("node"),
              concat(lit("m:"), col("rep")).as("rep_node"),
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
      .select(concat(lit("m:"), col("rep")).as("node")).distinct()
    val passThrough = ccSmall.join(repNodes, Seq("node"), "left_anti")
    expanded.unionByName(passThrough)
  }

  /** The MM clique structure of [[buildScored]]'s edge set as a
    * (node, clique) map over the small-bucket mention nodes ("m:" ids →
    * key): the caller-side assertion [[NastyLinker.cluster]]'s
    * `nilCliqueHint` consumes — every MM edge connects two nodes of one
    * clique and every clique is complete, so any induced subgraph of the
    * MM part clusters per clique in closed form. Empty when
    * mmThreshold ≥ 1 (no MM edges). */
  def mmCliqueHint(mentions: DataFrame, mmThreshold: Double,
                   hotKeysIn: Option[DataFrame]): DataFrame =
    smallWithRep(mentions, hotKeysIn)
      .filter(lit(1.0 > mmThreshold))
      .select(concat(lit("m:"), col("mention_id")).as("node"),
              col("key").as("clique"))

  /** The mention key projection shared by the edge builder and the
    * delta-maintained key-count view ([[graft.Pipeline]]'s `ed_key_counts`)
    * — one definition so the hot-key cap and its maintenance can never
    * disagree on which mentions are graph nodes. */
  def graphMentions(mentions: DataFrame): DataFrame =
    mentions
      .select(col("mention_id"), col("label"))
      .withColumn("key", Normalize.aliasKey(col("label")))
      // labels that normalize to "" (punctuation-only, non-Latin scripts)
      // share a key vacuously — they must not form edges with each other
      .filter(length(col("key")) > 0)

  /** NastyLinker split + isolated-mention totality over an already-built
    * (and checkpointed) edge set — the tail of [[disambiguateScored]],
    * public so a caller that also needs the EDGES (the ED delta records
    * their connected components) builds them once. */
  def clusterEdges(mentions: DataFrame, edges: DataFrame,
                   pathThreshold: Double = 0.75,
                   report: graft.runtime.LoopReport = null,
                   ccIn: Option[DataFrame] = None,
                   nilCliqueHint: Option[DataFrame] = None): DataFrame = {
    // clustered is consumed TWICE below (the left_anti probe and the union
    // output) — without its own checkpoint each action re-executes
    // NastyLinker's cluster-assembly join tree once per consumer
    val clustered = pin(NastyLinker.cluster(edges, pathThreshold,
                                            report = report, ccIn = ccIn,
                                            nilCliqueHint = nilCliqueHint))
    // mentions with NO candidate edge at all never reach the graph: they
    // are singleton NIL clusters (the reference only clusters graph nodes;
    // the pipeline's F9/NIL path handles the rest — kept here for totality)
    val isolated = mentions.select(col("mention_id"))
      .join(clustered.select("mention_id"), Seq("mention_id"), "left_anti")
      .select(col("mention_id"), lit(null).cast("string").as("ent"),
              concat(lit("nil:"), col("mention_id")).as("cluster_id"))
    clustered.unionByName(isolated)
  }
}
