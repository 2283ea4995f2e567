package graft.canonical

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.runtime.Checkpoints.{free, fresh, pin, pinCount}

/** NastyLinker clustering (G10; reference:
  * `/root/reference/impl/subject_entity/entity_disambiguation/matching/greedy_clustering.py:46-102`):
  * components of the mention/entity alignment graph with MORE than one
  * entity are split by BEST-PATH score from the entity nodes — the
  * reference runs multi-source Dijkstra with edge weight −log₂(w) and
  * attaches a mention to the source entity of its shortest path iff the
  * path score 2^(−dist) exceeds `pathThreshold` (0.75); everything below
  * the threshold falls into NIL clusters = connected components of the
  * subgraph induced on unassigned mentions.
  *
  * Spark re-expression: −log₂ shortest path ≡ MAX-PRODUCT of edge weights,
  * so the split is an iterative max-product label propagation from entity
  * nodes — a DataFrame loop like [[ConnectedComponents]] (join + window-max
  * per round, `localCheckpoint` to truncate lineage). Because every edge
  * weight is ≤ 1, a path score only DECREASES with length, so candidates
  * that fall to ≤ pathThreshold are pruned inside the loop — the frontier
  * shrinks monotonically and the propagation never explores the
  * sub-threshold region (the property that keeps the loop cheap at corpus
  * scale: rounds are bounded by the graph diameter of the >threshold
  * neighborhood, not the component).
  *
  * Determinism: ties (equal best score from two entities) break by entity
  * id asc — the reference inherits nx's heap order here, which is
  * execution-order-dependent; we pin a total order instead (same discipline
  * as W4/G9).
  */
object NastyLinker {

  /** edges(src, dst, weight): mention ids prefixed "m:", entity ids
    * prefixed "e:"; weights in (0,1] (scores are clamped at 1 like the
    * reference's `min(score, 1)`).
    *
    * Returns (mention_id, ent, cluster_id):
    *  - components with ≤1 entity pass through unsplit (validity rule,
    *    greedy_clustering.py:71-77): every mention → that entity (or NIL);
    *  - multi-entity components are split by best-path score as above;
    *  - NIL rows have ent = null and cluster_id = "nil:<min mention id>"
    *    (content-derived, partitioning-invariant). */
  /** `nilCliqueHint`: optional (node, clique) map asserting that the MM
    * (mention–mention) edge subset is EXACTLY the union of complete
    * cliques given by the map (the [[AlignmentGraph.buildScored]] shape —
    * capped same-key cliques; see [[AlignmentGraph.mmCliqueHint]]). NIL
    * clustering then runs in CLOSED FORM: entity nodes are never NIL, so
    * the NIL-induced subgraph contains only MM edges, an induced subgraph
    * of a complete clique is complete, and its components are the per-
    * clique NIL groups labelled by their min member — no CC loop. Without
    * the hint the generic induced-subgraph CC runs as before. */
  def cluster(edges: DataFrame, pathThreshold: Double = 0.75,
              maxIter: Int = 30,
              report: graft.runtime.LoopReport = null,
              ccIn: Option[DataFrame] = None,
              nilCliqueHint: Option[DataFrame] = None): DataFrame = {
    val e = edges.select(col("src"), col("dst"),
                         least(col("weight"), lit(1.0)).as("weight"))

    // `ccIn`: the caller already ran CC over these edges (the ED pipeline
    // records the component table as delta state) — reuse instead of paying
    // the iterative loop twice. CC ids are content-derived (min node id),
    // so a supplied table is identical to a recomputed one by construction.
    val cc = ccIn.getOrElse(ConnectedComponents.run(e.select("src", "dst")))
    // pinned: THREE separate actions re-run this aggregate from cc (the
    // bidirMulti checkpoint via multiComps, the nilNodes checkpoint via
    // zeroEnt, the final assembly via `single`); the frame is
    // component-count-sized
    val entComp = pin(cc.filter(col("node").startsWith("e:"))
      .groupBy("component")
      .agg(countDistinct("node").as("n_ents"), min("node").as("only_ent")))
    val mentions = cc.filter(col("node").startsWith("m:"))
      .select("node", "component")

    // Propagation results are CONSUMED only inside multi-entity components
    // (`attached` filters to them; the validity rule resolves everything
    // else), so the propagation graph is restricted to those components
    // BEFORE the symmetrize/dedup aggregate — component membership is
    // closed over edges (src ∈ multi ⇒ dst ∈ multi), so filtering on src
    // alone keeps exactly the multi-component edge set, provably
    // result-identical — and in the common corpus shape (almost every
    // component single-entity) the whole-graph shuffle the old order paid
    // just to discard ~all rows disappears: the undirected dedup groupBy
    // now runs over the near-empty multi subset only.
    val multiComps = entComp.filter(col("n_ents") > 1).select("component")
    val multiNodes = cc.join(multiComps, "component").select("node")
    val eMulti = e.join(multiNodes.select(col("node").as("src")), "src")
    // undirected, multi-edge-deduped (keep best weight per direction)
    val bidirMulti = pin(eMulti
      .unionByName(eMulti.select(col("dst").as("src"), col("src").as("dst"),
                                 col("weight")))
      .groupBy("src", "dst").agg(max("weight").as("weight")))

    // — max-product propagation from entity nodes (threshold-pruned) —
    val entities = multiNodes.filter(col("node").startsWith("e:"))
      .select(col("node"), col("node").as("ent"), lit(1.0).as("score"))
    // the pin's row count: both `cur` and each round's `merged` hold exactly
    // one row per node (row_number = 1 per node window), so set equality
    // REQUIRES equal counts; the count gate below skips the union+aggregate
    // symmetric-difference job on every round that still grows the reached
    // set (same discipline as ConnectedComponents.run).
    var (cur, curCount) = pinCount(entities)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val cand = cur
        .select(col("node").as("hop_src"), col("ent"),
                col("score").as("hop_score"))
        .join(bidirMulti.select(col("src").as("hop_src"), col("dst"),
                                col("weight")), "hop_src")
        .select(col("dst").as("node"), col("ent"),
                (col("hop_score") * col("weight")).as("score"))
        .filter(col("score") > pathThreshold) // prune: extensions only shrink
      val w = Window.partitionBy("node")
        .orderBy(col("score").desc, col("ent").asc)
      // fresh alias every column: union children must not share exprIds
      // (cand derives from cur; checkpointing preserves attribute ids)
      val (merged, mergedCount) = pinCount(fresh(cur).unionByName(fresh(cand))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).drop("rn"))
      // convergence: symmetric difference of two keyed sets — run only when
      // the count gate says equality is possible (typically the final round)
      converged = mergedCount == curCount &&
        fresh(merged).unionByName(fresh(cur))
          .groupBy("node", "ent", "score").agg(count(lit(1)).as("c"))
          .filter(col("c") === 1).isEmpty
      // free the superseded round (same discipline as ConnectedComponents)
      free(cur)
      cur = merged; curCount = mergedCount
      iter += 1
    }
    if (report != null) { report.rounds = iter; report.converged = converged }
    // Truncation must be OBSERVABLE (round-2 ADVICE): weight-1.0 edges do
    // not decay, so a >threshold region with diameter > maxIter would
    // silently leave attachable mentions in NIL. Same iteration-bound
    // discipline as ConnectedComponents, but surfaced.
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"NastyLinker propagation NOT converged after $maxIter rounds — " +
          "graph diameter above the >threshold frontier exceeds maxIter; " +
          "mentions beyond the horizon fall to NIL. Raise maxIter.")

    // — assemble clusters —
    // ≤1-entity components pass through whole (the validity rule)
    val single = mentions
      .join(entComp.filter(col("n_ents") === 1), "component")
      .select(col("node"), col("only_ent").as("ent"))
    val mentionsMulti = mentions.join(multiComps, "component").select("node")
    val attached = cur
      .filter(col("node").startsWith("m:") && col("score") > pathThreshold)
      .join(mentionsMulti, "node")
      .select(col("node"), col("ent"))

    // NIL nodes: unassigned mentions of split components + every mention of
    // entity-free components
    val unassigned = mentionsMulti
      .join(attached.select("node"), Seq("node"), "left_anti")
    val zeroEnt = mentions
      .join(entComp.select("component"), Seq("component"), "left_anti")
      .select("node")
    val nilNodes = pin(unassigned.unionByName(zeroEnt))
    // components of the subgraph INDUCED on NIL nodes (both endpoints NIL)
    val nilCc = nilCliqueHint match {
      case Some(hint) =>
        // closed form (see scaladoc): per-clique NIL groups, min-member
        // label; cliques contributing a single NIL node yield that node
        // as its own component — identical to the induced-subgraph CC
        // (which would see no edge for it and omit it; the left_outer
        // fallback below maps both spellings to the same cluster)
        nilNodes.join(hint, "node")
          .withColumn("component",
            min("node").over(Window.partitionBy("clique")))
          .select("node", "component")
      case None =>
        val nilEdges = e.select("src", "dst")
          .join(nilNodes.select(col("node").as("src")), "src")
          .join(nilNodes.select(col("node").as("dst")), "dst")
        ConnectedComponents.run(nilEdges)
    }
    val nil = nilNodes.join(nilCc, Seq("node"), "left_outer")
      .select(col("node"),
              coalesce(col("component"), col("node")).as("cluster"))

    single.select(col("node"), col("ent"), col("ent").as("cluster_id"))
      .unionByName(attached
        .select(col("node"), col("ent"), col("ent").as("cluster_id")))
      .unionByName(nil.select(col("node"),
        lit(null).cast("string").as("ent"),
        concat(lit("nil:"), expr("substring(cluster, 3)")).as("cluster_id")))
      .select(expr("substring(node, 3)").as("mention_id"),
              expr("substring(ent, 3)").as("ent"),
              col("cluster_id"))
  }
}
