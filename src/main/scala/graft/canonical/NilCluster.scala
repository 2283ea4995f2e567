package graft.canonical

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** NIL-entity canonicalization: cluster unlinked mentions into new entities
  * via connected components over the mention↔alias-key bipartite graph, then
  * derive CONTENT-BASED new-entity ids ("new:<key>").
  *
  * Reference analogue: NastyLinker clustering
  * `/root/reference/impl/subject_entity/entity_disambiguation/matching/greedy_clustering.py:37-77`
  * + sequential NIL id allocation `entity_disambiguation/__init__.py:26-33`.
  * The reference's counter-based ids are execution-order-DEPENDENT; ours are
  * derived from the component's alias key, so any partitioning/parallelism
  * yields the same ids (SURVEY.md §7.5 hard-problem #3).
  */
object NilCluster {

  /** unlinked(mention_id, key, ...) → assignments(mention_id, ent).
    *
    * Every mention node carries exactly ONE key edge (`key` is a function
    * of the mention's label), so each component of the mention↔key
    * bipartite graph is exactly one key plus its mentions — the former
    * star-contraction loop's fixpoint is known in CLOSED FORM and the
    * assignment is a zero-shuffle projection: ent = "new:" + key (the
    * `distinct` mirrors the node dedup the CC formulation performed; it is
    * the only shuffle left). The general loop lives on in
    * [[ConnectedComponents]] for graphs that are not degree-1-bipartite.
    * This also makes the assignment PAGE-LOCAL by inspection: clustering
    * any url-slice of the input yields the same (mention_id, ent) rows as
    * clustering the whole corpus (the property [[graft.Pipeline.runDelta]]'s
    * subjects maintenance relies on). */
  def cluster(unlinked: DataFrame): DataFrame =
    unlinked.select(col("mention_id"),
                    concat(lit("new:"), col("key")).as("ent")).distinct()
}
