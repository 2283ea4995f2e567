package graft.canonical

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The NIL-entity id format: every unlinked kept mention becomes the new
  * entity `"new:<alias key>"`, and this object is the one place that knows
  * that format.
  *
  * The mention↔alias-key graph is degree-1-bipartite (a mention's key is a
  * function of its label), so each NIL cluster is exactly one key plus its
  * mentions: the clustering is known in closed form and the id is a
  * per-row projection, with no shuffle and nothing to materialize. In the
  * graph modes a mention the clusterer leaves entity-less takes the same id
  * (mention–mention edges only join equal keys), so ids match across the
  * three canonicalization modes.
  *
  * Reference analogue: NastyLinker clustering
  * `impl/subject_entity/entity_disambiguation/matching/greedy_clustering.py:37-77`
  * + sequential NIL id allocation `entity_disambiguation/__init__.py:26-33`.
  * The reference's counter-based ids are execution-order-DEPENDENT; ours are
  * derived from the mention's alias key, so any partitioning/parallelism
  * yields the same ids (SURVEY.md §7.5 hard-problem #3), and the id is
  * PAGE-LOCAL: any url-slice of the input yields the same ids as the whole
  * corpus (the property [[graft.Pipeline.runDelta]]'s subjects maintenance
  * relies on). */
object NilCluster {

  private val Prefix = "new:"

  /** The new entity of the NIL mentions with alias key `key`. */
  def entity(key: Column): Column = concat(lit(Prefix), key)

  /** Whether `ent` is a new (NIL-cluster) entity id. */
  def isNew(ent: Column): Column = ent.startsWith(Prefix)

  /** The alias key of the new entity id `ent` (meaningful where [[isNew]]). */
  def key(ent: Column): Column = ent.substr(lit(Prefix.length + 1), length(ent))
}
