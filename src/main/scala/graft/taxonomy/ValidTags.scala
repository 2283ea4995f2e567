package graft.taxonomy

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.runtime.Checkpoints.pin

/** A9: valid NE tags per entity type (reference:
  * `/root/reference/impl/listing/context.py:134-171`
  * get_valid_tags_for_entity_types): P(tag | type) is the share of the
  * type's entity MENTIONS carrying the tag (per-entity tag counters summed
  * over the type's entities, `:149-161`); a tag is VALID when the
  * probability reaches `threshold` (0.35 in the reference's config); types
  * with NO valid tag inherit the union of their parents' valid tags,
  * recursively up the taxonomy (`:164-171` — "assign tags of parents to
  * types without tags to avoid inconsistencies").
  *
  * Shuffle shape: one join mentions × entity-types (both entity-keyed) and
  * two aggregations keyed by type — corpus-side cost is the mention scan;
  * everything downstream is taxonomy-sized. The inheritance fixpoint is a
  * driver loop over the (tiny, broadcast) taxonomy, bounded by its depth —
  * the same discipline as the A9/A10 tag-probability driver fixpoint.
  */
object ValidTags {

  val DefaultThreshold = 0.35

  /** mentionTags(ent, tag) × entTypes(ent, tpe) → the (tpe, tag, cnt)
    * occurrence-count view — the additive, url-decomposable shape
    * [[graft.Pipeline.runDelta]] delta-maintains. */
  def tagStats(mentionTags: DataFrame, entTypes: DataFrame): DataFrame =
    mentionTags.join(entTypes, "ent")
      .groupBy("tpe", "tag").agg(count(lit(1)).as("cnt"))

  /** mentionTags(ent, tag) × entTypes(ent, tpe) → (tpe, tag, proba). */
  def tagProbabilities(mentionTags: DataFrame,
                       entTypes: DataFrame): DataFrame =
    probabilitiesFromStats(tagStats(mentionTags, entTypes))

  /** (tpe, tag, cnt) stats view → (tpe, tag, proba). */
  def probabilitiesFromStats(stats: DataFrame): DataFrame = {
    val totals = stats.groupBy("tpe").agg(sum("cnt").as("total"))
    stats.join(totals, "tpe")
      .select(col("tpe"), col("tag"), (col("cnt") / col("total")).as("proba"))
  }

  /** Valid (tpe, tag) pairs including parent inheritance. The type
    * universe is every node of `taxonomyEdges(child, parent)` plus every
    * type in `entTypes`; a universe type with no over-threshold tag takes
    * the union of its direct parents' valid sets, where parents may
    * themselves have inherited — iterated to fixpoint so multi-hop and
    * diamond inheritance match the reference's recursive union. */
  def validTags(mentionTags: DataFrame, entTypes: DataFrame,
                taxonomyEdges: DataFrame,
                threshold: Double = DefaultThreshold): DataFrame =
    validTagsFromStats(tagStats(mentionTags, entTypes), taxonomyEdges,
                       threshold, extraUniverse = entTypes.select("tpe"))

  /** [[validTags]] over a pre-aggregated (tpe, tag, cnt) view — the shape
    * the pipeline checkpoints and delta-maintains. `extraUniverse`:
    * additional (tpe) rows to include in the inheritance universe beyond
    * the taxonomy nodes and the stats' own types.
    *
    * The inheritance fixpoint runs ON THE DRIVER over the collected
    * (taxonomy-sized, already-broadcast-everywhere) direct set and edge
    * list — ONE job to collect the inputs, one result DataFrame, instead
    * of the former distributed loop's ~depth × (localCheckpoint + count)
    * jobs (VERDICT r4 #6; the collects are bounded by |types| × |tags|,
    * the same driver-size argument as G1's topological traversal). */
  def validTagsFromStats(stats: DataFrame, taxonomyEdges: DataFrame,
                         threshold: Double = DefaultThreshold,
                         extraUniverse: DataFrame = null): DataFrame = {
    val spark = stats.sparkSession
    import spark.implicits._
    // the stats view feeds BOTH collects below; pin it so a caller passing
    // an unmaterialized aggregation (e.g. the driver-contract query's
    // corpus-sized join) evaluates it once, not per collect
    val statsC = pin(stats)
    val direct = probabilitiesFromStats(statsC)
      .filter(col("proba") >= threshold).select("tpe", "tag")
      .as[(String, String)].collect()
    val base = taxonomyEdges.select(col("child").as("tpe"))
      .unionByName(taxonomyEdges.select(col("parent").as("tpe")))
      .unionByName(statsC.select("tpe"))
    val universe = (if (extraUniverse == null) base
                    else base.unionByName(extraUniverse))
      .distinct().as[String].collect()
    val parents: Map[String, Array[String]] = taxonomyEdges
      .select(col("child"), col("parent")).distinct()
      .as[(String, String)].collect()
      .groupBy(_._1).map { case (c, ps) => c -> ps.map(_._2) }
    val directTags: Map[String, Set[String]] =
      direct.groupBy(_._1).map { case (t, ps) => t -> ps.map(_._2).toSet }
    // fixpoint: a type WITHOUT direct tags takes the union of its parents'
    // current sets; monotone (sets only grow), so iteration to a fixed
    // point ≡ the reference's recursive union, multi-hop and diamond
    // parents included, and terminates on cycles too (bounded by |tags|)
    val missing = universe.filterNot(directTags.contains)
    var acc = directTags
    var changed = true
    while (changed) {
      changed = false
      for (t <- missing) {
        val cur = acc.getOrElse(t, Set.empty[String])
        val inh = parents.getOrElse(t, Array.empty[String])
          .iterator.flatMap(p => acc.getOrElse(p, Set.empty[String])).toSet
        if (inh != cur) { acc += t -> inh; changed = true }
      }
    }
    val rows = acc.iterator
      .flatMap { case (t, tags) => tags.iterator.map(tag => (t, tag)) }
      .toSeq
    spark.createDataFrame(rows).toDF("tpe", "tag")
  }

  /** The RuleMining gate the reference builds valid tags FOR (subject
    * entities whose NE tag is invalid for the listing's mined type are
    * discarded): drops subject mentions (url, listing_key, mention_id,
    * tag, ...) whose listing has a mined type with KNOWN valid tags the
    * mention's tag is not among; listings without a mined type, and types
    * with no known tags, pass through untouched. */
  def gateSubjects(subjects: DataFrame, listingTypes: DataFrame,
                   valid: DataFrame): DataFrame = {
    val typesWithTags = valid.select("tpe").distinct()
    val bad = subjects.join(listingTypes, Seq("url", "listing_key"))
      .join(broadcast(typesWithTags), Seq("tpe"), "left_semi")
      .join(broadcast(valid), Seq("tpe", "tag"), "left_anti")
      .select("mention_id")
    subjects.join(bad, Seq("mention_id"), "left_anti")
  }

  /** Deterministic word-shape tag for a label — the engine's heuristic
    * stand-in for the reference's spaCy NE tags (M2 discipline: the
    * plumbing is real, the model is replaceable). TITLE admits bare digit
    * tokens ("Apollo 11" is title-shaped, not OTHER). */
  def shapeTag(label: Column): Column =
    when(label.rlike("^[0-9][0-9,.\\-]*$"), "NUM")
      .when(label.rlike("^[A-Z0-9 ]+$") && label.rlike("[A-Z]"), "ALLCAPS")
      .when(label.rlike("^([A-Z][a-z0-9]*|[0-9]+)( ([A-Z][a-z0-9]*|[0-9]+))*$"),
            "TITLE")
      .otherwise("OTHER")
}
