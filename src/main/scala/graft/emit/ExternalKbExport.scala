package graft.emit

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Schemas
import graft.canonical.NilCluster
import graft.canonical.NilCluster.isNew

/** External-KB export flavors — the reference's "DBpedia-side" result files
  * (≙ `/root/reference/impl/caligraph/serialize.py:240-302`): the mined KG
  * projected back into the seed KB's namespace so a consumer of the seed KB
  * can ingest the new knowledge without adopting the graft namespace.
  *
  * Entity ids: LINKED entities carry the seed KB's id verbatim (one id
  * space — the engine's analogue of `ent.get_dbp_entity()`); NEW entities
  * carry the NIL-cluster id of their alias key, whose format
  * [[graft.canonical.NilCluster]] alone knows (`has_dbp_entity` ≙ NOT
  * `NilCluster.isNew`). `res2dbp_iri` ≙ [[extSubject]]: a new id
  * re-namespaces its alias key under the caller's external prefix; a linked
  * id passes through.
  *
  * All five flavors are candidate-/seed-sized DataFrame algebra: the only
  * corpus-scale input is the mined type/relation/label aggregates the
  * pipeline already checkpoints, every map/taxonomy side is broadcast, and
  * each flavor ends in the same (subj, pred, obj, is_literal) shape as
  * [[TripleEmit]] so [[TripleEmit.writeNt]] serializes them unchanged.
  */
object ExternalKbExport {

  /** ≙ `dbp_util.res2dbp_iri` (serialize.py:243,261,292): new entities
    * re-namespace under `prefix`; linked entities already ARE seed-KB ids. */
  def extSubject(ent: Column, prefix: String): Column =
    when(isNew(ent), concat(lit(prefix), NilCluster.key(ent))).otherwise(ent)

  private def asTriple(subj: Column, pred: String, obj: Column,
                       isLit: Boolean)(df: DataFrame): DataFrame =
    TripleEmit.asTriple(subj, pred, obj, isLit)(df)

  /** dbpedia_instances (≙ serialize.py:240-247): every NEW entity
    * materializes in the external namespace as an owl:NamedIndividual with
    * its majority label. `labels`: (ent, label) — one row per entity (the
    * A14 majority pick). */
  def newInstanceTriples(labels: DataFrame, prefix: String): DataFrame = {
    val nw = labels.filter(isNew(col("ent")))
      .select(extSubject(col("ent"), prefix).as("s"), col("label"))
    asTriple(col("s"), Schemas.Preds.Type,
             lit(Schemas.Objs.OwlNamedIndividual), isLit = false)(nw)
      .unionByName(
        asTriple(col("s"), Schemas.Preds.Label, col("label"),
                 isLit = true)(nw))
  }

  /** dbpedia_instance-types (≙ serialize.py:250-262
    * `get_all_dbp_types(add_transitive_closure=True)`): each entity's mined
    * types map into the external taxonomy and close transitively THERE;
    * linked entities subtract what the seed KB already knows (transitive,
    * root included — the `include_root=True` difference set), new entities
    * emit everything under the external prefix.
    *
    * Inputs: `types` (ent, tpe) — the engine's mined types (direct +
    * transitive, the emit-stage output); `typeMap` (tpe, ext) local→external
    * type map; `extClosure` (node, anc) external-taxonomy closure WITH self;
    * `seedExtTypes` (ent, ext) the seed KB's existing transitive typing. */
  def extTypeTriples(types: DataFrame, typeMap: DataFrame,
                     extClosure: DataFrame, seedExtTypes: DataFrame,
                     prefix: String): DataFrame = {
    val mapped = types
      .join(broadcast(typeMap), "tpe")
      .join(broadcast(extClosure), col("ext") === col("node"))
      .select(col("ent"), col("anc").as("ext")).distinct()
    val linked = mapped.filter(!isNew(col("ent")))
      .join(seedExtTypes, Seq("ent", "ext"), "left_anti")
    val fresh = mapped.filter(isNew(col("ent")))
    asTriple(extSubject(col("ent"), prefix), Schemas.Preds.Type, col("ext"),
             isLit = false)(linked.unionByName(fresh))
  }

  /** dbpedia_instance-caligraph-types (≙ serialize.py:265-272
    * `ent.get_types()`): linked entities only — their DIRECT mined types,
    * subject in the seed namespace. `directTypes`: (ent, tpe). */
  def localTypeTriples(directTypes: DataFrame): DataFrame =
    asTriple(col("ent"), Schemas.Preds.Type, col("tpe"), isLit = false)(
      directTypes.filter(!isNew(col("ent"))).select("ent", "tpe").distinct())

  /** dbpedia_instance-transitive-caligraph-types (≙ serialize.py:275-284):
    * linked entities only — transitive mined types MINUS the direct ones
    * (`get_transitive_types(include_root=False).difference(get_types())`;
    * the engine's type table already excludes roots upstream). */
  def localTransitiveTypeTriples(directTypes: DataFrame,
                                 allTypes: DataFrame): DataFrame =
    asTriple(col("ent"), Schemas.Preds.Type, col("tpe"), isLit = false)(
      allTypes.filter(!isNew(col("ent")))
        .select("ent", "tpe").distinct()
        .join(directTypes.select("ent", "tpe"), Seq("ent", "tpe"),
              "left_anti"))

  /** dbpedia_instance-relations (≙ serialize.py:286-302): mined relation
    * facts under the EXTERNAL predicate; subject/object re-namespace when
    * new; a fact the seed KB already holds under the mapped predicate is
    * skipped (the reference's containment guard only fires when subject and
    * value are both seed-linked — an anti-join on verbatim ids encodes
    * exactly that, since a new id can never match a seed row).
    *
    * Inputs: `rels` (ent, pred, obj) — entity-valued mined relations;
    * `predMap` (pred, ext); `seedExtRelations` (sub, pred, obj) in external
    * predicate space. */
  def extRelationTriples(rels: DataFrame, predMap: DataFrame,
                         seedExtRelations: DataFrame,
                         prefix: String): DataFrame = {
    val mapped = rels
      .join(broadcast(predMap), "pred")
      .select(col("ent"), col("ext").as("pred"), col("obj"))
    val novel = mapped.join(
      seedExtRelations.select(col("sub").as("ent"), col("pred"), col("obj")),
      Seq("ent", "pred", "obj"), "left_anti")
    novel.select(extSubject(col("ent"), prefix).as("subj"), col("pred"),
                 extSubject(col("obj"), prefix).as("obj"),
                 lit(false).as("is_literal"))
  }

  /** All five external-KB flavors as one triple table. The reference writes
    * five FILES — for file-level parity call the per-flavor functions and
    * [[TripleEmit.writeNt]] each one (three flavors share rdf:type, so the
    * pred-partitioned sink alone would merge them); this union is the
    * single-table convenience and is duplicate-free by construction (the
    * three type flavors emit disjoint (subj, obj) spaces). `labels`
    * (ent, label) majority labels; `directTypes` / `allTypes` (ent, tpe);
    * `rels` (ent, pred, obj); maps as above. */
  def exportAll(labels: DataFrame, directTypes: DataFrame,
                allTypes: DataFrame, rels: DataFrame, typeMap: DataFrame,
                extClosure: DataFrame, seedExtTypes: DataFrame,
                predMap: DataFrame, seedExtRelations: DataFrame,
                prefix: String): DataFrame =
    newInstanceTriples(labels, prefix)
      .unionByName(extTypeTriples(allTypes, typeMap, extClosure,
                                  seedExtTypes, prefix))
      .unionByName(localTypeTriples(directTypes))
      .unionByName(localTransitiveTypeTriples(directTypes, allTypes))
      .unionByName(extRelationTriples(rels, predMap, seedExtRelations,
                                      prefix))
}
