package graft.core

import java.sql.Timestamp

/** Typed row models for the KG-construction pipeline (SURVEY.md §1).
  *
  * Input contract (BASELINE.json input_hint): an Iceberg/parquet table of
  * Common-Crawl-style web pages. Output contract: (subj, pred, obj) triple
  * tables partitioned by predicate (reference serialization:
  * `/root/reference/impl/caligraph/serialize.py:21-46`).
  */
object Schemas {

  /** The engine's only large input (≙ the reference's Wikipedia XML dump,
    * `/root/reference/impl/wikipedia/xml_parser.py:11-16`). */
  case class Page(url: String, warc_ts: Timestamp, html: Array[Byte],
                  text: String, lang: String)

  /** ≙ `impl/util/rdf.py:107` Triple namedtuple. */
  case class Triple(subj: String, pred: String, obj: String,
                    is_literal: Boolean)

  /** Taxonomy edge: child type → direct parent type. */
  case class TypeEdge(child: String, parent: String)

  /** Known-entity seed row (≙ DBpedia instance types,
    * `impl/dbpedia/resource.py:205-219`). */
  case class EntityType(ent: String, tpe: String)

  object Preds {
    val Type = "rdf:type"
    val Label = "rdfs:label"
    val LocatedIn = "clg:locatedIn"
    val MemberOf = "clg:memberOf"
    val SubClassOf = "rdfs:subClassOf"
    /** ≙ RdfPredicate.WAS_DERIVED_FROM (`serialize.py:158-164,231-239`). */
    val WasDerivedFrom = "prov:wasDerivedFrom"
    /** ontology-side flavors (`serialize.py:85-146,147-157,221-229`) */
    val DisjointWith = "owl:disjointWith"
    val OnProperty = "owl:onProperty"
    val HasValue = "owl:hasValue"
    val EquivalentProperty = "owl:equivalentProperty"
    val SameAs = "owl:sameAs"
    val Title = "dc:title"
    val Description = "dc:description"
  }

  /** Well-known resource objects (`serialize.py:85-146` RdfClass.*). */
  object Objs {
    val OwlClass = "owl:Class"
    /** ≙ RdfClass.OWL_NAMED_INDIVIDUAL (`serialize.py:245`). */
    val OwlNamedIndividual = "owl:NamedIndividual"
    val OwlRestriction = "owl:Restriction"
    val OwlObjectProperty = "owl:ObjectProperty"
    val VoidDataset = "void:Dataset"
  }
}
