package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.canonical.AlignmentGraph

/** End-to-end ED: mentions → scored candidates → alignment graph →
  * NastyLinker clusters (the reference's predict() path,
  * greedy_clustering.py:55-59 over the graph built at :26-35). */
class AlignmentGraphSpec extends SparkSuite {
  import spark.implicits._

  // dictionary: "adaprime" is ambiguous (A prior .8, B prior .4);
  // "solo" maps to S with prior .9; "ghost" has a sub-threshold prior
  private val dict = Seq(
    ("adaprime", "A", 0.8), ("adaprime", "B", 0.4),
    ("solo", "S", 0.9), ("ghost", "G", 0.3))
    .toDF("key", "ent", "freq")

  private val mentions = Seq(
    ("m1", "Ada Prime"),   // key adaprime → A (.8 > .5), B (.4 filtered)
    ("m2", "ada-prime"),   // same key → same-key MM edge to m1
    ("m3", "Solo"),        // → S
    ("m4", "Ghost"),       // only candidate is below meThreshold → NIL
    ("m5", "Unseen Label") // no dict key at all → isolated NIL
  ).toDF("mention_id", "label")

  /** The ED entry over the graph of `m` under its own hot set. */
  private def disambiguate(m: DataFrame, dict: DataFrame,
                           meScore: Column = col("freq")): DataFrame = {
    val hot = AlignmentGraph.hotKeys(AlignmentGraph.keyCounts(m))
    val edges = AlignmentGraph.buildScored(m, dict, hot,
                                           _.withColumn("score", meScore))
    AlignmentGraph.disambiguate(m, edges, hot)._1
  }

  test("build: thresholds, clamping, and MM key edges") {
    val edges = AlignmentGraph.build(mentions, dict)
      .as[(String, String, Double)].collect().toSet
    assert(edges.contains(("m:m1", "e:A", 0.8)))
    assert(edges.contains(("m:m2", "e:A", 0.8)))
    assert(!edges.exists(_._2 == "e:B"), "0.4 <= meThreshold filtered")
    assert(!edges.exists(_._2 == "e:G"), "0.3 <= meThreshold filtered")
    assert(edges.contains(("m:m1", "m:m2", 1.0)), "same-key MM edge")
    assert(edges.contains(("m:m3", "e:S", 0.9)))
    assert(!edges.exists(e => e._1.contains("m5") || e._2.contains("m5")))
  }

  test("disambiguate: clusters + singleton NIL for edge-less mentions") {
    val got = disambiguate(mentions, dict)
      .as[(String, Option[String], String)].collect()
      .map(r => r._1 -> r._2).toMap
    assert(got("m1").contains("A") && got("m2").contains("A"))
    assert(got("m3").contains("S"))
    assert(got("m4").isEmpty && got("m5").isEmpty)
    assert(got.size == 5)
  }

  test("a NULL-scoring candidate is no-evidence (0), never a 1.0 edge") {
    // a partial scorer without .otherwise() yields NULL for non-matching
    // rows; least(null, 1.0) would skip the null and emit max weight
    val partial = when(col("ent") === "S", 0.9)
    val edges = AlignmentGraph.build(mentions, dict, meScore = partial)
      .as[(String, String, Double)].collect().toSet
    assert(edges.contains(("m:m3", "e:S", 0.9)))
    assert(!edges.exists(e => e._2 == "e:A" || e._2 == "e:B" || e._2 == "e:G"),
           "null-scored candidates must not become edges")
  }

  test("labels normalizing to an empty key never form edges") {
    val weird = Seq(("w1", "???"), ("w2", "---"), ("w3", "北京"))
      .toDF("mention_id", "label")
    val edges = AlignmentGraph.build(weird, dict)
    assert(edges.isEmpty, "empty-key labels must not MM-clique")
    val got = disambiguate(weird, dict)
      .as[(String, Option[String], String)].collect()
    assert(got.length == 3 && got.forall(_._2.isEmpty),
           "each becomes its own singleton NIL")
    assert(got.map(_._3).distinct.length == 3)
  }

  test("a context scorer reroutes the ambiguous mention (M5 seam)") {
    // cross-encoder stand-in: boost B for the dash-spelled mention —
    // both m1 and m2 share the key, but the score column sees the label
    val ctx = when(col("label").contains("-") && col("ent") === "B", 0.95)
      .otherwise(col("freq"))
    val got = disambiguate(mentions, dict, meScore = ctx)
      .as[(String, Option[String], String)].collect()
      .map(r => r._1 -> r._2).toMap
    // m2 gets a 0.95 edge to B; the 1.0-weight MM edge RELAYS that path to
    // m1 (0.95·1.0 = 0.95 beats m1's direct 0.8 to A) — both mentions of
    // the shared surface form follow the context-boosted entity, exactly
    // the best-path semantics the reference's split implements
    assert(got("m1").contains("B"))
    assert(got("m2").contains("B"))
  }
}
