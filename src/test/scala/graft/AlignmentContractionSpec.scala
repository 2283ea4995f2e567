package graft

import org.apache.spark.sql.functions._
import graft.canonical.{AlignmentGraph, ConnectedComponents, NastyLinker}

/** r6 optimization equivalence gates: the key-contracted component
  * computation ([[AlignmentGraph.components]]), the closed-form MM
  * components ([[AlignmentGraph.mmComponents]]), and NastyLinker's
  * clique-hinted NIL clustering must return EXACTLY what the generic
  * star-contraction loop returns over the full clique edge set — across
  * hot keys, singleton buckets, entity bridges, and ME-less keys. The ED
  * entry that combines them ([[AlignmentGraph.disambiguate]]) must return
  * what the plain [[NastyLinker.cluster]] returns over the same edges. */
class AlignmentContractionSpec extends SparkSuite {
  import spark.implicits._

  // cap = 3 so "hotlabel" (4 mentions) is a HOT key: no MM edges, ME only
  private def withCap[A](f: => A): A = {
    spark.conf.set("graft.ed.maxKeyBucket", "3")
    try f finally spark.conf.unset("graft.ed.maxKeyBucket")
  }

  // keys: bridge (2 members, ME to A), lone (1 member, ME to A — entity
  // bridge to "bridge"), hotlabel (4 members, ME to H), island (3 members,
  // NO dict entry → MM-only component), solo (1 member, no dict → no edges)
  private val mentions = Seq(
    ("m01", "Bridge"), ("m02", "bridge"),
    ("m03", "Lone"),
    ("m04", "Hot Label"), ("m05", "hot-label"), ("m06", "hotlabel"),
    ("m07", "HOT label"),
    ("m08", "Island"), ("m09", "island"), ("m10", "ISLAND"),
    ("m11", "Solo only")
  ).toDF("mention_id", "label")

  private val dict = Seq(
    ("bridge", "A", 0.9), ("lone", "A", 0.8), ("lone", "B", 0.7),
    ("hotlabel", "H", 0.9))
    .toDF("key", "ent", "freq")

  // read under the cap, so inside withCap only
  private def hot = AlignmentGraph.hotKeys(AlignmentGraph.keyCounts(mentions))

  private def edges(mmThr: Double) = AlignmentGraph.buildScored(
    mentions, dict, hot, _.withColumn("score", col("freq")),
    meThreshold = 0.5, mmThreshold = mmThr)

  private def asSet(df: org.apache.spark.sql.DataFrame) =
    df.select("node", "component").as[(String, String)].collect().toSet

  test("components ≡ plain CC over the full clique edge set") {
    withCap {
      for (mmThr <- Seq(0.5, 1.0); keyDet <- Seq(false, true)) {
        val e = edges(mmThr).localCheckpoint()
        val got = asSet(AlignmentGraph.components(
          mentions, e.filter(col("dst").startsWith("e:")).select("src", "dst"),
          mmThr, hot, keyDeterminedScores = keyDet))
        val want = asSet(ConnectedComponents.run(e.select("src", "dst")))
        assert(got == want, s"mmThr=$mmThr keyDet=$keyDet:\n$got\nvs\n$want")
      }
    }
  }

  test("mmComponents ≡ plain CC over the MM pair set") {
    withCap {
      val e = edges(0.5).localCheckpoint()
      val mmPairs = e.filter(col("dst").startsWith("m:"))
        .select(expr("substring(src, 3)").as("src"),
                expr("substring(dst, 3)").as("dst"))
      val got = asSet(AlignmentGraph.mmComponents(mentions, 0.5, hot))
      val want = asSet(ConnectedComponents.run(mmPairs))
      assert(got == want, s"$got\nvs\n$want")
      // mmThreshold >= 1: no MM edges survive → empty
      assert(AlignmentGraph.mmComponents(mentions, 1.0, hot).isEmpty)
    }
  }

  test("NastyLinker clique-hinted NIL clustering ≡ generic induced CC") {
    withCap {
      val e = edges(0.5).localCheckpoint()
      val hint = AlignmentGraph.mmCliqueHint(mentions, 0.5, hot)
      def rows(h: Option[org.apache.spark.sql.DataFrame]) =
        NastyLinker.cluster(e, 0.75, nilCliqueHint = h)
          .as[(String, Option[String], String)].collect().toSet
      assert(rows(Some(hint)) == rows(None))
    }
  }

  test("the ED entry ≡ NastyLinker.cluster over the uncontracted edges") {
    withCap {
      val e = edges(0.5).localCheckpoint()
      // the plain path: CC and NIL clustering over every edge; the entry
      // adds each edge-less mention as a singleton NIL cluster
      val plain = NastyLinker.cluster(e, 0.75)
        .as[(String, Option[String], String)].collect().toSet
      val want = plain ++ Set(("m11", None, "nil:m11"))
      assert(!plain.exists(_._1 == "m11"), "m11 has no candidate edge")
      for (keyDet <- Seq(false, true)) {
        val (assign, cc) = AlignmentGraph.disambiguate(
          mentions, e, hot, keyDeterminedScores = keyDet)
        val got = assign.as[(String, Option[String], String)].collect().toSet
        assert(got == want, s"keyDet=$keyDet:\n$got\nvs\n$want")
        assert(asSet(cc) == asSet(ConnectedComponents.run(e.select("src", "dst"))),
               s"keyDet=$keyDet: component table")
      }
    }
  }
}
