package graft

import org.apache.spark.sql.functions._
import graft.emit.TripleEmit
import graft.listings.Chunking
import graft.sources.NtSource
import graft.taxonomy.Induction

class SourcesChunkSpec extends SparkSuite {
  import spark.implicits._

  test("NT round-trip: emit → parse reproduces the triples") {
    val triples = Seq(
      ("Ada Prime", "rdfs:label", "Ada \"the first\"\nprogrammer", true),
      ("Ada Prime", "rdf:type", "Scientist", false),
      ("Weird <name>", "clg:locatedIn", "Country 3", false),
      ("N", "rdfs:label", "42", true))
      .toDF("subj", "pred", "obj", "is_literal")
    val lines = TripleEmit.toNtLines(triples)
    val parsed = NtSource.parse(lines)
      .as[(String, String, String, Boolean)].collect().toSet
    // predicates round-trip to their bare names (curie prefix is not
    // serialized — same lossy-name behavior as the reference's iri2name);
    // literal whitespace is squashed on write (regularize_spaces,
    // serialize.py:77), so the round-trip is space-normalized
    val want = Seq(
      ("Ada Prime", "label", "Ada \"the first\" programmer", true),
      ("Ada Prime", "type", "Scientist", false),
      ("Weird <name>", "locatedIn", "Country 3", false),
      ("N", "label", "42", true)).toSet
    assert(parsed == want)
  }

  test("NT sink: pred-partitioned text files parse back losslessly") {
    val triples = Seq(
      ("Ada Prime", "rdf:type", "Scientist", false),
      ("Ada Prime", "rdfs:label", "Ada", true),
      ("B", "clg:locatedIn", "Country 1", false))
      .toDF("subj", "pred", "obj", "is_literal")
    val dir = SparkSuite.tempDir("graft-nt") + "/nt"
    TripleEmit.writeNt(triples, dir)
    val parts = new java.io.File(dir).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(parts.exists(_.startsWith("pred_part=")) && parts.size == 3)
    val back = NtSource.read(spark, dir)
      .as[(String, String, String, Boolean)].collect().toSet
    assert(back == Set(
      ("Ada Prime", "type", "Scientist", false),
      ("Ada Prime", "label", "Ada", true),
      ("B", "locatedIn", "Country 1", false)))
  }

  test("chunk packing respects token and item limits") {
    def item(i: Int, n: Int) =
      Chunking.Item(i, (1 to n).map(t => s"t$t"))
    // 20 items of 20 tokens with context 8: 300-token limit → 14 items max
    // by tokens (8+14*20=288), item cap 16
    val chunks = Chunking.pack((1 to 20).map(item(_, 20)), contextTokens = 8)
    assert(chunks.map(_.item_idxs.size).sum == 20)
    assert(chunks.forall(_.n_tokens <= Chunking.MaxChunkTokens))
    assert(chunks.forall(_.item_idxs.size <= Chunking.MaxItems))
    assert(chunks.head.item_idxs.size == 14)
    // items longer than 30 tokens are truncated
    val big = Chunking.pack(Seq(item(1, 100), item(2, 100), item(3, 100)), 0)
    assert(big.head.n_tokens == 90)
    // undersized tail merges into predecessor
    val tail = Chunking.pack((1 to 17).map(item(_, 1)), 0)
    assert(tail.size == 1 && tail.head.item_idxs.size == 17)
  }

  test("chunkListings packs per listing") {
    val items = Seq(
      ("u", "enum:A", 1, "one two three"),
      ("u", "enum:A", 2, "four five"),
      ("u", "enum:A", 3, "six"),
      ("u", "enum:B", 1, "x y z w")).toDF(
      "url", "listing_key", "item_idx", "item_text")
    val got = Chunking.chunkListings(items, contextTokens = 2)
      .as[(String, String, Int, Seq[Int], Int)].collect().sortBy(_._2)
    assert(got.length == 2)
    assert(got(0)._4 == Seq(1, 2, 3) && got(0)._5 == 2 + 6)
    assert(got(1)._4 == Seq(1) && got(1)._5 == 2 + 4)
  }

  test("domain/range/functional induction") {
    val rels = Seq(
      ("e1", "p", "x"), ("e2", "p", "y"), ("e3", "p", "z"),
      ("e1", "q", "x"), ("e1", "q", "y")).toDF("sub", "pred", "obj")
    val types = Seq(("e1", "T"), ("e2", "T"), ("e3", "T"),
                    ("x", "V"), ("y", "V"), ("z", "V"))
      .toDF("ent", "tpe")
    val dom = Induction.domains(rels, types, 0.9)
      .as[(String, String, Double)].collect().toSet
    assert(dom == Set(("p", "T", 1.0), ("q", "T", 1.0)))
    val rng = Induction.ranges(rels, types, 0.9)
      .as[(String, String, Double)].collect().toSet
    assert(rng == Set(("p", "V", 1.0), ("q", "V", 1.0)))
    val fn = Induction.functionalPredicates(rels, 0.95)
      .as[(String, Double)].collect().toMap
    assert(fn.contains("p") && !fn.contains("q")) // e1 has 2 q-objects
  }

  test("induction weighting: triples not entities; dup and boundary cases") {
    // TRIPLE weighting (heuristics.py:44-48): e1 (type A) carries 10
    // objects on p, e2 (type B) one — A's share is 10/11 ≈ 0.909, so the
    // 0.9-threshold domain asserts A; entity-distinct weighting would read
    // 0.5 and assert nothing
    val rels = ((1 to 10).map(i => ("e1", "p", s"o$i")) :+ ("e2", "p", "z"))
      .toDF("sub", "pred", "obj")
    val types = Seq(("e1", "A"), ("e2", "B")).toDF("ent", "tpe")
    val dom = Induction.domains(rels, types, 0.9)
      .as[(String, String, Double)].collect().toSet
    assert(dom == Set(("p", "A", 0.909091)))
    // an UNTYPED subject still dilutes the denominator (_sum pre-walk)
    val relsU = rels.unionByName(Seq(("e3", "p", "u1"), ("e3", "p", "u2"))
      .toDF("sub", "pred", "obj"))
    assert(Induction.domains(relsU, types, 0.9).count() == 0) // 10/13 < 0.9
    // duplicate triples must NOT mark a subject multi-valued
    val dup = Seq(("s1", "f", "x"), ("s1", "f", "x"), ("s2", "f", "y"))
      .toDF("sub", "pred", "obj")
    assert(Induction.functionalPredicates(dup, 0.95)
      .as[(String, Double)].collect().toMap.contains("f"))
    // boundary: exactly 1 of 20 subjects multi-valued = share 0.05 —
    // NON-functional in the reference (>= .05 cut), so it must drop
    val boundary = ((1 to 19).map(i => (s"b$i", "g", "x")) ++
      Seq(("b20", "g", "x"), ("b20", "g", "y"))).toDF("sub", "pred", "obj")
    assert(Induction.functionalPredicates(boundary, 0.95).count() == 0)
  }

  test("disjointness induction: orthogonal property vectors are disjoint") {
    // Person-ish types share preds; Place-ish types share others
    val rels = Seq(
      ("a1", "birthDate", "x"), ("a2", "birthDate", "x"),
      ("a1", "knows", "a2"), ("b1", "area", "x"), ("b2", "area", "y"),
      ("b1", "population", "x"), ("a3", "birthDate", "y"),
      ("b3", "area", "z")).toDF("sub", "pred", "obj")
    val types = Seq(("a1", "Artist"), ("a2", "Artist"), ("a3", "Writer"),
                    ("b1", "City"), ("b2", "City"), ("b3", "Town"))
      .toDF("ent", "tpe")
    val dis = Induction.disjointness(rels, types, 0.132)
      .select("ta", "tb").as[(String, String)].collect().toSet
    assert(dis.contains(("Artist", "City")) && dis.contains(("City", "Writer")))
    assert(!dis.contains(("Artist", "Writer")) && !dis.contains(("City", "Town")))
  }

  test("disjointness broadcast-hints the dots join only below the pair bound") {
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    def dotsHinted(nTypes: Int): Boolean = {
      val types = (0 until nTypes).map(i => (s"e$i", f"T$i%05d"))
        .toDF("ent", "tpe")
      val rels = Seq(("e0", "p", "x"), ("e1", "p", "y"), ("e2", "q", "z"))
        .toDF("sub", "pred", "obj")
      Induction.disjointness(rels, types, 0.132).queryExecution.analyzed
        .collect { case h: ResolvedHint if h.hints.strategy.isDefined => h }
        .exists(_.output.exists(_.name == "dot"))
    }
    // 2,100 types bound 2,203,950 pairs: above MaxBroadcastPairs (2M)
    assert(!dotsHinted(2100))
    assert(dotsHinted(6))
  }
}
