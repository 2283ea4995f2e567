package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.canonical.AlignmentGraph
import graft.link.BatchedScorer

/** M2/M5 batched-model scoring: the mapPartitions batch plumbing a real
  * bi-/cross-encoder swap inherits — batch shape, schema passthrough, and
  * exact equivalence with the codegen'd Column-scorer path through the
  * full ED machinery. */
class BatchedScorerSpec extends SparkSuite {
  import spark.implicits._

  private val dict = Seq(
    ("adaprime", "ent:ada_prime", 0.8), ("adaprime", "ent:bravo", 0.4),
    ("solo", "ent:solo", 0.9), ("ghost", "ent:ghost_writer", 0.3))
    .toDF("key", "ent", "freq")

  private val mentions = Seq(
    ("m1", "Ada Prime"), ("m2", "ada-prime"), ("m3", "Solo"),
    ("m4", "Ghost"), ("m5", "Unseen Label"))
    .toDF("mention_id", "label")

  test("batches are full except the last of each partition") {
    val pairs = (0 until 103).map(i => (s"m$i", s"label $i", s"ent:$i"))
      .toDF("mention_id", "label", "ent").repartition(3)
    // the echo model scores every pair with ITS batch's size — making
    // batch geometry observable from the output alone, on any scheduler
    val echo: Seq[(String, String)] => Seq[Double] =
      batch => Seq.fill(batch.size)(batch.size.toDouble)
    val got = BatchedScorer.scoreBatched(
        pairs.withColumn("pid", spark_partition_id()), echo, batchSize = 8)
      .select(col("pid"), col("batch_score").cast("int"))
      .as[(Int, Int)].collect()
    assert(got.length == 103)
    got.foreach { case (_, sz) => assert(sz >= 1 && sz <= 8) }
    // within a partition: at most one short batch, carrying exactly
    // `size` rows of its own size
    got.groupBy(_._1).foreach { case (pid, rows) =>
      val short = rows.map(_._2).filter(_ < 8)
      assert(short.distinct.size <= 1, s"partition $pid: $short")
      short.headOption.foreach(v =>
        assert(short.size == v, s"partition $pid short batch: $short"))
    }
  }

  test("schema and row values pass through; score appends") {
    val pairs = Seq(("m1", "Ada Prime", "ent:ada_prime", 7L))
      .toDF("mention_id", "label", "ent", "extra")
    val got = BatchedScorer.scoreBatched(pairs, BatchedScorer.jaccardModel)
    assert(got.columns.toSeq ==
           Seq("mention_id", "label", "ent", "extra", "batch_score"))
    val r = got.collect().head
    assert(r.getString(0) == "m1" && r.getLong(3) == 7L)
    // jaccard({ada,prime}, {ent,ada,prime}) = 2/3
    assert(math.abs(r.getDouble(4) - 2.0 / 3.0) < 1e-15)
  }

  test("batched model ≡ Column twin through the full ED path") {
    // meThreshold 0.35 cuts the 1/3-jaccard ghost edge at the graph
    // (a single-entity component would otherwise attach regardless of
    // path score — NastyLinker's validity rule); pathThreshold 0.5 lets
    // the 2/3-jaccard ada edges through (the 0.75 default is tuned for
    // prior scores, not token overlap)
    val hot = AlignmentGraph.hotKeys(AlignmentGraph.keyCounts(mentions))
    def disambiguate(scoreFn: DataFrame => DataFrame) =
      AlignmentGraph.disambiguate(mentions,
        AlignmentGraph.buildScored(mentions, dict, hot, scoreFn,
                                   meThreshold = 0.35),
        hot, pathThreshold = 0.5)._1
    val viaColumn = disambiguate(
        _.withColumn("score",
                     BatchedScorer.jaccardColumn(col("label"), col("ent"))))
      .as[(String, Option[String], String)].collect().toSet
    val viaBatch = disambiguate(
        BatchedScorer.modelScoreFn(BatchedScorer.jaccardModel, batchSize = 2))
      .as[(String, Option[String], String)].collect().toSet
    assert(viaBatch == viaColumn)
    // and the scorer actually decides: token overlap links m1/m2 to
    // ent:ada_prime, while "Ghost" overlaps ent:ghost_writer only 1/3
    val byMention = viaBatch.map(r => r._1 -> r._2).toMap
    assert(byMention("m1").contains("ent:ada_prime"))
    assert(byMention("m2").contains("ent:ada_prime"))
    assert(byMention("m3").contains("ent:solo"))
    assert(byMention("m4").isEmpty)
  }

  test("ScoredEd rejects passing both scorer knobs") {
    intercept[IllegalArgumentException] {
      graft.Pipeline.Canonicalization.ScoredEd(
        meScore = col("freq") * 2,
        scoreFn = Some(identity[org.apache.spark.sql.DataFrame] _))
    }
    // either knob alone is fine
    graft.Pipeline.Canonicalization.ScoredEd(meScore = col("freq") * 2)
    graft.Pipeline.Canonicalization.ScoredEd(
      scoreFn = Some(identity[org.apache.spark.sql.DataFrame] _))
  }

  test("a misbehaving model (wrong batch cardinality) fails loudly") {
    val pairs = Seq(("m1", "a", "ent:a")).toDF("mention_id", "label", "ent")
    val bad: Seq[(String, String)] => Seq[Double] = _ => Seq.empty
    val ex = intercept[org.apache.spark.SparkException] {
      BatchedScorer.scoreBatched(pairs, bad).collect()
    }
    assert(ex.getMessage != null)
  }
}
