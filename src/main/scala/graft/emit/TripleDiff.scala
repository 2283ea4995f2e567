package graft.emit

import org.apache.spark.sql.DataFrame
import graft.runtime.Checkpoints

/** Triple-diff P/R job — the north rule's correctness gate (P/R >= 0.95 vs
  * reference-derived fixture triples; ≙ the evaluation aggregations at
  * `/root/reference/impl/subject_entity/entity_disambiguation/evaluation.py:122-139`). */
object TripleDiff {

  case class PR(precision: Double, recall: Double, inter: Long, got: Long,
                expected: Long) {
    def f1: Double =
      if (precision + recall == 0) 0.0
      else 2 * precision * recall / (precision + recall)
  }

  /** Both distinct triple sets are pinned (each is read twice) and freed
    * when `diff` returns. */
  def diff(got: DataFrame, expected: DataFrame): PR = Checkpoints.owned {
    val keys = Seq("subj", "pred", "obj", "is_literal")
    val g = Checkpoints.pin(got.select(keys.head, keys.tail: _*).distinct())
    val e = Checkpoints.pin(
      expected.select(keys.head, keys.tail: _*).distinct())
    val inter = g.join(e, keys).count()
    val gn = g.count()
    val en = e.count()
    PR(if (gn == 0) 0.0 else inter.toDouble / gn,
       if (en == 0) 0.0 else inter.toDouble / en, inter, gn, en)
  }

  /** Per-predicate P/R breakdown for diagnostics. */
  def diffByPred(got: DataFrame, expected: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val keys = Seq("subj", "pred", "obj", "is_literal")
    val g = got.select(keys.head, keys.tail: _*).distinct()
    val e = expected.select(keys.head, keys.tail: _*).distinct()
    val inter = g.join(e, keys).groupBy("pred").agg(count(lit(1)).as("inter"))
    val gc = g.groupBy("pred").agg(count(lit(1)).as("got"))
    val ec = e.groupBy("pred").agg(count(lit(1)).as("expected"))
    gc.join(ec, Seq("pred"), "full_outer")
      .join(inter, Seq("pred"), "left_outer")
      .na.fill(0L)
      .withColumn("precision", round(col("inter") / col("got"), 4))
      .withColumn("recall", round(col("inter") / col("expected"), 4))
  }
}
