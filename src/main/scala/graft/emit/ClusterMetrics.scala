package graft.emit

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.runtime.Checkpoints.pinCount

/** Clustering evaluation metrics for entity-disambiguation quality (A17;
  * reference: NMI/ARI/B³ family at
  * `/root/reference/impl/subject_entity/entity_disambiguation/evaluation.py:140-167`).
  * Driver-side over collected (itemId, predictedCluster, goldCluster)
  * samples — evaluation runs on gold subsets (10^3–10^5 rows), never the
  * corpus, exactly as in the reference. */
object ClusterMetrics {

  case class Scores(purity: Double, nmi: Double, ari: Double)

  def evaluate(assign: Seq[(String, String, String)]): Scores = {
    val n = assign.size.toDouble
    require(n > 0, "empty assignment")
    val joint = assign.groupBy(a => (a._2, a._3)).view.mapValues(_.size).toMap
    val pred = assign.groupBy(_._2).view.mapValues(_.size).toMap
    val gold = assign.groupBy(_._3).view.mapValues(_.size).toMap

    val purity = pred.keys.toSeq.map { k =>
      joint.collect { case ((p, _), c) if p == k => c }.max
    }.sum / n

    def h(counts: Iterable[Int]): Double =
      -counts.map(_ / n).filter(_ > 0).map(p => p * math.log(p)).sum
    val hP = h(pred.values)
    val hG = h(gold.values)
    val mi = joint.map { case ((p, g), c) =>
      val pij = c / n
      pij * math.log(pij / ((pred(p) / n) * (gold(g) / n)))
    }.sum
    val nmi = if (hP == 0 && hG == 0) 1.0
              else if (hP == 0 || hG == 0) 0.0
              else 2 * mi / (hP + hG)

    def c2(x: Long): Double = x * (x - 1) / 2.0
    val sumIj = joint.values.map(c => c2(c.toLong)).sum
    val sumA = pred.values.map(c => c2(c.toLong)).sum
    val sumB = gold.values.map(c => c2(c.toLong)).sum
    // n=1: c2(n)=0, expected would be 0/0 -> NaN. A single item is trivially
    // perfectly clustered; short-circuit to the defined degenerate value.
    val ari = if (c2(n.toLong) == 0.0) 1.0 else {
      val expected = sumA * sumB / c2(n.toLong)
      val maxIdx = (sumA + sumB) / 2.0
      if (maxIdx == expected) 1.0
      else (sumIj - expected) / (maxIdx - expected)
    }

    Scores(purity, nmi, ari)
  }

  /** DISTRIBUTED clustering evaluation — the corpus-scale twin of
    * [[evaluate]] (asserted equal in ClusterMetricsSpec). The reference
    * only ever evaluates gold-sized subsets; at 10^9+ items (scoring a
    * dedup or canonicalization clustering against a labeled corpus) the
    * metrics must aggregate distributed. ONE corpus-scale shuffle builds
    * the (pred, gold) contingency table with map-side combine; every
    * downstream frame is contingency-sized (≤ #distinct cluster pairs),
    * and all sums are plain aggregations — nothing is collected.
    *
    * Adds mention-level B³ (Bagga–Baldwin: P = Σ n_sg²/n_s / N over
    * contingency cells — the entity-aware B³+ / NIL machinery stays in
    * [[EdMetrics]], which needs the gold-sized Hungarian assignment).
    *
    * Input: any DataFrame with `pred` and `gold` columns (one row per
    * item). Output: one row — n_items, purity, nmi, ari, bcubed_p/r/f,
    * rounded to 6 (the driver-oracle comparison contract). */
  def evaluateDf(assign: DataFrame): DataFrame = {
    // localCheckpoint: four branches (joint/pred/gold/total aggregates)
    // consume the contingency table — without it each branch re-plans the
    // corpus-scale shuffle (a round-3 plan dump, see graft.tools.BenchExtra, caught 3 scans);
    // with it the corpus is read and shuffled exactly ONCE and every
    // downstream frame derives from the contingency-sized checkpoint
    val (joint, cells) = pinCount(assign.groupBy(col("pred"), col("gold"))
      .agg(count(lit(1)).cast("double").as("n_sg")))
    // mirror the driver twin's contract instead of emitting an all-null row
    require(cells > 0, "empty assignment")
    val predS = joint.groupBy("pred")
      .agg(sum("n_sg").as("n_s"), max("n_sg").as("max_sg"))
    val goldS = joint.groupBy("gold").agg(sum("n_sg").as("n_g"))
    val total = joint.agg(sum("n_sg").as("n"))

    // null-safe joins (<=>): a NULL pred/gold is an ordinary cluster key
    // (unlabeled items), exactly as the Seq-based groupBy treats it — an
    // equi-join would silently drop those contingency cells from mi/B³
    // while n and the entropies kept them
    val jointRow = joint
      .join(predS.select(col("pred").as("p2"), col("n_s")),
            col("pred") <=> col("p2")).drop("p2")
      .join(goldS.select(col("gold").as("g2"), col("n_g")),
            col("gold") <=> col("g2")).drop("g2")
      .crossJoin(total)
      .agg(
        sum(col("n_sg") / col("n") *
            log(col("n_sg") * col("n") / (col("n_s") * col("n_g"))))
          .as("mi"),
        sum(col("n_sg") * col("n_sg") / col("n_s") / col("n"))
          .as("bcubed_p"),
        sum(col("n_sg") * col("n_sg") / col("n_g") / col("n"))
          .as("bcubed_r"),
        sum(col("n_sg") * (col("n_sg") - 1) / 2.0).as("sum_ij"))
    val predRow = predS.crossJoin(total)
      .agg((sum("max_sg") / max("n")).as("purity"),
           sum(-(col("n_s") / col("n")) * log(col("n_s") / col("n")))
             .as("h_p"),
           sum(col("n_s") * (col("n_s") - 1) / 2.0).as("sum_a"))
    val goldRow = goldS.crossJoin(total)
      .agg(sum(-(col("n_g") / col("n")) * log(col("n_g") / col("n")))
             .as("h_g"),
           sum(col("n_g") * (col("n_g") - 1) / 2.0).as("sum_b"))

    // h terms: a full-mass cluster contributes -1*ln(1) = 0 exactly, so no
    // p>0 filter is needed (n_sg >= 1 by construction — no log(0) anywhere)
    val c2n = col("n") * (col("n") - 1) / 2.0
    val expected = col("sum_a") * col("sum_b") / c2n
    val maxIdx = (col("sum_a") + col("sum_b")) / 2.0
    jointRow.crossJoin(predRow).crossJoin(goldRow).crossJoin(total)
      .select(
        col("n").cast("long").as("n_items"),
        round(col("purity"), 6).as("purity"),
        round(when(col("h_p") === 0 && col("h_g") === 0, 1.0)
          .when(col("h_p") === 0 || col("h_g") === 0, 0.0)
          .otherwise(lit(2.0) * col("mi") / (col("h_p") + col("h_g"))), 6)
          .as("nmi"),
        round(when(c2n === 0, 1.0)
          .when(maxIdx === expected, 1.0)
          .otherwise((col("sum_ij") - expected) / (maxIdx - expected)), 6)
          .as("ari"),
        round(col("bcubed_p"), 6).as("bcubed_p"),
        round(col("bcubed_r"), 6).as("bcubed_r"),
        round(lit(2.0) * col("bcubed_p") * col("bcubed_r") /
              (col("bcubed_p") + col("bcubed_r")), 6).as("bcubed_f"))
  }
}
