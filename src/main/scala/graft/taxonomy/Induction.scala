package graft.taxonomy

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.runtime.Checkpoints.{pin, pinCount}

/** Ontology heuristics induced from instance data (A10-A12; reference:
  * `/root/reference/impl/dbpedia/heuristics.py`):
  *  - domain/range: per predicate, the argmax subject/object type share
  *    above a threshold (0.96 / 0.77, heuristics.py:12-62)
  *  - functional predicates: >=95% of subjects have exactly one object
  *    (heuristics.py:168-184)
  *  - disjointness: type pairs whose TF-IDF-weighted property vectors have
  *    cosine <= threshold (0.132, heuristics.py:80-160)
  *
  * All inputs are (KG-sized × taxonomy-sized) joins + two-level aggregates;
  * the pairwise cosine runs over |types|² which is taxonomy-scale (~10^3),
  * never corpus-scale.
  */
object Induction {

  /** [[disjointness]] broadcast-hints its dot-product side only while the
    * type-pair bound nTypes·(nTypes−1)/2 is at most this many rows (the
    * scale of `Pipeline.MaxBroadcastKeys`); above it AQE plans the join. */
  val MaxBroadcastPairs = 2000000L

  /** relations(sub, pred, obj) × types(ent, tpe) → (pred, domain, share).
    * TRIPLE-weighted like the reference (`heuristics.py:44-48`:
    * `triple_count = len(values)` — an entity contributes once per distinct
    * object, not once per entity), and untyped entities still count toward
    * the denominator (`_sum` accumulates before the type walk). */
  def domains(relations: DataFrame, types: DataFrame,
              threshold: Double = 0.96): DataFrame =
    argmaxTypeShare(
      relations.groupBy(col("pred"), col("sub").as("ent"))
        .agg(countDistinct("obj").as("w")), types, threshold)
      .withColumnRenamed("tpe", "domain")

  /** Same on the object side (object-valued predicates only; the inverse
    * mapping weights by distinct SUBJECTS per object,
    * `get_inverse_entity_properties`). */
  def ranges(relations: DataFrame, types: DataFrame,
             threshold: Double = 0.77): DataFrame =
    argmaxTypeShare(
      relations.groupBy(col("pred"), col("obj").as("ent"))
        .agg(countDistinct("sub").as("w")), types, threshold)
      .withColumnRenamed("tpe", "range")

  /** weighted(pred, ent, w): the denominator sums w over ALL entities
    * (pre-join — untyped entities dilute, as in the reference); the
    * numerator sums w over entities carrying the type. Tie-break on the
    * argmax is (share desc, tpe asc) — the reference's subtype-filtered
    * tie resolution collapsed to a deterministic name order (documented
    * approximation). */
  private def argmaxTypeShare(weighted: DataFrame, types: DataFrame,
                              threshold: Double): DataFrame = {
    val totals = weighted.groupBy("pred").agg(sum("w").as("total"))
    val cnts = weighted.join(types, "ent")
      .groupBy("pred", "tpe").agg(sum("w").as("cnt"))
    val w = Window.partitionBy("pred")
      .orderBy(col("cnt").desc, col("tpe").asc)
    cnts.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .join(broadcast(totals), "pred") // pred-level, bounded by schema size
      .withColumn("share", col("cnt") / col("total"))
      .filter(col("share") >= threshold)
      .select(col("pred"), col("tpe"), round(col("share"), 6).as("share"))
  }

  /** Predicates functional in ≥ threshold of subjects. Faithful to
    * `heuristics.py:176-184`: a subject is multi-valued iff it has more
    * than one DISTINCT object (duplicate triples don't flip it), and the
    * non-functional cut is `multi_share >= 1-threshold` — i.e. functional
    * iff STRICTLY below the bar (the boundary case 1-in-20 multi-valued at
    * threshold 0.95 is non-functional, as in the reference). The bound is
    * computed in decimal so 1-0.95 is exactly 0.05, not 0.05000…04. */
  def functionalPredicates(relations: DataFrame,
                           threshold: Double = 0.95): DataFrame = {
    val bound = (BigDecimal(1) - BigDecimal(threshold)).toDouble
    relations.groupBy("pred", "sub").agg(countDistinct("obj").as("cnt"))
      .groupBy("pred")
      .agg(avg(when(col("cnt") > 1, 1.0).otherwise(0.0)).as("multi_share"))
      .filter(col("multi_share") < bound)
      .select(col("pred"), round(lit(1.0) - col("multi_share"), 6)
                .as("functional_share"))
  }

  /** Disjoint type pairs by property-vector cosine (TF-IDF weighting:
    * tf = P(pred|type), idf = log(|types| / df(pred))). Symmetric output
    * (a < b once). */
  def disjointness(relations: DataFrame, types: DataFrame,
                   threshold: Double = 0.132): DataFrame = {
    // (type, pred)-sized; pinned — the df aggregate and the tf window both
    // consume it, and through `weights` three more branches (norms, dot a/b
    // sides) would otherwise re-run the corpus-sized join+aggregate each
    // (the pre-pin plan held 92 parquet scans with ZERO exchange reuse)
    val typePred = pin(relations.select(col("sub").as("ent"), col("pred"))
      .join(types, "ent")
      .groupBy("tpe", "pred").agg(count(lit(1)).as("cnt")))
    // type-list-sized; pinned — its row count is nTypes, and both
    // cross-join sides read it (each was a full scan of the types input)
    val (allTypes, nTypes) = pinCount(types.select("tpe").distinct())
    val df = typePred.groupBy("pred")
      .agg(countDistinct("tpe").as("df"))
    val tf = typePred.withColumn("total",
      sum("cnt").over(Window.partitionBy("tpe")))
      .withColumn("tf", col("cnt") / col("total"))
    val weights = pin(tf.join(broadcast(df), "pred")
      .withColumn("w", col("tf") * log(lit(nTypes.toDouble) / col("df")))
      .select("tpe", "pred", "w")) // three consumers: norms + the two dot sides
    val norms = weights.groupBy("tpe")
      .agg(sqrt(sum(col("w") * col("w"))).as("norm"))
    val a = weights.select(col("tpe").as("ta"), col("pred"), col("w").as("wa"))
    val b = weights.select(col("tpe").as("tb"), col("pred"), col("w").as("wb"))
    val dots = a.join(b, Seq("pred")).filter(col("ta") < col("tb"))
      .groupBy("ta", "tb").agg(sum(col("wa") * col("wb")).as("dot"))
    // pairs sharing NO predicate have dot 0 → cosine 0 → disjoint; generate
    // the full pair set from the type list and left-join the dots
    val allPairs = allTypes.select(col("tpe").as("ta"))
      .crossJoin(allTypes.select(col("tpe").as("tb")))
      .filter(col("ta") < col("tb"))
    // every join side below is taxonomy-bounded (norms: |types| rows; dots:
    // ≤ |types|²/2 pairs, ~10^5-10^6 at the reference's ~10^3 types — MBs),
    // but the planner sees only checkpoint-derived frames with unknown
    // sizes and statically picks sort-merge joins (8 SMJ / 18 Exchange in
    // the recorded plan); the hints pin the broadcast strategy the sizes
    // warrant instead of waiting for AQE's runtime conversion — for dots
    // only while its pair bound is MaxBroadcastPairs or less
    val pairBound = nTypes * (nTypes - 1) / 2
    allPairs
      .join(if (pairBound <= MaxBroadcastPairs) broadcast(dots) else dots,
            Seq("ta", "tb"), "left_outer")
      .na.fill(0.0, Seq("dot"))
      .join(broadcast(norms.select(col("tpe").as("ta"),
                                   col("norm").as("na"))), "ta")
      .join(broadcast(norms.select(col("tpe").as("tb"),
                                   col("norm").as("nb"))), "tb")
      .withColumn("cos", col("dot") / (col("na") * col("nb")))
      .filter(col("cos") <= threshold)
      .select(col("ta"), col("tb"), round(col("cos"), 6).as("cos"))
  }
}
