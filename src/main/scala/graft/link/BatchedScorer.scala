package graft.link

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** M2/M5 batched model scoring — the `mapPartitions` plumbing a neural
  * bi-/cross-encoder invocation needs. The reference scores
  * (mention-context, entity) PAIRS in fixed-size batches on an accelerator
  * (`matching/crossencoder.py:81-104`,
  * `mention_detection/__init__.py:36-108`); this container has no inference
  * runtime, so the model here is a deterministic stand-in — but the batch
  * shape, schema passthrough, and partition discipline are the real
  * contract a weight-loading swap inherits unchanged.
  *
  * What survives a real model swap:
  *  - batches form WITHIN a partition (`Iterator.grouped`): no shuffle, no
  *    driver collect — a 10^9-pair candidate table scores in parallel
  *    across executors, and the model closure ships once per task (mirror
  *    of broadcast weights + a per-executor session);
  *  - every batch except the partition's last is exactly `batchSize`
  *    (the shape an ONNX/TensorRT session is tuned for — asserted in
  *    BatchedScorerSpec via a batch-size-echo model);
  *  - passthrough columns survive by value, so the scored frame drops
  *    straight back into the join/argmax/threshold machinery
  *    ([[AliasLink.linkScored]], `AlignmentGraph.buildScored`).
  *
  * This path deliberately leaves whole-stage codegen (a model call is not
  * a Column expression); use it ONLY when a Column scorer can't express
  * the semantics — the default prior/similarity scorers stay codegen'd.
  */
object BatchedScorer {

  val DefaultBatchSize = 64

  /** Append a `batch_score` double to `pairs` by scoring
    * (labelCol, entCol) string tuples through `model`, one call per
    * ≤`batchSize` batch. `model` must return exactly one score per input
    * pair, in order. Both scored columns must be non-null (the ME
    * candidate join is inner). */
  def scoreBatched(pairs: DataFrame,
                   model: Seq[(String, String)] => Seq[Double],
                   labelCol: String = "label", entCol: String = "ent",
                   batchSize: Int = DefaultBatchSize): DataFrame = {
    require(batchSize > 0, s"batchSize must be positive: $batchSize")
    val schema = pairs.schema.add("batch_score", DoubleType, nullable = false)
    val li = pairs.schema.fieldIndex(labelCol)
    val ei = pairs.schema.fieldIndex(entCol)
    pairs.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        val scores = model(batch.map(r => (r.getString(li), r.getString(ei))))
        require(scores.length == batch.length,
                s"model returned ${scores.length} scores for a " +
                s"${batch.length}-pair batch")
        batch.zip(scores).map { case (r, s) => Row.fromSeq(r.toSeq :+ s) }
      }
    }(Encoders.row(schema))
  }

  /** Adapter for the `scoreFn` seam of `AlignmentGraph.buildScored` (and
    * so of `Pipeline.Canonicalization.ScoredEd`): score the candidate join
    * through `model` and surface the result as the `score` column the seam
    * expects. */
  def modelScoreFn(model: Seq[(String, String)] => Seq[Double],
                   batchSize: Int = DefaultBatchSize)
      : DataFrame => DataFrame =
    cand => scoreBatched(cand, model, batchSize = batchSize)
      .withColumnRenamed("batch_score", "score")

  // — the deterministic stand-in model and its Column twin —
  // Token-set Jaccard between the mention label and the entity id: small
  // integer ratios, so the Scala and Column paths are bit-identical and
  // equivalence is assertable exactly (BatchedScorerSpec).

  private def tokenSet(s: String): Set[String] =
    // Locale.ROOT: executor default locale must not change tokenization
    // (tr-TR dotless-ı would break the Column-twin bit-equivalence)
    s.toLowerCase(java.util.Locale.ROOT)
      .split("[^a-z0-9]+").iterator.filter(_.nonEmpty).toSet

  /** Batch model: label↔entity token Jaccard (0.0 when both are empty —
    * matching the Column twin's when-guard). */
  val jaccardModel: Seq[(String, String)] => Seq[Double] =
    batch => batch.map { case (label, ent) =>
      val a = tokenSet(label); val b = tokenSet(ent)
      val union = (a ++ b).size
      if (union == 0) 0.0 else (a & b).size.toDouble / union
    }

  /** The codegen'd Column twin of [[jaccardModel]]. */
  def jaccardColumn(label: Column, ent: Column): Column = {
    def toks(c: Column): Column =
      array_distinct(filter(split(lower(c), "[^a-z0-9]+"),
                            t => length(t) > 0))
    val a = toks(label); val b = toks(ent)
    val u = size(array_union(a, b))
    when(u === 0, lit(0.0))
      .otherwise(size(array_intersect(a, b)).cast("double") / u)
  }
}
