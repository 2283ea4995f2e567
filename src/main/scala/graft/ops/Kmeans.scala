package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.runtime.Checkpoints.{free, fresh, pin, pinCount}

/** Spherical k-means centroid training for the IVF operators — the
  * trainable replacement for the deterministic centroid FIXTURE the oracle
  * queries pin (reference ANN role: hnswlib index construction,
  * `/root/reference/impl/subject_entity/entity_disambiguation/matching/transformer_util.py:75-89`;
  * we train coarse quantizer cells instead of an HNSW graph because cell
  * blocking is the shape that scales on Spark).
  *
  * Algorithm: vectors are L2-normalized ONCE, so argmax-cosine ≡ argmax-dot;
  * each Lloyd round is
  *   assign:   broadcast centroid join + per-vector window argmax (one
  *             corpus-side pass, no shuffle of the corpus — the window key
  *             is vec_id, already unique, so Spark plans a local argmax);
  *   recenter: element-wise mean per cell via posexplode + (cell, pos)
  *             aggregation (two small shuffles keyed by cell — centroid-
  *             sized, not corpus-sized), then re-normalization;
  * with a pin per round truncating the iterative lineage
  * (the ConnectedComponents discipline). Empty cells keep their previous
  * centroid. The spherical objective Σ cos(x, c(x)) is non-decreasing per
  * round (Lloyd monotonicity — property-tested in KmeansSpec).
  *
  * Seeding: [[seedFarthestFirst]] is a DETERMINISTIC farthest-first
  * traversal (argmin-of-max-similarity, ties by vec_id) — reproducible
  * under any partitioning, which the k-means|| random-oversampling init is
  * not; at 10^12-doc scale both run on a small deterministic sample of the
  * corpus, where farthest-first's k passes are equally cheap.
  */
object Kmeans {

  private def dot(a: Column, b: Column): Column =
    graft.functions.VectorOps.dot(a, b) // codegen'd, fold-order-identical

  /** L2-normalize an array<double> column (zero vectors pass through). */
  def l2normalize(c: Column): Column = {
    val n = sqrt(dot(c, c))
    when(n > 0, transform(c, x => x / n)).otherwise(c)
  }

  /** Above this row count the seeding sample is no longer "driver-sized"
    * and the distributed k-round loop runs instead (seeding always operates
    * on a bounded deterministic sample — see the object scaladoc). */
  val DriverSeedMax = 65536L

  /** vectors(vec_id, emb) → k centroids(cent_id, ce), deterministic:
    * start from the min-id vector; repeatedly add the vector farthest
    * (min max-cosine) from the chosen set, ties broken by vec_id asc.
    *
    * Fast path: the farthest-first traversal is k sequential argmin
    * rounds, each of which was a full Spark job (broadcast + aggregate +
    * checkpoint) — ~k driver actions of pure fixed overhead on a sample
    * that is bounded by contract. When the normalized sample is
    * driver-sized (≤ [[DriverSeedMax]] rows, long ids, double embeddings)
    * the traversal runs as a driver loop over the COLLECTED sample with
    * bit-identical arithmetic (the same left-fold dot-product order, null
    * on a length mismatch, the same (max_sim asc nulls first, vec_id asc)
    * argmin, so ragged input seeds alike on both paths) — the ValidTags-style
    * "broadcast-sized by design" discipline. Larger or non-standard-typed
    * inputs take the original distributed loop. */
  def seedFarthestFirst(vectors: DataFrame, k: Int): DataFrame = {
    val (v, n) =
      pinCount(vectors.select(col("vec_id"), l2normalize(col("emb")).as("emb")))
    val embOk = v.schema("emb").dataType match {
      case org.apache.spark.sql.types.ArrayType(
             org.apache.spark.sql.types.DoubleType, _) => true
      case _ => false
    }
    val driverable =
      v.schema("vec_id").dataType == org.apache.spark.sql.types.LongType &&
      embOk && n <= DriverSeedMax
    if (driverable) seedDriver(v, k) else seedDistributed(v, k)
  }

  private def seedDriver(v: DataFrame, k: Int): DataFrame = {
    val sp = v.sparkSession
    import sp.implicits._
    val rows = v.as[(Long, Seq[Double])].collect()
    // vec_dot: None (SQL null) on a length mismatch, else the left fold in
    // index order
    def ddot(a: Seq[Double], b: Seq[Double]): Option[Double] =
      if (a.length != b.length) None
      else Some(a.indices.foldLeft(0.0)((acc, i) => acc + a(i) * b(i)))
    // Spark's double order (-0.0 = 0.0, NaN largest); null sorts first
    val sim: Ordering[Double] =
      (a, b) => if (a == b) 0 else java.lang.Double.compare(a, b)
    val farthest = Ordering.Tuple2(Ordering.Option(sim), Ordering.Long)
    val chosen = scala.collection.mutable.ArrayBuffer(rows.indices.minBy(rows(_)._1))
    while (chosen.size < k)
      // min over ALL vectors (chosen included, as the join-based loop did)
      // of (max cos to the chosen set, vec_id); like SQL's max, it skips
      // null dots and is null when all are
      chosen += rows.indices.minBy { i =>
        (chosen.iterator.flatMap(c => ddot(rows(i)._2, rows(c)._2)).maxOption(sim),
         rows(i)._1)
      }(farthest)
    chosen.zipWithIndex
      .map { case (idx, ci) => (ci.toLong, rows(idx)._2) }.toSeq
      .toDF("cent_id", "ce")
  }

  private def seedDistributed(v: DataFrame, k: Int): DataFrame = {
    var chosen = pin(v.orderBy("vec_id").limit(1)
      .select(lit(0L).as("cent_id"), col("emb").as("ce")))
    var i = 1
    while (i < k) {
      val far = v.join(broadcast(chosen))
        .withColumn("sim", dot(col("emb"), col("ce")))
        .groupBy("vec_id").agg(max("sim").as("max_sim"),
                               first("emb").as("emb"))
        .orderBy(col("max_sim").asc, col("vec_id").asc).limit(1)
        .select(lit(i.toLong).as("cent_id"), col("emb").as("ce"))
      val next = pin(fresh(chosen).unionByName(fresh(far)))
      free(chosen)
      chosen = next
      i += 1
    }
    chosen
  }

  /** Lloyd iterations; returns (trained centroids(cent_id, ce),
    * per-round objective Σ cos — non-decreasing).
    *
    * `withObjective = false` skips the per-round objective action AND the
    * corpus-sized assignment checkpoint (the per-round cents checkpoint
    * still truncates lineage): callers that only consume the centroids
    * (e.g. [[Ann.ivfTrainedTopK]]) run ONE action per round instead of
    * three — the returned objective Seq is then empty. */
  def train(vectors: DataFrame, init: DataFrame,
            iters: Int = 5, withObjective: Boolean = true)
      : (DataFrame, Seq[Double]) = {
    val v = pin(vectors.select(col("vec_id"), l2normalize(col("emb")).as("emb")))
    var cents = pin(init.select(col("cent_id"), l2normalize(col("ce")).as("ce")))
    val objective = scala.collection.mutable.ArrayBuffer.empty[Double]
    val centNumeric = init.schema("cent_id").dataType
      .isInstanceOf[org.apache.spark.sql.types.NumericType]
    for (_ <- 0 until iters) {
      val scored = v.join(broadcast(cents))
        .withColumn("sim", dot(col("emb"), col("ce")))
      // top-1 cell as a map-side-combinable aggregate (same argmax
      // equivalence as Ann.assignCells: max(struct(sim, -cent_id)) ≡
      // (sim desc, cent_id asc)) — one row per vector leaves the map side
      // instead of the k-way join blow-up passing through a window
      val assignedPlan =
        if (centNumeric)
          scored.groupBy("vec_id")
            .agg(max(struct(col("sim"), (-col("cent_id")).as("_negc"),
                            col("cent_id"))).as("_best"),
                 first("emb").as("emb"))
            .select(col("vec_id"), col("emb"),
                    col("_best.cent_id").as("cell"), col("_best.sim").as("sim"))
        else {
          val w = Window.partitionBy("vec_id")
            .orderBy(col("sim").desc, col("cent_id").asc)
          scored
            .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
            .select(col("vec_id"), col("emb"), col("cent_id").as("cell"),
                    col("sim"))
        }
      // the assigned frame is CORPUS-sized — pinned only when it has two
      // consumers (objective + means), and then freed before the next
      // round (Checkpoints doc: the 8 GiB soak lesson)
      val assigned = if (withObjective) pin(assignedPlan) else assignedPlan
      if (withObjective)
        objective += assigned.agg(sum("sim")).head().getDouble(0)
      // element-wise mean per cell; empty cells keep the old centroid
      val means = assigned
        .select(col("cell"), posexplode(col("emb")).as(Seq("pos", "x")))
        .groupBy("cell", "pos").agg(avg("x").as("m"))
        .groupBy("cell")
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("cell").as("cent_id"),
                l2normalize(transform(col("pm"), e => e.getField("m")))
                  .as("new_ce"))
      val nextCents = pin(cents.join(means, Seq("cent_id"), "left_outer")
        .select(col("cent_id"), coalesce(col("new_ce"), col("ce")).as("ce")))
      // unpinned, `assigned` scans v and cents: free only its own pin
      if (withObjective) free(assigned)
      free(cents)
      cents = nextCents
    }
    (cents, objective.toSeq)
  }
}
