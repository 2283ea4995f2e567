package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.runtime.Checkpoints.pin

/** Similarity search over the embedding column (`Array[Float]`).
  *
  * Baseline: brute-force cosine top-k (query set broadcast, full scan of the
  * corpus side — the exact answer and the thing every ANN variant is measured
  * against). Scale path: IVF — assign every vector to its nearest centroid
  * (one broadcast join), then search only the probe's cell, cutting the
  * scanned fraction to ~1/nCells per query. At 100 TB the centroid table is
  * k-means output; here centroids are a deterministic subset (vec_id < 8) so
  * the oracle can reproduce cell assignment exactly.
  *
  * All dot products run in double via zip_with+aggregate in strict index
  * order — bit-identical to the DuckDB oracle's list_transform+list_sum, so
  * score-ordered ranks compare exactly.
  */
object Ann {

  private def asDouble(c: Column): Column = transform(c, x => x.cast("double"))

  /** THE dot/cosine spelling — the codegen'd
    * [[graft.functions.VectorOps.DotExpr]] loop, bit-identical to the
    * former `aggregate(zip_with(...))` fold (strict index order, same null
    * semantics) and to the oracle's list_transform+list_sum; shared with
    * [[Dedup]]'s embedding ops so every cosine in the engine accumulates in
    * the same order and scores stay comparable across ops. */
  private[ops] def dot(a: Column, b: Column): Column =
    graft.functions.VectorOps.dot(a, b)

  private[ops] def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** Per-vector norm, for hoisting OUT of pair stages: `sqrt(dot(e,e))` is
    * the identical double wherever it is evaluated (strict index-order
    * fold), and [[cosinePre]] keeps [[cosine]]'s exact `na*nb` product
    * order — so precomputing norms once per VECTOR (linear) instead of
    * once per PAIR (quadratic within blocks) is bit-identical, and the
    * pair stage pays one array pass (the cross dot) instead of three. */
  private[ops] def norm(e: Column): Column = sqrt(dot(e, e))

  /** cos from per-side precomputed norms — bit-identical to [[cosine]]. */
  private[ops] def cosinePre(a: Column, b: Column,
                             na: Column, nb: Column): Column =
    dot(a, b) / (na * nb)

  /** Exact top-5 cosine neighbors for query vectors vec_id < 10.
    * The query side is tiny → broadcast; corpus side is scanned once, no
    * shuffle until the per-query top-k window. */
  def bruteForceTopK(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), asDouble(col("embedding")).as("emb"))
      .withColumn("nrm", norm(col("emb")))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("emb").as("qe"),
              col("nrm").as("qn"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    e.select(col("vec_id").as("neighbor_id"), col("emb").as("ne"),
             col("nrm").as("nn"))
      .join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", cosinePre(col("qe"), col("ne"), col("qn"), col("nn")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select(col("query_id"), col("neighbor_id"), col("rnk"),
              round(col("cos"), 6).as("cos"))
  }

  val bruteForceTopKSql: String =
    """WITH e AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
          FROM embeddings),
       q AS (SELECT vec_id AS query_id, emb AS qe FROM e WHERE vec_id < 10),
       sc AS (SELECT q.query_id, e.vec_id AS neighbor_id,
          list_sum(list_transform(range(1, len(qe)+1), i -> qe[i]*emb[i]))
          / (sqrt(list_sum(list_transform(range(1, len(qe)+1), i -> qe[i]*qe[i])))
           * sqrt(list_sum(list_transform(range(1, len(emb)+1), i -> emb[i]*emb[i]))))
          AS cos
          FROM q JOIN e ON e.vec_id <> q.query_id),
       r AS (SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY cos DESC, neighbor_id ASC) AS rnk FROM sc)
       SELECT query_id, neighbor_id, rnk, round(cos, 6) AS cos
       FROM r WHERE rnk <= 5"""

  /** The deterministic centroid FIXTURE (vectors with vec_id < 8) — the
    * oracle-reproducible stand-in that [[Kmeans.train]] output replaces in
    * production (r2 VERDICT: centroids are now an INPUT, not a constant
    * baked into the operator). */
  def fixtureCentroids(e: DataFrame): DataFrame =
    e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cent_id"), col("emb").as("ce"))

  /** Assign every vector to its `nProbe` best centroid cells (argmax
    * cosine, tie-break centroid id asc) — one broadcast join, no corpus
    * shuffle (the argmax window keys on vec_id, unique per row). nProbe is
    * the IVF recall knob: probing p cells recovers boundary pairs that
    * top-1 assignment splits across cells. Output: (vec_id, emb, cell,
    * probe_rank 1..nProbe). */
  def assignCells(e: DataFrame, centroids: DataFrame,
                  nProbe: Int = 1): DataFrame = {
    // norms hoisted: once per vector / centroid row, not once per
    // (vector × centroid) pair — bit-identical (see cosinePre)
    val scored = e.withColumn("_ne", norm(col("emb")))
      .join(broadcast(centroids.withColumn("_nc", norm(col("ce")))))
      .withColumn("ccos",
        cosinePre(col("emb"), col("ce"), col("_ne"), col("_nc")))
    val centNumeric = centroids.schema("cent_id").dataType
      .isInstanceOf[org.apache.spark.sql.types.NumericType]
    if (nProbe == 1 && centNumeric) {
      // top-1 as a map-side-combinable aggregate: the k-way row blow-up
      // collapses to one row per vector BEFORE the exchange, instead of
      // shuffling every (vector × centroid) row (with its embedding)
      // through the row_number window (guide §2.3 "aggregate before you
      // shuffle"). max(struct(ccos, -cent_id)) ≡ (ccos desc, cent_id asc)
      // — Spark's struct and window orderings agree on doubles (NaN
      // greatest), and cent_id is unique per candidate row.
      scored.groupBy("vec_id")
        .agg(max(struct(col("ccos"), (-col("cent_id")).as("_negc"),
                        col("cent_id"))).as("_best"),
             first("emb").as("emb")) // emb is constant per vec_id
        .select(col("vec_id"), col("emb"),
                col("_best.cent_id").as("cell"),
                lit(1).as("probe_rank"))
    } else {
      val wAssign = Window.partitionBy("vec_id")
        .orderBy(col("ccos").desc, col("cent_id").asc)
      scored
        .withColumn("arn", row_number().over(wAssign))
        .filter(col("arn") <= nProbe)
        .select(col("vec_id"), col("emb"), col("cent_id").as("cell"),
                col("arn").as("probe_rank"))
    }
  }

  /** IVF top-3 with the oracle fixture centroids, nProbe = 1 (the driver
    * CORRECTNESS query — exact DuckDB twin below). */
  def ivfTopK(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), asDouble(col("embedding")).as("emb"))
    ivfTopK(e, fixtureCentroids(e), nProbe = 1)
  }

  /** IVF top-3, centroids as an input table (k-means output at scale —
    * [[Kmeans.train]]), queries probing their `nProbe` best cells; corpus
    * vectors are indexed in their top-1 cell (the standard IVF layout:
    * multi-probe widens the QUERY side only, so the index stays one cell
    * per vector). Queries = vec_id in [8,13) as in the fixture contract. */
  def ivfTopK(e: DataFrame, centroids: DataFrame, nProbe: Int): DataFrame = {
    val indexed = assignCells(e, centroids, nProbe = 1)
      .select(col("vec_id").as("neighbor_id"), col("emb").as("ne"),
              norm(col("emb")).as("nn"), col("cell"))
    val q = assignCells(e.filter(col("vec_id") >= 8 && col("vec_id") < 13),
                        centroids, nProbe)
      .select(col("vec_id").as("query_id"), col("emb").as("qe"),
              norm(col("emb")).as("qn"), col("cell"))
    val wTop = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    indexed
      .join(broadcast(q), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      // no pair dedup needed: the INDEX side is always top-1 (one cell per
      // neighbor), so a (query, neighbor) pair matches exactly one of the
      // query's probed cells even at nProbe > 1 — the former
      // dropDuplicates was a no-op that shuffled every candidate pair
      // with both embedding arrays aboard
      .withColumn("cos", cosinePre(col("qe"), col("ne"), col("qn"), col("nn")))
      .withColumn("rnk", row_number().over(wTop))
      .filter(col("rnk") <= 3)
      .select(col("query_id"), col("neighbor_id"), col("rnk"),
              round(col("cos"), 6).as("cos"))
  }

  /** The multi-probe driver query: same fixture centroids, nProbe = 2 —
    * the recall knob itself is oracle-checked (top-2 cells are as
    * SQL-expressible as top-1). */
  def ivfMultiProbe(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), asDouble(col("embedding")).as("emb"))
    ivfTopK(e, fixtureCentroids(e), nProbe = 2)
  }

  /** TRAINED-centroid IVF wired end-to-end into the driver contract:
    * [[Kmeans.seedFarthestFirst]] → [[Kmeans.train]] on a deterministic
    * sample (vec_id < 64 — the at-scale discipline: Lloyd rounds touch a
    * small sample, never the corpus), then [[ivfTopK]] probing ALL k
    * cells. Full probe makes IVF EXACT — every index cell is a candidate
    * cell for every query, and the ranking cosine uses the original
    * vectors — so the DuckDB oracle is plain brute-force top-3,
    * INDEPENDENT of the trained centroid values. What the oracle pins:
    * the trainer runs, its output slots into the operator, and the
    * assignment/probe/dedup plumbing loses no candidate. Recall at
    * nProbe < k — where training quality matters — is property-tested in
    * KmeansSpec (boundary-pair recovery, cluster separation). */
  def ivfTrainedTopK(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), asDouble(col("embedding")).as("emb"))
    val k = 8
    val sample = e.filter(col("vec_id") < 64)
    val (cents, _) =
      Kmeans.train(sample, Kmeans.seedFarthestFirst(sample, k), iters = 3,
                   withObjective = false)
    ivfTopK(e, cents, nProbe = k)
  }

  /** Brute force over queries [8,13): full-probe IVF is exact, so the
    * trained centroids cancel out of the oracle. */
  val ivfTrainedTopKSql: String =
    """WITH e AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
          FROM embeddings),
       q AS (SELECT vec_id AS query_id, emb AS qe FROM e
             WHERE vec_id >= 8 AND vec_id < 13),
       sc AS (SELECT q.query_id, e.vec_id AS neighbor_id,
          list_sum(list_transform(range(1, len(qe)+1), i -> qe[i]*emb[i]))
          / (sqrt(list_sum(list_transform(range(1, len(qe)+1), i -> qe[i]*qe[i])))
           * sqrt(list_sum(list_transform(range(1, len(emb)+1), i -> emb[i]*emb[i]))))
          AS cos
          FROM q JOIN e ON e.vec_id <> q.query_id),
       r AS (SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY cos DESC, neighbor_id ASC) AS rnk FROM sc)
       SELECT query_id, neighbor_id, rnk, round(cos, 6) AS cos
       FROM r WHERE rnk <= 3"""

  /** Random-hyperplane LSH (SimHash-for-cosine) candidate retrieval — the
    * scale path when even IVF's centroid scan is too much: `NumPlanes`
    * deterministic pseudo-random hyperplanes (integer-arithmetic
    * construction so the DuckDB oracle reproduces them bit-for-bit) hash
    * every vector to `NumBands` independent band signatures; candidates
    * share ANY band bucket (multi-band = recall amplification, the standard
    * LSH OR-construction); buckets above `MaxBucket` are cut (a degenerate
    * signature — near-zero or tightly clustered vectors — would otherwise
    * make one bucket O(bucket^2) in a single task, the same hot-bucket
    * failure minhashLsh caps); survivors verified with exact
    * cosine >= 0.3. At corpus scale: one groupBy on (band, signature) —
    * no pairwise anything outside a capped bucket. */
  val NumPlanes = 16
  val NumBands = 2 // 2 bands x 8 planes
  val PlanesPerBand: Int = NumPlanes / NumBands

  /** Bucket cap: 8-plane band buckets (256 keys/band) on clustered data can
    * collect a large fraction of the corpus; pairs are only generated inside
    * buckets <= MaxBucket so one degenerate signature cannot produce a
    * quadratic task (mirrors Dedup.MaxBucket). */
  val MaxBucket = 50

  /** plane(j)[i] = ((j*31 + i) * 2654435761) mod 1000 - 500, j in [0,16). */
  private def planeVal(j: Int, i: Column): Column =
    (lit(j * 31L) + i) * 2654435761L % 1000L - 500L

  def lshCosine(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), asDouble(col("embedding")).as("emb"))
    def sigBand(b: Int): Column = (0 until PlanesPerBand).map { p =>
      val j = b * PlanesPerBand + p
      val dotPlane = aggregate(
        zip_with(col("emb"),
                 sequence(lit(0), size(col("emb")) - 1),
                 (x, i) => x * planeVal(j, i).cast("double")),
        lit(0.0), (acc, x) => acc + x)
      when(dotPlane > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
    val signed = e.select(col("vec_id"), col("emb"), norm(col("emb")).as("nrm"),
      explode(array((0 until NumBands).map(b =>
        struct(lit(b).as("band"), sigBand(b).as("sig"))): _*)).as("bs"))
      .select(col("vec_id"), col("emb"), col("nrm"),
              col("bs.band").as("band"), col("bs.sig").as("sig"))
    // pinned: both self-join sides re-pay the 16 hyperplane dot products
    // per vector otherwise (the signature pass is the expensive stage)
    val small = pin(signed.withColumn("bsize",
      count(lit(1)).over(Window.partitionBy("band", "sig")))
      .filter(col("bsize") <= MaxBucket))
    val cand = small.select(col("vec_id").as("a"), col("emb").as("ea"),
                            col("nrm").as("na"), col("band"), col("sig"))
      .join(small.select(col("vec_id").as("b"), col("emb").as("eb"),
                         col("nrm").as("nb"), col("band"), col("sig")),
            Seq("band", "sig"))
      .filter(col("a") < col("b"))
      .select("a", "b", "ea", "eb", "na", "nb")
      .dropDuplicates("a", "b") // a pair may collide in both bands
    cand.withColumn("cos", cosinePre(col("ea"), col("eb"), col("na"), col("nb")))
      .filter(col("cos") >= 0.3)
      .select(col("a"), col("b"), round(col("cos"), 6).as("cos"))
  }

  val lshCosineSql: String = {
    def sigExpr(b: Int) = (0 until PlanesPerBand).map { p =>
      val j = b * PlanesPerBand + p
      s"""CASE WHEN list_sum(list_transform(range(1, len(emb)+1),
            i -> emb[i] * CAST((($j*31 + (i-1)) * 2654435761) % 1000 - 500
                          AS DOUBLE))) > 0
          THEN ${1L << p} ELSE 0 END"""
    }.mkString(" + ")
    val bandUnion = (0 until NumBands)
      .map(b => s"SELECT vec_id, emb, $b AS band, ${sigExpr(b)} AS sig FROM e")
      .mkString(" UNION ALL ")
    s"""WITH e AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
          FROM embeddings),
        signed AS ($bandUnion),
        small AS (SELECT * FROM (SELECT *,
            count(*) OVER (PARTITION BY band, sig) AS bsize FROM signed)
          WHERE bsize <= $MaxBucket),
        cand AS (SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
                 FROM small x JOIN small y
                   ON x.band = y.band AND x.sig = y.sig AND x.vec_id < y.vec_id),
        scored AS (SELECT a, b,
          list_sum(list_transform(range(1, len(ea.emb)+1), i -> ea.emb[i]*eb.emb[i]))
          / (sqrt(list_sum(list_transform(range(1, len(ea.emb)+1), i -> ea.emb[i]*ea.emb[i])))
           * sqrt(list_sum(list_transform(range(1, len(eb.emb)+1), i -> eb.emb[i]*eb.emb[i]))))
          AS cos
          FROM cand JOIN e ea ON cand.a=ea.vec_id JOIN e eb ON cand.b=eb.vec_id)
        SELECT a, b, round(cos, 6) AS cos FROM scored WHERE cos >= 0.3"""
  }

  val ivfTopKSql: String =
    """WITH e AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
          FROM embeddings),
       cents AS (SELECT vec_id AS cent_id, emb AS ce FROM e WHERE vec_id < 8),
       sc AS (SELECT e.vec_id, e.emb, c.cent_id,
          list_sum(list_transform(range(1, len(emb)+1), i -> emb[i]*ce[i]))
          / (sqrt(list_sum(list_transform(range(1, len(emb)+1), i -> emb[i]*emb[i])))
           * sqrt(list_sum(list_transform(range(1, len(ce)+1), i -> ce[i]*ce[i]))))
          AS ccos
          FROM e CROSS JOIN cents c),
       assigned AS (SELECT vec_id, emb, cent_id AS cell FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_id
            ORDER BY ccos DESC, cent_id ASC) AS arn FROM sc) WHERE arn=1),
       q AS (SELECT vec_id AS query_id, emb AS qe, cell FROM assigned
             WHERE vec_id >= 8 AND vec_id < 13),
       cand AS (SELECT q.query_id, a.vec_id AS neighbor_id,
          list_sum(list_transform(range(1, len(qe)+1), i -> qe[i]*a.emb[i]))
          / (sqrt(list_sum(list_transform(range(1, len(qe)+1), i -> qe[i]*qe[i])))
           * sqrt(list_sum(list_transform(range(1, len(a.emb)+1), i -> a.emb[i]*a.emb[i]))))
          AS cos
          FROM q JOIN assigned a ON q.cell=a.cell AND a.vec_id <> q.query_id),
       r AS (SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY cos DESC, neighbor_id ASC) AS rnk FROM cand)
       SELECT query_id, neighbor_id, rnk, round(cos, 6) AS cos
       FROM r WHERE rnk <= 3"""

  val ivfMultiProbeSql: String =
    """WITH e AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
          FROM embeddings),
       cents AS (SELECT vec_id AS cent_id, emb AS ce FROM e WHERE vec_id < 8),
       sc AS (SELECT e.vec_id, e.emb, c.cent_id,
          list_sum(list_transform(range(1, len(emb)+1), i -> emb[i]*ce[i]))
          / (sqrt(list_sum(list_transform(range(1, len(emb)+1), i -> emb[i]*emb[i])))
           * sqrt(list_sum(list_transform(range(1, len(ce)+1), i -> ce[i]*ce[i]))))
          AS ccos
          FROM e CROSS JOIN cents c),
       ranked AS (SELECT *, row_number() OVER (PARTITION BY vec_id
            ORDER BY ccos DESC, cent_id ASC) AS arn FROM sc),
       indexed AS (SELECT vec_id, emb, cent_id AS cell FROM ranked
                   WHERE arn = 1),
       q AS (SELECT vec_id AS query_id, emb AS qe, cent_id AS cell
             FROM ranked WHERE arn <= 2 AND vec_id >= 8 AND vec_id < 13),
       cand AS (SELECT DISTINCT q.query_id, a.vec_id AS neighbor_id
                FROM q JOIN indexed a
                  ON q.cell = a.cell AND a.vec_id <> q.query_id),
       scored AS (SELECT c.query_id, c.neighbor_id,
          list_sum(list_transform(range(1, len(qe.emb)+1), i -> qe.emb[i]*ne.emb[i]))
          / (sqrt(list_sum(list_transform(range(1, len(qe.emb)+1), i -> qe.emb[i]*qe.emb[i])))
           * sqrt(list_sum(list_transform(range(1, len(ne.emb)+1), i -> ne.emb[i]*ne.emb[i]))))
          AS cos
          FROM cand c JOIN e qe ON c.query_id = qe.vec_id
                      JOIN e ne ON c.neighbor_id = ne.vec_id),
       r AS (SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY cos DESC, neighbor_id ASC) AS rnk FROM scored)
       SELECT query_id, neighbor_id, rnk, round(cos, 6) AS cos
       FROM r WHERE rnk <= 3"""
}
