package graft.mine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.PortableHash
import graft.runtime.Checkpoints.pin

/** Negative training-sample synthesis (M4; reference:
  * `/root/reference/impl/subject_entity/mention_detection/data/chunking.py:37-68`).
  *
  * The reference assembles `int(n_chunks * ratio)` FAKE listings per listing
  * type: each takes a randomly chosen real listing as its context, then
  * fills 3..16 item slots with random items drawn from distinct random
  * listings of the same group — table listings grouped by column count
  * (groups with < 3 listings dropped, :48), the group itself chosen with
  * probability ∝ group size (:55). All labels are NO_ENTITY by construction
  * (:150-151,163).
  *
  * `random.*` becomes SEEDED, INDEX-DERIVED pseudo-randomness (SURVEY §2.9
  * M4's own prescription): every choice for negative chunk `i` is a
  * [[PortableHash.md5PrefixLong]] of `(seed, tag, i[, slot])` reduced mod
  * the choice domain, so the sample is deterministic, partition-invariant,
  * and reproducible in the DuckDB oracle. `random.sample`'s
  * without-replacement draw becomes a contiguous rank window
  * `(start + slot) mod L` (distinct because slots ≤ min(L,16) ≤ L) — a
  * documented substitution, same spirit as W4's pinned tie-breaks.
  *
  * Scale: the listings table is corpus-sized but is only touched through
  * two rank-keyed joins (context pick, slot fill) — balanced shuffles on
  * (group, rank). The group table is ∝ distinct column counts (tiny,
  * broadcast), and the only driver-side state is one chunk-count row per
  * listing type.
  */
object NegativeSampling {

  val MinItems = 3  // MIN_ITEMS_PER_CHUNK, chunking.py:14
  val MaxItems = 16 // MAX_ITEMS_PER_CHUNK, chunking.py:15

  private def h(seed: String, tag: String, cols: org.apache.spark.sql.Column*) =
    PortableHash.md5PrefixLong(
      concat_ws("|", (lit(seed) :: lit(tag) :: cols.toList): _*), 12)

  /** Deterministic dense 0-based rank of `listing_key` within each `gk`
    * group — WITHOUT a per-group window. A window partitioned by `gk`
    * hash-shuffles the corpus-sized listings table into ≤ #groups tasks
    * (groups are column COUNTS — a handful of keys over 10^12 listings:
    * one task per group). Instead: range-partition by (gk, key), pin the
    * layout, collect the per-(partition, gk) counts (≤ partitions ×
    * groups rows — bounded), and assign rank = broadcast prefix offset +
    * running index inside the already-sorted partition. One balanced
    * shuffle; the rank depends only on the global (gk, key) order, so it
    * is parallelism-invariant. Requires unique keys (listing ids are). */
  private def groupRank(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.LongType
    val spark = df.sparkSession
    import spark.implicits._
    val nPart = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    // pin: the counts job and the rank job must read the SAME layout
    val sorted = pin(df
      .repartitionByRange(nPart, col("gk"), col("listing_key"))
      .sortWithinPartitions("gk", "listing_key"))
    val counts = sorted
      .groupBy(spark_partition_id().as("pid"), col("gk"))
      .agg(count(lit(1)).as("c"))
      .as[(Int, String, Long)].collect()
    val offsets: Map[(Int, String), Long] =
      counts.groupBy(_._2).iterator.flatMap { case (gk, rows) =>
        val byPid = rows.sortBy(_._1)
        byPid.map(_._1).zip(byPid.scanLeft(0L)(_ + _._3))
          .map { case (pid, off) => (pid, gk) -> off }
      }.toMap
    val bc = spark.sparkContext.broadcast(offsets)
    val gkIdx = sorted.schema.fieldIndex("gk")
    val outSchema = sorted.schema.add("rank0", LongType)
    sorted.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      var curGk: String = null
      var idx = 0L
      it.map { r =>
        val gk = r.getString(gkIdx)
        if (gk != curGk) { curGk = gk; idx = bc.value((pid, gk)) }
        val out = Row.fromSeq(r.toSeq :+ idx)
        idx += 1
        out
      }
    }(Encoders.row(outSchema))
  }

  /** listings(listing_key, listing_type ∈ {enum, table}, n_cols, n_items),
    * chunkCounts(listing_type, n_chunks) →
    * (neg_id, listing_type, n_cols, ctx_listing_key, slot, src_listing_key,
    * item_idx): one row per filled item slot of each synthesized negative
    * listing. */
  def negativeListings(listings: DataFrame, chunkCounts: DataFrame,
                       ratio: Double, seed: String): DataFrame = {
    val spark = listings.sparkSession
    import spark.implicits._

    // groups: tables by column count, enums as one group (chunking.py:43-48)
    val keyed = listings.withColumn("gk",
      when(col("listing_type") === "table",
           concat(lit("t"), col("n_cols"))).otherwise(lit("e")))
    val ranked = groupRank(keyed)
    val groups = keyed.groupBy("listing_type", "gk")
      .agg(count(lit(1)).as("grp_size"))
      .filter(col("grp_size") >= MinItems)
    // weighted-choice ranges: group i covers [cum_lo, cum_hi) of [0, total)
    val w = Window.partitionBy("listing_type").orderBy("gk")
    val gw = groups
      .withColumn("cum_hi", sum("grp_size").over(w))
      .withColumn("cum_lo", col("cum_hi") - col("grp_size"))
      .withColumn("total",
        sum("grp_size").over(Window.partitionBy("listing_type")))

    // int(n_chunks * ratio) per type (chunking.py:41-42); one bounded
    // driver-side row per listing type
    val counts: Map[String, Long] = chunkCounts
      .select(col("listing_type"), col("n_chunks").cast("long"))
      .as[(String, Long)].collect()
      .map { case (t, n) => t -> math.floor(n * ratio).toLong }.toMap
    val negIdx = counts.toSeq.sortBy(_._1).map { case (t, n) =>
      spark.range(n).select(lit(t).as("listing_type"), col("id").as("i"))
    }.reduceOption(_ unionByName _)
      .getOrElse(spark.emptyDataset[(String, Long)]
        .toDF("listing_type", "i"))

    // group pick ∝ size (chunking.py:55): r = H(grp, i) mod total
    val withGrp = negIdx
      .join(broadcast(gw), Seq("listing_type"))
      .filter(h(seed, "grp", col("i")) % col("total")
                between (col("cum_lo"), col("cum_hi") - 1))
    // context listing + slot count (chunking.py:62,64-65):
    // num_items ∈ [MinItems, min(L, MaxItems)]
    val sized = withGrp
      .withColumn("ctx_rank", h(seed, "ctx", col("i")) % col("grp_size"))
      .withColumn("n_slots",
        lit(MinItems) + h(seed, "n", col("i")) %
          (least(col("grp_size"), lit(MaxItems)) - MinItems + 1))
      .withColumn("start", h(seed, "smp", col("i")) % col("grp_size"))
    val ctx = ranked.select(col("gk").as("gk_c"), col("rank0").as("rank_c"),
                            col("listing_key").as("ctx_listing_key"),
                            col("n_cols"))
    val withCtx = sized.join(ctx,
      sized("gk") === ctx("gk_c") && sized("ctx_rank") === ctx("rank_c"))
    // fill slots from distinct listings of the group (chunking.py:66)
    val slots = withCtx
      .select(col("listing_type"), col("gk"), col("i"), col("n_cols"),
              col("ctx_listing_key"), col("start"), col("grp_size"),
              explode(sequence(lit(0), col("n_slots") - 1)).as("slot"))
      .withColumn("src_rank",
        (col("start") + col("slot")) % col("grp_size"))
    val src = ranked.select(col("gk").as("gk_s"), col("rank0").as("rank_s"),
                            col("listing_key").as("src_listing_key"),
                            col("n_items"))
    slots.join(src,
        slots("gk") === src("gk_s") && slots("src_rank") === src("rank_s"))
      .select(
        concat(col("listing_type"), lit("#"), col("i")).as("neg_id"),
        col("listing_type"), col("n_cols"), col("ctx_listing_key"),
        col("slot"),
        col("src_listing_key"),
        (h(seed, "it", col("i"), col("slot")) % col("n_items"))
          .as("item_idx"))
  }
}
