package graft.runtime

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Checkpoint-or-skip stage execution with lineage + counters — the Spark
  * re-expression of the reference's versioned cache memoization
  * (`/root/reference/utils.py:66-118`, registry `config.yaml:140-316`) and
  * the north rule's "resumable from checkpoint with per-partition lineage +
  * metrics".
  *
  * Each stage writes to `<outDir>/<stage>` (parquet; partitioned stages use
  * partitionBy so a re-run overwrites idempotently). A stage whose output
  * already exists (parquet _SUCCESS marker) is SKIPPED and read back —
  * resume = re-running the driver after a crash re-executes only missing
  * stages. Every run/skip appends a row to `<outDir>/_lineage`; partitioned
  * stages additionally append one row per output partition (per-partition
  * lineage).
  */
final class StageRunner(spark: SparkSession, outDir: String, runId: String) {

  private def path(stage: String) = s"$outDir/$stage"

  /** rows_out for a just-written (or resumed materialized) stage table: sum of
    * the parquet footers' record counts, read driver-side — numerically
    * identical to `df.count()` on the same files, without the per-stage
    * count JOB the old shape paid (~0.18 s of scheduling for metadata the
    * footers already hold; tools/LineageProbe). Falls back to `df.count()`
    * for layer views (which resolve through parents) and for tables with
    * more files than a driver should list-and-open serially. */
  private def rowsOut(stage: String, df: DataFrame): Long =
    if (StageRunner.layerDepth(path(stage)) > 0) df.count()
    else StageRunner.footerRowCount(spark, path(stage)).getOrElse(df.count())

  /** Absolute path of a stage under this runner's outDir (carry layers
    * reference fresh-slice checkpoints by path). */
  def pathOf(stage: String): String = path(stage)
  private def done(stage: String): Boolean =
    StageRunner.completed(outDir, stage)

  private def appendLineage(
      rows: Seq[(String, String, Long, Long, Long, Long, Boolean, Long, Boolean)]): Unit =
    StageRunner.appendLineageRows(spark, s"$outDir/_lineage", rows)

  /** Run (or resume) an unpartitioned stage. `rowsIn` is a cheap driver-side
    * count supplied by the caller when known (-1 = unknown; never forces an
    * extra job on the hot path). `report`: a [[LoopReport]] the stage body's
    * iterative operator fills — its rounds/converged land in the lineage row
    * (loop_rounds = -1 ⇔ no iterative op ran). */
  def run(stage: String, rowsIn: Long = -1L, report: LoopReport = null)
         (f: => DataFrame): DataFrame =
    runWith(stage, rowsIn, report) {
      f.write.mode(SaveMode.Overwrite).parquet(path(stage))
    }

  /** [[run]] for a CARRYABLE key-keyed stage: under
    * `graft.delta.bucketedCarry` the checkpoint is laid out in
    * [[StageRunner.BucketCol]] directories (hash of `keys.head`, bucket
    * count recorded beside the table), so a later [[runCarried]] layer
    * resolves with BUCKET-PRUNED drops — untouched buckets stream through
    * with no join at all and the anti-join's corpus side shrinks to the
    * touched buckets, with NO broadcast of the drop set (the
    * >MaxBroadcastKeys re-crawl shape at 10^12 docs, SCALE.md). With the
    * conf off (default) this IS [[run]]. */
  def runKeyed(stage: String, keys: Seq[String], rowsIn: Long = -1L,
               report: LoopReport = null)
              (f: => DataFrame): DataFrame =
    if (!StageRunner.bucketedCarry(spark)) run(stage, rowsIn, report)(f)
    else runWith(stage, rowsIn, report) {
      StageRunner.writeBucketed(f, path(stage), keys.head,
                                StageRunner.carryBuckets(spark))
    }

  /** The resume-or-`write`, read-back and lineage body of [[run]] and
    * [[runKeyed]]. */
  private def runWith(stage: String, rowsIn: Long, report: LoopReport)
                     (write: => Unit): DataFrame = {
    val t0 = System.nanoTime()
    val resumed = done(stage)
    if (!resumed) write
    val df = StageRunner.read(spark, path(stage))
    val (rounds, conv) =
      if (resumed || report == null) (-1L, true)
      else (report.rounds, report.converged)
    appendLineage(Seq((stage, runId, rowsIn, rowsOut(stage, df), 0L,
      (System.nanoTime() - t0) / 1000000, resumed, rounds, conv)))
    df
  }

  /** Carry a url-keyed stage INCREMENTALLY: instead of rewriting the merged
    * corpus-sized table (the dominant cost of a delta run once compute is
    * maintained — measured in BENCH/BASELINE.md), record a LAYER — the
    * parent run's stage path, the dropped-key set, and a path to the fresh
    * slice (an already-checkpointed, delta-sized stage). Reading resolves
    * `parent − drops ∪ fresh` with a broadcast anti-join on the small drop
    * set; chained deltas resolve recursively through their ancestors, so a
    * delta run writes only DELTA-sized data for carried stages — the
    * log-structured (LSM/Delta-log) shape of incremental view maintenance.
    *
    * Read amplification is bounded: when the chain would exceed
    * `graft.delta.maxLayerDepth` (default [[StageRunner.MaxLayerDepth]]),
    * the stage COMPACTS — materializes the resolved view fully and resets
    * depth to 0. Ancestor outDirs must be retained while a layer references
    * them (compaction bounds the retention window).
    *
    * Layer layout under `<outDir>/<stage>/`: `_layer_drops/` (parquet key
    * set), `_layer` (text: parent path, fresh path, depth, keys — written
    * LAST as the commit marker). [[StageRunner.completed]] accepts either a
    * materialized `_SUCCESS` or a committed layer. */
  def runCarried(stage: String, parentDir: String, keys: Seq[String],
                 drops: DataFrame, freshPath: String,
                 rowsIn: Long = -1L): DataFrame = {
    val t0 = System.nanoTime()
    val parentPath = s"$parentDir/$stage"
    // rows_out: counting a LAYER would resolve parent − drops ∪ fresh over
    // the corpus-sized parent just to fill a counter — the exact job the
    // layer exists to avoid (the run() discipline: never force an extra job
    // on the hot path). Layers record -1 (unresolved view); materialized
    // stages count from parquet metadata (no scan).
    def outRows(df: DataFrame): Long =
      if (StageRunner.layerDepth(path(stage)) > 0) -1L else rowsOut(stage, df)
    if (done(stage)) {
      val df = StageRunner.read(spark, path(stage))
      appendLineage(Seq((stage, runId, rowsIn, outRows(df), 0L,
        (System.nanoTime() - t0) / 1000000, true, -1L, true)))
      df
    } else {
      val maxDepth = spark.conf
        .get("graft.delta.maxLayerDepth", StageRunner.MaxLayerDepth.toString)
        .toInt
      val depth = StageRunner.layerDepth(parentPath) + 1
      val bucketed = StageRunner.bucketedCarry(spark)
      val df =
        if (depth > maxDepth) {
          // compact: one full materialization resets the chain
          val resolved = StageRunner.read(spark, parentPath)
            .join(drops, keys, "left_anti")
            .unionByName(spark.read.parquet(freshPath).drop(StageRunner.BucketCol))
          if (bucketed)
            StageRunner.writeBucketed(resolved, path(stage), keys.head,
                                      StageRunner.carryBuckets(spark))
          else
            resolved.write.mode(SaveMode.Overwrite).parquet(path(stage))
          StageRunner.read(spark, path(stage))
        } else {
          // bucketed mode shuffles the SMALL side into the parent's bucket
          // layout at write time, so resolution can prune (read below)
          val parentBuckets = StageRunner.bucketsOf(parentPath)
          val dropCols = drops.select(keys.map(col): _*)
          if (parentBuckets > 0)
            StageRunner.writeBucketed(dropCols,
              s"${path(stage)}/_layer_drops", keys.head, parentBuckets)
          else
            dropCols.write.mode(SaveMode.Overwrite)
              .parquet(s"${path(stage)}/_layer_drops")
          Files.write(
            Paths.get(path(stage), "_layer"),
            (s"parent=$parentPath\nfresh=$freshPath\ndepth=$depth\n" +
              s"keys=${keys.mkString(",")}\n")
              .getBytes(java.nio.charset.StandardCharsets.UTF_8))
          StageRunner.read(spark, path(stage))
        }
      appendLineage(Seq((stage, runId, rowsIn, outRows(df), 0L,
        (System.nanoTime() - t0) / 1000000, false, -1L, true)))
      df
    }
  }

  /** Run (or resume) a stage partitioned by `partCol` (the triple tables'
    * partitionBy(pred)); appends per-partition lineage rows.
    *
    * Writes use DYNAMIC partition overwrite: a re-run (or a backfill whose
    * DataFrame covers only a subset of partitions) replaces exactly the
    * partitions present in the data and leaves the rest untouched — the
    * parquet equivalent of Iceberg's idempotent partition-overwrite commit
    * (north rule: per-partition checkpoint; swap the format string for
    * "iceberg" when the runtime ships the jars). */
  def runPartitioned(stage: String, partCol: String, rowsIn: Long = -1L)
                    (f: => DataFrame): DataFrame = {
    val t0 = System.nanoTime()
    val resumed = done(stage)
    if (!resumed)
      f.write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partCol)
        .parquet(path(stage))
    val df = spark.read.parquet(path(stage))
    val wall = (System.nanoTime() - t0) / 1000000
    // per-partition rows from the partition directories' parquet footers
    // (driver-side, no job) — identical to the former groupBy(partCol)
    // count job for the string partition columns used here; the job
    // remains as the fallback for layouts footers can't settle (nulls'
    // default-partition dir, oversized tables)
    val perPartCounts: Seq[(String, Long)] =
      StageRunner.partitionRowCounts(spark, path(stage), partCol)
        .getOrElse(df.groupBy(partCol).count().collect().toSeq
          .map(r => (String.valueOf(r.get(0)), r.getLong(1))))
    val perPart = perPartCounts
      .map { case (v, n) => (s"$stage/$partCol=$v", runId, rowsIn, n,
                 0L, wall, resumed, -1L, true) }
    appendLineage(perPart :+
      ((stage, runId, rowsIn, perPart.map(_._4).sum, 0L, wall, resumed,
        -1L, true)))
    df
  }

  def lineage(): DataFrame = spark.read.parquet(s"$outDir/_lineage")
}

object StageRunner {

  /** Default maximum layer-chain length before [[StageRunner#runCarried]]
    * compacts (session conf `graft.delta.maxLayerDepth` overrides). */
  val MaxLayerDepth = 3

  /** The `_lineage` parquet schema, matching what the former
    * `toDF(...).write.parquet` append produced (strings optional,
    * primitives required) so old Spark-written and new driver-written files
    * read together through one `spark.read.parquet`. */
  private val LineageSchema =
    org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      """message spark_schema {
           optional binary stage (UTF8);
           optional binary run_id (UTF8);
           required int64 rows_in;
           required int64 rows_out;
           required int64 skipped;
           required int64 wall_ms;
           required boolean resumed;
           required int64 loop_rounds;
           required boolean converged;
         }""")

  private val lineageSeq = new java.util.concurrent.atomic.AtomicLong()

  /** Max data files for the driver-side footer row count; bigger tables
    * (a cluster-scale stage) fall back to a distributed `count()`. */
  private val FooterCountMaxFiles = 512

  /** Per-partition-value row counts for a `partitionBy(partCol)` stage
    * table: one (unescaped value, footer row sum) pair per `partCol=...`
    * directory. None when the layout defies the driver-side read (no
    * partition dirs, a null-value default partition — its groupBy
    * rendering differs — or an oversized subdir). Values are the
    * directory-name spellings, which for the string partition columns
    * used here equal the groupBy job's `String.valueOf(r.get(0))`. */
  private[runtime] def partitionRowCounts(spark: SparkSession, dir: String,
      partCol: String): Option[Seq[(String, Long)]] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(conf)
    val subdirs = fs.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(s"$partCol="))
    // short-circuits: once a subdir defies the footer read, the rest are
    // not opened
    if (subdirs.isEmpty) None
    else subdirs.foldLeft(Option(Vector.empty[(String, Long)])) {
      (acc, s) => acc.flatMap { counts =>
        val raw = s.getPath.getName.drop(partCol.length + 1)
        if (raw == "__HIVE_DEFAULT_PARTITION__") None
        else footerRowCount(spark, s.getPath.toString).map(n => counts :+
          ((org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
             .unescapePathName(raw), n)))
      }
    }
  }

  /** Sum of the parquet footers' record counts under `dir` (recursive —
    * partitioned/bucketed stages lay out in key subdirectories), or None
    * when the table is too many files for serial driver-side opens.
    * Parquet footers are authoritative row counts, so this equals
    * `spark.read.parquet(dir).count()` by construction. */
  private[runtime] def footerRowCount(spark: SparkSession,
                                      dir: String): Option[Long] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(conf)
    val files = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.hadoop.fs.LocatedFileStatus]
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val f = it.next()
      val name = f.getPath.getName
      if (name.endsWith(".parquet") && !name.startsWith("_") &&
          !name.startsWith("."))
        files += f
      if (files.size > FooterCountMaxFiles) return None
    }
    var n = 0L
    files.foreach { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try n += r.getRecordCount finally r.close()
    }
    Some(n)
  }

  /** Append lineage rows as ONE driver-written parquet file — the row is a
    * handful of scalars the driver already holds, and the former 1-row
    * LocalRelation write job cost ~0.15 s of job scheduling + commit
    * protocol PER STAGE (measured, tools/LineageProbe), which at ~25 stages
    * per pipeline run was seconds of pure fixed overhead (guide §1.2: the
    * driver should do almost no data work — and this is no data). Writing
    * directly preserves the crash-audit property (the file is closed before
    * the method returns) and the on-disk contract (a parquet file under
    * `_lineage/`, schema-identical to the previous Spark-written files).
    * The file is written under a `.`-prefixed name that parquet readers
    * skip and renamed once closed, so a crash mid-write leaves no truncated
    * file for [[StageRunner#lineage]] to trip on. */
  private[runtime] def appendLineageRows(spark: SparkSession, dir: String,
      rows: Seq[(String, String, Long, Long, Long, Long, Boolean, Long, Boolean)]): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val fs = dirPath.getFileSystem(conf)
    if (!fs.exists(dirPath)) fs.mkdirs(dirPath)
    val name = s"lineage-${System.nanoTime()}-${lineageSeq.incrementAndGet()}" +
      ".snappy.parquet"
    val tmp = new org.apache.hadoop.fs.Path(dirPath, s".$name")
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile
        .fromPath(tmp, conf))
      .withType(LineageSchema)
      .withCompressionCodec(
        org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      .build()
    val factory = new org.apache.parquet.example.data.simple.SimpleGroupFactory(
      LineageSchema)
    try rows.foreach { r =>
      val g = factory.newGroup()
      g.append("stage", r._1).append("run_id", r._2)
      g.append("rows_in", r._3).append("rows_out", r._4)
      g.append("skipped", r._5).append("wall_ms", r._6)
      g.append("resumed", r._7).append("loop_rounds", r._8)
      g.append("converged", r._9)
      writer.write(g)
    } finally writer.close()
    if (!fs.rename(tmp, new org.apache.hadoop.fs.Path(dirPath, name)))
      throw new java.io.IOException(s"lineage: cannot commit $tmp")
  }

  /** A stage checkpoint is complete iff its parquet _SUCCESS marker exists
    * OR it is a committed carry layer (`_layer` marker, written last) — the
    * single definition of "done" (resume-or-skip here, the prevDir contract
    * probe in [[graft.Pipeline.runDelta]]); an object-store-aware
    * completeness check replaces exactly this one method. */
  def completed(dir: String, stage: String): Boolean =
    Files.exists(Paths.get(s"$dir/$stage", "_SUCCESS")) ||
      Files.exists(Paths.get(s"$dir/$stage", "_layer"))

  /** Length of the layer chain hanging off `path` (0 = materialized). */
  def layerDepth(path: String): Int = {
    val meta = Paths.get(path, "_layer")
    if (Files.exists(meta)) metaOf(path)("depth").toInt else 0
  }

  private def metaOf(path: String): Map[String, String] =
    new String(Files.readAllBytes(Paths.get(path, "_layer")),
               java.nio.charset.StandardCharsets.UTF_8)
      .linesIterator.filter(_.contains("="))
      .map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }
      .toMap

  /** The url-bucketed carry shape (SCALE.md's >MaxBroadcastKeys re-crawl
    * rule): carryable checkpoints lay out in hash-of-key directories so
    * layer resolution prunes — see [[StageRunner#runKeyed]]. */
  val BucketCol = "_kb"

  private[runtime] def bucketedCarry(spark: SparkSession): Boolean =
    spark.conf.get("graft.delta.bucketedCarry", "false").toBoolean

  private[runtime] def carryBuckets(spark: SparkSession): Int =
    spark.conf.get("graft.delta.carryBuckets", "64").toInt

  private def bucketExpr(key: String, n: Int) =
    pmod(xxhash64(col(key)), lit(n.toLong)).cast("int")

  /** Write `df` partitioned by the key-hash bucket column, with the bucket
    * count recorded beside the table (`_buckets` — underscore-prefixed, so
    * parquet readers ignore it) for later layers to bucket their drops
    * consistently.
    *
    * Dynamic-partition writers create data files LAZILY: an EMPTY frame
    * (a no-change re-crawl's drop set, a slice with no touched entities)
    * leaves only `_SUCCESS` behind, and the immediate `spark.read.parquet`
    * would die with "Unable to infer schema" — unlike a plain write, which
    * emits a schema-bearing empty file. Backfill that file so an empty
    * bucketed table reads like any other (the filesystem probe is free;
    * re-running the frame's plan via isEmpty would not be). */
  private[runtime] def writeBucketed(df: DataFrame, path: String,
                                     key: String, n: Int): Unit = {
    val keyed = df.withColumn(BucketCol, bucketExpr(key, n))
    keyed.write.mode(SaveMode.Overwrite).partitionBy(BucketCol).parquet(path)
    val listing = Files.list(Paths.get(path))
    val wroteData =
      try listing.anyMatch(
        p => p.getFileName.toString.startsWith(s"$BucketCol="))
      finally listing.close()
    if (!wroteData)
      keyed.limit(0).write.mode(SaveMode.Append).parquet(path)
    Files.write(Paths.get(path, "_buckets"),
                n.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Bucket count of a stage table, resolved through layer chains to the
    * materialized root (0 = unbucketed). */
  private[runtime] def bucketsOf(path: String): Int = {
    if (Files.exists(Paths.get(path, "_layer"))) bucketsOf(metaOf(path)("parent"))
    else if (Files.exists(Paths.get(path, "_buckets")))
      new String(Files.readAllBytes(Paths.get(path, "_buckets")),
                 java.nio.charset.StandardCharsets.UTF_8).trim.toInt
    else 0
  }

  /** Read a stage table, resolving carry layers recursively:
    * `parent − drops ∪ fresh` per layer (compaction bounds the recursion).
    *
    * Two join shapes per layer:
    *  - unbucketed (default): drops are delta-sized by construction, so
    *    AQE plans a broadcast anti-join; at high churn it degrades to a
    *    shuffle instead of OOMing the driver;
    *  - bucketed root (`graft.delta.bucketedCarry`): drops were written
    *    INTO the root's bucket layout, so resolution collects only the
    *    touched BUCKET IDS (≤ carryBuckets values, never the keys) and
    *    splits the parent on them — untouched buckets stream through with
    *    no join at all (the `_kb` filter pushes down the chain to the root
    *    scan as directory pruning) and the anti-join's corpus side is just
    *    the touched buckets. Nothing broadcasts and nothing corpus-sized
    *    shuffles on a host-clustered re-crawl, whatever the churn. */
  def read(spark: SparkSession, path: String): DataFrame =
    resolve(spark, path).drop(BucketCol)

  private def resolve(spark: SparkSession, path: String): DataFrame = {
    val meta = Paths.get(path, "_layer")
    if (!Files.exists(meta)) spark.read.parquet(path)
    else {
      val m = metaOf(path)
      val drops = spark.read.parquet(s"$path/_layer_drops")
      val keys = m("keys").split(",").toSeq
      val parent = resolve(spark, m("parent"))
      val fresh = spark.read.parquet(m("fresh")).drop(BucketCol)
      if (parent.columns.contains(BucketCol) &&
          drops.columns.contains(BucketCol)) {
        val n = bucketsOf(path)
        val touched = drops.select(BucketCol).distinct().collect()
          .map(_.getInt(0)).toSeq
        val untouched = parent.filter(!col(BucketCol).isin(touched: _*))
        val joined = parent.filter(col(BucketCol).isin(touched: _*))
          .join(drops.drop(BucketCol), keys, "left_anti")
        untouched.unionByName(joined)
          .unionByName(fresh.withColumn(BucketCol, bucketExpr(keys.head, n)))
      } else {
        parent.drop(BucketCol)
          .join(drops.drop(BucketCol), keys, "left_anti")
          .unionByName(fresh)
      }
    }
  }
}
