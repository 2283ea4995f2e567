package graft.runtime

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, Executors}
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}
import scala.concurrent.{Await, ExecutionContext, Future, Promise}
import scala.concurrent.duration.Duration
import scala.util.{Failure, Success}
import org.apache.hadoop.fs.{FileSystem, LocatedFileStatus, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Checkpoint-or-skip stage execution with lineage + counters — the Spark
  * re-expression of the reference's versioned cache memoization
  * (`/root/reference/utils.py:66-118`, registry `config.yaml:140-316`) and
  * the north rule's "resumable from checkpoint with per-partition lineage +
  * metrics".
  *
  * Each stage writes to `<outDir>/<stage>` (parquet; partitioned stages use
  * partitionBy so a re-run overwrites idempotently); a carried stage is
  * that table or a layer over its parent's ([[runCarried]]), and
  * [[StageRunner.read]] is the one reader of both. A stage whose output
  * already exists (a committed `_SUCCESS` or `_layer` marker) is SKIPPED
  * and read back — resume = re-running the driver after a crash
  * re-executes only missing stages. Skipping by name is sound only while
  * the outDir holds one run's stages; [[graft.Pipeline]]'s run header
  * decides that before any stage runs. Every run/skip appends a row to
  * `<outDir>/_lineage`; partitioned stages additionally append one row per
  * output partition (per-partition lineage). Every write kind goes through
  * one private commit path; all metadata I/O goes through the
  * Hadoop `FileSystem` of the session, so outDirs may be any Hadoop URI.
  *
  * A run declares its stages as a graph inside [[execute]]: each [[node]]
  * names its input nodes, and once the whole graph is declared its body
  * runs on the run's driver-side pool as soon as every input has
  * completed, so independent stages overlap. The concurrency contract:
  *  - a body reads only its declared inputs (and their inputs): a
  *    [[Node]] read anywhere else fails, on every run, not just on the
  *    unlucky ones;
  *  - stage names are unique within a run (each names its own checkpoint
  *    directory), and lineage files are named `lineage-<nanoTime>-<seq>`
  *    with a process-wide sequence, so concurrent commits never collide;
  *  - no body blocks on another node: composition is by `Future`
  *    combinators, and the one blocking wait is at the end of [[execute]],
  *    which returns only when every node has finished — every stage and
  *    its lineage row are committed then;
  *  - each body runs under the pin owner of the thread that called
  *    [[execute]] ([[Checkpoints]]), so its pins are released with the
  *    run's;
  *  - each body runs in its own Spark job group; the first failure cancels
  *    the groups in flight (and their later jobs), starts no further node,
  *    and is rethrown unwrapped once every node has settled. A stage is
  *    therefore either fully committed (data, marker, lineage) or absent.
  */
final class StageRunner(spark: SparkSession, outDir: String, runId: String) {

  private def path(stage: String) = s"$outDir/$stage"

  /** Run (or resume) an unpartitioned stage. `report`: a [[LoopReport]] the
    * stage body's iterative operator fills — its rounds/converged land in
    * the lineage row (loop_rounds = -1 ⇔ no iterative op ran). */
  def run(stage: String, report: LoopReport = null)
         (f: => DataFrame): DataFrame =
    commit(stage, report) {
      f.write.mode(SaveMode.Overwrite).parquet(path(stage))
      None
    }

  /** Carry a url-keyed stage INCREMENTALLY: instead of rewriting the merged
    * corpus-sized table (the dominant cost of a delta run once compute is
    * maintained — measured in BENCH/BASELINE.md), record a LAYER — the
    * parent run's stage path, the dropped-key set, and a path to the fresh
    * slice (`fresh`, a stage this runner already checkpointed, delta-sized).
    * Reading resolves `parent − drops ∪ fresh` with a broadcast anti-join on
    * the small drop set; chained deltas resolve recursively through their
    * ancestors, so a delta run writes only DELTA-sized data for carried
    * stages — the log-structured (LSM/Delta-log) shape of incremental view
    * maintenance.
    *
    * Read amplification is bounded: when the chain would exceed
    * `graft.delta.maxLayerDepth` (default [[StageRunner.MaxLayerDepth]]),
    * the stage COMPACTS — materializes the resolved view fully and resets
    * depth to 0. Ancestor outDirs must be retained while a layer references
    * them (compaction bounds the retention window).
    *
    * Layer layout under `<outDir>/<stage>/`: `_layer_drops/` (parquet key
    * set), `_layer` (text: parent path, fresh path, depth, keys — committed
    * LAST as the marker). [[StageRunner.completed]] accepts either a
    * materialized `_SUCCESS` or a committed layer.
    *
    * The layer writes `drops.rows`; the compaction's anti-join reads
    * `drops.hinted`. */
  def runCarried(stage: String, parentDir: String, keys: Seq[String],
                 drops: Drops, fresh: String): DataFrame =
    commit(stage) {
      val parentPath = s"$parentDir/$stage"
      val maxDepth = spark.conf
        .get("graft.delta.maxLayerDepth", StageRunner.MaxLayerDepth.toString)
        .toInt
      val depth = StageRunner.layerDepth(spark, parentPath) + 1
      if (depth > maxDepth) {
        // compact: one full materialization resets the chain
        StageRunner.read(spark, parentPath)
          .join(drops.hinted, keys, "left_anti")
          .unionByName(spark.read.parquet(path(fresh)))
          .write.mode(SaveMode.Overwrite).parquet(path(stage))
        None
      } else {
        drops.rows.select(keys.map(col): _*).write.mode(SaveMode.Overwrite)
          .parquet(s"${path(stage)}/_layer_drops")
        Some("_layer" -> (s"parent=$parentPath\nfresh=${path(fresh)}\n" +
          s"depth=$depth\nkeys=${keys.mkString(",")}\n"))
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
  def runPartitioned(stage: String, partCol: String)
                    (f: => DataFrame): DataFrame =
    commit(stage, partCol = partCol) {
      f.write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partCol)
        .parquet(path(stage))
      // a dynamic partition overwrite commits no _SUCCESS at the table root
      Some("_SUCCESS" -> "")
    }

  /** The one commit path of every stage: skip a completed stage, else run
    * `write`, then commit the (name, text) marker file it returns — None
    * when Spark's output committer already wrote `_SUCCESS`. Then read the
    * table back and append its lineage: rows_out from the parquet footers
    * (driver-side, numerically identical to `df.count()` without the count
    * job — ~0.18 s of scheduling per stage, measured in round 6), -1 for a
    * layer (counting it would resolve parent − drops ∪ fresh over the
    * corpus-sized parent — the exact job the layer exists to avoid), and
    * per-partition rows plus their total when `partCol` is set. */
  private def commit(stage: String, report: LoopReport = null,
                     partCol: String = null)
                    (write: => Option[(String, String)]): DataFrame = {
    val t0 = System.nanoTime()
    val startMs = System.currentTimeMillis()
    val dir = path(stage)
    val resumed = StageRunner.completed(spark, outDir, stage)
    if (!resumed)
      write.foreach { case (name, text) =>
        StageRunner.commitMarker(spark, dir, name, text)
      }
    val df = StageRunner.read(spark, dir)
    val rows: Seq[(String, Long)] =
      if (partCol != null) {
        // the groupBy job remains as the fallback for layouts footers can't
        // settle (nulls' default-partition dir, oversized tables)
        val parts = StageRunner.partitionRowCounts(spark, dir, partCol)
          .getOrElse(df.groupBy(partCol).count().collect().toSeq
            .map(r => (String.valueOf(r.get(0)), r.getLong(1))))
          .map { case (v, n) => (s"$stage/$partCol=$v", n) }
        parts :+ (stage -> parts.map(_._2).sum)
      } else if (StageRunner.metaOf(spark, dir).isDefined) Seq(stage -> -1L)
      else Seq(stage ->
        StageRunner.footerRowCount(spark, dir).getOrElse(df.count()))
    val wallMs = (System.nanoTime() - t0) / 1000000
    val (rounds, conv) =
      if (resumed || report == null) (-1L, true)
      else (report.rounds, report.converged)
    val endMs = System.currentTimeMillis()
    StageRunner.appendLineageRows(spark, s"$outDir/_lineage", rows.map {
      case (name, n) =>
        StageRunner.LineageRow(name, runId, n, wallMs, resumed, rounds, conv,
                               startMs, endMs)
    })
    df
  }

  /** Every `_lineage` row of this outDir. */
  def lineage(): DataFrame =
    StageRunner.readDataFiles(spark, s"$outDir/_lineage")

  // — the stage graph of one run —

  /** The graph [[execute]] is running; null outside it. */
  @volatile private var graph: StageRunner.Graph = _

  /** Declare a node: `body` runs on the run's pool once the graph is
    * declared and every input has completed, in its own Spark job group.
    * Only valid while [[execute]] declares its graph, on the declaring
    * thread. */
  def node[A](name: String, inputs: Node[_]*)(body: => A): Node[A] = {
    val g = graph
    require(g != null && Node.current.get == null,
            s"node $name: nodes are declared inside execute, not by a body")
    val p = Promise[A]()
    val n = new Node[A](name, inputs, p.future, this)
    g.nodes.add(n)
    implicit val ec: ExecutionContext = g.ec
    val ready = g.declared.future +: inputs.map(_.future: Future[Any])
    Future.sequence(ready).onComplete {
      case Failure(t) => p.failure(t)
      case Success(_) =>
        p.complete(try Success(runBody(g, n, body))
                   catch { case t: Throwable => Failure(t) })
    }
    n
  }

  /** A stage node: [[run]] of `f` once every input has committed. */
  def stage(name: String, inputs: Node[_]*)(f: => DataFrame): Node[DataFrame] =
    node(name, inputs: _*)(run(name)(f))

  private def runBody[A](g: StageRunner.Graph, n: Node[A], body: => A): A = {
    val sc = spark.sparkContext
    val group = s"graft-${g.id}-${g.seq.incrementAndGet()}"
    // registered before the failure check: a failure that lands after the
    // check sees this group and cancels it
    g.inFlight.add(group)
    try {
      if (g.failure.get != null)
        throw new java.util.concurrent.CancellationException(
          s"${n.name} not started: the run already failed")
      sc.setJobGroup(group, s"$runId ${n.name}")
      Node.current.set(n)
      try Checkpoints.within(g.pins)(body)
      catch { case t: Throwable => fail(g, t); throw t }
      finally { Node.current.remove(); sc.clearJobGroup() }
    } finally g.inFlight.remove(group)
  }

  private def fail(g: StageRunner.Graph, t: Throwable): Unit =
    if (g.failure.compareAndSet(null, t))
      g.inFlight.forEach { group =>
        spark.sparkContext.cancelJobGroupAndFutureJobs(group,
          s"a sibling stage failed: $t")
      }

  /** Declare the run's graph with `declare`, then run it: no node body
    * starts until `declare` has returned, so `declare` may check the whole
    * graph before any stage commits, and a `declare` that throws leaves
    * every stage uncommitted. Waits until every declared node has
    * finished and returns the value of the node `declare` returns. The
    * first failure — of a body or of `declare` itself — is rethrown as it
    * was raised, after every node has settled. */
  def execute[A](declare: => Node[A]): A = {
    require(graph == null, "execute: one graph per runner at a time")
    val g = new StageRunner.Graph(runId)
    graph = g
    try {
      val result: Either[Throwable, Node[A]] =
        try Right(declare) catch { case t: Throwable => fail(g, t); Left(t) }
      g.declared.complete(result.map(_ => ()).toTry)
      g.nodes.forEach(n => Await.ready(n.future, Duration.Inf))
      Option(g.failure.get).foreach(t => throw t)
      result.fold(t => throw t, _())
    } finally {
      graph = null
      g.pool.shutdown()
    }
  }
}

/** A delta's drop-key set and whether it is small enough to broadcast.
  * Joins read [[hinted]]; a write reads `rows`, so no broadcast hint
  * reaches a write, where Spark would only log that it ignored it. */
final case class Drops(rows: DataFrame, small: Boolean) {
  def hinted: DataFrame = if (small) broadcast(rows) else rows
  /** The set with its one key column named `key`. */
  def renamed(key: String): Drops = Drops(rows.toDF(key), small)
}

/** A value of one run's stage graph ([[StageRunner#node]]): a stage's
  * table, or a driver-side value derived from stages. */
final class Node[+A] private[runtime] (val name: String, inputs: Seq[Node[_]],
                                       private[runtime] val future: Future[A],
                                       runner: StageRunner) {
  /** Every node this one transitively waits for. */
  private val upstream: Set[Node[_]] =
    inputs.foldLeft(Set.empty[Node[_]])((s, i) => s ++ i.upstream + i)

  /** The value. Inside a node's body only a node it waits for may be
    * read; outside every body, only a completed node. */
  def apply(): A = {
    val reader = Node.current.get
    if (reader != null)
      require(reader.upstream.contains(this),
              s"${reader.name} reads $name without declaring it as an input")
    else require(future.isCompleted, s"$name read before it completed")
    future.value.get.get
  }

  /** A node of `f` over this node's value. */
  def map[B](f: A => B): Node[B] = runner.node(s"$name'", this)(f(this()))
}

object Node {
  /** The node whose body runs on this thread. */
  private[runtime] val current = new ThreadLocal[Node[_]]
}

object StageRunner {

  /** Default maximum layer-chain length before [[StageRunner#runCarried]]
    * compacts (session conf `graft.delta.maxLayerDepth` overrides). */
  val MaxLayerDepth = 3

  /** One `_lineage` row. `startMs`/`endMs`: the stage's commit span in
    * epoch milliseconds — with concurrent stages, the record of which
    * overlapped. */
  private[runtime] final case class LineageRow(
      stage: String, runId: String, rowsOut: Long, wallMs: Long,
      resumed: Boolean, loopRounds: Long, converged: Boolean,
      startMs: Long, endMs: Long)

  /** The state of one [[StageRunner#execute]]: its pool, its nodes, the
    * promise every node waits for (completed once the graph is declared),
    * the first failure, and the pin owner of the thread that runs it,
    * which every body runs under. Pool threads are created on demand, so
    * the graph's width bounds the concurrency. */
  private final class Graph(runId: String) {
    val id: String = java.util.UUID.randomUUID().toString
    val pins: Checkpoints.Owner = Checkpoints.owner
    val seq = new AtomicLong()
    private val threads = new AtomicLong()
    val pool = Executors.newCachedThreadPool { (r: Runnable) =>
      val t = new Thread(r, s"graft-stages-$runId-${threads.incrementAndGet()}")
      t.setDaemon(true)
      t
    }
    val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    val nodes = new ConcurrentLinkedQueue[Node[_]]()
    val declared = Promise[Unit]()
    val inFlight: java.util.Set[String] = ConcurrentHashMap.newKeySet[String]()
    val failure = new AtomicReference[Throwable]()
  }

  /** The `_lineage` parquet schema (strings optional, primitives
    * required, as a Spark `toDF(...).write.parquet` would write it). */
  private val LineageSchema =
    org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      """message spark_schema {
           optional binary stage (UTF8);
           optional binary run_id (UTF8);
           required int64 rows_out;
           required int64 wall_ms;
           required boolean resumed;
           required int64 loop_rounds;
           required boolean converged;
           required int64 start_ms;
           required int64 end_ms;
         }""")

  private val lineageSeq = new AtomicLong()

  /** Max data files for the driver-side footer row count; bigger tables
    * (a cluster-scale stage) fall back to a distributed `count()`. */
  private val FooterCountMaxFiles = 512

  private def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Per-partition-value row counts for a `partitionBy(partCol)` stage
    * table: one (unescaped value, footer row sum) pair per `partCol=...`
    * directory. None when the layout defies the driver-side read (no
    * partition dirs, a null-value default partition — its groupBy
    * rendering differs — or an oversized subdir). Values are the
    * directory-name spellings, which for the string partition columns
    * used here equal the groupBy job's `String.valueOf(r.get(0))`. */
  private[runtime] def partitionRowCounts(spark: SparkSession, dir: String,
      partCol: String): Option[Seq[(String, Long)]] = {
    val p = new Path(dir)
    val subdirs = fs(spark, p).listStatus(p).toSeq
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
    * partitioned stages lay out in partition subdirectories), or None
    * when the table is too many files for serial driver-side opens.
    * Parquet footers are authoritative row counts, so this equals
    * `spark.read.parquet(dir).count()` by construction. */
  private[runtime] def footerRowCount(spark: SparkSession,
                                      dir: String): Option[Long] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val files = dataFiles(spark, dir).take(FooterCountMaxFiles + 1).toSeq
    if (files.size > FooterCountMaxFiles) None
    else Some(files.map { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    }.sum)
  }

  /** The parquet data files under `dir`, recursively (partition
    * subdirectories included), listed lazily. */
  private def dataFiles(spark: SparkSession,
                        dir: String): Iterator[LocatedFileStatus] = {
    val p = new Path(dir)
    val it = fs(spark, p).listFiles(p, true)
    Iterator.continually(it).takeWhile(_.hasNext).map(_.next()).filter { f =>
      val name = f.getPath.getName
      name.endsWith(".parquet") && !name.startsWith("_") &&
        !name.startsWith(".")
    }
  }

  /** The parquet table under a `_`-named directory (`_lineage`, a layer's
    * `_layer_drops`), read by its data files: Spark drops a hidden root
    * path from a directory read and logs `All paths were ignored` for it. */
  private[runtime] def readDataFiles(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dataFiles(spark, dir).map(_.getPath.toString).toSeq: _*)

  /** Write `<dir>/<name>` under a `.`-prefixed temp name — which parquet
    * readers and [[completed]] ignore — and rename it into place once
    * closed, so a crash mid-write leaves no truncated marker or lineage
    * file behind. */
  private def commitFile(spark: SparkSession, dir: Path, name: String)
                        (write: (FileSystem, Path) => Unit): Unit = {
    val dfs = fs(spark, dir)
    val tmp = new Path(dir, s".$name")
    write(dfs, tmp)
    if (!dfs.rename(tmp, new Path(dir, name)))
      throw new java.io.IOException(s"cannot commit $tmp")
  }

  /** Commit the text file `<dir>/<name>` (a `_layer` marker, a run
    * header: `key=value` lines, which [[metaOf]] reads) through
    * [[commitFile]]. */
  private[graft] def commitMarker(spark: SparkSession, dir: String,
                                  name: String, text: String): Unit =
    commitFile(spark, new Path(dir), name) { (dfs, tmp) =>
      val out = dfs.create(tmp, true)
      try out.write(text.getBytes(UTF_8)) finally out.close()
    }

  /** Whether `dir` is absent or holds only hidden (`.`-prefixed) entries —
    * the temp file an interrupted [[commitFile]] left, checksum files. */
  private[graft] def isEmpty(spark: SparkSession, dir: String): Boolean = {
    val p = new Path(dir)
    val dfs = fs(spark, p)
    !dfs.exists(p) || dfs.listStatus(p).forall(_.getPath.getName.startsWith("."))
  }

  /** `dir` as its Hadoop-qualified path: one directory in two spellings
    * compares equal. */
  private[graft] def qualified(spark: SparkSession, dir: String): String = {
    val p = new Path(dir)
    fs(spark, p).makeQualified(p).toString
  }

  /** Append lineage rows as ONE driver-written parquet file — the row is a
    * handful of scalars the driver already holds, and the former 1-row
    * LocalRelation write job cost ~0.15 s of job scheduling + commit
    * protocol PER STAGE (measured in round 6), which at ~25 stages per
    * pipeline run was seconds of pure fixed overhead (guide §1.2: the
    * driver should do almost no data work — and this is no data). The
    * file is committed before the method returns (crash audit) and keeps
    * the on-disk contract (a parquet file under `_lineage/`). */
  private[runtime] def appendLineageRows(spark: SparkSession, dir: String,
                                         rows: Seq[LineageRow]): Unit = {
    val dirPath = new Path(dir)
    val name = s"lineage-${System.nanoTime()}-${lineageSeq.incrementAndGet()}" +
      ".snappy.parquet"
    commitFile(spark, dirPath, name) { (_, tmp) =>
      val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
        .builder(org.apache.parquet.hadoop.util.HadoopOutputFile
          .fromPath(tmp, spark.sparkContext.hadoopConfiguration))
        .withType(LineageSchema)
        .withCompressionCodec(
          org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
        .build()
      val factory =
        new org.apache.parquet.example.data.simple.SimpleGroupFactory(
          LineageSchema)
      try rows.foreach { r =>
        val g = factory.newGroup()
        g.append("stage", r.stage).append("run_id", r.runId)
        g.append("rows_out", r.rowsOut).append("wall_ms", r.wallMs)
        g.append("resumed", r.resumed).append("loop_rounds", r.loopRounds)
        g.append("converged", r.converged)
        g.append("start_ms", r.startMs).append("end_ms", r.endMs)
        writer.write(g)
      } finally writer.close()
    }
  }

  /** A stage checkpoint is complete iff its `_SUCCESS` marker exists OR it
    * is a committed carry layer (`_layer` marker, written last) — the
    * single definition of "done" (resume-or-skip here, the prevDir contract
    * probe in [[graft.Pipeline.runDelta]]). */
  def completed(spark: SparkSession, dir: String, stage: String): Boolean = {
    val p = new Path(s"$dir/$stage")
    val dfs = fs(spark, p)
    dfs.exists(new Path(p, "_SUCCESS")) || dfs.exists(new Path(p, "_layer"))
  }

  /** Length of the layer chain hanging off `path` (0 = materialized). */
  def layerDepth(spark: SparkSession, path: String): Int =
    metaOf(spark, path).fold(0)(_("depth").toInt)

  private def readText(spark: SparkSession, p: Path): Option[String] = {
    val dfs = fs(spark, p)
    if (!dfs.exists(p)) None
    else {
      val in = dfs.open(p)
      try Some(new String(in.readAllBytes(), UTF_8)) finally in.close()
    }
  }

  /** The committed `key=value` text file `<path>/<marker>` as key →
    * value, None when it is absent: by default the `_layer` marker of a
    * stage (None for a materialized table). */
  private[graft] def metaOf(spark: SparkSession, path: String,
                            marker: String = "_layer"): Option[Map[String, String]] =
    readText(spark, new Path(path, marker)).map(
      _.linesIterator.filter(_.contains("="))
        .map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }
        .toMap)

  /** Read a stage table, resolving carry layers recursively:
    * `parent − drops ∪ fresh` per layer (compaction bounds the recursion).
    * Drops are delta-sized by construction, so AQE plans a broadcast
    * anti-join; at high churn it degrades to a shuffle instead of OOMing
    * the driver. */
  def read(spark: SparkSession, path: String): DataFrame =
    metaOf(spark, path) match {
      case None => spark.read.parquet(path)
      case Some(m) =>
        read(spark, m("parent"))
          .join(readDataFiles(spark, s"$path/_layer_drops"),
                m("keys").split(",").toSeq, "left_anti")
          .unionByName(spark.read.parquet(m("fresh")))
    }
}
