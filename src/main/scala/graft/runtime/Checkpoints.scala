package graft.runtime

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.GraftPins
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col

/** Pins: eager `localCheckpoint`s, and the one place that frees them.
  *
  * A pin turns a multiply-consumed or iterated frame into cluster-resident
  * blocks and truncates its lineage. Its blocks are NON-evictable, cannot
  * recompute once freed, and the ContextCleaner only releases them after a
  * driver GC notices the dead reference: on a 16M-edge NIL graph (1.2M-page
  * soak, 8 GiB heap) accumulated loop rounds exhausted execution memory
  * before any cleanup ran, and a 70+-query session piled up dead pins
  * that slowed later queries 1.5-2.5×. So every pin is taken by [[pin]]
  * and released explicitly, by whoever owns it:
  *  - an [[Owner]] open on the pinning thread registers the pin and frees
  *    it when it closes. `Pipeline.run`/`runDelta` open one around the
  *    whole call (the stage graph's pool threads inherit it) and close it
  *    when the call returns or throws — its result reads only parquet.
  *    `SparkEntry.queries` opens one per query and closes it when the next
  *    query is entered, so a query's result must be consumed before then;
  *  - a loop operator frees each superseded round itself with [[free]],
  *    bounding its live state to two rounds;
  *  - a pin taken outside every owner is left to the ContextCleaner.
  * No owner frees a block it did not register, so pins of a concurrent
  * run, query or caller are never touched. */
object Checkpoints {

  /** The pins of one run or query, freed (non-blocking) by [[close]].
    * Pins are freed through [[GraftPins]], without `RDD.unpersist`'s
    * warning that a local checkpoint cannot be recomputed. */
  final class Owner {
    private[Checkpoints] val pins = ConcurrentHashMap.newKeySet[RDD[_]]()

    def close(): Unit = pins.forEach { r => GraftPins.release(r); pins.remove(r) }
  }

  private val current = new ThreadLocal[Owner]

  /** The owner open on this thread; null outside every owner. */
  private[runtime] def owner: Owner = current.get

  /** `body` with `o` as this thread's owner (null: none), restoring the
    * previous owner after. Does not close `o`. */
  def within[A](o: Owner)(body: => A): A = {
    val prior = current.get
    current.set(o)
    try body finally current.set(prior)
  }

  /** `body` under a new owner, closed when `body` returns or throws. */
  def owned[A](body: => A): A = {
    val o = new Owner
    try within(o)(body) finally o.close()
  }

  /** Eager local checkpoint of `df`, registered with this thread's owner.
    * Registered before the job that writes its blocks runs, so a failed or
    * cancelled pin is freed with the rest. */
  def pin(df: DataFrame): DataFrame = pinCount(df)._1

  /** [[pin]], with the row count of the pinned frame: the eager write is a
    * count job over every partition, so a caller that needs the count reads
    * it here instead of running a second job. */
  def pinCount(df: DataFrame): (DataFrame, Long) = {
    val out = df.localCheckpoint(eager = false)
    val rdds = pinsOf(out)
    Option(owner).foreach(o => rdds.foreach(o.pins.add))
    (out, rdds.map(_.count()).sum)
  }

  /** Free (non-blocking) the checkpoints `df` itself scans: the RDDs under
    * its own `LogicalRDD`s, so a pin another thread took meanwhile is never
    * claimed. Call it on a superseded pin, not on a frame derived from
    * pins that are still read. */
  def free(df: DataFrame): Unit = pinsOf(df).foreach { r =>
    GraftPins.release(r)
    Option(owner).foreach(_.pins.remove(r))
  }

  private def pinsOf(df: DataFrame): Seq[RDD[_]] =
    df.queryExecution.logical.collect { case r: LogicalRDD => r.rdd }

  /** `df` with every column re-aliased to itself: fresh attribute ids, so
    * frames derived from one source (or a checkpoint of it, which keeps
    * the ids) can be children of one union or join. */
  def fresh(df: DataFrame): DataFrame =
    df.select(df.columns.map(c => col(c).as(c)): _*)
}
