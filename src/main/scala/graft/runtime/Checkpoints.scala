package graft.runtime

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Generational cleanup for iterative-loop `localCheckpoint`s.
  *
  * Every round of a DataFrame loop (star contraction, Lloyd iteration,
  * closure growth, max-product propagation) checkpoints its state to
  * truncate lineage — but checkpoint blocks are NON-evictable and the
  * ContextCleaner only frees them after a driver GC notices the dead
  * reference. On a 16M-edge NIL graph (1.2M-page soak, 8 GiB heap) the
  * accumulated rounds exhausted execution memory before any cleanup ran.
  * Tracking the RDD ids each checkpoint creates lets the loop free the
  * superseded round explicitly, bounding live state to TWO rounds.
  */
object Checkpoints {

  /** Eager localCheckpoint; returns the new frame plus the persisted RDD
    * ids it created (the ids to free once the round is superseded). The
    * ids are the checkpoint's own — the RDDs under the `LogicalRDD` the
    * new frame scans — not a session-wide before/after diff, which would
    * also claim a checkpoint another thread took meanwhile (concurrent
    * pipeline stages) and free blocks that thread still reads. */
  def tracked(df: DataFrame): (DataFrame, Set[Int]) = {
    val out = df.localCheckpoint() // eager
    (out, out.queryExecution.logical.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
    }.toSet)
  }

  /** Unpersist the blocks of a superseded checkpoint (non-blocking). */
  def free(df: DataFrame, ids: Set[Int]): Unit = {
    val sc = df.sparkSession.sparkContext
    ids.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(false)))
  }

  /** `df` with every column re-aliased to itself: fresh attribute ids, so
    * frames derived from one source (or a checkpoint of it, which keeps
    * the ids) can be children of one union or join. */
  def fresh(df: DataFrame): DataFrame =
    df.select(df.columns.map(c => col(c).as(c)): _*)
}
