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
    * ids it created (the ids to free once the round is superseded). */
  def tracked(df: DataFrame): (DataFrame, Set[Int]) = {
    val sc = df.sparkSession.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    val out = df.localCheckpoint() // eager
    (out, sc.getPersistentRDDs.keySet.toSet -- before)
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
