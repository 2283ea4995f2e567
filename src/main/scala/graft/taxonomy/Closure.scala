package graft.taxonomy

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.runtime.Checkpoints.{free, pin, pinCount}

/** Transitive closure over a DAG edge table, as an iterative DataFrame join
  * fixpoint (reference: memoized ancestor walk `impl/util/base_graph.py:76-83`
  * / `impl/dbpedia/ontology.py:152-168`, re-expressed relationally).
  *
  * Semantics: input `edges(node, anc)` = direct parent pairs; output all
  * (node, ancestor) pairs reachable via 1+ hops. Each round extends the
  * frontier by one hop and anti-joins out already-known pairs, so work per
  * round is proportional to NEW pairs only. A pin per round truncates
  * plan lineage — without it the plan tree doubles every iteration
  * and Catalyst analysis time dominates after ~10 rounds.
  *
  * Scale: intended for taxonomy-sized graphs (<=10^7 edges, depth <=30 —
  * DBpedia's ontology is ~800 types, depth ~8). Rounds = graph depth; each
  * round is one shuffle on `anc`. Not for web-scale general graphs (use
  * [[graft.canonical.ConnectedComponents]]'s star-contraction style there).
  */
object Closure {

  def transitiveClosure(edges: DataFrame,
                        report: graft.runtime.LoopReport = null): DataFrame = {
    val e = pin(edges.select(col("node"), col("anc")).distinct())
    var closure = e
    var frontier = e
    var done = false
    var rounds = 0
    while (!done && rounds < 64) {
      val next = frontier.alias("f")
        .join(e.alias("e"), col("f.anc") === col("e.node"))
        .select(col("f.node").as("node"), col("e.anc").as("anc"))
        .distinct()
      val (fresh, nFresh) =
        pinCount(next.join(closure, Seq("node", "anc"), "left_anti"))
      if (nFresh == 0) { free(fresh); done = true }
      else {
        val nextClosure = pin(closure.unionByName(fresh))
        // superseded generations: the old closure copy and the frontier
        // BEFORE last (fresh itself stays live as the new frontier); in
        // the first round both are the seed, which stays live
        if (rounds > 0) { free(closure); free(frontier) }
        closure = nextClosure
        frontier = fresh
      }
      rounds += 1
    }
    if (report != null) { report.rounds = rounds; report.converged = done }
    closure
  }
}
