package graft.canonical

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.runtime.Checkpoints.pin

/** Bottom-up union-find clustering over an ordered edge fold (G11 + W5;
  * reference: `/root/reference/impl/subject_entity/entity_disambiguation/matching/bottomup_clustering.py:33-83`).
  *
  * The reference folds ALL candidate edges sequentially on one machine:
  * mention—entity (ME) edges assign an entity to a mention's cluster if it
  * has none; mention—mention (MM) edges merge the two clusters (smaller into
  * bigger) unless BOTH already carry an entity; finally clusters sharing the
  * same entity are collapsed (`_collapse_clusters`, :72-83).
  *
  * Why this distributes despite being an "inherently sequential" fold
  * (SURVEY §2.7 G11): cluster state is only ever shared through MM merges,
  * so two edges in different MM-connected components act on disjoint cluster
  * objects and COMMUTE. The global fold is therefore equivalent to an
  * independent fold per MM component, each processing its edges in the
  * global order restricted to the component. We compute MM components with
  * the scalable large-star/small-star [[ConnectedComponents]] (one extra
  * O(log n)-round pass), then run the reference's exact fold per component
  * inside `flatMapGroups` — per-task state is ∝ component size, which the
  * alignment-graph construction already bounds (the same discipline G9/G10
  * rely on). The final same-entity collapse is a plain groupBy.
  *
  * Edge order: the reference sorts by first endpoint DESCENDING only
  * (`bottomup_clustering.py:69`), leaving ties to Python dict/list iteration
  * order. We pin the documented deterministic total order
  * (u desc, ME before MM, v asc, score desc) so output is independent of
  * partitioning — same substitution W4 makes elsewhere.
  *
  * ME selection: per mention, the argmax-score candidate above
  * `meThreshold` (:59-65); ties broken by min entity id (the reference's
  * `max` is dict-order-dependent).
  */
object BottomUpCluster {

  private case class Edge(u: String, isMe: Boolean, v: String, score: Double)

  /** The reference fold over one MM component's edges (already in global
    * order). `mentions` = every mention holding a singleton cluster at init
    * (`bottomup_clustering.py:56-61`). Returns (mention, entOrNull,
    * foldClusterId = min mention of its fold cluster). Pure + deterministic. */
  private[canonical] def foldComponent(
      mentions: Seq[String], edges: Seq[Edge]): Seq[(String, String, String)] = {
    import scala.collection.mutable
    final class Cluster(val members: mutable.Set[String], var entity: String)
    val byMid = mutable.Map.empty[String, Cluster]
    mentions.foreach(m => byMid(m) = new Cluster(mutable.Set(m), null))
    edges.foreach { e =>
      if (e.isMe) {
        val c = byMid(e.u)
        if (c.entity == null) c.entity = e.v
      } else {
        var cOne = byMid(e.u); var cTwo = byMid(e.v)
        if ((cOne ne cTwo) && (cOne.entity == null || cTwo.entity == null)) {
          if (cOne.members.size < cTwo.members.size) {
            val t = cOne; cOne = cTwo; cTwo = t // merge smaller into bigger
          }
          cOne.members ++= cTwo.members
          if (cOne.entity == null) cOne.entity = cTwo.entity
          cTwo.members.foreach(m => byMid(m) = cOne)
        }
      }
    }
    mentions.map { m =>
      val c = byMid(m)
      (m, c.entity, c.members.min)
    }
  }

  /** BottomUp mode over a built alignment graph, and its one entry: the
    * pipeline's BottomUp mode calls it. `edges` is
    * [[AlignmentGraph.buildScored]] over `mentions` under the same
    * `hotKeys` and `mmThreshold` (so every MM edge clears `mmThreshold`).
    * The MM components come in closed form — same-key cliques ARE the
    * components ([[AlignmentGraph.mmComponents]]), so no CC loop runs —
    * and the fold still consumes the full ordered MM edge list. Returns
    * the assignment (mention_id, ent | null, cluster_id) of every mention
    * with a scored candidate or an MM edge, and the (node, component)
    * table of the MM-only graph (bare mention ids) the fold ran per
    * component, which the pipeline records as delta state. */
  def clusterGraph(mentions: DataFrame, edges: DataFrame, hotKeys: DataFrame,
                   meThreshold: Double, mmThreshold: Double)
      : (DataFrame, DataFrame) = {
    import AlignmentGraph.{isEntityNode, isMentionNode, nodeId}
    val mmCc = pin(AlignmentGraph.mmComponents(mentions, mmThreshold, hotKeys))
    val me = edges.filter(isEntityNode(col("dst")))
      .select(nodeId(col("src")).as("mention_id"), nodeId(col("dst")).as("ent"),
              col("weight").as("score"))
    val mm = edges.filter(isMentionNode(col("dst")))
      .select(nodeId(col("src")).as("m1"), nodeId(col("dst")).as("m2"),
              col("weight").as("score"))
    (cluster(me, mm, mmThreshold, meThreshold, ccIn = Some(mmCc)), mmCc)
  }

  /** meCandidates(mention_id, ent, score), mmCandidates(m1, m2, score) →
    * (mention_id, ent nullable, cluster_id). cluster_id = min mention id of
    * the final cluster (clusters sharing an entity are collapsed globally,
    * `bottomup_clustering.py:72-83`). The mention domain is every mention
    * seen in either candidate set (:56-61).
    *
    * `ccIn`: precomputed connected components (node, component) of the
    * THRESHOLDED mm edge set — [[clusterGraph]] passes the closed-form
    * components it also returns, so no CC loop runs. */
  def cluster(meCandidates: DataFrame, mmCandidates: DataFrame,
              mmThreshold: Double, meThreshold: Double,
              ccIn: Option[DataFrame] = None): DataFrame = {
    val spark = meCandidates.sparkSession
    import spark.implicits._

    // pair-sized; pinned when WE run CC over it (two consumers: the CC
    // loop and the fold's mm rows) — a caller-supplied ccIn leaves one
    // consumer and needs no pin
    val mmPlan = mmCandidates.filter(col("score") > mmThreshold)
      .select(col("m1"), col("m2"), col("score"))
    val mm = if (ccIn.isEmpty) pin(mmPlan) else mmPlan
    // per-mention best entity above threshold (argmax score, tie → min ent)
    val me = meCandidates.filter(col("score") > meThreshold)
      .withColumn("rn", row_number().over(
        Window.partitionBy("mention_id")
          .orderBy(col("score").desc, col("ent").asc)))
      .filter(col("rn") === 1)
      .select(col("mention_id"), col("ent"), col("score"))

    val domain = meCandidates.select(col("mention_id").as("m"))
      .unionByName(mmCandidates.select(col("m1").as("m")))
      .unionByName(mmCandidates.select(col("m2").as("m")))
      .distinct()

    // MM components partition the fold. CC drops isolated nodes (its
    // symmetrize strips self-loops), so mentions with no surviving MM edge
    // fall back to themselves as a singleton component via the left join.
    val cc = ccIn.getOrElse(ConnectedComponents.run(
      mm.select(col("m1").as("src"), col("m2").as("dst"))))
    // mention-sized; pinned — THREE fold branches (mention domain, ME
    // rows, MM rows) consume it, and each would otherwise re-run the CC
    // output join (and through it the whole candidate subtree)
    val comp = pin(domain
      .join(cc, domain("m") === cc("node"), "left")
      .select(col("m").as("node"),
              coalesce(col("component"), col("m")).as("component")))

    val mentionsByComp = comp
      .as[(String, String)].map(r => (r._2, r._1, true, "", 0.0))
    val meByComp = me
      .join(comp, me("mention_id") === comp("node"))
      .select(col("component"), col("mention_id"), lit(true),
              col("ent"), col("score"))
      .as[(String, String, Boolean, String, Double)]
    val mmByComp = mm
      .join(comp, mm("m1") === comp("node"))
      .select(col("component"), col("m1"), lit(false), col("m2"),
              col("score"))
      .as[(String, String, Boolean, String, Double)]

    // rows: (component, u, isMe, v, score); mention-domain rows are tagged
    // isMe=true with v="" (no real ME edge has an empty entity id)
    // mention-sized; pinned — the entity-collapse aggregate AND the
    // final join both consume it, and the fold (groupByKey +
    // flatMapGroups over the whole candidate union) is the most
    // expensive stage of this operator
    val folded = pin(mentionsByComp.union(meByComp).union(mmByComp)
      .groupByKey(_._1)
      .flatMapGroups { (_: String, rows: Iterator[(String, String, Boolean, String, Double)]) =>
        val all = rows.toSeq
        val mentions = all.collect { case (_, m, true, "", _) => m }.distinct
        val edges = all.collect {
          case (_, u, isMe, v, sc) if v.nonEmpty || !isMe =>
            Edge(u, isMe, v, sc)
        }.sortBy(e => (e.u, !e.isMe, e.v, -e.score))(
          Ordering.Tuple4(Ordering.String.reverse, Ordering.Boolean,
                          Ordering.String, Ordering.Double.TotalOrdering))
        foldComponent(mentions, edges)
      }
      .toDF("mention_id", "ent", "fold_cluster"))

    // global collapse: clusters with the same (non-null) entity merge
    val entMin = folded.filter(col("ent").isNotNull)
      .groupBy("ent").agg(min("mention_id").as("ent_cluster"))
    folded.join(entMin, Seq("ent"), "left")
      .select(col("mention_id"), col("ent"),
              coalesce(col("ent_cluster"), col("fold_cluster"))
                .as("cluster_id"))
  }
}
