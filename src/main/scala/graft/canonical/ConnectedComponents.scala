package graft.canonical

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Connected components in pure DataFrame space via alternating
  * large-star / small-star contraction (Kiveris et al., "Connected Components
  * in MapReduce and Beyond", SoCC'14) — the scalable replacement for the
  * reference's driver-side `nx.connected_components`
  * (`impl/subject_entity/entity_disambiguation/matching/greedy_clustering.py:37-39`).
  *
  * Why this algorithm at 10^12-doc scale: label propagation needs
  * O(diameter) shuffle rounds; star contraction converges in O(log n) rounds
  * regardless of diameter, and every round is two shuffles (a window-min per
  * endpoint). No RDDs, no GraphFrames — windows + joins only, so AQE can
  * coalesce/skew-split each round. A pin per round truncates lineage
  * (mandatory for iterative DataFrame algorithms).
  *
  * Determinism: component id = minimum node id in the component (total order
  * on the id type), so output is independent of partitioning and
  * parallelism — the property the north rule's NIL-id allocation needs
  * (reference allocates sequential ids, `entity_disambiguation/__init__.py:26-33`,
  * which is order-DEPENDENT; we derive ids from content instead).
  */
object ConnectedComponents {

  import graft.runtime.Checkpoints.{free, fresh, pinCount}

  /** Edge-count bound for the driver fast path (conf `graft.cc.driverMax`,
    * 0 disables): below it the symmetrized edge set is BOUNDED — a few MB —
    * and the O(log n)-round distributed loop's fixed per-round job costs
    * (2 window shuffles + distinct + checkpoint + convergence check) dwarf
    * a driver-side union-find over the collected pairs. Many CC call sites
    * are verified-pair or taxonomy-scale graphs (dedup clusterKeep: dozens
    * of pairs; g9: hundreds of edges) that paid seconds of loop scaffolding
    * for microseconds of work. The count is free: it is the row count of
    * the symmetrized set's pin, which the loop takes before round 1. Same
    * "broadcast-sized by design" rule as the ValidTags driver fixpoint. */
  val DriverMaxDefault = 65536L

  private def driverMax(spark: org.apache.spark.sql.SparkSession): Long =
    spark.conf.get("graft.cc.driverMax", DriverMaxDefault.toString).toLong

  /** edges(src, dst): undirected pairs (any orientation, self-loops ok).
    * Returns (node, component) for every node appearing in `edges`. */
  def run(edges: DataFrame): DataFrame = {
    // the pin's row count SHORT-CIRCUITS the convergence check below (and
    // gates the driver fast path)
    var (e, eCount) = pinCount(symmetrize(edges))
    val spark = edges.sparkSession
    val dt = e.schema("src").dataType
    val driverable = eCount <= driverMax(spark) &&
      e.schema("dst").dataType == dt &&
      (dt == org.apache.spark.sql.types.StringType ||
       dt == org.apache.spark.sql.types.LongType ||
       dt == org.apache.spark.sql.types.IntegerType)
    if (driverable) {
      val out = runDriver(spark, e, dt)
      free(e)
      return out
    }
    var converged = false
    var iter = 0
    while (!converged && iter < 50) {
      val (next, nextCount) = pinCount(smallStar(largeStar(e)))
      // Converged when the (directed, deduped) edge set is unchanged —
      // both sides are distinct sets, so the edge sets are equal iff the
      // counts match AND the symmetric difference (count==1 groups of the
      // union) is empty. The count gate skips the union+aggregate job on
      // every round that still shrinks the edge set — the expensive check
      // runs only when equality is actually possible (typically once, on
      // the final round). Fresh aliases keep the union children's exprIds
      // disjoint.
      converged = nextCount == eCount &&
        fresh(next).unionByName(fresh(e))
          .groupBy("src", "dst").agg(count(lit(1)).as("c"))
          .filter(col("c") === 1).isEmpty
      // the previous round's checkpoint is now unreachable — free it so a
      // log-round loop holds TWO rounds of state, not all of them
      free(e)
      e = next; eCount = nextCount
      iter += 1
    }
    // e is now a star forest: src -> root. Roots have no outgoing edge; add
    // the (root, root) self-mapping.
    e.select(col("src").as("node"), col("dst").as("component"))
      .unionByName(
        e.select(col("dst").as("node"), col("dst").as("component")))
      .groupBy("node").agg(min("component").as("component"))
  }

  /** Driver union-find over the (bounded, checkpointed) symmetrized edge
    * set — same output contract as the loop: component = min node id of
    * the component, one row per node appearing in the (self-loop-free)
    * edge set. Deterministic under any input order. */
  private def runDriver(spark: org.apache.spark.sql.SparkSession,
                        e: DataFrame,
                        dt: org.apache.spark.sql.types.DataType): DataFrame = {
    import scala.collection.mutable
    val pairs = e.collect().map(r => (r.get(0), r.get(1)))
    val parent = mutable.HashMap.empty[Any, Any]
    def find(x: Any): Any = {
      var root = x
      while (parent.getOrElse(root, root) != root)
        root = parent.getOrElse(root, root)
      var cur = x // path compression
      while (cur != root) { val nxt = parent(cur); parent(cur) = root; cur = nxt }
      root
    }
    pairs.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(ra) = rb
    }
    val lt: (Any, Any) => Boolean = dt match {
      case org.apache.spark.sql.types.StringType =>
        (a, b) => a.asInstanceOf[String] < b.asInstanceOf[String]
      case org.apache.spark.sql.types.LongType =>
        (a, b) => a.asInstanceOf[Long] < b.asInstanceOf[Long]
      case _ => (a, b) => a.asInstanceOf[Int] < b.asInstanceOf[Int]
    }
    val minOf = mutable.HashMap.empty[Any, Any]
    val nodes = parent.keys.toArray
    nodes.foreach { n =>
      val r = find(n)
      minOf.get(r) match {
        case Some(m) => if (lt(n, m)) minOf(r) = n
        case None => minOf(r) = n
      }
    }
    val assign = nodes.map(n => (n, minOf(find(n))))
    import spark.implicits._
    dt match {
      case org.apache.spark.sql.types.StringType =>
        assign.toSeq.map(p => (p._1.asInstanceOf[String],
                               p._2.asInstanceOf[String]))
          .toDF("node", "component")
      case org.apache.spark.sql.types.LongType =>
        assign.toSeq.map(p => (p._1.asInstanceOf[Long],
                               p._2.asInstanceOf[Long]))
          .toDF("node", "component")
      case _ =>
        assign.toSeq.map(p => (p._1.asInstanceOf[Int],
                               p._2.asInstanceOf[Int]))
          .toDF("node", "component")
    }
  }

  private def symmetrize(edges: DataFrame): DataFrame =
    edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst"))
      .distinct()

  /** For each node u: m = min(N(u) ∪ {u}); link every neighbor v > u to m.
    * Window-min instead of groupBy+collect keeps per-group state O(1) even
    * for web-scale hub nodes (no collect_list blowup on hot aliases).
    * No pre-distinct: duplicate input edges cannot change the window min,
    * and the single post-distinct dedups the output — one shuffle saved
    * per round. */
  private def largeStar(e: DataFrame): DataFrame = {
    val bidir = e.unionByName(
      e.select(col("dst").as("src"), col("src").as("dst")))
    val w = Window.partitionBy("src")
    // no output distinct: duplicates (bounded 2x by the bidir expansion)
    // cannot change smallStar's window min, and smallStar's final distinct
    // dedups — saves one shuffle per round
    bidir
      .withColumn("m", least(min("dst").over(w), col("src")))
      .filter(col("dst") > col("src") && col("dst") =!= col("m"))
      .select(col("dst").as("src"), col("m").as("dst"))
  }

  /** Orient edges high→low; for each node u: m = min smaller-neighbor; link
    * u and all its smaller neighbors to m. Same one-distinct discipline. */
  private def smallStar(e: DataFrame): DataFrame = {
    val oriented = e.select(
      greatest(col("src"), col("dst")).as("src"),
      least(col("src"), col("dst")).as("dst"))
    val w = Window.partitionBy("src")
    val withMin = oriented.withColumn("m", min("dst").over(w))
    withMin.select(col("dst").as("src"), col("m").as("dst"))
      .unionByName(withMin.select(col("src"), col("m").as("dst")))
      .filter(col("src") =!= col("dst"))
      .distinct()
  }
}
