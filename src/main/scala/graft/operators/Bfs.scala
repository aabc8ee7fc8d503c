package graft.operators

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Distributed min-hop BFS over a directed edge list — the engine's
  * reachability restriction (the reference's Gremlin
  * `repeat(out("finds"))` traversal, Spider.hs:284-287) and the base of
  * DODAG depth analytics (Analyze.hs:136-151).
  *
  * Iterative frontier expansion: each round is one join of the (distinct,
  * persisted) edge list against the current frontier plus an anti-join
  * against the visited set — all distributed, no driver-side adjacency.
  * Frontiers are localCheckpointed each round to cut lineage growth (the
  * classic iterative-Spark trap). Rounds = graph diameter, each round's
  * shuffle is proportional to the frontier, not the graph.
  *
  * At 100 TB the edge list derived from findings is the distilled
  * adjacency (distinct node pairs), orders of magnitude smaller than the
  * findings table; it is persisted once and reused across rounds.
  */
object Bfs {

  /** Returns (node_id, hops): minimum hop distance from any start node,
    * following src→dst edges. Starts not present in `edges` still appear
    * at hops 0. Per-round lineage cuts are
    * [[graft.util.Checkpoints.cut]]s.
    *
    * Runtime adaptation (the `TemporalReach.earliestArrival` /
    * `GraphxOps.clusterLabelsStar` discipline): each distributed round
    * costs ~2 scheduler round-trips (frontier join + convergence probe)
    * REGARDLESS of frontier size — a fixed per-diameter tax that
    * dominates on small graphs at every cluster scale. When the DISTINCT
    * edge frame fits in one task (`limit(n+1).collect()` probe, which
    * doubles as the edge fetch) and the start set does too, the whole
    * BFS runs driver-locally in round-synchronous order ([[localHops]])
    * — bit-identical output: same level-synchronous expansion, same
    * maxHops cut, and min-hop labels are unique regardless of work
    * order. Past the [[graft.util.DriverLane]] bound, or when the id
    * columns' types have no driver-lane id type
    * ([[graft.util.DriverLane.idType]]), the distributed frontier loop
    * runs. */
  def reachable(edges: DataFrame, starts: DataFrame,
      maxHops: Option[Int] = None): DataFrame = {
    import graft.util.Checkpoints.cut
    import graft.util.DriverLane
    // Canonical id type BEFORE any collect (see DriverLane.idType).
    val idT = DriverLane.idType(edges.schema(0).dataType,
      edges.schema(1).dataType, starts.schema(0).dataType)
    val e0raw = edges.toDF("src", "dst")
    val e0 = idT.fold(e0raw)(t => e0raw.select(
      col("src").cast(t).as("src"), col("dst").cast(t).as("dst")))
      .distinct()
    val startsC = idT.fold(starts.toDF("node_id"))(t =>
      starts.toDF("node_id").select(col("node_id").cast(t).as("node_id")))
    val onDriver = for (t <- idT; es <- DriverLane.fetch(e0);
        ss <- DriverLane.fetch(startsC.distinct())) yield {
      val hops = localHops(es.iterator.map(r => (r.get(0), r.get(1))),
        ss.map(_.get(0)), maxHops)
      val rows = new java.util.ArrayList[Row](hops.size)
      hops.forEach((v, h) => rows.add(Row(v, h)): Unit)
      edges.sparkSession.createDataFrame(rows, StructType(Seq(
        StructField("node_id", t),
        StructField("hops", IntegerType, nullable = false))))
    }
    if (onDriver.isDefined) return onDriver.get
    val e = e0.persist()
    var visited = cut(startsC.distinct()
      .withColumn("hops", lit(0)))
    var frontier = visited
    var level = 0
    var done = frontier.isEmpty
    while (!done) {
      level += 1
      if (maxHops.exists(level > _)) done = true
      else {
        val next = cut(e
          .join(frontier, e("src") === frontier("node_id"))
          .select(col("dst").as("node_id")).distinct()
          .join(visited, Seq("node_id"), "left_anti")
          .withColumn("hops", lit(level)))
        if (next.isEmpty) done = true
        else {
          visited = cut(visited.union(next))
          frontier = next
        }
      }
    }
    e.unpersist()
    visited
  }

  /** Driver-local level-synchronous BFS — the small-graph path of
    * [[reachable]] and of `GetSnapshot`'s driver-sized lane. Identical
    * semantics to the distributed loop: distinct starts at hops 0, each
    * level's newly reached set = out-neighbors of the frontier minus
    * everything already labeled, maxHops cuts after that many expansion
    * rounds, and an edge from a null id is never followed (a null key
    * joins nothing). Ids match by boxed equality, so callers pass them
    * in one `DriverLane.idType`. Duplicate edges are harmless. Returns each
    * labeled node with its hop count. */
  private[graft] def localHops(edges: Iterator[(Any, Any)],
      starts: Iterable[Any],
      maxHops: Option[Int]): java.util.LinkedHashMap[Any, Int] = {
    val adj = new java.util.HashMap[Any, ArrayBuffer[Any]]()
    edges.foreach { case (s, d) =>
      if (s != null) adj.computeIfAbsent(s, _ => ArrayBuffer.empty[Any]) += d
    }
    val hops = new java.util.LinkedHashMap[Any, Int]()
    starts.foreach { s => if (!hops.containsKey(s)) hops.put(s, 0) }
    var frontier: Array[Any] = hops.keySet.asScala.toArray[Any]
    var level = 0
    while (frontier.nonEmpty && !maxHops.exists(level + 1 > _)) {
      level += 1
      val next = new java.util.LinkedHashMap[Any, Unit]()
      frontier.foreach { v =>
        val out = adj.get(v)
        if (out != null) out.foreach { d =>
          if (!hops.containsKey(d) && !next.containsKey(d)) next.put(d, ())
        }
      }
      frontier = next.keySet.asScala.toArray[Any]
      frontier.foreach(hops.put(_, level))
    }
    hops
  }
}
