package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** TIME-RESPECTING reachability over a timestamped edge list — the
  * canonical temporal-graph query (Holme & Saramäki 2012): node v is
  * temporally reachable from a start s when a path s → … → v exists
  * whose edge timestamps are NON-DECREASING (information can only flow
  * forward in time). On the history graph this answers "from s's
  * observation at t₀, how far could its state have propagated?" — a
  * question the static BFS ([[Bfs]]) over-approximates, because it
  * happily chains a newer edge into an older one.
  *
  * Computes EARLIEST-ARRIVAL times (Wu et al. 2014, VLDB — earliest-
  * arrival temporal paths): frontier rounds carry (node, earliest
  * arrival); each round joins the frontier to edges with `edge_ts ≥
  * arrival`, takes min arrival per target, and keeps only targets whose
  * arrival IMPROVED — monotone, so it terminates without a visited-set
  * diameter bound. The join is an equi-join on the node key with the
  * time bound as a residual predicate; per-round lineage is cut like
  * every iterative operator here ([[graft.util.Checkpoints.cut]]).
  *
  * Arrival at a target = the edge's timestamp (state arrives when the
  * edge is observed); starts begin at `startTs`.
  */
object TemporalReach {

  /** Returns (node_id, arrival_ms): earliest arrival per temporally
    * reachable node. `edges` columns: (src, dst, edge_ms).
    *
    * Runtime adaptation (the `clusterLabelsStar` single-task-fallback
    * discipline): each distributed round costs several scheduler
    * round-trips (join + checkpoint + convergence probe) regardless of
    * frontier size — on a graph whose DISTINCT edge frame fits in one
    * task, the whole label-correcting fixpoint runs driver-locally in
    * round-synchronous order (bit-identical: same per-round min merge,
    * same maxHops semantics, and the earliest-arrival fixpoint is
    * unique regardless of work order). The probe `limit(n+1).collect()`
    * doubles as the edge fetch. Past the [[graft.util.DriverLane]]
    * bound, or with ids of no driver-lane type
    * ([[graft.util.DriverLane.idType]]), the distributed frontier loop
    * runs. */
  def earliestArrival(edges: DataFrame, starts: DataFrame,
      startTs: Long = Long.MinValue,
      maxHops: Option[Int] = None): DataFrame = {
    import graft.util.Checkpoints.cut
    import graft.util.DriverLane
    import org.apache.spark.sql.types.LongType
    val spark = edges.sparkSession
    // Canonical types BEFORE any collect: the local path reads edge_ms
    // with getLong and matches node ids by boxed equality, so an
    // IntegerType timestamp column or int/long-mixed endpoints would
    // CCE (or silently match nothing) where the distributed joins
    // coerce. Timestamps cast to long always; ids to the driver lane's
    // id type, or stay as they are when both endpoints share one.
    val srcT = edges.schema(0).dataType
    val dstT = edges.schema(1).dataType
    val laneT = DriverLane.idType(srcT, dstT)
    val idT = laneT.getOrElse {
      require(srcT == dstT, s"earliestArrival: src ($srcT) and dst " +
        s"($dstT) id types are not unifiable")
      srcT
    }
    val e0 = edges.toDF("src", "dst", "edge_ms")
      .select(col("src").cast(idT).as("src"),
        col("dst").cast(idT).as("dst"),
        col("edge_ms").cast(LongType).as("edge_ms"))
      .distinct()
    val startsC = starts.toDF("node_id")
      .select(col("node_id").cast(idT).as("node_id"))
    val probe = if (laneT.isEmpty) None else DriverLane.fetch(e0)
    if (probe.isDefined) {
      val ss = startsC.distinct().collect().map(_.get(0))
      return localEarliest(spark, e0, probe.get, ss, startTs, maxHops)
    }
    val e = e0.persist()
    var best = cut(startsC.distinct()
      .withColumn("arrival_ms", lit(startTs)))
    var frontier = best
    var level = 0
    var done = frontier.isEmpty
    while (!done) {
      level += 1
      if (maxHops.exists(level > _)) done = true
      else {
        val reached = e
          .join(frontier, e("src") === frontier("node_id") &&
            col("edge_ms") >= col("arrival_ms"))
          .groupBy(col("dst").as("node_id"))
          .agg(min(col("edge_ms")).as("arrival_ms"))
        // keep only strict improvements (first arrival, or earlier
        // than the best known) — monotone ⇒ fixpoint without a
        // diameter-sized visited structure
        val improved = cut(reached.as("r")
          .join(best.as("b"), col("r.node_id") === col("b.node_id"),
            "left_outer")
          .filter(col("b.node_id").isNull ||
            col("r.arrival_ms") < col("b.arrival_ms"))
          .select(col("r.node_id").as("node_id"),
            col("r.arrival_ms").as("arrival_ms")))
        if (improved.isEmpty) done = true
        else {
          best = cut(best.as("b")
            .join(improved.as("i"), col("b.node_id") === col("i.node_id"),
              "left_anti")
            .unionByName(improved))
          frontier = improved
        }
      }
    }
    e.unpersist()
    best
  }

  /** Driver-local round-synchronous label correction — the small-graph
    * path of [[earliestArrival]]. Per round: min candidate arrival per
    * target over the whole frontier, kept only on strict improvement —
    * exactly the distributed rounds' merge, so maxHops cuts at the
    * same place. Edges are bucketed by src and sorted by timestamp for
    * a binary-searched `ts ≥ arrival` suffix scan. */
  private def localEarliest(spark: org.apache.spark.sql.SparkSession,
      e0: DataFrame, edgeRows: Array[org.apache.spark.sql.Row],
      starts: Array[Any], startTs: Long,
      maxHops: Option[Int]): DataFrame = {
    val bySrc = new java.util.HashMap[Any, Array[(Long, Any)]]()
    edgeRows.groupBy(_.get(0)).foreach { case (s, rows) =>
      bySrc.put(s, rows.map(r => (r.getLong(2), r.get(1))).sortBy(_._1))
    }
    val best = new java.util.HashMap[Any, Long]()
    starts.foreach(s => best.put(s, startTs))
    var frontier: Map[Any, Long] = starts.map(_ -> startTs).toMap
    var level = 0
    while (frontier.nonEmpty && !maxHops.exists(level + 1 > _)) {
      level += 1
      val round = new java.util.HashMap[Any, Long]()
      frontier.foreach { case (v, a) =>
        val out = bySrc.get(v)
        if (out != null) {
          // first index with ts >= a (lower bound)
          var lo = 0; var hi = out.length
          while (lo < hi) {
            val mid = (lo + hi) >>> 1
            if (out(mid)._1 >= a) hi = mid else lo = mid + 1
          }
          var i = lo
          while (i < out.length) {
            val (ts, dst) = out(i)
            val cur = round.get(dst)
            if (!round.containsKey(dst) || ts < cur) round.put(dst, ts)
            i += 1
          }
        }
      }
      val improved = scala.collection.mutable.Map.empty[Any, Long]
      round.forEach { (v, a) =>
        if (!best.containsKey(v) || a < best.get(v)) {
          best.put(v, a); improved(v) = a
        }
      }
      frontier = improved.toMap
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("node_id",
        e0.schema("src").dataType),
      org.apache.spark.sql.types.StructField("arrival_ms",
        org.apache.spark.sql.types.LongType)))
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
    best.forEach { (v, a) =>
      rows.add(org.apache.spark.sql.Row(v, a)): Unit
    }
    spark.createDataFrame(rows, schema)
  }
}
