package graft.operators

import org.apache.spark.graphx.{Edge, Graph, VertexId}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.SnapshotGraph

/** GraphX view of a snapshot graph — for iterative graph analytics that
  * outgrow DataFrame loops (Pregel BFS, connected components). Node ids
  * are relabeled to dense VertexIds via the SeqID map (J5,
  * SeqID.hs:42-109) with the reverse lookup retained.
  *
  * The DataFrame BFS (graft.operators.Bfs) stays the default for plain
  * reachability; this view exists for Pregel-shaped algorithms and
  * matches the reference's FGL conversion (Analyze.hs:100-105).
  */
object GraphxOps {

  /** (graph, idMap): idMap columns (node_id STRING, seq_id LONG). */
  def toGraphx(g: SnapshotGraph): (Graph[String, Boolean], DataFrame) = {
    val ids = LinkOps.seqIds(
      g.nodes.select(col("node_id"))
        .union(g.links.select(col("source_node")))
        .union(g.links.select(col("dest_node"))))
      .toDF("node_id", "seq_id")
    val vertices = ids.select(col("seq_id"), col("node_id"))
      .rdd.map(r => (r.getLong(0): VertexId, r.getString(1)))
    val edges = g.links
      .join(ids.withColumnRenamed("node_id", "source_node")
        .withColumnRenamed("seq_id", "src_id"), Seq("source_node"))
      .join(ids.withColumnRenamed("node_id", "dest_node")
        .withColumnRenamed("seq_id", "dst_id"), Seq("dest_node"))
      .select(col("src_id"), col("dst_id"), col("is_directed"))
      .rdd.map(r => Edge(r.getLong(0), r.getLong(1), r.getBoolean(2)))
    (Graph(vertices, edges), ids)
  }

  /** Pregel min-hop BFS from `root` (undirected links traversed both
    * ways). Returns (node_id, hops) for reached vertices — the GraphX
    * twin of Bfs.reachable / the reference's spTree depth base
    * (Analyze.hs:136-151). */
  def pregelBfs(g: SnapshotGraph, root: String): DataFrame = {
    val spark = g.nodes.sparkSession
    import spark.implicits._
    val (graph, ids) = toGraphx(g)
    val rootId = ids.filter(col("node_id") === root)
      .select("seq_id").collect().headOption.map(_.getLong(0))
    rootId match {
      case None => Seq.empty[(String, Long)].toDF("node_id", "hops")
      case Some(rid) =>
        val init = graph.mapVertices((id, _) =>
          if (id == rid) 0.0 else Double.PositiveInfinity)
        val bfs = init.pregel(Double.PositiveInfinity)(
          (_, dist, msg) => math.min(dist, msg),
          triplet => {
            val out =
              if (triplet.srcAttr + 1.0 < triplet.dstAttr)
                Iterator((triplet.dstId, triplet.srcAttr + 1.0))
              else Iterator.empty
            val back =
              if (!triplet.attr && triplet.dstAttr + 1.0 < triplet.srcAttr)
                Iterator((triplet.srcId, triplet.dstAttr + 1.0))
              else Iterator.empty
            out ++ back
          },
          math.min)
        val dists = bfs.vertices
          .filter { case (_, d) => d.isFinite }
          .map { case (id, d) => (id, d.toLong) }
        val distDf = spark.createDataFrame(dists).toDF("seq_id", "hops")
        distDf.join(ids, Seq("seq_id")).select("node_id", "hops")
    }
  }

  /** PageRank over the snapshot (GraphX's standard implementation —
    * undirected links become two directed edges, like the traversal
    * view everywhere else). Returns (node_id, rank); ranks sum to ≈ the
    * vertex count. Iterative FP accumulation, so this is a spec-checked
    * analytic (like k-means), not an oracle-hashed one. */
  def pageRank(g: SnapshotGraph, numIter: Int = 10,
      resetProb: Double = 0.15): DataFrame = {
    val spark = g.nodes.sparkSession
    val (graph, ids) = toGraphx(g)
    // undirected edges traversed both ways: add the reverse of each
    // undirected edge before ranking
    val expanded = Graph(graph.vertices,
      graph.edges.flatMap(e =>
        if (e.attr) Iterator(e)
        else Iterator(e, Edge(e.dstId, e.srcId, e.attr))))
    val ranks = expanded.staticPageRank(numIter, resetProb).vertices
    spark.createDataFrame(ranks).toDF("seq_id", "rank")
      .join(ids, Seq("seq_id"))
      .select("node_id", "rank")
  }

  /** STRONGLY connected components over a DIRECTED string-id edge frame
    * (columns `src`, `dst`) — mutual-reachability groups, the directed
    * refinement of [[connectedComponents]]. Runs GraphX's built-in
    * FW-BW-peeling SCC over SeqID-relabeled vertices (dense longs, no
    * single-partition window); the returned `scc` label is the
    * lexicographically smallest node id in the component (SeqIDs are
    * assigned in sorted order, and GraphX labels with the min vertex
    * id). */
  def stronglyConnectedComponents(edges: DataFrame,
      numIter: Int = 64): DataFrame = {
    import graft.util.DriverLane
    val spark = edges.sparkSession
    // Runtime adaptation (clusterLabelsStar discipline): GraphX's
    // FW-BW peeling costs dozens of jobs; when the DISTINCT edge frame
    // fits the driver lane, an iterative driver-local Tarjan gives the
    // same labels (min member under Spark's value order) in one pass.
    // The bounded fetch doubles as the edge fetch. The Tarjan matches
    // and orders boxed values, so ids of no driver-lane type (floating,
    // binary, complex) keep the SeqID/GraphX path, which orders
    // through Spark itself.
    val idT = DriverLane.idType(edges.schema("src").dataType,
      edges.schema("dst").dataType)
    val onDriver = for {
      t <- idT
      e0 = edges.select(col("src").cast(t).as("src"),
        col("dst").cast(t).as("dst")).distinct()
      rows <- DriverLane.fetch(e0)
    } yield localScc(spark, e0, rows)
    if (onDriver.isDefined) return onDriver.get
    val ids = LinkOps.seqIds(
      edges.select(col("src")).union(edges.select(col("dst"))))
      .toDF("node_id", "seq_id")
    val er = edges
      .join(ids.withColumnRenamed("node_id", "src")
        .withColumnRenamed("seq_id", "src_id"), Seq("src"))
      .join(ids.withColumnRenamed("node_id", "dst")
        .withColumnRenamed("seq_id", "dst_id"), Seq("dst"))
      .select(col("src_id"), col("dst_id"))
      .rdd.map(r => Edge(r.getLong(0), r.getLong(1), ()))
    val g = Graph.fromEdges(er, ())
    val scc = g.stronglyConnectedComponents(numIter).vertices
      .map { case (v, c) => (v, c) }
    spark.createDataFrame(scc).toDF("seq_id", "comp_id")
      .join(ids, Seq("seq_id"))
      .join(ids.select(col("seq_id").as("comp_id"),
        col("node_id").as("scc")), Seq("comp_id"))
      .select("node_id", "scc")
  }

  /** Driver-local iterative Tarjan — the small-graph path of
    * [[stronglyConnectedComponents]]. Explicit stack (no recursion
    * depth limit); component label = min member under SPARK's value
    * ordering (strings as UTF-8 bytes, like UTF8String), so labels are
    * bit-identical to the SeqID/GraphX path. Vertex set = edge
    * endpoints, matching Graph.fromEdges. */
  private def localScc(spark: SparkSession, e0: DataFrame,
      edgeRows: Array[org.apache.spark.sql.Row]): DataFrame = {
    val ord = graft.util.DriverLane.order(e0.schema("src").dataType)
    val adj = new java.util.HashMap[Any, scala.collection.mutable.ArrayBuffer[Any]]()
    val nodes = new java.util.LinkedHashSet[Any]()
    edgeRows.foreach { r =>
      val u = r.get(0); val v = r.get(1)
      nodes.add(u): Unit; nodes.add(v): Unit
      adj.computeIfAbsent(u,
        _ => scala.collection.mutable.ArrayBuffer.empty[Any]) += v
    }
    // iterative Tarjan
    val index = new java.util.HashMap[Any, Int]()
    val lowlink = new java.util.HashMap[Any, Int]()
    val onStack = new java.util.HashSet[Any]()
    val stack = new java.util.ArrayDeque[Any]()
    val comp = new java.util.HashMap[Any, Any]() // node -> min member
    var counter = 0
    val it0 = nodes.iterator()
    while (it0.hasNext) {
      val root = it0.next()
      if (!index.containsKey(root)) {
        // work stack of (node, next-child-index)
        val work = new java.util.ArrayDeque[(Any, Int)]()
        work.push((root, 0))
        while (!work.isEmpty) {
          val (v, ci) = work.pop()
          if (ci == 0) {
            index.put(v, counter); lowlink.put(v, counter); counter += 1
            stack.push(v); onStack.add(v): Unit
          }
          val out = adj.get(v)
          var i = ci
          var descended = false
          while (!descended && out != null && i < out.length) {
            val w = out(i)
            if (!index.containsKey(w)) {
              work.push((v, i + 1)); work.push((w, 0)); descended = true
            } else {
              if (onStack.contains(w) && index.get(w) < lowlink.get(v))
                lowlink.put(v, index.get(w))
              i += 1
            }
          }
          if (!descended) {
            if (lowlink.get(v) == index.get(v)) {
              // pop the component rooted at v; label = min member
              val members = scala.collection.mutable.ArrayBuffer.empty[Any]
              var w: Any = null
              while (w != v) {
                w = stack.pop(); onStack.remove(w): Unit; members += w
              }
              val label = members.min(ord)
              members.foreach(m => comp.put(m, label))
            }
            // propagate lowlink to parent if any
            if (!work.isEmpty) {
              val (p, _) = work.peek()
              if (lowlink.get(v) < lowlink.get(p))
                lowlink.put(p, lowlink.get(v))
            }
          }
        }
      }
    }
    val dt = e0.schema("src").dataType
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("node_id", dt),
      org.apache.spark.sql.types.StructField("scc", dt)))
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
    val it1 = nodes.iterator()
    while (it1.hasNext) {
      val n = it1.next()
      rows.add(org.apache.spark.sql.Row(n, comp.get(n))): Unit
    }
    spark.createDataFrame(rows, schema)
  }

  /** Connected components over the snapshot (undirected view):
    * (node_id, component) where component = min node_id in the group's
    * SeqID order. */
  def connectedComponents(g: SnapshotGraph): DataFrame = {
    val spark = g.nodes.sparkSession
    val (graph, ids) = toGraphx(g)
    val cc = graph.connectedComponents().vertices
      .map { case (id, comp) => (id, comp) }
    spark.createDataFrame(cc).toDF("seq_id", "comp_id")
      .join(ids, Seq("seq_id"))
      .join(ids.select(col("seq_id").as("comp_id"),
        col("node_id").as("component")), Seq("comp_id"))
      .select("node_id", "component")
  }
}
