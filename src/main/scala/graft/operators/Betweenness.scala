package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

/** Betweenness centrality (Brandes 2001), unweighted / undirected —
  * the shortest-path brokerage notion the degree/closeness/harmonic
  * family cannot see (a bridge node between two communities has low
  * degree but top betweenness). Values follow the unordered-pair
  * convention (each {s,t} pair counted once — the directed-sweep sum
  * halved), matching networkx `betweenness_centrality(normalized=
  * False)`.
  *
  * Exact betweenness is |V| single-source sweeps — at 100 TB that is
  * not a plan, it is a benchmark suite; the standard estimator samples
  * sources (Brandes & Pich 2007) and extrapolates by |V|/k. So:
  * [[exact]] is the driver-local small-graph lane (the repo's
  * `limit(n+1).collect()` probe discipline — audit graphs, spec
  * graphs, the RPL event graph); [[sampled]] is the distributed lane —
  * per sampled source, a forward BFS accumulating shortest-path counts
  * (σ) level by level, then Brandes' backward dependency accumulation
  * (δ) level by level, all as per-level joins with lineage cuts, never
  * materializing anything bigger than a frontier. Deterministic
  * source pick: the k smallest md5(id) — same sample on any
  * partitioning.
  */
object Betweenness {

  private def symmetrized(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame =
    edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
      .unionByName(edges.select(col(dstCol).as("u"), col(srcCol).as("v")))
      .filter(col("u") =!= col("v")).distinct()

  /** Driver-local exact Brandes over a collected symmetric edge list. */
  private def localBrandes(sym: Array[(Any, Any)]): Map[Any, Double] = {
    val adj = sym.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2) }
    val nodes = (sym.map(_._1) ++ sym.map(_._2)).distinct
    val cb = scala.collection.mutable.Map[Any, Double]()
      .withDefaultValue(0.0)
    for (s <- nodes) {
      val stack = scala.collection.mutable.ArrayBuffer[Any]()
      val pred = scala.collection.mutable.Map[Any, List[Any]]()
        .withDefaultValue(Nil)
      val sigma = scala.collection.mutable.Map[Any, Double]()
        .withDefaultValue(0.0)
      val dist = scala.collection.mutable.Map[Any, Int]()
      sigma(s) = 1.0; dist(s) = 0
      val queue = scala.collection.mutable.Queue[Any](s)
      while (queue.nonEmpty) {
        val v = queue.dequeue()
        stack += v
        for (w <- adj.getOrElse(v, Array.empty[Any])) {
          if (!dist.contains(w)) {
            dist(w) = dist(v) + 1; queue.enqueue(w)
          }
          if (dist(w) == dist(v) + 1) {
            sigma(w) += sigma(v); pred(w) = v :: pred(w)
          }
        }
      }
      val delta = scala.collection.mutable.Map[Any, Double]()
        .withDefaultValue(0.0)
      for (w <- stack.reverseIterator) {
        for (v <- pred(w))
          delta(v) += sigma(v) / sigma(w) * (1.0 + delta(w))
        if (w != s) cb(w) += delta(w)
      }
    }
    nodes.map(n => n -> cb(n) / 2.0).toMap
  }

  /** Exact betweenness — driver-local lane only: refuses graphs whose
    * distinct symmetric edge list exceeds the [[graft.util.DriverLane]]
    * bound (exact at scale is |V| BFS sweeps; use [[sampled]]). Returns
    * (id, betweenness DOUBLE). */
  def exact(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    val sym = symmetrized(edges, srcCol, dstCol)
    val probe = graft.util.DriverLane.fetch(sym)
    require(probe.isDefined,
      s"exact betweenness is all-sources Brandes — graph exceeds the " +
        s"${graft.util.DriverLane.rows}-edge local bound; use sampled()")
    val cb = localBrandes(probe.get.map(r => (r.get(0), r.get(1))))
    val spark = edges.sparkSession
    val idField = sym.schema.fields(0).copy(name = "id")
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        cb.toSeq.map { case (id, b) => Row(id, b) }, 1),
      StructType(Seq(idField, StructField("betweenness", DoubleType))))
  }

  /** Sampled distributed betweenness (Brandes & Pich 2007): the k
    * deterministically-chosen sources (smallest md5(id)) each run a
    * forward σ-accumulating BFS and a backward δ-accumulation, as
    * per-level joins against the symmetric edge frame with a lineage
    * cut per level. `extrapolate = true` scales by |V|/k into an
    * estimate of the exact value; with k = |V| and extrapolate off the
    * result IS exact (spec-pinned against [[exact]]). Frontier frames
    * stay (id, σ)-sized; the edge frame is the only big structure and
    * it is reused (persisted) across sources and levels. */
  def sampled(edges: DataFrame, nSources: Int, srcCol: String = "src",
      dstCol: String = "dst", extrapolate: Boolean = true): DataFrame = {
    require(nSources >= 1, s"bad nSources=$nSources")
    val sym = symmetrized(edges, srcCol, dstCol).persist()
    val nodes = sym.select(col("u").as("id")).distinct().persist()
    val nV = nodes.count()
    val k = math.min(nSources.toLong, nV).toInt
    val sources = nodes
      .orderBy(md5(col("id").cast("string")), col("id"))
      .limit(k).collect().map(_.get(0))
    import graft.util.Checkpoints.free
    var acc = nodes.select(col("id"), lit(0.0).as("delta"))
      .localCheckpoint(true)
    for (s <- sources) {
      // forward: per-level (id, sigma); dist via the visited union
      val lvl0 = nodes.filter(col("id") === lit(s))
        .select(col("id"), lit(1.0).as("sigma")).localCheckpoint(true)
      var levels = List(lvl0)
      var visited = lvl0.select(col("id")).localCheckpoint(true)
      var retiredVisited = List.empty[org.apache.spark.sql.DataFrame]
      var frontier = lvl0
      var done = frontier.isEmpty
      while (!done) {
        val nxt = frontier.join(sym, col("id") === col("u"))
          .select(col("v").as("id"), col("sigma"))
          .join(visited, Seq("id"), "left_anti")
          .groupBy(col("id")).agg(sum(col("sigma")).as("sigma"))
          .localCheckpoint(true)
        if (nxt.isEmpty) { free(nxt); done = true }
        else {
          levels = nxt :: levels // deepest first
          val grown = visited.unionByName(nxt.select(col("id")))
            .localCheckpoint(true)
          // superseded visited frames: retire, free at source end
          // (frontier/levels still reference their blocks' siblings)
          retiredVisited ::= visited
          visited = grown
          frontier = nxt
        }
      }
      // backward: δ(v) = Σ_{w: dist w = dist v + 1, v~w} σv/σw (1+δw);
      // `levels` is deepest-first, so level i's successors are i−1.
      // Each node lives in EXACTLY ONE level, so the source's total
      // delta is the UNION of per-level deltas — accumulated into
      // `acc` ONCE per source (not once per level, which checkpointed
      // a full-node frame O(sources × depth) times and never released
      // the retired copies).
      val lv = levels.toIndexedSeq
      var delta = lv(0).select(col("id"), lit(0.0).as("delta"))
      var perLevel = List(delta) // lv(0)'s deltas are all 0 — harmless
      for (i <- 1 until lv.size) {
        val deeper = delta.select(col("id").as("w"),
          col("delta").as("delta_w"))
        val sigW = lv(i - 1)
          .select(col("id").as("w"), col("sigma").as("sigma_w"))
        val contrib = lv(i).join(sym, col("id") === col("u"))
          .join(sigW, col("v") === col("w"))
          .join(deeper, Seq("w"), "left")
          .groupBy(col("id"))
          .agg(sum(col("sigma") / col("sigma_w") *
            (lit(1.0) + coalesce(col("delta_w"), lit(0.0)))).as("d2"))
        delta = lv(i).select(col("id"))
          .join(contrib, Seq("id"), "left")
          .select(col("id"), coalesce(col("d2"), lit(0.0)).as("delta"))
          .localCheckpoint(true)
        perLevel ::= delta
      }
      val srcDelta = perLevel.reduce(_ unionByName _)
        .filter(col("id") =!= lit(s))
        .select(col("id"), col("delta").as("dd"))
      val grownAcc = acc.join(srcDelta, Seq("id"), "left")
        .select(col("id"),
          (col("delta") + coalesce(col("dd"), lit(0.0))).as("delta"))
        .localCheckpoint(true)
      // grownAcc is materialized: everything this source checkpointed
      // (levels, per-level deltas, visited history, the retired acc)
      // is now dead weight — release the executor storage before the
      // next source starts, keeping live blocks O(|V|) not O(k·depth)
      free(acc); acc = grownAcc
      (levels ++ perLevel ++ retiredVisited).foreach(free)
      free(visited)
    }
    val scale = if (extrapolate) nV.toDouble / k else 1.0
    val out = acc.select(col("id"),
      (col("delta") / 2.0 * scale).as("betweenness"))
    sym.unpersist(); nodes.unpersist()
    out
  }
}
