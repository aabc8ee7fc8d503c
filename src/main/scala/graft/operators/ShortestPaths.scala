package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.util.Checkpoints.cut

/** Weighted single-source shortest paths over an edge DataFrame —
  * distributed Bellman-Ford: each round relaxes every edge once
  * (`dist ⋈ edges` + per-node `min`), so a round is two hash shuffles
  * over the frontier and the round count is the weighted-hop depth of
  * the shortest-path tree, not the node count. The iterative shape
  * (lineage cut per round + monotone-aggregate convergence) matches [[graft.operators.Bfs]] and
  * `Dedup.clusterLabelsStar`.
  *
  * Reference scope: the reference walks graphs with unweighted
  * traversal only (`net-spider/src/NetSpider/Spider.hs` visits by hop);
  * weighted SSSP is the training-pipeline extension of that traversal
  * (e.g. link-cost routing over the same snapshot graphs).
  */
object ShortestPaths {

  /** Exact min distance from `source` to every reachable node.
    *
    * `edges` must have columns (`u`, `v`, `w`): DIRECTED edges with
    * non-negative integral weights — symmetrize first for undirected
    * graphs ([[undirected]]). Returns (`id`, `dist`).
    *
    * Convergence: per round the per-node min never increases and the
    * reached-node count never decreases, so the signature
    * (count, sum(dist)) is monotone and its fixpoint is exact — one
    * cheap scalar aggregate per round, no `except`.
    */
  def sssp(edges: DataFrame, source: String): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // cut the edge frame once: every round joins against it, and without
    // the cut each round would re-run the whole upstream plan (scan +
    // symmetrize + dedup) just to produce the same edges again
    val e = cut(edges.select(col("u"), col("v"), col("w").cast("long").as("w")),
      eager = false)
    var dist = cut(Seq((source, 0L)).toDF("id", "dist"), eager = false)
    var sig = (1L, 0L)
    var done = false
    while (!done) {
      val relaxed = dist.join(e, dist("id") === e("u"))
        .select(col("v").as("id"), (col("dist") + col("w")).as("dist"))
      val next = cut(dist.unionByName(relaxed)
        .groupBy(col("id")).agg(min(col("dist")).as("dist")), eager = false)
      val r = next.agg(count(lit(1)), sum(col("dist"))).collect()(0)
      val nSig = (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
      done = nSig == sig
      sig = nSig
      dist = next
    }
    dist
  }

  /** Symmetrize a weighted edge list: one canonical weight per
    * unordered pair (the min across both stated directions and
    * duplicate statements), emitted in both directions. */
  def undirected(edges: DataFrame): DataFrame = {
    val canon = edges
      .select(least(col("u"), col("v")).as("a"),
        greatest(col("u"), col("v")).as("b"), col("w"))
      .filter(col("a") =!= col("b"))
      .groupBy(col("a"), col("b")).agg(min(col("w")).as("w"))
    canon.select(col("a").as("u"), col("b").as("v"), col("w"))
      .unionByName(canon.select(col("b").as("u"), col("a").as("v"), col("w")))
  }
}
