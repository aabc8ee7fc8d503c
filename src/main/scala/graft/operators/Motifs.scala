package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** DataFrame-native motif counting over an undirected edge list — the
  * graph-analytics companion to [[Bfs]]/[[GraphxOps]] (the reference's
  * analytics layer stops at degrees/roots, Analyze.hs:136-151; triangle
  * counting is the canonical next motif and the basis of clustering
  * coefficients).
  *
  * Algorithm: canonicalize each undirected edge to (u &lt; v), then
  * enumerate each triangle exactly once as an ordered triple
  * a &lt; b &lt; c via two equi-joins:
  * (a,b) ⋈ (b,c) ⋈ (a,c). All joins are equi-joins on node ids —
  * no cross products; Catalyst/AQE picks broadcast vs shuffle per side.
  *
  * Scale note: the id-ordered orientation is exact but can skew on hub
  * nodes (a node with degree d contributes O(d²) candidate wedges). The
  * standard hardening at 100 TB is DEGREE orientation — point each edge
  * from its lower-degree endpoint (ties by id), which bounds wedge
  * fan-out by O(sqrt(|E|)) per node — at the cost of a degree
  * pre-aggregation; [[trianglesDegreeOriented]] implements it and
  * produces the identical counts.
  */
object Motifs {

  /** Canonical (u < v) distinct undirected edge set; self-loops dropped. */
  def canonicalEdges(pairs: DataFrame): DataFrame = {
    val df = pairs.toDF("s", "t")
    df.select(least(col("s"), col("t")).as("u"),
        greatest(col("s"), col("t")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** Every triangle as an ordered (a < b < c) triple, exactly once. */
  def triangles(pairs: DataFrame): DataFrame =
    trianglesOfCanonical(canonicalEdges(pairs))

  /** The [[triangles]] wedge join over an ALREADY-canonical (u < v,
    * distinct) edge frame — skips the dedup shuffle for callers that
    * hold the invariant (the k-truss peeling loop re-enumerates every
    * round over an invariantly canonical survivor set). */
  private def trianglesOfCanonical(e: DataFrame): DataFrame =
    e.as("e1")
      .join(e.as("e2"), col("e1.v") === col("e2.u"))
      .join(e.as("e3"),
        col("e3.u") === col("e1.u") && col("e3.v") === col("e2.v"))
      .select(col("e1.u").as("a"), col("e1.v").as("b"), col("e2.v").as("c"))

  /** Per-node triangle participation counts (only nodes in ≥1 triangle
    * appear). The clustering-coefficient numerator. */
  def triangleCounts(pairs: DataFrame): DataFrame =
    triangles(pairs)
      .select(explode(array(col("a"), col("b"), col("c"))).as("node_id"))
      .groupBy(col("node_id"))
      .agg(count(lit(1)).as("n_triangles"))

  /** Per-node LOCAL CLUSTERING COEFFICIENT over the canonical
    * undirected edge set: 2·T(v) / (deg(v)·(deg(v)−1)); nodes with
    * degree &lt; 2 get 0. One degree aggregation + the triangle counts,
    * left-joined — every step an equi-join/hash agg. */
  def clusteringCoefficients(pairs: DataFrame): DataFrame = {
    val e = canonicalEdges(pairs)
    val deg = e.select(col("u").as("node_id"))
      .unionByName(e.select(col("v").as("node_id")))
      .groupBy(col("node_id")).agg(count(lit(1)).as("degree"))
    deg.join(triangleCounts(pairs), Seq("node_id"), "left")
      .select(col("node_id"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        when(col("degree") >= 2,
          lit(2.0d) * coalesce(col("n_triangles"), lit(0L)) /
            (col("degree") * (col("degree") - 1)))
          .otherwise(lit(0.0d)).as("clustering_coeff"))
  }

  /** k-CORE: the maximal subgraph in which every node has degree ≥ k —
    * the standard graph-density filter (community cores, spam/bot
    * subgraph mining). Iterative peeling: drop nodes with degree &lt; k,
    * recompute degrees, repeat to the fixpoint. Each round is one
    * degree hash-aggregation + two semi-joins over the (shrinking)
    * canonical edge set; the fixpoint test is the edge COUNT (peeling
    * only removes, so an unchanged count is the fixpoint). Rounds ≤
    * peel depth; per-round lineage cut (lazy — the count action
    * materializes it). Returns the
    * surviving canonical (u &lt; v) edge set. */
  def kCoreEdges(pairs: DataFrame, k: Int): DataFrame = {
    import graft.util.Checkpoints.cut
    var e = cut(canonicalEdges(pairs), eager = false)
    var n = e.count()
    var done = n == 0L
    while (!done) {
      val deg = e.select(col("u").as("id"))
        .unionByName(e.select(col("v").as("id")))
        .groupBy(col("id")).agg(count(lit(1)).as("deg"))
      val keep = deg.filter(col("deg") >= k).select(col("id"))
      val next = cut(
        e.join(keep.withColumnRenamed("id", "u"), Seq("u"), "left_semi")
          .join(keep.withColumnRenamed("id", "v"), Seq("v"), "left_semi")
          .select(col("u"), col("v")), eager = false)
      val m = next.count()
      done = m == n || m == 0L
      e = next
      n = m
    }
    e
  }

  /** k-truss edge peeling (Cohen 2008): the maximal subgraph in which
    * every edge closes at least k-2 triangles WITHIN the subgraph —
    * the cohesion notion one step stronger than [[kCoreEdges]]
    * (every k-truss is inside the (k-1)-core), and the standard way
    * to carve dense communities out of a link graph while shedding
    * tree-like spam tendrils. Same count-fixpoint loop as k-core with
    * per-edge TRIANGLE SUPPORT in place of degree: each round is one
    * [[triangles]] enumeration over the surviving canonical edge set
    * (ordered wedge join — hash equi-joins, never all-pairs), a
    * 3-way explode to per-edge support counts, and a left-semi keep
    * join; rounds ≤ initial max support, each lineage-cut. */
  def kTrussEdges(pairs: DataFrame, k: Int): DataFrame = {
    import graft.util.Checkpoints.cut
    require(k >= 2, s"k must be >= 2, got $k")
    // 2-truss = the whole graph (support >= 0 always holds); the loop
    // below would wrongly drop triangle-free edges, which simply have
    // no support row.
    if (k == 2) return canonicalEdges(pairs)
    var e = cut(canonicalEdges(pairs), eager = false)
    var n = e.count()
    var done = n == 0L
    while (!done) {
      val tri = trianglesOfCanonical(e)
      val support = tri
        .select(col("a").as("u"), col("b").as("v"))
        .unionByName(tri.select(col("a").as("u"), col("c").as("v")))
        .unionByName(tri.select(col("b").as("u"), col("c").as("v")))
        .groupBy(col("u"), col("v"))
        .agg(count(lit(1)).as("support"))
      val next = cut(
        e.join(support.filter(col("support") >= k - 2)
            .select(col("u"), col("v")),
          Seq("u", "v"), "left_semi"), eager = false)
      val m = next.count()
      done = m == n || m == 0L
      e = next
      n = m
    }
    e
  }

  /** Nodes of the k-truss (endpoints of the surviving edge set). */
  def kTrussNodes(pairs: DataFrame, k: Int): DataFrame = {
    val e = kTrussEdges(pairs, k)
    e.select(col("u").as("node_id"))
      .unionByName(e.select(col("v").as("node_id")))
      .distinct()
  }

  /** Nodes of the k-core (endpoints of the surviving edge set). */
  def kCoreNodes(pairs: DataFrame, k: Int): DataFrame = {
    val e = kCoreEdges(pairs, k)
    e.select(col("u").as("node_id"))
      .unionByName(e.select(col("v").as("node_id")))
      .distinct()
  }

  /** Triangle triples via DEGREE orientation — same multiset of
    * triangles as [[triangles]] (each emitted once, as an UNORDERED
    * set {x,y,z} canonicalized back to sorted columns), but wedge
    * fan-out per node is bounded by the lower-degree endpoint rule:
    * every edge points low-degree → high-degree (ties by id), so hub
    * nodes never enumerate their full neighbor square. */
  def trianglesDegreeOriented(pairs: DataFrame): DataFrame = {
    val e = canonicalEdges(pairs)
    val deg = e.select(col("u").as("id"))
      .unionByName(e.select(col("v").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
    val withDeg = e
      .join(deg.select(col("id").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("id").as("v"), col("deg").as("dv")), "v")
    // orient: src = lower-degree endpoint (ties: lower id)
    val oriented = withDeg.select(
      when(col("du") < col("dv") ||
        (col("du") === col("dv") && col("u") < col("v")), col("u"))
        .otherwise(col("v")).as("src"),
      when(col("du") < col("dv") ||
        (col("du") === col("dv") && col("u") < col("v")), col("v"))
        .otherwise(col("u")).as("dst"))
    // wedge at src: (src→x, src→y); the closing x—y edge is checked
    // against the CANONICAL (u<v) set — one two-key equi semi-join,
    // never a disjunctive (nested-loop) condition
    val wedges = oriented.as("w1")
      .join(oriented.as("w2"),
        col("w1.src") === col("w2.src") && col("w1.dst") < col("w2.dst"))
      .select(col("w1.src").as("p"), col("w1.dst").as("x"),
        col("w2.dst").as("y"))
    wedges
      .withColumn("u", least(col("x"), col("y")))
      .withColumn("v", greatest(col("x"), col("y")))
      .join(e, Seq("u", "v"), "left_semi")
      .select(array_sort(array(col("p"), col("x"), col("y"))).as("t"))
      .select(col("t")(0).as("a"), col("t")(1).as("b"), col("t")(2).as("c"))
  }

  /** NEIGHBORHOOD AGGREGATION (the aggregateMessages shape): per node,
    * its degree plus min/max/sum of its neighbors' degrees — the raw
    * material of degree-assortativity and hub-adjacency analysis.
    * Two hash aggregations and one self-join of the degree table along
    * the (symmetrized) edge list; sums stay integer-exact so the
    * mixing ratio Σ(neighbor degree)/degree derives exactly. */
  /** Exactly-2-hop neighborhood size per node: distinct nodes reachable
    * via a 2-path but NOT direct neighbors (and not the node itself) —
    * the friends-of-friends signal (recommendation candidates, local
    * graph density). One self-join of the symmetrized edge list on the
    * middle node, a distinct, and an anti-join against direct edges:
    * all hash equi-joins. Volume is bounded by Σ deg² like triangle
    * counting — the same hub-skew caveat and cures apply (AQE skew
    * join; pre-cap super-hubs upstream if the degree tail is extreme). */
  def twoHopCounts(pairs: DataFrame): DataFrame = {
    val e = canonicalEdges(pairs)
    val sym = e.select(col("u").as("a"), col("v").as("b"))
      .unionByName(e.select(col("v").as("a"), col("u").as("b")))
    val two = sym.as("x").join(sym.as("y"), col("x.b") === col("y.a"))
      .select(col("x.a").as("a"), col("y.b").as("c"))
      .filter(col("a") =!= col("c"))
      .distinct()
    two.join(sym.select(col("a"), col("b").as("c")), Seq("a", "c"),
        "left_anti")
      .groupBy(col("a"))
      .agg(count(lit(1)).as("n_two_hop"))
      .select(col("a").as("node_id"), col("n_two_hop"))
  }

  /** LINK PREDICTION sufficient statistics: for every non-adjacent
    * node pair at distance 2 on the undirected graph, the integer
    * triple the classic index family derives from —
    * (n_common) shared neighbors, (deg_a, deg_b) endpoint degrees.
    * common-neighbors = n_common; Jaccard = n_common /
    * (deg_a + deg_b − n_common); preferential attachment =
    * deg_a · deg_b — all consumer-side, so the gated frame stays
    * integer-exact (the q87/q180 sufficient-statistics discipline).
    *
    * Shape: ONE wedge self-join of the symmetrized edge list on the
    * shared neighbor (pair volume bounded by Σ deg² — the triangle /
    * 2-hop bound; same hub caveats and cures), a map-side-combining
    * pair count, an anti-join dropping already-linked pairs, and two
    * broadcast-friendly degree annotations. Pairs come out canonical
    * (a < b), each exactly once. */
  def linkPredictionCounts(pairs: DataFrame): DataFrame = {
    val e = canonicalEdges(pairs)
    val sym = e.select(col("u").as("node"), col("v").as("nbr"))
      .unionByName(e.select(col("v").as("node"), col("u").as("nbr")))
    val deg = sym.groupBy(col("node")).agg(count(lit(1)).as("degree"))
    val common = sym.as("x")
      .join(sym.as("y"),
        col("x.nbr") === col("y.nbr") && col("x.node") < col("y.node"))
      .groupBy(col("x.node").as("node_a"), col("y.node").as("node_b"))
      .agg(count(lit(1)).as("n_common"))
    common
      .join(e.select(col("u").as("node_a"), col("v").as("node_b")),
        Seq("node_a", "node_b"), "left_anti")
      .join(deg.select(col("node").as("node_a"),
        col("degree").as("deg_a")), Seq("node_a"))
      .join(deg.select(col("node").as("node_b"),
        col("degree").as("deg_b")), Seq("node_b"))
      .select(col("node_a"), col("node_b"), col("n_common"),
        col("deg_a"), col("deg_b"))
  }

  def neighborDegreeStats(pairs: DataFrame): DataFrame = {
    val e = canonicalEdges(pairs)
    val sym = e.select(col("u").as("node_id"), col("v").as("nbr"))
      .unionByName(e.select(col("v").as("node_id"), col("u").as("nbr")))
    val deg = sym.groupBy(col("node_id")).agg(count(lit(1)).as("degree"))
    sym
      .join(deg.select(col("node_id").as("nbr"),
        col("degree").as("nbr_degree")), "nbr")
      .groupBy(col("node_id"))
      .agg(count(lit(1)).as("degree"),
        min(col("nbr_degree")).as("min_nbr_degree"),
        max(col("nbr_degree")).as("max_nbr_degree"),
        sum(col("nbr_degree")).as("sum_nbr_degree"))
  }
}
