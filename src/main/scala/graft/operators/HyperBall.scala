package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.ConstraintBarrier.barrier
import graft.functions.RegisterMax.registerMax
import graft.sketch.Hll

/** HyperBall (Boldi & Vigna, 2013): the approximate neighborhood
  * function — per node, an [[graft.sketch.Hll]] sketch of its
  * out-ball of radius t — computed by iterated register max-merge
  * along edges. This is the ONLY way centralities (harmonic,
  * closeness) are computable on a web-scale graph: exact per-node
  * BFS is O(n·m), while each HyperBall hop is one equi-join + one
  * grouped merge. The register table is hash-exact and
  * engine-independent — the q176 gate checks the integer registers;
  * the floating-point estimates are spec-checked against exact BFS.
  *
  * Recurrence: `B(v, 0) = {v}`;
  * `B(v, t) = B(v, t-1) ∪ union of B(u, t-1) over edges v -> u`,
  * each ball carried as its HLL register vector and the union as
  * element-wise max.
  *
  * REPRESENTATION (round 14): registers travel PACKED — one m-byte
  * `array<tinyint>` per node, merged by the
  * [[graft.functions.RegisterMax]] aggregate — not as m sparse
  * (id, bucket, max_rho) rows. On the 10 M-edge probe corpus the
  * sparse form pushed ~m× the edge count (670 M rows/hop at m = 64)
  * through the join→partial-agg pipeline and OOM'd an 8 GB driver;
  * packed, the per-hop join emits ONE row per edge (~11 M) with a
  * 64-byte payload, the grouped merge state is one vector per node
  * regardless of degree (hub-safe), and the per-hop size estimate
  * becomes a per-ROW expression ([[estimateCol]]) instead of an
  * n·m-row aggregation. [[ballRegisters]] still RETURNS the sparse
  * table (the persistence/oracle format — shards of it merge by
  * groupBy max exactly like any Spark agg); the explode happens once
  * at the boundary.
  *
  * Scale posture: per hop, ONE equi-join of the edge list against the
  * n-row packed register table (shuffle on the join key) + one
  * id-keyed object-hash merge with map-side partials. The deduped
  * edge list persists across hops; runs of at most [[LazyHops]] hops
  * stay fully lazy (regs feeds both the neighbor join and the union,
  * and ReuseExchange dedupes the doubled subtrees inside one action),
  * longer runs cut the register frame EVERY hop (interior laziness
  * re-executes the multiplied plan — PageRank's lineage-policy
  * scaladoc).
  */
object HyperBall {

  /** Longest hop run that stays fully lazy. TWO, not PageRank's four:
    * every per-hop estimate frame re-executes the register recurrence
    * up to its hop, so interior laziness multiplies real register
    * shuffles per hop (the round-14 probe measured the lazy policy at
    * 48.6 s for harmonicCentralities(maxHops = 4) on the 1M-edge
    * graph, sparse form). The q176 gate (hops = 2) keeps the lazy
    * fast path. */
  val LazyHops = 2

  /** Deduped, self-loop-free edge list + its endpoint set. */
  private def prep(edges: DataFrame): (DataFrame, DataFrame) = {
    val e = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
    val nodes = e.select(col("src").as("id"))
      .unionByName(e.select(col("dst").as("id")))
      .distinct()
    (e, nodes)
  }

  /** Each node's singleton sketch as a packed m-byte vector — hop-0
    * registers: zero everywhere except the node's own (bucket, rho).
    *
    * The lambda is wrapped in [[graft.functions.ConstraintBarrier]]:
    * a LambdaFunction inside a Project-alias constraint poisons
    * Spark's InferFiltersFromConstraints — `localCheckpoint` preserves
    * the alias constraint (`LogicalRDD.originConstraints`), and the
    * first hop's rename+equi-join then infers a filter whose lambda
    * body references the OTHER side's `dst`, which fails attribute
    * binding at execution ([INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND],
    * found by the round-14 graph probe on effectiveDiameter; the
    * barrier's scaladoc has the full mechanism, HyperBallSpec the
    * regression case). An alias-free plain form (m CASE slots) also
    * fixes it but pays seconds of planning/codegen per query — the
    * barrier keeps the tree small. */
  private def seedRegs(nodes: DataFrame, m: Int): DataFrame = {
    val (bucket, rho) = Hll.bucketRho(col("id").cast("string"), m)
    nodes.select(col("id"), barrier(
      transform(sequence(lit(0), lit(m - 1)),
        i => when(i.cast("long") === bucket, rho)
          .otherwise(lit(0L)).cast("byte"))).as("regs"))
  }

  /** One max-merge round: every node absorbs its out-neighbors'
    * register vectors. The single place the recurrence lives — the
    * q176 gate and the FP consumers all run THIS step. */
  private def hop(e: DataFrame, regs: DataFrame, m: Int): DataFrame = {
    val fromNbrs = e.join(regs.withColumnRenamed("id", "dst"),
        Seq("dst"))
      .select(col("src").as("id"), col("regs"))
    regs.unionByName(fromNbrs)
      .groupBy(col("id"))
      .agg(registerMax(col("regs"), m).as("regs"))
  }

  /** The HLL size estimate of ONE packed register vector, as a pure
    * per-row column expression (no aggregation): the standard
    * estimator with linear-counting small-range correction. Slot
    * order is fixed (bucket 0..m-1), so the FP sum is deterministic —
    * unlike the sparse-row form, whose shuffle order makes the last
    * few ulps plan-dependent (HyperBallSpec pins the two forms equal
    * to 1e-9). No [[graft.functions.ConstraintBarrier]] needed here,
    * unlike [[seedRegs]]: an alias constraint only becomes a
    * poisoned inferred filter when BOTH its attribute and its
    * referenced inputs survive into the frame's output ­— est
    * projections output (id, est_t) while the lambda references
    * `regs`, so `QueryPlan.validConstraints` drops them at the
    * source (and a probe A/B showed a barrier here costs ~4× on the
    * 1M-edge hyperball4 probe by blocking downstream optimization). */
  def estimateCol(regs: Column, m: Int): Column = {
    val alpha =
      if (m == 16) 0.673 else if (m == 32) 0.697
      else if (m == 64) 0.709 else 0.7213 / (1.0 + 1.079 / m)
    val hit = size(filter(regs, x => x > lit(0))).cast("double")
    val s = aggregate(regs, lit(0.0), (acc, x) =>
      acc + when(x > lit(0), pow(lit(2.0), -x.cast("double")))
        .otherwise(lit(0.0)))
    val zeros = lit(m.toDouble) - hit
    val raw = lit(alpha * m * m) / (s + zeros)
    when(raw <= lit(2.5 * m) && zeros > lit(0.0),
      lit(m.toDouble) * log(lit(m.toDouble) / zeros))
      .otherwise(raw)
  }

  /** Sparse per-node ball registers (id, bucket, max_rho) after
    * `hops` max-merge rounds over a directed edge frame (`src`,
    * `dst`) — the persistence/oracle format, exploded once from the
    * packed recurrence. Self-loops drop, duplicate edges are harmless
    * (max is idempotent) but deduped anyway to shrink the join's left
    * side. Every endpoint appears (its own singleton sketch at
    * minimum). Lineage policy: runs of at most [[LazyHops]] hops stay
    * fully lazy; longer runs persist the edge list and cut every hop
    * (the final hop's cut leaves the result self-contained). */
  def ballRegisters(edges: DataFrame, hops: Int = 2,
      m: Int = 64): DataFrame = {
    import graft.util.Checkpoints.cut
    require(hops >= 0, s"hops must be >= 0, got $hops")
    val doCut = hops > LazyHops
    val (e0, nodes) = prep(edges)
    val e = if (doCut) e0.persist() else e0
    try {
      var regs = seedRegs(nodes, m)
      for (_ <- 1 to hops) {
        regs = hop(e, regs, m)
        // regs feeds both the neighbor join and the union, so interior
        // laziness multiplies the plan 2x per hop — cut-engaged runs
        // cut every hop (PageRank's lineage-policy scaladoc)
        if (doCut) regs = cut(regs)
      }
      regs.select(col("id"),
          posexplode(col("regs")).as(Seq("bucket", "max_rho")))
        .filter(col("max_rho") > 0)
        .select(col("id"), col("bucket").cast("long").as("bucket"),
          col("max_rho").cast("long").as("max_rho"))
    } finally if (doCut) e.unpersist()
  }

  /** Per-node HLL size estimate from a SPARSE [[ballRegisters]] frame
    * — the standard estimator with linear-counting small-range
    * correction, as ONE grouped aggregation (no driver collect; the
    * FP math is per-group scalar arithmetic on two integer sums).
    * The read-side twin of [[estimateCol]] for register tables that
    * live on disk in the mergeable sparse format. */
  def estimates(regs: DataFrame, m: Int = 64): DataFrame = {
    val alpha =
      if (m == 16) 0.673 else if (m == 32) 0.697
      else if (m == 64) 0.709 else 0.7213 / (1.0 + 1.079 / m)
    val agg = regs.groupBy(col("id"))
      .agg(count(lit(1)).as("hit"),
        sum(pow(lit(2.0), -col("max_rho"))).as("s"))
    agg.select(col("id"),
      {
        val zeros = lit(m.toDouble) - col("hit")
        val raw = lit(alpha * m * m) / (col("s") + zeros)
        when(raw <= lit(2.5 * m) && zeros > 0,
          lit(m.toDouble) * log(lit(m.toDouble) / zeros))
          .otherwise(raw).as("est")
      })
  }

  /** Runs the hop recurrence once, hands `finish` the per-hop
    * estimate frames (est_0 .. est_maxHops, each (id, est_t) — a
    * per-row [[estimateCol]] projection of the packed registers, not
    * an aggregation), and applies the segment lineage policy around
    * whatever single frame it builds — the shared engine under
    * [[harmonicCentralities]] and [[closenessCentralities]]. Short
    * runs (maxHops at most [[LazyHops]]) stay fully lazy; longer runs
    * persist the edge list, cut registers each hop, and finish with
    * ONE job that materializes every per-hop estimate while the edge
    * cache is live, so the returned frame is self-contained. */
  private def withPerHopEstimates(edges: DataFrame, maxHops: Int,
      m: Int)(
      finish: Vector[DataFrame] => DataFrame): DataFrame = {
    import graft.util.Checkpoints.cut
    require(maxHops >= 1, s"maxHops must be >= 1, got $maxHops")
    val doCut = maxHops > LazyHops
    val (e0, nodes) = prep(edges)
    val e = if (doCut) e0.persist() else e0
    try {
      var regs = seedRegs(nodes, m)
      var perHop = Vector(regs.select(col("id"),
        estimateCol(col("regs"), m).as("est_0")))
      for (t <- 1 to maxHops) {
        regs = hop(e, regs, m)
        if (doCut) regs = cut(regs)
        perHop = perHop :+ regs.select(col("id"),
          estimateCol(col("regs"), m).as(s"est_$t"))
      }
      val out0 = finish(perHop)
      if (doCut) cut(out0) else out0
    } finally if (doCut) e.unpersist()
  }

  /** Approximate harmonic centrality H(v) = Σ_{u≠v} 1/d(v,u) over out-
    * distances, truncated at `maxHops`:
    * `H(v) ≈ Σ_t (N̂(v,t) − N̂(v,t−1)) / t` with N̂ the per-hop HLL
    * estimates; hop frames join back on id — maxHops is small by
    * construction (the effective diameter). FP output; rankings are
    * what it's for. Lineage policy = [[withPerHopEstimates]]. */
  def harmonicCentralities(edges: DataFrame, maxHops: Int = 4,
      m: Int = 64): DataFrame =
    withPerHopEstimates(edges, maxHops, m) { perHop =>
      val joined = perHop.reduce(_.join(_, Seq("id")))
      val h = (1 to maxHops).map(t =>
        greatest(col(s"est_$t") - col(s"est_${t - 1}"), lit(0.0)) / t)
        .reduce(_ + _)
      joined.select(col("id"), h.as("harmonic"))
    }

  /** Approximate closeness centrality on the reachable set (Lin's
    * formulation, the one that stays meaningful on disconnected
    * directed graphs): `C(v) = (r(v) - 1) / totdist(v)` with `r` the
    * ball size at `maxHops` and `totdist = Σ_t t·Δ_t` the estimated
    * sum of out-distances. 1.0 = everything reachable is adjacent;
    * 0 for nodes that reach nothing. Same engine and lineage policy
    * as [[harmonicCentralities]]. */
  def closenessCentralities(edges: DataFrame, maxHops: Int = 4,
      m: Int = 64): DataFrame =
    withPerHopEstimates(edges, maxHops, m) { perHop =>
      val joined = perHop.reduce(_.join(_, Seq("id")))
      val totDist = (1 to maxHops).map(t =>
        greatest(col(s"est_$t") - col(s"est_${t - 1}"), lit(0.0)) * t)
        .reduce(_ + _)
      val reach = greatest(col(s"est_$maxHops") - lit(1.0), lit(0.0))
      joined.select(col("id"),
        when(totDist > 0, reach / totDist).otherwise(lit(0.0))
          .as("closeness"))
    }

  /** Effective diameter at quantile `q` (HyperANF's headline number):
    * the smallest hop count t such that the estimated number of
    * reachable pairs within t is >= q * (pairs reachable within
    * `maxHops`). Runs the register recurrence once; each hop
    * contributes ONE scalar row (the global sum of per-row ball
    * estimates plus the exact integer register total), so the driver
    * holds maxHops+1 doubles — never node data. Returns maxHops if
    * the quantile isn't reached (graph wider than the horizon); 0 for
    * an empty/self-loop-only edge frame.
    *
    * RUN-TO-STABILITY (`toStability = true`): HyperANF's own stop
    * rule — registers are elementwise MONOTONE nondecreasing under
    * the max-merge, so the global integer register sum is strictly
    * increasing exactly while some ball is still growing; an
    * unchanged sum means NO register changed this hop and every later
    * hop is a no-op (the recurrence has reached its fixed point = the
    * true neighborhood function). The check is exact integer
    * arithmetic riding the SAME per-hop scalar aggregation the
    * estimate sum already runs — zero extra jobs — and `maxHops`
    * becomes a safety cap instead of the answer's horizon. With the
    * fixed point reached, `ts.last` is N̂(∞) and the reported
    * diameter is the true one, not the cap-truncated one (spec-pinned
    * ≡ a fixed run with a sufficient horizon). */
  def effectiveDiameter(edges: DataFrame, maxHops: Int = 8,
      q: Double = 0.9, m: Int = 64,
      toStability: Boolean = false): Int = {
    import graft.util.Checkpoints.cut
    require(maxHops >= 1, s"maxHops must be >= 1, got $maxHops")
    require(q > 0 && q <= 1, s"q must be in (0, 1], got $q")
    val (e0, nodes) = prep(edges)
    val e = e0.persist()
    val ts = try {
      // Per-hop cut here (not the segment policy): an ACTION runs
      // every hop, and cross-job plans don't share shuffles — uncut,
      // hop t's total() would re-execute all t-1 previous rounds.
      var regs = cut(seedRegs(nodes, m))
      // (Σ estimates, Σ registers) in ONE scalar read. The integer
      // sum stays exact: ≤ n·m·max_rho ≲ 2^40 per-node, far under
      // Long range. The est/rsum projection drops `regs` from its
      // output, so the HOF-alias constraint cannot poison later plans
      // (estimateCol's scaladoc; ConstraintBarrier memo).
      def total(): (Double, Long) = {
        val row = regs
          .select(estimateCol(col("regs"), m).as("est"),
            aggregate(col("regs"), lit(0L),
              (acc, x) => acc + x.cast("long")).as("rsum"))
          .agg(coalesce(sum(col("est")), lit(0.0)),
            coalesce(sum(col("rsum")), lit(0L)))
          .collect()(0) // 1 scalar row; zeros on an empty graph
        (row.getDouble(0), row.getLong(1))
      }
      val totals = Array.newBuilder[Double]
      val (est0, rsum0) = total()
      totals += est0
      var lastSum = rsum0
      var t = 0
      var stable = false
      while (t < maxHops && !(toStability && stable)) {
        regs = cut(hop(e, regs, m))
        val (est, rsum) = total()
        totals += est
        stable = rsum == lastSum
        lastSum = rsum
        t += 1
      }
      totals.result()
    } finally e.unpersist()
    val target = q * ts.last
    ts.indexWhere(_ >= target) match {
      case -1 => maxHops
      case t => t
    }
  }
}
