package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** PageRank (Brin & Page 1998) by synchronous power iteration in EXACT
  * scaled-integer arithmetic: ranks are carried as `pr_micro` — units
  * of `scale` (default 10^12) — and every step uses integral division,
  * so the result is a pure function of the graph, the damping factor,
  * and the iteration count. Floating-point PageRank sums in shuffle
  * order and differs in the last bits run-to-run; the integer
  * recurrence is order-independent, which makes the operator
  * hash-checkable against a SQL oracle and its outputs reproducible
  * across cluster sizes — the property a curation pipeline needs when
  * a domain-rank threshold gates what ships to training.
  *
  * Recurrence (all divisions integral, all quantities non-negative):
  * {{{
  *   pr0(v)   = scale div n
  *   share(u) = pr(u) div outdeg(u)
  *   inc(v)   = sum of share(u) over edges u -> v
  *   dang     = sum of pr(u) over nodes with outdeg 0
  *   pr'(v)   = ((1000 - d) * scale) div (1000 * n)
  *              + (d * (inc(v) + dang div n)) div 1000
  * }}}
  * with `d` the damping in permille (850 = the classic 0.85). The
  * dangling mass is redistributed uniformly, the standard correction.
  *
  * Scale posture: all three variants run one loop over a weighted edge
  * frame (`src`, `dst`, `w`; the unweighted ones carry `w = 1`, which
  * gives the same integers) and a node frame (`id`, `seed`, `wd`) built
  * ONCE, with each node's out-weight `wd` on its row (the Pregelix
  * vertex-state shape). Each step is one equi-join of the edges against
  * the rank frame, `(pr * w) div wd` per edge, and one hash aggregation
  * on `dst` with map-side partials — a power-law in-degree (the web
  * case) is absorbed by partial aggregation, not a hot reducer, because
  * the combine is a plain sum. The dangling mass is the rank of the rows
  * whose `wd` is NULL; it and the node count are 1x1 scalar frames
  * combined by broadcast cross join (never a driver collect).
  *
  * Lineage policy: pr feeds the edge join, the dangling sum and (on tol
  * runs) the step distance, while each next rank frame is rebuilt from
  * the loop-invariant node frame, so the uncut logical plan doubles per
  * iteration. Runs of at most [[CutEvery]] iterations stay fully lazy
  * and uncut — on the small derived graphs the gates rank, an eager
  * checkpoint's materialization is measurably SLOWER than just
  * executing the plan (A/B: q172 2.1 s uncut vs 11.4 s with a final
  * eager cut at sf0.1), and ReuseExchange dedupes the repeated subtrees
  * inside one action. Longer runs cut EVERY iteration: each
  * per-iteration broadcast (the dangling/total scalars) is its own job
  * against the current plan, so segment-lazy laziness re-plans and
  * re-executes the multiplied subtrees per broadcast — the round-14
  * 1M-edge probe graph measured the old cut-every-4 policy at 106 s for
  * 10 iterations vs 8.7 s for 3 (should be ~3x, was ~12x); per-iteration
  * cuts restore linear total work (one flat-plan materialization job per
  * iteration). Cuts are [[graft.util.Checkpoints.cut]]s.
  */
object PageRank {

  /** Longest run of the PageRank variants that stays fully lazy and
    * uncut (the small-graph fast path the gates use). Runs past this
    * cut their rank frame EVERY iteration — plan multiplication between
    * cuts is re-executed by every per-iteration broadcast job, so any
    * interior laziness multiplies real shuffles on a big graph (see the
    * lineage-policy scaladoc above; GraphProbe A/B on the R-MAT
    * corpora). [[Hits]] and [[HyperBall]] keep their own, shorter
    * periods (2 and `LazyHops`), sized to their faster-growing plans. */
  val CutEvery = 4

  private def validate(iterations: Int, dampingPermille: Int,
      scale: Long): Unit = {
    require(iterations >= 0, s"iterations must be >= 0, got $iterations")
    require(dampingPermille >= 0 && dampingPermille <= 1000,
      s"dampingPermille must be in [0, 1000], got $dampingPermille")
    require(scale >= 1L, s"scale must be >= 1, got $scale")
  }

  /** Exact-integer L1 step distance Σ|next(v) − prev(v)| of the `score`
    * column between two frames keyed by `id` over the same node set —
    * the convergence statistic of the PageRank variants and [[Hits]].
    * One equi-join + one 1×1 scalar read per call; deterministic
    * (integer sums are shuffle-order-independent), so the STOP
    * ITERATION of a tol run is a pure function of the graph and the
    * tolerance — early-stopped results stay hash-checkable. */
  private[operators] def l1Delta(next: DataFrame, prev: DataFrame,
      score: String): Long =
    next.select(col("id"), col(score).as("next"))
      .join(prev.select(col("id"), col(score).as("prev")), Seq("id"))
      .agg(coalesce(sum(abs(col("next") - col("prev"))), lit(0L)).as("d"))
      .collect()(0).getLong(0) // 1x1 convergence read

  /** A variant's teleport: its 1x1 scalar, aggregated over the node
    * frame, and the SQL of pr0 and of pr' (which read that scalar,
    * `seed`, `inc` and `dang`). */
  private case class Teleport(scalar: Column, init: String, update: String)

  /** The uniform 1/n teleport of [[pageRank]] and [[pageRankWeighted]]. */
  private def uniform(dampingPermille: Int, scale: Long) = Teleport(
    count(lit(1)).as("n"),
    s"${scale}L div n",
    s"(${1000L - dampingPermille} * ${scale}L) div (1000 * n)" +
      s" + ($dampingPermille * (coalesce(inc, 0L) + dang div n)) div 1000")

  /** Self-loop-free, deduplicated unweighted edges as weight-1 edges. */
  private def unitEdges(edges: DataFrame): DataFrame =
    edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
      .withColumn("w", lit(1L))

  /** The one power-iteration loop: `edges` (`src`, `dst`, `w`) are
    * self-loop-free with unique (src, dst) and w >= 1; `seeds` (`id`),
    * when given, are extra nodes flagged `seed = 1`. Returns
    * (id, pr_micro). */
  private def iterate(edges: DataFrame, seeds: Option[DataFrame],
      t: Teleport, iterations: Int, tolMicro: Long): DataFrame = {
    import graft.util.Checkpoints.cut
    val doCut = iterations > CutEvery || tolMicro > 0L
    val e = if (doCut) edges.persist() else edges
    try {
    val noW = lit(null).cast("long").as("w")
    val ends = Seq(
      e.select(col("src").as("id"), col("w"), lit(0L).as("seed")),
      e.select(col("dst").as("id"), noW, lit(0L).as("seed"))) ++
      seeds.map(_.select(col("id"), noW, lit(1L).as("seed")))
    val nodes = ends.reduce(_ unionByName _)
      .groupBy(col("id"))
      .agg(max(col("seed")).as("seed"), sum(col("w")).as("wd"))
    val scalar = nodes.agg(t.scalar) // 1x1
    var pr = nodes.crossJoin(broadcast(scalar))
      .selectExpr("id", "seed", "wd", s"${t.init} AS pr")
    var i = 1
    var converged = false
    while (i <= iterations && !converged) {
      // using-column joins throughout: pr, nodes and e share lineage
      // (all derive from the edge frame), so df("col") references
      // would trip DetectAmbiguousSelfJoin
      val inc = e.join(pr.withColumnRenamed("id", "src"), Seq("src"))
        .selectExpr("dst", "(pr * w) div wd AS share")
        .groupBy(col("dst")).agg(sum(col("share")).as("inc"))
      val dang = pr.filter(col("wd").isNull)
        .agg(coalesce(sum(col("pr")), lit(0L)).as("dang")) // 1x1
      var next = nodes
        .join(inc.withColumnRenamed("dst", "id"), Seq("id"), "left")
        .crossJoin(broadcast(dang.crossJoin(scalar)))
        .selectExpr("id", "seed", "wd", s"${t.update} AS pr")
      if (doCut) next = cut(next)
      if (tolMicro > 0L && l1Delta(next, pr, "pr") <= tolMicro)
        converged = true
      pr = next
      i += 1
    }
    pr.select(col("id"), col("pr").as("pr_micro"))
    } finally if (doCut) e.unpersist()
  }

  /** (id, pr_micro) after `iterations` synchronous steps over a
    * directed edge frame (`src`, `dst`). Self-loops drop, duplicate
    * edges count once; every endpoint appears in the output.
    *
    * `tolMicro > 0` adds CONVERGENCE-BASED termination: the run stops
    * at the first iteration whose exact-integer L1 step distance
    * Σ|Δpr| (same `scale` units as the ranks) is ≤ `tolMicro`, with
    * `iterations` as the cap — the production shape, where a ranking
    * runs to a tolerance rather than a guessed count. The check is one
    * extra equi-join + 1×1 scalar read per iteration, deterministic,
    * so `pageRank(e, cap, tol)` ≡ `pageRank(e, k)` at the stop
    * iteration k (spec-pinned). Tol runs cut every iteration (the
    * convergence read executes each step eagerly anyway). */
  def pageRank(edges: DataFrame, iterations: Int = 3,
      dampingPermille: Int = 850,
      scale: Long = 1000000000000L,
      tolMicro: Long = 0L): DataFrame = {
    validate(iterations, dampingPermille, scale)
    iterate(unitEdges(edges), None, uniform(dampingPermille, scale),
      iterations, tolMicro)
  }

  /** Personalized PageRank with the teleport distribution restricted
    * to a seed set — the TrustRank construction (Gyöngyi,
    * Garcia-Molina & Pedersen, VLDB 2004): seed a handful of
    * hand-vetted trusted hosts, propagate trust along links, and rank
    * the rest of the crawl by how much seeded mass reaches it. The
    * curation use is demoting link-spam neighborhoods that plain
    * PageRank rewards; the symmetric run with a BAD seed set is
    * "anti-trust" spam scoring.
    *
    * Same exact scaled-integer recurrence as [[pageRank]], with the
    * uniform 1/n teleport replaced by 1/|S| over seeds (and dangling
    * mass likewise returned to the seeds, the standard personalized
    * correction):
    * {{{
    *   pr0(v)   = scale div |S|                     if v in S else 0
    *   pr'(v)   = [v in S] * ( ((1000 - d) * scale) div (1000 * |S|)
    *              + (d * (dang div |S|)) div 1000 )
    *              + (d * inc(v)) div 1000
    * }}}
    * Non-seed nodes with no in-links stay exactly 0 — mass only ever
    * arrives via a path from a seed. Seeds not present in the edge
    * set still teleport (they rank even when isolated). Shuffle shape
    * and lineage policy are identical to [[pageRank]]; the seeds join
    * the node frame, and |S| is summed from its seed flags. An empty
    * seed set fails loudly in-plan (every rank would otherwise be a
    * silent non-ANSI NULL). */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
      iterations: Int = 3, dampingPermille: Int = 850,
      scale: Long = 1000000000000L,
      tolMicro: Long = 0L): DataFrame = {
    validate(iterations, dampingPermille, scale)
    // In-plan empty-seed guard: ns = 0 would make every 'div ns' a
    // non-ANSI NULL and silently NULL out all ranks — fail loudly
    // instead (the decayedCounts discipline).
    val ns = sum(col("seed"))
    val seeded = Teleport(
      when(assert_true(ns >= 1, lit("personalizedPageRank: empty seed " +
        "set — every rank would be NULL")).isNull, ns).as("ns"),
      s"CASE WHEN seed = 1 THEN ${scale}L div ns ELSE 0L END",
      s"seed * ((${1000L - dampingPermille} * ${scale}L)" +
        s" div (1000 * ns) + ($dampingPermille * (dang div ns)) div 1000)" +
        s" + ($dampingPermille * coalesce(inc, 0L)) div 1000")
    iterate(unitEdges(edges),
      Some(seeds.select(seeds.columns.head).toDF("id")), seeded,
      iterations, tolMicro)
  }

  /** Weighted PageRank: rank mass leaves a node proportionally to
    * integer edge weights (observation counts, link multiplicities —
    * the natural web-graph form) instead of uniformly:
    * `share(u -> v) = (pr(u) * w(u,v)) div W(u)` with `W` the node's
    * out-weight sum; teleport and dangling handling are identical to
    * [[pageRank]], and the arithmetic stays exact scaled-integer, so
    * the result is hash-checkable. Duplicate (src, dst) rows sum their
    * weights; self-loops drop; weights must be >= 1 (rows with
    * w <= 0 are dropped as non-edges). The per-edge product pr * w is
    * the one wide value — guarded in-plan against 2^63 on every edge
    * whose weight is read (max weight must stay under 2^63 / scale,
    * ~9.2e6 at the default scale). Same shuffle shape and lineage
    * policy as [[pageRank]]. */
  def pageRankWeighted(edges: DataFrame, iterations: Int = 3,
      dampingPermille: Int = 850,
      scale: Long = 1000000000000L,
      tolMicro: Long = 0L): DataFrame = {
    validate(iterations, dampingPermille, scale)
    val e = edges.select(col("src"), col("dst"),
        col("w").cast("long").as("w"))
      .filter(col("src") =!= col("dst") && col("w") > 0)
      .groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w"))
      .select(col("src"), col("dst"), when(assert_true(
        col("w") <= lit(Long.MaxValue / scale),
        lit("pageRankWeighted: edge weight * scale exceeds Long range — " +
          "rescale weights")).isNull, col("w")).as("w"))
    iterate(e, None, uniform(dampingPermille, scale), iterations, tolMicro)
  }
}
