package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** HITS hubs-and-authorities (Kleinberg, JACM 1999) in EXACT
  * scaled-integer arithmetic: a good hub links to good authorities, a
  * good authority is linked from good hubs — the mutual recurrence
  * that separates "link directory" pages from "canonical source"
  * pages, which plain PageRank conflates. For corpus curation the
  * authority score is the keep signal (canonical documents) and a
  * high hub / low authority profile is the link-farm / SEO-spam
  * smell.
  *
  * Scores are carried as integer units of `scale` and every iteration
  * L1-renormalizes by integral division, so — like
  * [[PageRank.pageRank]] — the result is a pure function of the graph
  * and the iteration count: order-independent, hash-checkable against
  * a SQL oracle, reproducible across cluster sizes. (Classic HITS
  * uses the L2 norm; any norm yields the same ranking fixpoint, and
  * L1 keeps the arithmetic integral.)
  *
  * Recurrence (all divisions integral):
  * {{{
  *   a0(v)    = scale
  *   hRaw(u)  = sum of a(v) over edges u -> v
  *   h(u)     = hRaw(u) div max(1, sumAll(hRaw) div scale)
  *   aRaw(v)  = sum of h(u) over edges u -> v
  *   a(v)     = aRaw(v) div max(1, sumAll(aRaw) div scale)
  * }}}
  * so each vector re-sums into the (scale - n, 2 * scale) band (floor
  * normalization; the RANKING is what's exact). Nodes with no
  * out-links have hub 0; no in-links, authority 0; every endpoint
  * appears in the output.
  *
  * Scale posture: per iteration, TWO key-shuffled hash aggregations
  * (the src- and dst-keyed sums, map-side partials absorbing
  * power-law degree) and two 1x1 scalar sums combined by broadcast —
  * no driver collect, no normalization product that could overflow:
  * the only wide value is the scalar total, bounded by
  * 2 * edges * scale, guarded in-plan (`assert_true`) against 2^63.
  * The default `scale` 10^6 admits ~4.6e12 edges.
  */
object Hits {

  /** (id, hub_micro, auth_micro) after `iterations` mutual steps over
    * a directed edge frame (`src`, `dst`). Self-loops drop, duplicate
    * edges count once.
    *
    * `tolMicro > 0` adds convergence-based termination: stop at the
    * first iteration whose exact-integer Σ|Δauth| ≤ `tolMicro`, capped
    * at `iterations`. The authority delta alone decides — hub is a
    * pure function of the previous authority vector (h_i = f(a_{i-1})),
    * so a stationary authority vector fixes hub too. One extra
    * equi-join + 1×1 scalar read per iteration; deterministic, so
    * `hits(e, cap, tol)` ≡ `hits(e, k)` at the stop iteration k
    * (spec-pinned). Tol runs cut every iteration. */
  def hits(edges: DataFrame, iterations: Int = 2,
      scale: Long = 1000000L,
      tolMicro: Long = 0L): DataFrame = {
    import graft.util.Checkpoints.cut
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    require(scale >= 1L, s"scale must be >= 1, got $scale")
    // The Hits plan QUADRUPLES per iteration (hRaw and aRaw each feed
    // a score frame and a 1x1 total); cut-engaged runs cut BOTH score
    // frames every iteration — interior laziness is re-executed by
    // every per-iteration total broadcast (PageRank's lineage-policy
    // scaladoc; the round-14 probe graph measured the segment policy
    // at 43.8 s for 4 iterations on 1M edges).
    val cutEvery = 2
    val doCut = iterations > cutEvery || tolMicro > 0L
    val e0 = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
    val e = if (doCut) e0.persist() else e0
    try {
    val nodes = e.select(col("src").as("id"))
      .unionByName(e.select(col("dst").as("id")))
      .distinct()
    // In-plan overflow guard: per-node scores can reach ~2*scale-1
    // after floor normalization (the (scale-n, 2*scale) L1 band), so
    // the raw totals are bounded by 2 * |E| * scale — THAT must stay
    // under 2^63 for the long sums to be exact. One 1x1 scalar frame,
    // broadcast — fails loudly with the remedy instead of wrapping
    // silently (the decayedCounts discipline).
    val eGuard = e.agg(count(lit(1)).as("ecnt"))
      .select(when(
        assert_true(col("ecnt") <= lit(Long.MaxValue / scale / 2),
          lit("Hits: 2 * edge count * scale exceeds Long range — " +
            "lower scale")).isNull, lit(1L)).as("ok"))
    var auth = nodes.crossJoin(broadcast(eGuard))
      .selectExpr("id", s"ok * ${scale}L AS a")
    var hub: DataFrame = null
    var i = 1
    var converged = false
    while (i <= iterations && !converged) {
      // hub is cut BEFORE auth's plan is built on it, so auth's cut
      // job reads the materialized hub instead of re-executing it
      val hRaw = e.join(auth.withColumnRenamed("id", "dst"), Seq("dst"))
        .groupBy(col("src")).agg(sum(col("a")).as("hraw"))
      val hTot = hRaw.agg(
        coalesce(sum(col("hraw")), lit(0L)).as("htot")) // 1x1
      hub = nodes
        .join(hRaw.withColumnRenamed("src", "id"), Seq("id"), "left")
        .crossJoin(broadcast(hTot))
        .selectExpr("id",
          s"coalesce(hraw, 0L) div greatest(1L, htot div ${scale}L)" +
            " AS h")
      if (doCut) hub = cut(hub)
      val aRaw = e.join(hub.withColumnRenamed("id", "src"), Seq("src"))
        .groupBy(col("dst")).agg(sum(col("h")).as("araw"))
      val aTot = aRaw.agg(
        coalesce(sum(col("araw")), lit(0L)).as("atot")) // 1x1
      var nextAuth = nodes
        .join(aRaw.withColumnRenamed("dst", "id"), Seq("id"), "left")
        .crossJoin(broadcast(aTot))
        .selectExpr("id",
          s"coalesce(araw, 0L) div greatest(1L, atot div ${scale}L)" +
            " AS a")
      if (doCut) nextAuth = cut(nextAuth)
      if (tolMicro > 0L && PageRank.l1Delta(nextAuth, auth, "a") <= tolMicro)
        converged = true
      auth = nextAuth
      i += 1
    }
    hub.join(auth, Seq("id"))
      .select(col("id"), col("h").as("hub_micro"),
        col("a").as("auth_micro"))
    } finally if (doCut) e.unpersist()
  }
}
