package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Community detection by SYNCHRONOUS label propagation (Raghavan et
  * al. 2007), made deterministic: every node starts labeled with its
  * own id; each round every node adopts the label most frequent among
  * its neighbors, ties broken by the SMALLEST label — no coin flips,
  * no asynchronous update order, so the result is a pure function of
  * the graph and the round count (and the q140 oracle can state the
  * rounds verbatim as SQL).
  *
  * Scale posture: one round = one equi-join of the symmetrized edge
  * set against the label table (shuffle on the neighbor key) + two
  * hash aggregations — the (count, label) argmax is a single
  * `min(struct(-cnt, label))` with map-side partials, never a
  * per-node sort window. Rounds are a fixed parameter by default
  * (LPA's quality plateaus in a handful of sweeps); `tolChanges`
  * switches to convergence-based termination on the label-change
  * count. Runs past [[LazyRounds]] — or past the
  * [[graft.util.DriverLane]] bound in edges, whichever trips first —
  * persist the symmetrized edge set and cut the label frame every
  * round (PageRank's lineage policy: interior laziness multiplies the
  * plan per round and gets re-executed).
  */
object Communities {

  /** Longest run that stays fully lazy and uncut — the gate fast path
    * (q140 sweeps twice). Applies only within the driver lane's edge
    * count: past the [[graft.util.DriverLane]] bound even a 1-round run
    * persists the symmetrized edge set and cuts the label frame from
    * round 1. The round-count-only trigger was inverted at scale: a
    * fully-lazy 2-round sweep on the 10.5 M-edge probe graph re-executed
    * the symmetrize+distinct shuffle per downstream job and read SLOWER
    * than six cut rounds (BENCH_GRAPH r14: lazy lpa2 19.8 s vs cut lpa6
    * 16.0 s). Under the bound the lazy plan is the measured winner,
    * above it the per-round materialization is. The probe is a
    * limit-bounded count — it stops scanning at the bound + 1, so small
    * inputs pay one cheap pass. */
  val LazyRounds = 2

  /** (id, label) after `rounds` synchronous sweeps over a directed
    * edge frame (`src`, `dst`) — edges are symmetrized and
    * deduplicated first (LPA is an undirected-neighborhood notion;
    * self-loops drop). Every endpoint appears in the output.
    *
    * `tolChanges >= 0` adds convergence-based termination: stop at the
    * first round where the number of nodes that CHANGED label is
    * ≤ `tolChanges` (0 = fully stable), capped at `rounds`. The count
    * is exact and deterministic, so `labelPropagation(e, cap, tol=t)`
    * ≡ `labelPropagation(e, k)` at the stop round k (spec-pinned).
    * Tol runs cut every round (the stability count executes each
    * round eagerly anyway). */
  def labelPropagation(edges: DataFrame, rounds: Int = 2,
      tolChanges: Long = -1L): DataFrame = {
    import graft.util.Checkpoints.cut
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    val e = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst"))
    // the size probe (short-circuited: only 0 < rounds <= LazyRounds
    // reaches it) counts POST self-loop filter (ADVICE r15 — a
    // loop-heavy frame must not trip persistence on rows LPA drops);
    // pre-dedup duplicates still count, an accepted overestimate — an
    // exact distinct() here would cost the very shuffle the probe
    // exists to avoid. One upstream re-execution per call, limit-
    // bounded at the bound + 1.
    val doCut = rounds > LazyRounds || tolChanges >= 0L ||
      (rounds > 0 && !graft.util.DriverLane.fits(e))
    val sym0 = e.unionByName(
        e.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
    val sym = if (doCut) sym0.persist() else sym0
    try {
      val nodes = sym.select(col("src").as("id")).distinct()
      var labels = nodes.select(col("id"), col("id").as("label"))
      var round = 1
      var stable = false
      while (round <= rounds && !stable) {
        val counts = sym
          .join(labels.select(col("id").as("dst"),
            col("label").as("nlabel")), "dst")
          .groupBy(col("src"), col("nlabel"))
          .agg(count(lit(1)).as("c"))
        val best = counts
          .groupBy(col("src"))
          .agg(min(struct((-col("c")).as("nc"), col("nlabel").as("l")))
            .as("m"))
          .select(col("src").as("id"), col("m.l").as("label"))
        var next = nodes.join(best, Seq("id"), "left")
          .select(col("id"), coalesce(col("label"), col("id")).as("label"))
        if (doCut) next = cut(next)
        if (tolChanges >= 0L) {
          val changed = next
            .join(labels.select(col("id"), col("label").as("prev")),
              Seq("id"))
            .filter(col("label") =!= col("prev"))
            .count() // 1x1 convergence read
          if (changed <= tolChanges) stable = true
        }
        labels = next
        round += 1
      }
      labels
    } finally if (doCut) sym.unpersist()
  }

  /** MODULARITY sufficient statistics of a labeling over an
    * (undirected, deduplicated) graph — how a community assignment
    * (LPA output, source families, host clusters) is actually judged:
    * per label, (n_nodes) members, (n_internal) edges with both ends
    * inside, (sum_deg) total member degree, plus the global edge
    * count (m) on every row as a 1×1 broadcast scalar. Newman's
    * Q = Σ_c [ n_internal_c/m − (sum_deg_c/2m)² ] derives
    * consumer-side (see [[modularity]]), so the gated frame stays
    * integer-exact (the q87/q180 discipline).
    *
    * Unlabeled endpoints keep their own id as a singleton label
    * (LPA's init convention), so Q is always over a total labeling.
    * Shape: canonical edge dedup, one degree aggregation, two
    * broadcast-friendly label joins, two keyed aggregations — every
    * shuffle on a node or label key with map-side partials. */
  def modularityComponents(edges: DataFrame,
      labels: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .distinct()
    val sym = e.select(col("u").as("id"), col("v").as("nbr"))
      .unionByName(e.select(col("v").as("id"), col("u").as("nbr")))
    val deg = sym.groupBy(col("id")).agg(count(lit(1)).as("degree"))
    val lab = deg.select(col("id"))
      .join(labels.select(col("id"), col("label")), Seq("id"), "left")
      .select(col("id"), coalesce(col("label"), col("id")).as("label"))
    val perLabel = lab.join(deg, Seq("id"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("degree")).as("sum_deg"))
    val internal = e
      .join(lab.select(col("id").as("u"), col("label").as("lu")), Seq("u"))
      .join(lab.select(col("id").as("v"), col("label").as("lv")), Seq("v"))
      .filter(col("lu") === col("lv"))
      .groupBy(col("lu").as("label"))
      .agg(count(lit(1)).as("n_internal"))
    val m = e.agg(count(lit(1)).as("m")) // 1x1
    perLabel.join(internal, Seq("label"), "left")
      .crossJoin(broadcast(m))
      .select(col("label"), col("n_nodes"),
        coalesce(col("n_internal"), lit(0L)).as("n_internal"),
        col("sum_deg"), col("m"))
  }

  /** Newman modularity Q off a [[modularityComponents]] frame —
    * driver-side convenience over the (label-count-sized) stats.
    * 0.0 for an empty graph. */
  def modularity(components: DataFrame): Double = {
    val rows = components.select(col("n_internal"), col("sum_deg"),
      col("m")).collect()
    if (rows.isEmpty) return 0.0
    val m = rows(0).getLong(2).toDouble
    if (m == 0) return 0.0
    rows.map { r =>
      val frac = r.getLong(0) / m
      val d = r.getLong(1) / (2.0 * m)
      frac - d * d
    }.sum
  }
}
