package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic random-walk corpus generation — the DeepWalk /
  * node2vec data-prep stage: `walksPerNode` fixed-length walks from
  * every node with out-degree > 0, emitted as (start, widx, step,
  * node) rows (the "sentences" a downstream skip-gram embedding
  * trains on).
  *
  * The "randomness" is a reproducible hash draw: the next step from
  * the walk (start, widx) at step t is the out-neighbor `dst` of the
  * current node minimizing md5("start|widx|t|dst") — deterministic
  * across retries, partitionings and engines (the q135 oracle states
  * the same md5 draw verbatim), which is what a 100 TB pipeline needs
  * from sampled data (a re-run must not produce a different corpus).
  * Draws are md5-unique per candidate in practice; the tiebreak
  * (struct min falls back to dst) is total either way.
  *
  * Scale posture: each step is ONE equi-join of the frontier (n·w
  * rows) against the edge table on the current node plus a map-side-
  * partial min aggregation per walk — never adjacency materialized
  * per walk, never a driver loop over nodes. Walks reaching a sink
  * node simply stop (no row at later steps). For long walks cut the
  * input upstream ([[graft.util.Checkpoints.cut]]) if lineage depth
  * matters; typical embedding walks (L ≤ 80) are fine.
  */
object RandomWalks {

  /** Walk corpus over a directed edge frame (`src`, `dst` columns).
    * Self-loops are dropped; edges are deduplicated (the walk is over
    * the graph, not the multigraph). */
  def walks(edges: DataFrame, walksPerNode: Int = 2,
      length: Int = 3): DataFrame = {
    require(walksPerNode > 0 && length >= 0,
      s"need walksPerNode > 0, length >= 0, got $walksPerNode/$length")
    val e = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct()
    var frontier = e.select(col("src").as("start")).distinct()
      .select(col("start"),
        explode(sequence(lit(0), lit(walksPerNode - 1))).as("widx"))
      .select(col("start"), col("widx").cast("long").as("widx"),
        col("start").as("cur"))
    var out = frontier.select(col("start"), col("widx"),
      lit(0L).as("step"), col("cur").as("node"))
    for (t <- 1 to length) {
      val cand = frontier.join(e, frontier("cur") === e("src"))
        .select(col("start"), col("widx"), col("dst"),
          md5(concat(col("start"), lit("|"),
            col("widx").cast("string"), lit(s"|$t|"), col("dst"))
            .cast("binary")).as("draw"))
      frontier = cand.groupBy(col("start"), col("widx"))
        .agg(min(struct(col("draw"), col("dst"))).as("m"))
        .select(col("start"), col("widx"), col("m.dst").as("cur"))
      out = out.unionByName(frontier.select(col("start"), col("widx"),
        lit(t.toLong).as("step"), col("cur").as("node")))
    }
    out
  }

  /** node2vec-style SECOND-ORDER walks (Grover & Leskovec 2016) with
    * EXACT integer bias weights: from step 2 on, the candidate `dst`
    * from current node `cur` (reached from `prev`) weighs
    *  - `wReturn`  when `dst = prev`            (the 1/p "return"),
    *  - `wCommon`  when the edge prev→dst exists (distance-1 "BFS"),
    *  - `wOut`     otherwise                     (the 1/q "DFS").
    *
    * The weighted draw stays DETERMINISTIC and exact via
    * replicate-by-weight: each candidate becomes `w` copies, every
    * copy gets an independent md5 draw, the global min wins — the
    * winner lands on a candidate with probability proportional to its
    * weight (w iid draws minimize for it w/Σw of the time), yet the
    * outcome is a pure function of (start, widx, t, dst, copy). The
    * same replication is SQL-stateable, so q137's oracle states it
    * verbatim. Step 1 has no prev and draws uniformly.
    *
    * Same scale posture as [[walks]] plus one broadcast-friendly
    * left-semi-shaped join per step to classify prev→dst existence;
    * per-step work is Σ(out-degree · weight) candidate copies — keep
    * weights small integers (they are ratios, not magnitudes). */
  def node2vecWalks(edges: DataFrame, walksPerNode: Int = 2,
      length: Int = 3, wReturn: Int = 1, wCommon: Int = 4,
      wOut: Int = 2): DataFrame = {
    require(walksPerNode > 0 && length >= 0,
      s"need walksPerNode > 0, length >= 0, got $walksPerNode/$length")
    require(wReturn >= 0 && wCommon > 0 && wOut >= 0,
      s"weights must be >= 0 (wCommon > 0), got $wReturn/$wCommon/$wOut")
    val e = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct()
    var frontier = e.select(col("src").as("start")).distinct()
      .select(col("start"),
        explode(sequence(lit(0), lit(walksPerNode - 1))).as("widx"))
      .select(col("start"), col("widx").cast("long").as("widx"),
        lit(null).cast("string").as("prev"), col("start").as("cur"))
    var out = frontier.select(col("start"), col("widx"),
      lit(0L).as("step"), col("cur").as("node"))
    for (t <- 1 to length) {
      val cand0 = frontier.join(e, frontier("cur") === e("src"))
        .select(col("start"), col("widx"), col("prev"), col("cur"),
          col("dst"))
      val weighted =
        if (t == 1) cand0.withColumn("w", lit(1))
        else {
          // prev→dst edge existence via a left join against the edge
          // set keyed (src, dst) — the "distance to prev" classifier
          val pe = e.select(col("src").as("prev"), col("dst"),
            lit(1).as("pd_edge"))
          cand0.join(pe, Seq("prev", "dst"), "left")
            .withColumn("w",
              when(col("dst") === col("prev"), lit(wReturn))
                .when(col("pd_edge").isNotNull, lit(wCommon))
                .otherwise(lit(wOut)))
            .drop("pd_edge")
        }
      val cand = weighted.filter(col("w") > 0)
        .select(col("start"), col("widx"), col("cur"), col("dst"),
          explode(sequence(lit(1), col("w"))).as("copy"))
        .select(col("start"), col("widx"), col("cur"), col("dst"),
          md5(concat(col("start"), lit("|"),
            col("widx").cast("string"), lit(s"|$t|"), col("dst"),
            lit("|"), col("copy").cast("string"))
            .cast("binary")).as("draw"))
      frontier = cand.groupBy(col("start"), col("widx"))
        .agg(min(struct(col("draw"), col("dst"))).as("m"),
          first(col("cur")).as("pv"))
        .select(col("start"), col("widx"), col("pv").as("prev"),
          col("m.dst").as("cur"))
      out = out.unionByName(frontier.select(col("start"), col("widx"),
        lit(t.toLong).as("step"), col("cur").as("node")))
    }
    out
  }
}
