package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-mixture planning: given target corpus shares per stratum
  * (language, source domain) in ppm and a total token budget, compute
  * per-stratum actual token counts and the integer sampling-rate /
  * epoch factors that realize the mixture — the "how many epochs of
  * Wikipedia, what downsample of CommonCrawl" table every pre-training
  * run starts from.
  *
  * All decisions are integer-exact. The two places a product could
  * overflow Long at trillion-token scale are handled differently:
  * `budget · ppm` by quotient/remainder decomposition (the remainder
  * product is < 10¹²), and the fractional rate `(want mod actual)·10⁶ /
  * actual` — whose remainder can itself be ~10¹³ — through DECIMAL(38)
  * arithmetic, which is exact for these magnitudes. One aggregation
  * over the corpus; the targets broadcast.
  */
object Mixture {

  /** floor(a·10⁶ / b) for 0 ≤ a < b, overflow-safe: the product runs in
    * DECIMAL(38,0) (exact — a·10⁶ < 10²⁵ ≪ 10³⁸), the integral divide
    * returns a Long < 10⁶. */
  private def fracPpm(a: Column, b: Column): Column =
    graft.time.Buckets.intDiv(
      a.cast("decimal(38,0)") * lit(1000000L),
      b.cast("decimal(38,0)")).cast("long")

  /** Plan rows: (stratum, n_toks actual, want_toks, keep_ppm, epochs).
    *  - `want_toks`  = floor(budget · target_ppm / 10⁶);
    *  - `keep_ppm`   = min(10⁶, floor(10⁶ · want / actual)) — the
    *    downsample rate when the stratum is over-represented;
    *  - `epochs`     = ceil(want / actual) — the repeat factor when it
    *    is under-represented (0 when the target is 0).
    * `budgetTokens = None` re-mixes at the corpus's own total size.
    * Strata absent from `targetsPpm` get target 0 (dropped strata);
    * target strata absent from the CORPUS still get a plan row
    * (n_toks 0, keep 0, epochs 0) so a misspelled target key is
    * visible instead of silently vanishing. */
  def plan(docs: DataFrame, targetsPpm: Map[String, Long],
      budgetTokens: Option[Long] = None, strataCol: String = "lang",
      textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    planWithTargets(docs, targetsPpm.toSeq.toDF("stratum", "target_ppm"),
      budgetTokens, strataCol, textCol)
  }

  /** [[plan]] with the targets supplied as a DataFrame (stratum,
    * target_ppm) instead of a driver-side map — the composition point
    * for DERIVED targets such as [[temperatureTargets]], where the
    * shares come from an aggregation over the corpus itself and never
    * need to land on the driver. The targets frame is strata-sized and
    * broadcasts. */
  def planWithTargets(docs: DataFrame, targetsDf: DataFrame,
      budgetTokens: Option[Long] = None, strataCol: String = "lang",
      textCol: String = "text"): DataFrame = {
    val actual = docs
      .groupBy(col(strataCol).as("stratum"))
      .agg(sum(graft.text.TextOps.tokenCount(col(textCol)).cast("long"))
        .as("n_toks"))
    val targets = broadcast(
      targetsDf.select(col("stratum"), col("target_ppm").cast("long")))
    // full outer: corpus-only strata get target 0; target-only strata
    // surface as (n_toks 0) rows rather than disappearing
    val merged = actual.join(targets, Seq("stratum"), "full_outer")
      .select(col("stratum"),
        coalesce(col("n_toks"), lit(0L)).as("n_toks"),
        coalesce(col("target_ppm"), lit(0L)).as("target_ppm"))
    val withBudget = budgetTokens match {
      case Some(b) => merged.withColumn("b", lit(b))
      case None =>
        // 1×1 scalar-summary combine (same pattern as the other
        // whole-corpus scalars) — not a data cross join
        merged.crossJoin(
          actual.agg(coalesce(sum(col("n_toks")), lit(0L)).as("b")))
    }
    import graft.time.Buckets.intDiv
    val M = lit(1000000L)
    // want = floor(b · ppm / 1e6) via q/r decomposition (overflow-safe:
    // the remainder product is < 1e6 · 1e6 = 1e12)
    val want = intDiv(col("b"), M) * col("target_ppm") +
      intDiv(pmod(col("b"), M) * col("target_ppm"), M)
    val planned = withBudget.withColumn("want_toks", want)
    // keep_ppm: saturate at 1e6 whenever want >= actual (any full epoch
    // keeps everything), else the exact fractional rate — no quotient
    // multiply, so nothing can wrap; a zero-token stratum (all-empty
    // texts or absent from the corpus) plans to 0/0 instead of
    // dividing by zero
    val keep = when(col("n_toks") === 0L, 0L)
      .when(col("want_toks") >= col("n_toks"), M)
      .otherwise(fracPpm(col("want_toks"), col("n_toks")))
    val epochs = when(col("n_toks") === 0L, 0L).otherwise(
      intDiv(col("want_toks") + col("n_toks") - 1, col("n_toks")))
    planned.select(col("stratum"), col("n_toks"), col("want_toks"),
      keep.as("keep_ppm"), greatest(epochs, lit(0L)).as("epochs"))
  }

  /** MATERIALIZE a [[plan]]: each doc appears `floor(want/actual)` full
    * epochs plus one more iff its deterministic hash draw falls under
    * the remainder rate — so per stratum the expected token mass equals
    * `want_toks` (row-level sampling approximates token-level; the
    * standard trade). Downsampling is the epochs = 0 case of the same
    * formula. Output = input columns + `copy` (0-based epoch index);
    * deterministic under any partitioning ([[PipelineOps.hashDraw]]).
    * The plan broadcasts (strata-sized). */
  def applyPlan(docs: DataFrame, planDf: DataFrame,
      strataCol: String = "lang", idCol: String = "doc_id"): DataFrame = {
    import graft.time.Buckets.intDiv
    val p = planDf.select(col("stratum").as(strataCol),
      col("n_toks"), col("want_toks"))
      .filter(col("n_toks") > 0)  // zero-token strata emit nothing
    val joined = docs.join(broadcast(p), Seq(strataCol))
    val full = intDiv(col("want_toks"), col("n_toks"))
    // overflow-safe fractional remainder rate (DECIMAL product)
    val remPpm = fracPpm(pmod(col("want_toks"), col("n_toks")),
      col("n_toks"))
    val nCopies = (full + when(
      PipelineOps.hashDraw(col(idCol)) < remPpm, 1L).otherwise(0L))
      .as("n_copies")
    joined.withColumn("n_copies", nCopies)
      .filter(col("n_copies") > 0)
      .select(docs.columns.map(col).toIndexedSeq :+
        explode(sequence(lit(0L), col("n_copies") - 1)).as("copy"): _*)
  }

  /** TOKEN-EXACT [[applyPlan]]: the partial-epoch remainder keeps docs
    * by a token-budget prefix instead of an independent per-doc coin.
    *
    * [[applyPlan]]'s row-level draw is unbiased in token mass (each
    * doc's extra-copy probability is the remainder rate, so expected
    * kept tokens = want exactly), but its VARIANCE is Σtᵢ² over the
    * stratum — a long-doc-skewed stratum can realize far off `want` on
    * any given corpus. Here docs are ordered by the SAME deterministic
    * hash draw (then id) and the extra copy goes to the prefix whose
    * exclusive cumulative token count is under the remainder — kept
    * token mass lands within ONE document of `want_toks`
    * (systematic ∝-token sampling; spec-pinned under pathological
    * skew). Determinism carries over: same corpus + plan ⇒ same rows
    * on any partitioning or engine.
    *
    * Needs `textCol` (token counts) where applyPlan does not; the
    * per-stratum running sum is [[PipelineOps.exclusivePrefixSum]] —
    * two-pass range-sort, no per-stratum window task.
    *
    * It inherits the prefix sum's eagerness contract: a bounded
    * row-probe JOB at plan construction ([[graft.util.DriverLane]];
    * Round11Spec pins the count). */
  def applyPlanTokenExact(docs: DataFrame, planDf: DataFrame,
      strataCol: String = "lang", idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    import graft.time.Buckets.intDiv
    val p = planDf.select(col("stratum").as(strataCol),
      col("n_toks"), col("want_toks"))
      .filter(col("n_toks") > 0)
    val toks = docs.select(col(idCol), col(strataCol),
      coalesce(graft.text.TextOps.tokenCount(col(textCol)).cast("long"),
        lit(0L)).as("__t"),
      PipelineOps.hashDraw(col(idCol)).as("__draw"))
    val cum = PipelineOps.exclusivePrefixSum(toks, strataCol,
      Seq("__draw", idCol), "__t", "__cum")
      .select(col(idCol), col("__cum"))
    val joined = docs.join(broadcast(p), Seq(strataCol))
      .join(cum, Seq(idCol))
    val full = intDiv(col("want_toks"), col("n_toks"))
    val rem = pmod(col("want_toks"), col("n_toks"))
    val nCopies = (full +
      when(col("__cum") < rem, 1L).otherwise(0L)).as("n_copies")
    joined.withColumn("n_copies", nCopies)
      .filter(col("n_copies") > 0)
      .select(docs.columns.map(col).toIndexedSeq :+
        explode(sequence(lit(0L), col("n_copies") - 1)).as("copy"): _*)
  }

  /** Temperature-based (α-sampling) mixture targets (the multilingual
    * pre-training rebalance of Conneau & Lample 2019 / mT5): target
    * share pᵢ ∝ nᵢ^α flattens the stratum size distribution — α = 1
    * keeps natural proportions, α → 0 approaches uniform, α = 0.5 (the
    * common default) is the square-root rebalance. Emitted as
    * integer-exact ppm summing to exactly 10⁶ by largest-remainder
    * apportionment over micro-unit weights wᵢ = round(10⁶·nᵢ^α):
    * baseᵢ = ⌊10⁶·wᵢ / Σw⌋ and the Σbase deficit goes to the largest
    * division remainders (ties → stratum ascending), so the result is
    * identical on any engine — no floating accumulation order anywhere
    * past the single per-stratum root. α = 0.5 is stated with sqrt,
    * which IEEE 754 rounds correctly in every libm, so the oracle
    * agrees bit-for-bit; other α go through pow (last-ulp libm
    * differences could in principle move a micro-unit) and are
    * spec-checked rather than oracle-hashed.
    *
    * Returns (stratum, n_toks, weight_micro, target_ppm) for strata
    * with n_toks > 0; feeds [[planWithTargets]]. Scale shape: one
    * map-side-combining aggregation over the corpus; the apportionment
    * (including its single-partition rank window) runs on the
    * strata-sized table, which is bounded by definition. */
  def temperatureTargets(docs: DataFrame, alpha: Double = 0.5,
      strataCol: String = "lang", textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.time.Buckets.intDiv
    val actual = docs
      .groupBy(col(strataCol).as("stratum"))
      .agg(sum(graft.text.TextOps.tokenCount(col(textCol)).cast("long"))
        .as("n_toks"))
      .filter(col("n_toks") > 0)
    val root = if (alpha == 0.5) sqrt(col("n_toks").cast("double"))
      else pow(col("n_toks").cast("double"), lit(alpha))
    val weighted = actual.withColumn("weight_micro",
      round(root * lit(1000000.0d)).cast("long"))
    // Σw: 1×1 scalar-summary combine (the whole-corpus-scalar pattern)
    val withTot = weighted.crossJoin(
      weighted.agg(sum(col("weight_micro")).as("__w_tot")))
    val num = col("weight_micro").cast("decimal(38,0)") * lit(1000000L)
    val tot = col("__w_tot").cast("decimal(38,0)")
    val base = intDiv(num, tot)
    val rem = num - base.cast("decimal(38,0)") * tot
    val t = withTot.select(col("stratum"), col("n_toks"),
      col("weight_micro"), base.as("__base"), rem.as("__rem"))
    val deficit = t.agg((lit(1000000L) - sum(col("__base")))
      .as("__deficit"))
    t.withColumn("__rn", row_number().over(
        Window.orderBy(desc("__rem"), asc("stratum"))))
      .crossJoin(deficit)
      .select(col("stratum"), col("n_toks"), col("weight_micro"),
        (col("__base") + when(col("__rn") <= col("__deficit"), 1L)
          .otherwise(0L)).as("target_ppm"))
  }
}
