package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.time.Buckets.intDiv

/** Exact grouped least-squares components. Floating-point sums are
  * association-order-dependent, so a distributed `corr`/`slope` is not
  * bit-reproducible across partitionings — instead we aggregate the
  * INTEGER-EXACT sufficient statistics (n, Σx, Σy, Σx², Σxy as
  * decimals) and derive the slope's numerator/denominator
  *
  *   slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)
  *
  * still exactly. These are also precisely the MERGEABLE per-shard
  * partials a 100 TB regression would combine (sum element-wise) — the
  * same pattern as the k-means mean-step partial sums (q52) and the
  * sketch register tables: ship small exact state, divide only at the
  * very end (driver/consumer side, where FP is a presentation choice).
  */
object Stats {

  /** Per-group sufficient statistics and exact slope fraction for the
    * regression of `y` on `x`. Both inputs must be integer-valued
    * columns (scale rationals to integers first — e.g. cents). One
    * hash aggregation, map-side partials. */
  def regressionComponents(df: DataFrame, groupCols: Seq[String],
      x: Column, y: Column): DataFrame = {
    val dx = x.cast("decimal(38,0)")
    val dy = y.cast("decimal(38,0)")
    df.groupBy(groupCols.map(col): _*)
      .agg(
        count(lit(1)).as("n"),
        sum(dx).as("sum_x"),
        sum(dy).as("sum_y"),
        sum(dx * dx).as("sum_xx"),
        sum(dx * dy).as("sum_xy"))
      // decimal-exact internally; surfaced as double (one final
      // round-to-nearest from the same exact integer on any engine —
      // the exactSum presentation convention)
      .select((groupCols.map(col) ++ Seq(
        col("n"),
        col("sum_x").cast("double").as("sum_x"),
        col("sum_y").cast("double").as("sum_y"),
        col("sum_xx").cast("double").as("sum_xx"),
        col("sum_xy").cast("double").as("sum_xy"),
        (col("n") * col("sum_xy") - col("sum_x") * col("sum_y"))
          .cast("double").as("slope_num"),
        (col("n") * col("sum_xx") - col("sum_x") * col("sum_x"))
          .cast("double").as("slope_den"))): _*)
  }

  /** EXACT 3σ outlier flags per group, with NO floating point in the
    * decision: (x − μ)² > 9σ² multiplied through by n² becomes
    *
    *   (n·x − Σx)² > 9·(n·Σx² − (Σx)²)
    *
    * — all integer (decimal-exact) terms, so a value sitting exactly on
    * the boundary flags identically on every engine and partitioning
    * (an FP mean/stddev can flip it). One aggregation for the group
    * moments (broadcast — |groups| rows) + one scan with the decimal
    * predicate. Returns the flagged rows. `x` must be integer-valued
    * (scale to cents first) with n·|x| ≲ 10¹⁹ per group — the squared
    * deviation must fit DECIMAL(38,0) (Spark silently NULLs past it;
    * the INT128 oracle twin errors). */
  def sigmaOutliers(df: DataFrame, groupCols: Seq[String], x: Column,
      nSigma: Int = 3): DataFrame = {
    val dx = x.cast("decimal(38,0)")
    val stats = df.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).cast("decimal(38,0)").as("__n"),
        sum(dx).cast("decimal(38,0)").as("__sx"),
        sum(dx * dx).cast("decimal(38,0)").as("__sxx"))
    val dev = (col("__n") * dx - col("__sx"))
    val varN2 = col("__n") * col("__sxx") - col("__sx") * col("__sx")
    df.join(broadcast(stats), groupCols)
      .filter(dev * dev > lit(nSigma * nSigma) * varN2)
      .drop("__n", "__sx", "__sxx")
  }

  /** EXACT discrete quantiles per group: for each q (in ppm), the
    * smallest value whose cumulative count reaches q·n — the lower
    * discrete quantile, integer-exact (no interpolation, so engines
    * can't disagree in the last ulp). One partitioned sort with a
    * value-RANGE cumulative frame (ties pool), then one aggregation
    * producing a `p_<ppm>` column per requested quantile.
    *
    * PRECONDITION: `value` must be NON-NULL — a NULL sorts FIRST
    * under Spark's window order and LAST under DuckDB's, silently
    * shifting every cumulative count (fuzz finding). Callers with
    * nullable inputs filter first ([[winsorize]] does); the exclusion
    * is NOT built in here because both in-operator forms measured
    * ~0.5 s slower on the q129 composition (a filter on the derived
    * value pushes below the window into the shared input plan; a
    * null-skipping count(col) frame loses the count(*) fast path). */
  def exactQuantiles(df: DataFrame, groupCols: Seq[String], value: Column,
      qsPpm: Seq[Long]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val part = Window.partitionBy(groupCols.map(col): _*)
    val cumW = part.orderBy(col("__v"))
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    val base = df.select(groupCols.map(col) :+ value.as("__v"): _*)
      .withColumn("__cum", count(lit(1)).over(cumW))
      .withColumn("__tot", count(lit(1)).over(part))
    val exprs = qsPpm.map(q => min(when(
      col("__cum") * 1000000L >= lit(q) * col("__tot"), col("__v")))
      .as(s"p_$q"))
    base.groupBy(groupCols.map(col): _*).agg(exprs.head, exprs.tail: _*)
  }

  /** WINSORIZE: clip each row's value to its group's [loPpm, hiPpm]
    * exact discrete quantiles — the standard outlier TREATMENT next to
    * [[sigmaOutliers]]' detection. Quantile table broadcasts. Adds a
    * `clipped` column. */
  def winsorize(df: DataFrame, groupCols: Seq[String], value: Column,
      loPpm: Long = 50000L, hiPpm: Long = 950000L): DataFrame = {
    // nullable-input caller: null values must not shape the quantile
    // thresholds (exactQuantiles' non-null precondition); the
    // null-valued ROWS still pass through with clipped semantics
    val qs = exactQuantiles(df.filter(value.isNotNull), groupCols,
      value, Seq(loPpm, hiPpm))
    df.join(broadcast(qs), groupCols)
      .withColumn("clipped",
        least(greatest(value, col(s"p_$loPpm")), col(s"p_$hiPpm")))
      .drop(s"p_$loPpm", s"p_$hiPpm")
  }

  /** EXACT weighted median per group: the smallest value v whose
    * cumulative weight (over all rows with value ≤ v) reaches half the
    * group's total weight — 2·cum ≥ total, the standard lower weighted
    * median, integer-exact for integer weights. One partitioned sort;
    * the cumulative frame is value-RANGE so ties accumulate together
    * (deterministic without a tie-break column). The unweighted exact
    * percentile (q45) is the w = 1 special case. */
  def weightedMedian(df: DataFrame, groupCols: Seq[String],
      value: Column, weight: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df.select(groupCols.map(col) :+ value.as("__v") :+
      weight.cast("long").as("__w"): _*)
    val part = Window.partitionBy(groupCols.map(col): _*)
    val cumW = part.orderBy(col("__v"))
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    base
      .withColumn("__cum", sum(col("__w")).over(cumW))
      .withColumn("__tot", sum(col("__w")).over(part))
      .filter(col("__cum") * 2 >= col("__tot"))
      .groupBy(groupCols.map(col): _*)
      .agg(min(col("__v")).as("weighted_median"))
  }

  /** EXACT corpus-wide rank and dense rank of `valueCol` — the
    * global-ordering primitive (percentile normalization of quality
    * scores, rank-based blending) WITHOUT the scale-killer: a bare
    * `rank() OVER (ORDER BY v)` funnels the whole table through one
    * task, so instead the ranks are computed on the DISTINCT-VALUE
    * COUNT table (orders of magnitude smaller) via
    * [[PipelineOps.exclusivePrefixSum]] (range-sorted two-pass scan —
    * no single-partition window there either, and on the driver lane
    * it takes the cheap window on the small table anyway)
    * and joined back on the value:
    *
    *  - `rank`       = 1 + Σ counts of strictly-smaller values (SQL
    *    competition rank),
    *  - `dense_rank` = 1 + #distinct strictly-smaller values.
    *
    * Rows with NULL values keep NULL ranks (SQL windows sort them
    * together; a global ordering of nulls is not meaningful —
    * filter upstream if they matter).
    *
    * Note: on the [[graft.util.DriverLane]] (at most its bound in
    * DISTINCT VALUES) the prefix scan deliberately takes a
    * constant-partition window — a single task over the bounded count
    * table, one of the engine's documented intentional
    * single-partition windows (the `Skew.report` class); past the
    * bound the two-pass range-sort scan runs instead, so the
    * full-table row count never reaches one task either way. */
  /** Freshness-decayed counts — the exponential-decay popularity /
    * recency score used to weight sources and keys by how CURRENT
    * their activity is, stated integer-exactly: age is bucketed into
    * half-life units (clamped to `maxBuckets`), each event weighs
    * 2^(maxBuckets − bucket), and the per-key score is Σ weights —
    * pure longs summed in DECIMAL(38,0), so the result is mergeable,
    * partitioning-independent, and engine-independent (no FP decay
    * products). `decayed_micro / 2^maxBuckets` is the conventional
    * "now-equivalent events" decayed count; consumers divide at the
    * end, as with every exact-components operator here. One map-side-
    * combining aggregation. Returns (keys..., n_events, decayed_micro,
    * last_ms). */
  def decayedCounts(df: DataFrame, keyCols: Seq[String], msCol: String,
      refMs: Long, halfLifeMs: Long, maxBuckets: Int = 30): DataFrame = {
    require(keyCols.nonEmpty && halfLifeMs > 0 && maxBuckets >= 1 &&
      maxBuckets <= 62, s"bad args: $keyCols $halfLifeMs $maxBuckets")
    import graft.time.Buckets.intDiv
    val bkt = least(
      greatest(intDiv(lit(refMs) - col(msCol), lit(halfLifeMs)), lit(0L)),
      lit(maxBuckets.toLong))
    // 2^(maxBuckets − bkt) as a LONG shift (the Scala-facing shiftleft
    // only takes a literal shift; the Catalyst node takes a column)
    val w = org.apache.spark.sql.graftshim.Shim.column(
      org.apache.spark.sql.catalyst.expressions.ShiftLeft(
        org.apache.spark.sql.graftshim.Shim.expression(lit(1L)),
        org.apache.spark.sql.graftshim.Shim.expression(
          (lit(maxBuckets.toLong) - bkt).cast("int"))))
    // Overflow guard: the weight sum lives in DECIMAL(38,0); a bare
    // cast("long") past Long.MaxValue silently yields NULL (non-ANSI).
    // With maxBuckets=30 that takes ~2^33 bucket-0 events on ONE key —
    // rare but reachable at 100 TB — so fail LOUDLY with the remedy
    // instead of corrupting a popularity score downstream.
    val decSum = sum(w.cast("decimal(38,0)"))
    val guarded = when(
      assert_true(decSum <= lit(Long.MaxValue).cast("decimal(38,0)"),
        lit("decayedCounts: per-key decayed weight sum exceeds " +
          "Long.MaxValue — lower maxBuckets or pre-aggregate")).isNull,
      decSum.cast("long"))
    df.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n_events"),
        guarded.as("decayed_micro"),
        max(col(msCol)).as("last_ms"))
  }

  /** Rank-normalized score BLENDING — the robust way to combine
    * quality signals measured on incomparable scales (chars,
    * compression ratios, classifier margins): each signal is replaced
    * by its corpus-wide rank ([[globalRanks]] — the two-pass prefix-sum
    * path, never a one-task window) and the blend is the integer
    * weighted rank sum, so the result is exact, mergeable-free of FP,
    * and immune to any monotone rescaling of the inputs. Returns df +
    * per-signal `rnk_<col>` + `blend`. Ties share ranks (standard
    * competition ranking), so equal-signal docs blend equally. */
  def rankBlend(df: DataFrame, signals: Seq[(String, Long)]): DataFrame = {
    require(signals.nonEmpty, "rankBlend needs signal columns")
    var cur = df
    for ((c, _) <- signals)
      cur = globalRanks(cur, c, rankCol = s"rnk_$c",
        denseRankCol = s"__dr_$c")
        .drop(s"__dr_$c")
    cur.withColumn("blend",
      signals.map { case (c, w) => col(s"rnk_$c") * w }.reduce(_ + _))
  }

  def globalRanks(df: DataFrame, valueCol: String,
      rankCol: String = "rnk", denseRankCol: String = "drnk"): DataFrame = {
    val counts = df.filter(col(valueCol).isNotNull)
      .groupBy(col(valueCol))
      .agg(count(lit(1)).as("__cnt"))
      .withColumn("__one", lit(1L))
      .withColumn("__all", lit(0))
    val cum = PipelineOps.exclusivePrefixSum(
      PipelineOps.exclusivePrefixSum(counts, "__all", Seq(valueCol),
        "__cnt", "__below"),
      "__all", Seq(valueCol), "__one", "__dbelow")
    df.join(cum.select(col(valueCol),
        (col("__below") + 1L).as(rankCol),
        (col("__dbelow") + 1L).as(denseRankCol)),
      Seq(valueCol), "left")
  }

  /** EXACT ROC AUC of an integer score against gold labels — the
    * one-number companion of [[prCurve]] (Mann–Whitney U: the
    * probability a random positive outscores a random negative, ties
    * ½). Stated integer-exactly: 2U = Σ over distinct scores of
    * pos_cnt·(2·neg_strictly_below + neg_ties), auc_ppm =
    * 2U·5·10⁵ ÷ (n_pos·n_neg) by integral division — every
    * multiplication on DECIMAL(19,0)-cast operands so nothing wraps in
    * LONG first (n_pos·n_neg and the per-score product both exceed
    * LONG past ~3·10⁹ rows a side). Same machinery as prCurve:
    * per-score counts, one ascending exclusive-prefix pass, scalar
    * combine. One row: (n_pos, n_neg, two_u, auc_ppm). */
  def aucExact(df: DataFrame, scoreCol: String,
      labelCol: String): DataFrame = {
    import graft.time.Buckets.intDiv
    def dec(c: Column): Column = c.cast("decimal(19,0)")
    val counts = df.filter(col(scoreCol).isNotNull)
      .groupBy(col(scoreCol).as("__s"))
      .agg(sum(when(col(labelCol), 1L).otherwise(0L)).as("__pos"),
        sum(when(col(labelCol), 0L).otherwise(1L)).as("__neg"))
      .withColumn("__all", lit(0))
    val below = PipelineOps.exclusivePrefixSum(counts, "__all",
      Seq("__s"), "__neg", "__neg_below")
    below.agg(
        sum(col("__pos")).as("n_pos"),
        sum(col("__neg")).as("n_neg"),
        sum((dec(col("__pos")) *
          (dec(col("__neg_below")) * 2 + dec(col("__neg"))))
          .cast("decimal(38,0)")).as("__two_u"))
      .select(col("n_pos"), col("n_neg"),
        col("__two_u").cast("decimal(38,0)").as("two_u"),
        intDiv(col("__two_u") * lit(500000L).cast("decimal(38,0)"),
          greatest(dec(col("n_pos")) * dec(col("n_neg")),
            lit(1L).cast("decimal(38,0)"))).as("auc_ppm"))
  }

  /** DATASET CARD: the per-language corpus profile a data release
    * ships — docs, tokens, chars, exact p50/p90 length, exact-dup
    * count — in ONE composed Catalyst plan (the e2e-composition
    * discipline). Quantiles are computed on the per-(lang, value)
    * COUNT table, not per-row: the cumulative window scans the
    * value-DOMAIN (bounded) instead of funneling a billion rows per
    * language through one task — the [[globalRanks]] discipline. The
    * p_q definition matches [[exactQuantiles]]: smallest v with
    * cum·10⁶ ≥ q·tot, ties inclusive. Dup count = docs − distinct
    * normalized-token fingerprints. */
  def datasetCard(docs: DataFrame, langCol: String = "lang",
      textCol: String = "text", charsCol: String = "n_chars"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = docs.select(col(langCol).as("lang"),
      col(charsCol).as("__chars"),
      graft.text.TextOps.tokenCount(col(textCol)).cast("long").as("__toks"),
      graft.text.TextOps.fingerprint(col(textCol)).as("__fp"))
    val agg = t.groupBy(col("lang")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("__toks")).as("n_toks"),
        sum(col("__chars")).as("sum_chars"),
        countDistinct(col("__fp")).as("__uniq"))
      .select(col("lang"), col("n_docs"), col("n_toks"),
        col("sum_chars"), (col("n_docs") - col("__uniq")).as("n_dup"))
    val counts = docs.groupBy(col(langCol).as("lang"),
        col(charsCol).as("__v"))
      .agg(count(lit(1)).as("__cnt"))
    val w = Window.partitionBy(col("lang")).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wp = Window.partitionBy(col("lang"))
    val qs = counts
      .withColumn("__cum", sum(col("__cnt")).over(w))
      .withColumn("__tot", sum(col("__cnt")).over(wp))
      .groupBy(col("lang"))
      .agg(min(when(col("__cum") * 1000000L >= col("__tot") * 500000L,
          col("__v"))).as("p50_chars"),
        min(when(col("__cum") * 1000000L >= col("__tot") * 900000L,
          col("__v"))).as("p90_chars"))
    agg.join(broadcast(qs), Seq("lang"))
  }

  /** PRECISION/RECALL CURVE of an integer quality score against gold
    * labels — the calibration table a filter-threshold decision reads
    * (FineWeb-style "pick the classifier cutoff" step). One point per
    * DISTINCT score s, for the keep-rule `score ≥ s`:
    * (threshold, tp, fp, fn, precision_ppm, recall_ppm), integral ppm.
    *
    * Shape: per-score (n_pos, n_neg) aggregate (map-side combine), two
    * [[PipelineOps.exclusivePrefixSum]] ascending passes for the
    * strictly-below sums (never a one-task global window past the
    * probe), totals aggregated from the already-materialized prefix
    * frame (no second input scan) as a 1×1 scalar combine: tp =
    * total_pos − pos_below, fp = total_neg − neg_below. Linear,
    * skew-free — the threshold table is as big as the distinct-score
    * set, not the corpus. NULL labels count as negatives. */
  def prCurve(df: DataFrame, scoreCol: String,
      labelCol: String): DataFrame = {
    import graft.time.Buckets.intDiv
    val counts = df.filter(col(scoreCol).isNotNull)
      .groupBy(col(scoreCol).as("threshold"))
      .agg(sum(when(col(labelCol), 1L).otherwise(0L)).as("__pos"),
        sum(when(col(labelCol), 0L).otherwise(1L)).as("__neg"))
      .withColumn("__all", lit(0))
    val below = PipelineOps.exclusivePrefixSum(
      PipelineOps.exclusivePrefixSum(counts, "__all", Seq("threshold"),
        "__pos", "__pos_below"),
      "__all", Seq("threshold"), "__neg", "__neg_below")
    // totals from the (materialized) prefix frame — not a second scan
    // of the input
    val totals = below.agg(sum(col("__pos")).as("__tot_pos"),
      sum(col("__neg")).as("__tot_neg"))
    below.crossJoin(broadcast(totals)) // deliberate 1×1 scalar combine
      .select(col("threshold"),
        (col("__tot_pos") - col("__pos_below")).as("tp"),
        (col("__tot_neg") - col("__neg_below")).as("fp"),
        col("__pos_below").as("fn"),
        col("__tot_pos").as("total_pos"))
      .select(col("threshold"), col("tp"), col("fp"), col("fn"),
        intDiv(col("tp") * 1000000L,
          greatest(col("tp") + col("fp"), lit(1L))).as("precision_ppm"),
        intDiv(col("tp") * 1000000L,
          greatest(col("total_pos"), lit(1L))).as("recall_ppm"))
  }

  /** Distribution-drift bucket table between two snapshots of the same
    * numeric column — the input to PSI / chi-square release checks
    * ("did this week's corpus shift?"). Fixed-width integer buckets
    * (`value div width`, truncating — callers with negative domains
    * shift first, the q204 discipline), per-bucket counts and integral
    * ppm shares of each side. Two scans + one hash agg each + a
    * bucket-keyed outer merge; bucket count bounds the shuffle. */
  def driftBuckets(a: DataFrame, b: DataFrame, valueCol: String,
      width: Long): DataFrame = {
    require(width >= 1, s"bad width=$width")
    // ONE scan per side: the bucket tables are materialized (they are
    // |buckets|-sized) and the totals derive from them — every row
    // lands in exactly one bucket, so sum(n) IS count(*); a second
    // full-input scan just for totals would double the I/O this
    // operator exists to bound.
    // NULL policy: null values are EXCLUDED before bucketing (they
    // carry no drift signal and would land in a NULL bucket the
    // equality merge below can never match — two unmerged rows for
    // the same "bucket"). Shares are therefore over non-null rows;
    // callers tracking null-rate drift should compare null counts as
    // their own metric.
    def side(df: DataFrame, n: String): DataFrame =
      graft.util.Checkpoints.materialize(
        df.filter(col(valueCol).isNotNull)
          .select(intDiv(col(valueCol).cast("long"), lit(width))
            .as("bucket"))
          .groupBy(col("bucket")).agg(count(lit(1)).as(n)))
    val na = side(a, "n_a")
    val nb = side(b, "n_b")
    val ta = na.agg(coalesce(sum(col("n_a")), lit(0L)).as("__ta"))
    val tb = nb.agg(coalesce(sum(col("n_b")), lit(0L)).as("__tb"))
    na.join(nb, Seq("bucket"), "full_outer")
      .select(col("bucket"), coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"))
      .crossJoin(broadcast(ta)) // deliberate 1×1 scalar combines
      .crossJoin(broadcast(tb))
      .select(col("bucket"), col("n_a"), col("n_b"),
        intDiv(col("n_a") * 1000000L, greatest(col("__ta"), lit(1L)))
          .as("ppm_a"),
        intDiv(col("n_b") * 1000000L, greatest(col("__tb"), lit(1L)))
          .as("ppm_b"))
  }

  /** Population Stability Index over a [[driftBuckets]] table — the FP
    * consumer (ln of share ratios): PSI = Σ (p_a − p_b)·ln(p_a / p_b)
    * with the conventional ε-floor on empty buckets so a bucket
    * appearing/vanishing contributes a large-but-finite term.
    * Spec-checked; < 0.1 stable / 0.1–0.25 drifting / > 0.25 shifted
    * is the usual reading. */
  def psi(buckets: DataFrame, epsPpm: Long = 1L): DataFrame = {
    val pa = greatest(col("ppm_a"), lit(epsPpm)).cast("double") / 1e6
    val pb = greatest(col("ppm_b"), lit(epsPpm)).cast("double") / 1e6
    buckets.agg(sum((pa - pb) * log(pa / pb)).as("psi"))
  }
}
