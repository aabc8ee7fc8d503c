package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.text.TextOps

/** Corpus-shaping operators for training-data pipelines: deterministic
  * stratified sampling and contiguous sequence packing. Sampling keys
  * off a content hash so every executor (and the DuckDB oracle) agrees
  * on the kept set (seeded RNG is not reproducible across
  * partitionings; hash sampling is). Packing's running token sum is the
  * two-pass range-sort prefix scan ([[packSequences]]): per-partition
  * local sums with only P+#strata scalar subtotals collected to the
  * driver — no per-stratum window, so no single task ever sees a whole
  * stratum.
  */
object PipelineOps {

  /** Stable uniform [0, 1e6) integer draw from an id — md5-derived like
    * Dedup.h32, so re-runs, retries and the oracle all keep the same
    * rows (seeded-RNG sampling is not reproducible across partitionings;
    * hash sampling is). */
  def hashDraw(id: Column): Column =
    pmod(conv(substring(md5(id.cast("string")), 1, 8), 16, 10).cast("long"),
      lit(1000000L))

  /** Deterministic stratified downsampling: keep a row when its hash
    * draw falls under its stratum's threshold (parts-per-million).
    * The rate table broadcasts (strata counts are small by definition);
    * unknown strata are dropped — pass a rate of 1000000 to keep one
    * wholesale. */
  def stratifiedSample(df: DataFrame, ratesPpm: Map[String, Long],
      strataCol: String = "lang", idCol: String = "doc_id"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val rates = ratesPpm.toSeq.toDF(strataCol, "rate_ppm")
    df.join(broadcast(rates), Seq(strataCol))
      .filter(hashDraw(col(idCol)) < col("rate_ppm"))
      .drop("rate_ppm")
  }

  /** Deterministic FIXED-SIZE sample per stratum: the n rows with the
    * smallest hash draws (ties by id) in each stratum — "give me exactly
    * n docs per language", reproducibly. A per-stratum PARTITIONED
    * window; rank only sorts within strata, never globally. */
  def sampleNPerStratum(df: DataFrame, n: Int,
      strataCol: String = "lang", idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(strataCol))
      .orderBy(hashDraw(col(idCol)), col(idCol))
    df.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= n)
      .drop("__rk")
  }

  /** Deterministic train/val/test (or any k-way) split with EXACT
    * per-stratum counts: rows rank within their stratum by the stable
    * hash draw (ties → id), split i takes ranks in
    * (⌊n·cum(i−1)/10⁶⌋, ⌊n·cum(i)/10⁶⌋] — so each stratum's split
    * sizes are the exact floor allocations (the last split absorbs
    * the remainder), not binomial draws that wobble per run. The rank
    * window is per-stratum partitioned (never global), the decision is
    * pure integer arithmetic, and membership is a function of the id
    * alone given the corpus — a re-run or a backfill lands every row
    * in the same split.
    *
    * `splits` = (name, share-ppm) in order; shares must total 10⁶. */
  def splitAssign(df: DataFrame, splits: Seq[(String, Long)],
      strataCol: String = "lang", idCol: String = "doc_id",
      outCol: String = "split"): DataFrame = {
    require(splits.nonEmpty && splits.map(_._2).sum == 1000000L,
      s"split shares must total 1000000 ppm, got $splits")
    require(splits.forall(_._2 > 0), s"shares must be positive: $splits")
    import org.apache.spark.sql.expressions.Window
    val part = Window.partitionBy(col(strataCol))
    val w = part.orderBy(hashDraw(col(idCol)), col(idCol))
    val cums = splits.scanLeft(0L)(_ + _._2).tail
    val assign = splits.init.zip(cums.init).foldRight(
      lit(splits.last._1): Column) { case (((name, _), cum), rest) =>
      when(col("__rk") * 1000000L <= col("__n") * cum, lit(name))
        .otherwise(rest)
    }
    df.withColumn("__rk", row_number().over(w).cast("long"))
      .withColumn("__n", count(lit(1)).over(part))
      .withColumn(outCol, assign)
      .drop("__rk", "__n")
  }

  /** Leakage-safe split assignment: the split is decided PER NEAR-DUP
    * CLUSTER, not per document — every member of a connected component
    * of `pairs` (id1, id2 — exact or near-dup evidence from any of the
    * dedup operators) inherits the split of the component's canonical
    * min-id representative, so a near-duplicate of a training document
    * can never leak into the eval split (the dedup-aware split hygiene
    * argued by Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better"). Unpaired docs are their own singleton
    * cluster. The decision is an independent per-cluster [[hashDraw]]
    * against cumulative ppm thresholds — shares hold in expectation
    * (the floor-exact guarantee of [[splitAssign]] cannot compose with
    * the cluster constraint, because a whole cluster must move
    * atomically). Components via the O(log n) star rounds; the label
    * join is the only added shuffle. Returns df + (rep, split). */
  def leakageSafeSplit(df: DataFrame, pairs: DataFrame,
      splits: Seq[(String, Long)], idCol: String = "doc_id",
      outCol: String = "split"): DataFrame = {
    require(splits.nonEmpty && splits.map(_._2).sum == 1000000L,
      s"split shares must total 1000000 ppm, got $splits")
    require(splits.forall(_._2 > 0), s"shares must be positive: $splits")
    val labels = graft.dedup.Dedup.clusterLabelsStar(pairs)
      .select(col("id").as("__lid"), col("cluster").as("__cluster"))
    val withRep = df.join(labels,
        col(idCol).cast("long") === col("__lid"), "left")
      .withColumn("rep",
        coalesce(col("__cluster"), col(idCol).cast("long")))
      .drop("__lid", "__cluster")
    val cums = splits.scanLeft(0L)(_ + _._2).tail
    val draw = hashDraw(col("rep"))
    val assign = splits.init.zip(cums.init).foldRight(
      lit(splits.last._1): Column) { case (((name, _), cum), rest) =>
      when(draw < cum, lit(name)).otherwise(rest)
    }
    withRep.withColumn(outCol, assign)
  }

  /** Deterministic negative sampling for contrastive / embedding
    * training: per anchor, `k` pseudo-random corpus-wide negatives
    * EXCLUDING the anchor itself and its known positives/near-dups
    * (`exclusionPairs` — exact or near-dup evidence from any dedup
    * operator; a near-duplicate makes a catastrophic "negative").
    * Reproducible: a pure function of the id set — ids are laid on a
    * hash-shuffled dense ring (two-pass prefix-sum rank via
    * [[Stats.globalRanks]], never a one-task global window) and slot j
    * probes position (idx + j·(⌊N/(k+1)⌋+1)) mod N, so negatives
    * spread across the whole ring rather than clustering. Probes that
    * land in the exclusion set are anti-joined away, so an anchor can
    * emit fewer than k rows (standard; re-probe upstream when
    * exactness matters). Distinct slots give distinct probes when
    * N > k·(k+1). Returns (anchor_id, neg_id, slot 1..k). */
  def negativeSamples(ids: DataFrame, exclusionPairs: DataFrame, k: Int,
      idCol: String = "doc_id"): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    import graft.time.Buckets.intDiv
    val base = ids.select(col(idCol).cast("long").as("id")).distinct()
      .withColumn("__key",
        hashDraw(col("id")) * lit(1L << 40) + col("id"))
    val ranked = Stats.globalRanks(base, "__key")
      .select(col("id"), (col("rnk") - 1L).as("__idx"))
    val withN = ranked.crossJoin(ranked.agg(count(lit(1)).as("__n")))
    val step = intDiv(col("__n"), lit(k.toLong + 1L)) + 1L
    val probes = withN.select(col("id").as("anchor_id"), col("__idx"),
        col("__n"), explode(sequence(lit(1L), lit(k.toLong))).as("slot"))
      .withColumn("__pidx",
        pmod(col("__idx") + col("slot") * step, col("__n")))
    val cand = probes.join(
        ranked.select(col("__idx").as("__pidx"), col("id").as("neg_id")),
        Seq("__pidx"))
      .filter(col("neg_id") =!= col("anchor_id"))
    val excl = exclusionPairs
      .select(col("id1").as("anchor_id"), col("id2").as("neg_id"))
      .unionByName(exclusionPairs
        .select(col("id2").as("anchor_id"), col("id1").as("neg_id")))
    cand.join(excl, Seq("anchor_id", "neg_id"), "left_anti")
      .select(col("anchor_id"), col("neg_id"), col("slot"))
  }

  /** Deterministic WEIGHTED choice of one row per group — P(row) ∝ its
    * integer weight, yet the outcome is a pure function of (group, id):
    * each row becomes `weight` copies, every copy draws an independent
    * md5 key, the group's minimum key wins (w iid draws minimize for a
    * row w/Σw of the time — exact proportionality, no floating point,
    * no rand()). The [[graft.operators.RandomWalks.node2vecWalks]]
    * draw, exposed as a standalone primitive: canonical-doc election
    * weighted by quality, weighted exemplar picks per cluster, A/B
    * bucket draws.
    *
    * One explode + one map-side-partial min aggregation; total work is
    * Σ weights, so keep weights SMALL integers (they are ratios — give
    * callers' scores a coarse bucketing upstream). Rows with weight
    * ≤ 0 never win; groups with no positive weight emit nothing. */
  def weightedChoice(df: DataFrame, groupCols: Seq[String],
      weightCol: String, idCol: String): DataFrame = {
    require(groupCols.nonEmpty, "weightedChoice needs group columns")
    val copies = df.filter(col(weightCol) > 0)
      .withColumn("__copy",
        explode(sequence(lit(1L), col(weightCol).cast("long"))))
    val keyed = copies.withColumn("__draw",
      md5(concat_ws("|",
        groupCols.map(c => col(c).cast("string")) ++
          Seq(col(idCol).cast("string"),
            col("__copy").cast("string")): _*).cast("binary")))
    keyed
      .groupBy(groupCols.map(col): _*)
      .agg(min(struct(col("__draw"), col(idCol).as("id"))).as("__m"))
      .select(groupCols.map(col) :+ col("__m.id").as(idCol): _*)
  }

  /** Weighted sampling WITHOUT replacement, n per stratum — the
    * fixed-budget quality-weighted subsample ("5 000 docs per
    * language, preferring high-quality ones"): each row's sort key is
    * the MINIMUM md5 draw over `weight` iid copies (the integer-exact
    * reformulation of the Efraimidis–Spirakis U^(1/w) key — more
    * copies ⇒ stochastically smaller minimum ⇒ rank ∝ weight), and
    * each stratum keeps its n smallest keys (ties → id). Deterministic
    * under any partitioning; same caveat as [[weightedChoice]]: total
    * work is Σ weights, keep weights SMALL integers. Rows with weight
    * ≤ 0 never qualify. Returns (strata..., id, rk 1..n). The per-
    * stratum rank window is WindowGroupLimit-prunable (rank ≤ n). */
  def sampleWeightedNPerStratum(df: DataFrame, n: Int,
      strataCols: Seq[String], weightCol: String, idCol: String):
      DataFrame = {
    require(n >= 1 && strataCols.nonEmpty, s"bad args: $n $strataCols")
    import org.apache.spark.sql.expressions.Window
    val copies = df.filter(col(weightCol) > 0)
      .withColumn("__copy",
        explode(sequence(lit(1L), col(weightCol).cast("long"))))
    val keyed = copies.withColumn("__draw",
      md5(concat_ws("|",
        strataCols.map(c => col(c).cast("string")) ++
          Seq(col(idCol).cast("string"),
            col("__copy").cast("string")): _*).cast("binary")))
    val perRow = keyed.groupBy(
        (strataCols.map(col) :+ col(idCol)): _*)
      .agg(min(col("__draw")).as("__key"))
    val w = Window.partitionBy(strataCols.map(col): _*)
      .orderBy(col("__key"), col(idCol))
    perRow.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= n)
      .select(strataCols.map(col) ++ Seq(col(idCol), col("rk")): _*)
  }

  /** SALTED equi-join for skewed keys — the manual skew tool for when
    * AQE's runtime skew-join split cannot apply (e.g. the skewed side
    * feeds an aggregation in the same stage, or a deterministic plan is
    * required). The big side scatters each row into one of `salt`
    * sub-keys via a DETERMINISTIC hash of the whole row (never rand():
    * task retries must re-scatter identically); the small side
    * replicates `salt`-fold. A hot key's rows thus spread across `salt`
    * tasks instead of one straggler. Join result is row-identical to
    * the unsalted join (spec-checked); cost = `salt`× the small side,
    * which is broadcast-sized by assumption. */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
      salt: Int = 8): DataFrame = {
    require(salt >= 1, "salt must be >= 1")
    val bigS = big.withColumn("__salt",
      pmod(hash(struct(big.columns.map(col).toIndexedSeq: _*)), lit(salt)))
    val smallS = small.withColumn("__salt",
      explode(sequence(lit(0), lit(salt - 1))))
    bigS.join(smallS, Seq(key, "__salt")).drop("__salt")
  }

  /** Deterministic global shuffle — the reproducible "shuffle the
    * corpus before training" step: every row gets a dense 0-based
    * `shuffle_idx` in (hash draw, id) order. Same discipline as the J5
    * SeqID relabel: range-partitioned sort + zipWithIndex, so the order
    * is global and dense without any single-partition window, and any
    * re-run (or engine) produces the identical permutation. */
  def shuffleDeterministic(df: DataFrame,
      idCol: String = "doc_id"): DataFrame =
    denseIndex(df, Seq(hashDraw(col(idCol)), col(idCol)), "shuffle_idx")

  /** Dense 0-based global position in `sortCols` order — the shared
    * range-sort + zipWithIndex mechanism of [[shuffleDeterministic]]
    * and [[shardBalanced]] (global and dense without a one-task
    * window; identical across re-runs and partitionings). */
  private def denseIndex(df: DataFrame, sortCols: Seq[Column],
      outCol: String): DataFrame = {
    val spark = df.sparkSession
    val sorted = df.sort(sortCols: _*)
    val schema = org.apache.spark.sql.types.StructType(
      sorted.schema.fields :+
        org.apache.spark.sql.types.StructField(outCol,
          org.apache.spark.sql.types.LongType, nullable = false))
    spark.createDataFrame(
      sorted.rdd.zipWithIndex().map { case (r, i) =>
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i) },
      schema)
  }

  /** BALANCED SHARD ASSIGNMENT for the output-writer stage: route each
    * doc to one of `nShards` shards so per-shard ROW counts differ by
    * ≤ 1 and per-shard SIZE totals are near-equal (boustrophedon /
    * "snake draft" over the size-descending order: position p →
    * shard p%n on even rounds, n−1−(p%n) on odd — each consecutive
    * n-block hands every shard exactly one doc, alternating pick order
    * so no shard systematically gets the bigger half). Deterministic
    * (ties broken by id), one range-sort + zipWithIndex — the
    * [[shuffleDeterministic]] dense-index shape, never a one-task
    * window. Returns the input + `shard` INT. */
  def shardBalanced(df: DataFrame, sizeCol: String, nShards: Int,
      idCol: String = "doc_id"): DataFrame = {
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    val withPos = denseIndex(df,
      Seq(col(sizeCol).desc, col(idCol)), "__pos")
    import graft.time.Buckets.intDiv
    val n = lit(nShards.toLong)
    val k = pmod(col("__pos"), n)
    withPos.withColumn("shard",
        when(pmod(intDiv(col("__pos"), n), lit(2L)) === 0L, k)
          .otherwise(lit(nShards - 1L) - k).cast("int"))
      .drop("__pos")
  }

  /** Contiguous sequence packing: assign documents to fixed-capacity
    * token bins, per stratum, in id order — bin = exclusive-prefix token
    * count ÷ capacity. The deterministic streaming-concat packing used
    * when assembling fixed-length training sequences. Documents longer
    * than `capacity` span bins by construction (they must be chunked
    * downstream either way). Returns (id, stratum, n_tokens, bin).
    *
    * Scale shape: the running token sum is NOT a per-stratum window —
    * with ~30 language strata over a 100 TB corpus, a
    * `Window.partitionBy(lang)` sort would funnel 1/30 of the corpus
    * through one task. Instead this is the two-pass range-sort prefix
    * scan already used by [[graft.operators.Pareto.skyline2]] and
    * `LinkOps.seqIds`: range-sort by (stratum, id) so each stratum spans
    * many ordinary range partitions, pass 1 reduces each partition to
    * per-stratum token subtotals (≤ P + #strata SCALARS to the driver,
    * never rows), the driver prefix-sums those, and pass 2 re-walks each
    * partition seeded with its cross-partition exclusive prefix. The
    * widest task is one range partition, independent of stratum skew. */
  def packSequences(docs: DataFrame, capacity: Int = 2048,
      strataCol: String = "lang", idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    // coalesce: tokenCount is null for null text; a null would NPE the
    // per-partition scans, so degrade to a zero-token doc instead.
    packSequencesByCount(
      docs.select(col(idCol), col(strataCol),
        coalesce(TextOps.tokenCount(col(textCol)).cast("long"), lit(0L))
          .as("n_tokens")),
      capacity, strataCol, idCol)
  }

  /** [[packSequences]] over an ALREADY-COUNTED frame — callers that
    * have computed `countCol` upstream (q71's one-tokenization
    * composition) must not pay the tokenizer again just to pack.
    * `countCol` must be non-null. Returns (id, stratum, countCol,
    * bin). */
  def packSequencesByCount(counted: DataFrame, capacity: Int = 2048,
      strataCol: String = "lang", idCol: String = "doc_id",
      countCol: String = "n_tokens"): DataFrame = {
    require(capacity > 0, s"capacity must be positive, got $capacity")
    exclusivePrefixSum(
      counted.select(col(idCol), col(strataCol), col(countCol)),
      strataCol, Seq(idCol), countCol, "__cum")
      .withColumn("bin", graft.time.Buckets.intDiv(col("__cum"),
        lit(capacity.toLong)).cast("long"))
      .drop("__cum")
  }

  /** EXCLUSIVE per-stratum running sum of `valueCol` in
    * (`strataCol`, `orderCols`) order, appended as `outCol` — the
    * two-pass range-sort prefix scan shared by [[packSequences]],
    * [[Mixture.applyPlanTokenExact]], `Pareto.skyline2` and
    * `LinkOps.seqIds`.
    *
    * Scale shape: a `Window.partitionBy(stratum)` running sum funnels
    * each stratum through ONE task (1/30 of a 100 TB corpus for a
    * language stratum). Here the frame is range-sorted on
    * (stratum, orderCols) so a stratum spans many ordinary range
    * partitions; pass 1 reduces each partition to per-stratum
    * subtotals (≤ P + #strata SCALARS to the driver, never rows), the
    * driver prefix-sums those, and pass 2 re-walks each partition
    * seeded with its cross-partition exclusive prefix. The widest task
    * is one range partition, independent of stratum skew.
    *
    * Strata are keyed by the RAW column value wrapped in Option (null →
    * None): a rendered-string key would merge a NULL stratum with the
    * literal string "null" — and the range sort keeps those as separate
    * runs, so the merged running sum would be non-contiguous and wrong.
    * `valueCol` must be a non-null LongType (callers coalesce).
    *
    * EAGERNESS CONTRACT: this call runs one bounded `limit(n+1)` count
    * job at PLAN-CONSTRUCTION time to pick the plan shape — a
    * deliberate action side effect (the projected constant keeps it a
    * pruned scan), the [[graft.util.DriverLane]] probe. Under a bound of
    * 0 ([[graft.util.DriverLane.withBound]]) the probe is skipped and the
    * two-pass scan runs unconditionally.
    *
    * Cache hygiene (skyline2 discipline): the sorted intermediate is
    * persisted across the two passes — pass 2 must re-read the exact
    * partitioning pass 1 summarized (repartitionByRange re-samples
    * boundaries on recompute) — then released once the result is
    * materialized. When materialization is conf'd off
    * ([[graft.util.Checkpoints.MaterializeConf]]) the cache must stay
    * live for the returned lazy plan, for the same reason. */
  def exclusivePrefixSum(df: DataFrame, strataCol: String,
      orderCols: Seq[String], valueCol: String,
      outCol: String): DataFrame = {
    val spark = df.sparkSession
    // Runtime adaptation (stronglyConnectedComponents discipline): the
    // two-pass scan pays ~4 jobs + an RDD persist; on the driver lane
    // the classic per-stratum window states the same exclusive running
    // sum (spec-pinned byte-identical) in one shuffle. The window
    // funnels each stratum through ONE task — exactly the scale-killer
    // this operator exists to avoid — so it is gated on the lane's
    // bounded row probe, never taken on faith. The probe projects a
    // constant first so column pruning reaches the scan: counting rows
    // must not evaluate the (possibly expensive) value column — q40's
    // tokenCount over every document tripled the probe.
    if (graft.util.DriverLane.fits(df)) {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col(strataCol))
        .orderBy(orderCols.map(col): _*)
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, -1)
      return df.withColumn(outCol,
        coalesce(sum(col(valueCol)).over(w), lit(0L)))
    }
    val si = df.schema.fieldIndex(strataCol)
    val vi = df.schema.fieldIndex(valueCol)
    val sortCols = (strataCol +: orderCols).map(col)
    val schema = org.apache.spark.sql.types.StructType(
      df.schema.fields :+
        org.apache.spark.sql.types.StructField(outCol,
          org.apache.spark.sql.types.LongType, nullable = false))
    val sorted = df
      .repartitionByRange(sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // pass 1: per-partition, per-stratum subtotals — at most
    // P + #strata tuples (a stratum entirely inside one partition adds
    // one; each partition adds at most one straddling stratum)
    val subtotals = sorted.mapPartitionsWithIndex { (i, it) =>
      val acc = scala.collection.mutable.LinkedHashMap.empty[Option[Any], Long]
      it.foreach { r =>
        val s = Option(r.get(si))
        acc(s) = acc.getOrElse(s, 0L) + r.getLong(vi)
      }
      acc.iterator.map { case (s, t) => (i, s, t) }
    }.collect()
    // exclusive prefix per (partition, stratum): this stratum's value
    // mass in all earlier partitions
    val prefix: Map[(Int, Option[Any]), Long] =
      subtotals.groupBy(_._2).flatMap { case (s, arr) =>
        var run = 0L
        arr.sortBy(_._1).map { case (i, _, t) =>
          val p = ((i, s), run); run += t; p
        }
      }
    // pass 2: seeded local running sum
    val out = sorted.mapPartitionsWithIndex { (i, it) =>
      var cur: Option[Any] = null
      var run = 0L
      it.map { r =>
        val s = Option(r.get(si))
        if (cur == null || s != cur) {
          cur = s
          run = prefix.getOrElse((i, s), 0L)
        }
        val c = run
        run += r.getLong(vi)
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ c)
      }
    }
    val result = spark.createDataFrame(out, schema)
    val mat = graft.util.Checkpoints.materialize(result)
    if (mat ne result) sorted.unpersist(false)
    mat
  }
}
