package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.model.SnapshotGraph

/** The snapshot computation (the reference's Weaver,
  * net-spider/src/NetSpider/Weaver.hs) as declarative DataFrame stages.
  *
  * Every stage is one shuffle (groupBy/aggregate on the node key or the
  * swap-insensitive pair key) or a shuffle-free projection; node-summary
  * joins are plain equi-joins and AQE picks broadcast vs shuffle from the
  * measured summary size. No collect, no driver loops — at 100 TB
  * the findings table is the only big input, and it is touched exactly
  * twice (node summary, link samples), both with map-side partial
  * aggregation. That holds for these lazy plans, the distributed lane.
  * The driver-sized `GetSnapshot` lane weaves the rows it has fetched
  * with `DriverWeave` instead: driver loops in place of these
  * aggregations and joins, checked against these plans row for row.
  * Nothing here depends on that lane.
  *
  * Pipeline (Weaver.hs getSnapshot', 156-168):
  *   retain (policy) → [node summary + boundary] + [explode link samples →
  *   unify per pair/sub-id → negate against end-node summaries →
  *   LinkState materialization]
  */
sealed trait FoundNodePolicy
/** Keep only the latest finding per node (Weaver.hs:82-86). */
case object PolicyOverwrite extends FoundNodePolicy
/** Keep all findings (Weaver.hs:87); node summary still reports the
  * latest timestamp/attrs. */
case object PolicyAppend extends FoundNodePolicy
/** Keep the latest `n` findings per node — the natural generalization
  * between the reference's two policies (n = 1 ≡ overwrite): bounded
  * history per node for flap analysis without unbounded growth. n ≥ 2
  * plans as a WindowGroupLimit-pushed rank (per-partition top-n before
  * the shuffle); n = 1 delegates to the max_by aggregation. */
final case class PolicyKeepN(n: Int) extends FoundNodePolicy {
  require(n >= 1, s"PolicyKeepN needs n >= 1, got $n")
}

/** Pluggable link-sample unification strategy (the reference's
  * `LinkSampleUnifier`, Unify.hs:108; std config Unify.hs:127-149).
  * Input `samples` columns: subject, target, link_state, epoch_ms,
  * link_attrs, sample_seq. `nodes` is the snapshot-node summary used by
  * negation. Output must keep the same sample columns (minus any
  * strategy-internal ones).
  *
  * [[unify]] is the one form: the distributed lane runs it as a lazy
  * plan, and the driver-sized `GetSnapshot` lane runs it over local
  * frames of its fetched rows and collects, except for the plain
  * [[StdUnifier]], which that lane weaves in driver loops (see
  * `DriverWeave`). A custom unifier such as `Rpl.DioUnifier` or
  * [[ListMergeUnifier]] needs nothing more. */
trait LinkUnifier {
  def unify(samples: DataFrame, nodes: DataFrame): DataFrame
  /** The unified samples BEFORE any negation pruning — used by
    * [[Weave.snapshotWithStats]] to count negation decisions (the
    * reference's Weaver logs its unification decisions,
    * Weaver.hs:156-168). Default: negation-free unifiers return the
    * same frame as [[unify]]. */
  def unifyRaw(samples: DataFrame, nodes: DataFrame): DataFrame =
    unify(samples, nodes)
}

/** The standard unifier (`unifyStd`, Unify.hs:169-193):
  *  1. sub-group samples per swap-insensitive pair by `subId` columns
  *     (default: none — one physical link per pair, `unifyToOne`);
  *  2. per sub-group keep the latest sample (default `mergeSamples` =
  *     latest of both ends' samples concatenated, Unify.hs:153-157);
  *  3. drop the winner if either end node negates it
  *     (`defNegatesLinkSample`, Unify.hs:202-217): the end has a
  *     timestamp, newer than the sample's, and is not the sample's
  *     observer — i.e. the end was re-observed later and no longer
  *     reports the link.
  *
  * All of it is Catalyst-friendly: one hash aggregation + two broadcast
  * joins. `subId` defaults to none; pass e.g. Seq(col("link_attrs")("port"))
  * for multi-link topologies (README.md:582-591 ports example).
  * `postMerge` runs over the winners, which still carry their key
  * columns; the default keeps them as they are.
  *
  * On the driver-sized `GetSnapshot` lane, the plain unifier (this
  * class itself, no `subId`, `postMerge` left at its default, negation
  * on or off) is woven in driver loops over rows and runs no job. Every
  * other one, a `subId`, any passed `postMerge` (an identity one too:
  * only the default is recognised) or a subclass, runs [[unify]] over
  * local frames there, as every other unifier does.
  */
class StdUnifier(private[graft] val subId: Seq[Column] = Nil,
    private[graft] val negation: Boolean = true,
    private[graft] val postMerge: DataFrame => DataFrame = StdUnifier.NoPostMerge)
    extends LinkUnifier {
  /** Factory used by [[unifyRaw]] to obtain a negation-free twin of THIS
    * unifier. Subclasses that override [[unify]] must override this too,
    * or raw counts would be computed with base-class semantics. */
  protected def copyWithNegation(neg: Boolean): LinkUnifier =
    new StdUnifier(subId, neg, postMerge)
  override def unifyRaw(samples: DataFrame, nodes: DataFrame): DataFrame =
    copyWithNegation(false).unify(samples, nodes)
  override def unify(samples: DataFrame, nodes: DataFrame): DataFrame = {
    val (keyed, keys) = Weave.keyed(samples, subId)
    val merged = postMerge(LinkOps.latestPerKey(
      keyed, keys, Seq("epoch_ms", "sample_seq")))
    val out =
      if (!negation) merged
      else Weave.negateAgainstEnds(merged, nodes)
    out.drop(keys: _*)
  }
}

object StdUnifier {
  /** The default `postMerge`: the winners as they are. The driver lane
    * recognises it by reference: only with it does a `StdUnifier` take
    * that lane's row path. */
  private[graft] val NoPostMerge: DataFrame => DataFrame = identity
}

/** The reference's arbitrary `mergeSamples` escape hatch
  * (`UnifyStdConfig.mergeSamples`, Unify.hs:135-139; the README
  * SignalStrengths exemplar, README.md:699-746): the user merge receives
  * BOTH end nodes' COMPLETE sample lists for each (pair, sub-id) group —
  * not just the latest winner — and returns the merged sample as a
  * struct (or null for "no link", the reference's Nothing). This covers
  * merges [[StdUnifier]] cannot express: averaging an attribute over all
  * samples, combining both ends' attributes into a new attr type
  * (fla→sla), quorum rules, etc.
  *
  * Spark shape: ONE hash aggregation per (pair, sub-id) collects each
  * side's samples into an array&lt;struct&gt; — ordered ascending by
  * (epoch_ms, sample_seq) via a field comparator (`array_sort` with a
  * lambda: the sample struct carries MAP attr columns, so default struct
  * ordering is unavailable) — then `merge` is a plain COLUMN expression
  * over the two arrays (no UDF), and negation reuses the standard
  * defNegatesLinkSample join. A self-loop sample (subject == target)
  * lands in BOTH lists, mirroring the reference's `samplesFor` filter.
  *
  * The merged struct must keep the sample-frame columns (subject,
  * target, link_state, epoch_ms, sample_seq — plus link_attrs/tz as
  * desired; attrs may change type). Scale note: per-group arrays hold
  * the full sample lists — the price of the reference's semantics —
  * bounded by per-pair observation count, never corpus size; for
  * latest-only merges [[StdUnifier]] never materializes lists.
  */
class ListMergeUnifier(
    merge: (Column, Column) => Column,
    subId: Seq[Column] = Nil,
    negation: Boolean = true) extends LinkUnifier {

  protected def copyWithNegation(neg: Boolean): LinkUnifier =
    new ListMergeUnifier(merge, subId, neg)

  override def unifyRaw(samples: DataFrame, nodes: DataFrame): DataFrame =
    copyWithNegation(false).unify(samples, nodes)

  override def unify(samples: DataFrame, nodes: DataFrame): DataFrame = {
    val dataCols = samples.columns.toSeq
    val (keyed, keys) = Weave.keyed(samples, subId)
    val payload = struct(dataCols.map(col).toIndexedSeq: _*)
    // collect_list skips nulls, so `when` without otherwise collects
    // exactly the side's samples
    def sideList(cond: Column): Column =
      collect_list(when(cond,
        struct(col("epoch_ms").as("o1"), col("sample_seq").as("o2"),
          payload.as("s"))))
    def sortedSamples(c: Column): Column = {
      val cmp = (l: Column, r: Column) =>
        when(l("o1") < r("o1"), -1).when(l("o1") > r("o1"), 1)
          .when(l("o2") < r("o2"), -1).when(l("o2") > r("o2"), 1)
          .otherwise(0)
      transform(array_sort(c, cmp), x => x("s"))
    }
    val grouped = keyed
      .groupBy(keys.map(col).toIndexedSeq: _*)
      .agg(sideList(col("subject") === col("pair_lo")).as("__lo"),
        sideList(col("subject") === col("pair_hi")).as("__hi"))
      .withColumn("__m",
        merge(sortedSamples(col("__lo")), sortedSamples(col("__hi"))))
      .filter(col("__m").isNotNull)
    val expanded = grouped.select(keys.map(col) :+ col("__m.*"): _*)
    val out =
      if (!negation) expanded
      else Weave.negateAgainstEnds(expanded, nodes)
    out.drop(keys: _*)
  }
}

object ListMergeUnifier {
  /** Latest sample of a side list (lists arrive sorted ascending by
    * (epoch_ms, sample_seq)); null for an empty side. */
  def latest(sideList: Column): Column = get(sideList, size(sideList) - 1)

  /** The default mergeSamples (`latestLinkSample (ls ++ rs)`,
    * Unify.hs:137,153-157 with the engine's deterministic
    * (epoch_ms, sample_seq) tie-break): latest sample across both
    * sides. */
  def latestOfBoth(lo: Column, hi: Column): Column = {
    val a = latest(lo)
    val b = latest(hi)
    when(a.isNull, b).when(b.isNull, a)
      .when(a("epoch_ms") > b("epoch_ms") ||
        (a("epoch_ms") === b("epoch_ms") &&
          a("sample_seq") >= b("sample_seq")), a)
      .otherwise(b)
  }
}

object Weave {

  /** `samples` plus the unifiers' grouping key: the swap-insensitive
    * pair key (pair_lo, pair_hi) and one `__sub<i>` column per `subId`
    * column. Returns the frame and the key names. */
  private[operators] def keyed(samples: DataFrame,
      subId: Seq[Column]): (DataFrame, Seq[String]) = {
    val withKeys = samples
      .withColumn("pair_lo", LinkOps.pairLo(col("subject"), col("target")))
      .withColumn("pair_hi", LinkOps.pairHi(col("subject"), col("target")))
    val subNames = subId.indices.map(i => s"__sub$i")
    (subNames.zip(subId).foldLeft(withKeys) {
      case (df, (n, c)) => df.withColumn(n, c)
    }, Seq("pair_lo", "pair_hi") ++ subNames)
  }

  /** defNegatesLinkSample (Unify.hs:202-217) applied to a unified frame
    * that still carries its pair_lo/pair_hi key columns: drop a merged
    * sample when either end node was re-observed LATER than the sample
    * by someone other than the sample's own observer. No broadcast()
    * hint: the node summary is one row per distinct node, which at
    * fleet scale is itself huge — let AQE pick broadcast vs shuffle
    * from the measured size at runtime. */
  private[operators] def negateAgainstEnds(merged: DataFrame,
      nodes: DataFrame): DataFrame = {
    val summary = nodes.select(col("node_id"), col("epoch_ms").as("n_ts"))
    def negatedBy(endId: Column, nTs: Column): Column =
      nTs.isNotNull && col("epoch_ms") < nTs && col("subject") =!= endId
    merged
      .join(summary.withColumnRenamed("n_ts", "lo_ts")
          .withColumnRenamed("node_id", "lo_id"),
        col("pair_lo") === col("lo_id"), "left")
      .join(summary.withColumnRenamed("n_ts", "hi_ts")
          .withColumnRenamed("node_id", "hi_id"),
        col("pair_hi") === col("hi_id"), "left")
      .filter(!coalesce(negatedBy(col("lo_id"), col("lo_ts")), lit(false)) &&
              !coalesce(negatedBy(col("hi_id"), col("hi_ts")), lit(false)))
      .drop("lo_id", "lo_ts", "hi_id", "hi_ts")
  }

  /** Policy application (Weaver.hs:77-88): overwrite keeps only each
    * node's latest finding (deterministic tie-break on finding_seq). */
  def retainFindings(findings: DataFrame, policy: FoundNodePolicy): DataFrame =
    policy match {
      case PolicyAppend => findings
      case PolicyOverwrite =>
        LinkOps.latestPerKey(findings, Seq("subject"),
          Seq("epoch_ms", "finding_seq"))
      case PolicyKeepN(1) => retainFindings(findings, PolicyOverwrite)
      case PolicyKeepN(n) =>
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("subject"))
          .orderBy(col("epoch_ms").desc, col("finding_seq").desc)
        findings.withColumn("__rk", row_number().over(w))
          .filter(col("__rk") <= n).drop("__rk")
    }

  /** Explode retained findings into link samples (Unify.hs:68-78
    * `toLinkSamples`). sample_seq = (finding_seq, position) packed for a
    * total deterministic order within equal timestamps. Its schema is
    * also derived by hand (`DriverWeave.sampleSchema`). */
  def linkSamples(retained: DataFrame): DataFrame =
    graft.model.Findings.ensureTz(retained)
      .select(col("subject"), col("epoch_ms"), col("finding_seq"),
        col("tz"), posexplode(col("links")).as(Seq("pos", "l")))
      .select(
        col("subject"),
        col("l.target").as("target"),
        col("l.link_state").as("link_state"),
        col("epoch_ms"),
        col("l.link_attrs").as("link_attrs"),
        (col("finding_seq") * 1000000 + col("pos")).as("sample_seq"),
        col("tz"))

  /** Snapshot nodes (Weaver.hs:136-151, 125-129): every visited node with
    * its latest retained finding's ts/attrs; plus explicitly-visited
    * nodes with no findings (markAsVisited, Weaver.hs:93-96) with null
    * ts/attrs; plus boundary nodes (targets never visited) flagged
    * is_on_boundary with null ts/attrs. Its schema is also derived by
    * hand (`DriverWeave.nodeSchema`). */
  def snapshotNodes(retained0: DataFrame,
      extraVisited: Option[DataFrame] = None): DataFrame = {
    val retained = graft.model.Findings.ensureTz(retained0)
    val latest = LinkOps.latestPerKey(retained, Seq("subject"),
        Seq("epoch_ms", "finding_seq"))
      .select(col("subject").as("node_id"), col("epoch_ms"),
        col("node_attrs"), col("tz"))
    val visitedIds = {
      val fromFindings = retained.select(col("subject").as("node_id"))
      extraVisited match {
        case Some(ev) => fromFindings.union(ev.toDF("node_id")).distinct()
        case None => fromFindings.distinct()
      }
    }
    val visited = visitedIds
      .join(latest, Seq("node_id"), "left")
      .select(col("node_id"), lit(false).as("is_on_boundary"),
        col("epoch_ms"), col("node_attrs"), col("tz"))
    val targets = retained
      .select(explode(col("links.target")).as("node_id")).distinct()
    val boundary = targets
      .join(visitedIds, Seq("node_id"), "left_anti")
      .select(col("node_id"), lit(true).as("is_on_boundary"),
        lit(null).cast("long").as("epoch_ms"),
        lit(null).cast("map<string,string>").as("node_attrs"),
        lit(null).cast(graft.model.Findings.tzType).as("tz"))
    visited.unionByName(boundary)
  }

  /** Per-snapshot unification decision counters (parity with the
    * reference Weaver's WriterLoggingM decision log,
    * Weaver.hs:156-168). */
  case class WeaveStats(
      nFindings: Long, nRetained: Long, nSamples: Long,
      nUnifiedPairs: Long, nNegated: Long, nUnusedDropped: Long,
      nLinks: Long, nNodes: Long) {
    /** The reference logs one line per decision; the distributed engine
      * summarizes the same decisions as counters. */
    def logLines: Seq[String] = Seq(
      s"weave: $nFindings findings, $nRetained retained by policy",
      s"weave: $nSamples link samples -> $nUnifiedPairs unified pairs",
      s"weave: $nNegated pairs negated by newer end-node observations",
      s"weave: $nUnusedDropped unused pairs dropped at materialization",
      s"weave: snapshot has $nNodes nodes, $nLinks links")
  }

  /** Per-pair unification decision log — the reference Weaver's
    * per-decision debug lines (Weaver.hs:186-189: "Unify link [a]-[b]:
    * from N samples to M samples") re-expressed as a DataFrame instead
    * of a Writer monad: one row per unordered node pair with its
    * pre-unify sample count, the unifier's output count for the pair
    * (before negation — exactly what the reference line reports), and
    * the rendered `log_line` text. The pair renders in canonical
    * (lo, hi) order rather than the reference's head-sample
    * orientation — the unordered pair is the same. Lazy and fully
    * distributed; complements [[snapshotWithStats]]'s summary counters
    * when per-pair forensics are needed. */
  def unificationLog(findings: DataFrame,
      policy: FoundNodePolicy = PolicyOverwrite,
      unifier: LinkUnifier = new StdUnifier()): DataFrame = {
    val retained = retainFindings(findings, policy)
    val nodes = snapshotNodes(retained)
    val samples = linkSamples(retained)
    def byPair(df: DataFrame, cnt: String) = df
      .groupBy(LinkOps.pairLo(col("subject"), col("target")).as("pair_lo"),
        LinkOps.pairHi(col("subject"), col("target")).as("pair_hi"))
      .agg(count(lit(1)).as(cnt))
    byPair(samples, "n_samples")
      .join(byPair(unifier.unifyRaw(samples, nodes), "n_unified"),
        Seq("pair_lo", "pair_hi"), "left")
      .select(col("pair_lo"), col("pair_hi"), col("n_samples"),
        coalesce(col("n_unified"), lit(0L)).as("n_unified"))
      .withColumn("log_line", concat(
        lit("Unify link ["), col("pair_lo"), lit("]-["), col("pair_hi"),
        lit("]: from "), col("n_samples"), lit(" samples to "),
        col("n_unified"), lit(" samples")))
  }

  /** [[snapshot]] plus decision counters, logged at INFO. Counting
    * forces the intermediate frames, so this is the debugging path —
    * the plain [[snapshot]] stays single-job lazy. */
  def snapshotWithStats(findings: DataFrame,
      policy: FoundNodePolicy = PolicyOverwrite,
      unifier: LinkUnifier = new StdUnifier(),
      extraVisited: Option[DataFrame] = None): (SnapshotGraph, WeaveStats) = {
    val retained = retainFindings(findings, policy).persist()
    // released on every exit: a unifier or a count that throws would
    // otherwise leave all three cached
    val held = scala.collection.mutable.ArrayBuffer(retained)
    try {
      val nodes = snapshotNodes(retained, extraVisited)
      val samples = linkSamples(retained).persist()
      held += samples
      val unifiedRaw = unifier.unifyRaw(samples, nodes)
      val unified = unifier.unify(samples, nodes).persist()
      held += unified
      val g = SnapshotGraph(nodes, snapshotLinks(retained, nodes, unifier))
      val nUnifiedRaw = unifiedRaw.count()
      val nUnified = unified.count()
      val nLinks = g.links.count()
      val stats = WeaveStats(
        nFindings = findings.count(),
        nRetained = retained.count(),
        nSamples = samples.count(),
        nUnifiedPairs = nUnified,
        nNegated = nUnifiedRaw - nUnified,
        nUnusedDropped =
          nUnified - nLinks,
        nLinks = nLinks,
        nNodes = g.nodes.count())
      val log = org.slf4j.LoggerFactory.getLogger(getClass)
      stats.logLines.foreach(log.info(_))
      (g, stats)
    } finally held.foreach(_.unpersist())
  }

  /** Full snapshot (Weaver.hs getSnapshot', 156-168): the nodes step
    * ([[snapshotNodes]]) composed with the links step
    * ([[snapshotLinks]]). */
  def snapshot(findings: DataFrame,
      policy: FoundNodePolicy = PolicyOverwrite,
      unifier: LinkUnifier = new StdUnifier(),
      extraVisited: Option[DataFrame] = None): SnapshotGraph = {
    val retained = retainFindings(findings, policy)
    val nodes = snapshotNodes(retained, extraVisited)
    SnapshotGraph(nodes, snapshotLinks(retained, nodes, unifier))
  }

  /** Snapshot links (Weaver.hs:170-203): explode the retained findings
    * into link samples, unify them against the snapshot `nodes` (the
    * [[snapshotNodes]] of the same retained frame — negation reads their
    * timestamps), and materialize the link states. Columns: source_node,
    * dest_node, is_directed, epoch_ms, link_attrs, tz. Its schema is
    * also derived by hand (`DriverWeave.linkSchema`). */
  def snapshotLinks(retained: DataFrame, nodes: DataFrame,
      unifier: LinkUnifier): DataFrame = {
    val materialized = LinkOps.materializeLinks(
      unifier.unify(linkSamples(retained), nodes))
    if (materialized.columns.contains("tz"))
      materialized.select(col("source_node"), col("dest_node"),
        col("is_directed"), col("epoch_ms"), col("link_attrs"), col("tz"))
    else materialized.select(col("source_node"), col("dest_node"),
      col("is_directed"), col("epoch_ms"), col("link_attrs"))
      .withColumn("tz", lit(null).cast(graft.model.Findings.tzType))
  }
}
