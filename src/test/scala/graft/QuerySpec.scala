package graft

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, functions}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import graft.io.GraphMl
import graft.model._
import graft.operators._
import graft.query.{GetSnapshot, Query}
import graft.sources.History
import graft.time.{Interval, IntervalEnd}
import graft.util.DriverLane

/** Link row for the BIGINT-id cases (top level so Spark finds a TypeTag). */
case class LLink(target: Long, link_state: String,
    link_attrs: Map[String, String])

/** Traversal + interval + policy interplay, mirroring the reference's
  * server-only cases (net-spider/test/ServerTest/Snapshot.hs:97-265) and
  * the `traverses` corpus (SnapshotTestCase.hs:811-821). */
class QuerySpec extends SparkSpec {

  private implicit val stringEnc: org.apache.spark.sql.Encoder[String] =
    org.apache.spark.sql.Encoders.STRING

  private def linkTo(n: String) = FoundLink(n, LinkState.ToTarget, Map.empty)
  private def node(n: String, atMin: String, links: Seq[String], seq: Long = 0) =
    FoundNode(n, ts(s"2018-12-01T01:$atMin"), Map("o" -> "y"),
      links.map(linkTo), seq)
  private def nodeMs(n: String, ms: Long, links: Seq[String]) =
    FoundNode(n, ms, Map("o" -> "y"), links.map(linkTo), 0)

  private val intervalFns = Seq(
    node("n1", "10", Seq("n2"), 0), node("n1", "20", Seq("n2", "n3"), 1),
    node("n1", "30", Nil, 2), node("n1", "40", Seq("n3"), 3),
    node("n2", "15", Nil, 4), node("n2", "25", Seq("n4"), 5),
    node("n2", "35", Seq("n4", "n3", "n5"), 6),
    node("n3", "10", Seq("n4", "n2"), 7), node("n3", "30", Seq("n4"), 8),
    node("n4", "05", Nil, 9), node("n4", "15", Seq("n1"), 10),
    node("n4", "25", Seq("n1", "n5"), 11), node("n4", "35", Nil, 12))

  private val policyFns = Seq(
    nodeMs("n1", 10, Seq("n2")), nodeMs("n1", 20, Seq("n3")),
    nodeMs("n1", 30, Seq("n2")),
    nodeMs("n2", 15, Seq("n1")), nodeMs("n2", 25, Seq("n4")),
    nodeMs("n2", 35, Seq("n4", "n1")),
    nodeMs("n3", 17, Nil), nodeMs("n3", 27, Seq("n1", "n4")),
    nodeMs("n3", 37, Nil),
    nodeMs("n4", 8, Seq("n2")), nodeMs("n4", 18, Nil),
    nodeMs("n4", 28, Seq("n2", "n3")))

  private val noNeg = new StdUnifier(negation = false)
  private val bySubject =
    new StdUnifier(subId = Seq(col("subject")), negation = false)

  private def sortedRows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq

  /** GraphML of `g` with its ids rendered as strings (the writer reads
    * string ids). */
  private def graphMl(g: SnapshotGraph) = {
    def str(df: DataFrame, ids: String*) =
      ids.foldLeft(df)((d, c) => d.withColumn(c, col(c).cast("string")))
    GraphMl.write(SnapshotGraph(str(g.nodes, "node_id"),
      str(g.links, "source_node", "dest_node")))
  }

  /** Runs `q` from `starts` through both GetSnapshot lanes — the
    * driver-sized one, under the driver-lane bound in force, and the
    * distributed one (bound 0) — and checks that they agree: same
    * schema, same sorted nodes and links, byte-identical GraphML. The
    * driver-sized lane must have run (its frames are local relations).
    * Returns the driver-sized lane's graph. */
  private def bothLanes(findings: DataFrame, starts: DataFrame,
      q: Query[_]): SnapshotGraph = {
    val local = GetSnapshot.ofStarts(spark, findings, starts, q)
    val dist = DriverLane.withBound(0) {
      GetSnapshot.ofStarts(spark, findings, starts, q)
    }
    local.nodes.queryExecution.optimizedPlan shouldBe a[LocalRelation]
    local.links.queryExecution.optimizedPlan shouldBe a[LocalRelation]
    local.nodes.schema shouldBe dist.nodes.schema
    local.links.schema shouldBe dist.links.schema
    // cached, so the distributed lane's plans run once for both checks
    val distFrames = Seq(dist.nodes.persist(), dist.links.persist())
    try {
      sortedRows(local.nodes) shouldBe sortedRows(dist.nodes)
      sortedRows(local.links) shouldBe sortedRows(dist.links)
      graphMl(local) shouldBe graphMl(dist)
    } finally distFrames.foreach(_.unpersist())
    local
  }

  private def snapshot[N: Encoder](findings: DataFrame, q: Query[N]) =
    bothLanes(findings, spark.createDataset(q.startsFrom).toDF("node_id"), q)

  private def run(fns: Seq[FoundNode], q: Query[String]) = {
    val g = snapshot(Findings.fromSeq(spark, fns), q)
    val nodes = g.nodes.collect()
      .map(r => (r.getString(0), r.getBoolean(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        !r.isNullAt(3)))
      .sortBy(_._1).toSeq
    val links = g.links.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(3)))
      .sortBy(t => (t._1, t._2, t._3)).toSeq
    (nodes, links)
  }

  private def end(s: String, inclusive: Boolean) =
    IntervalEnd(Some(ts(s"2018-12-01T01:$s")), inclusive)

  describe("GetSnapshot traversal") {
    it("missing start node ⇒ empty graph") {
      val (ns, ls) = run(Seq(node("n1", "10", Seq("n2"))),
        Query(startsFrom = Seq("nope")))
      ns shouldBe empty
      ls shouldBe empty
    }
    it("empty startsFrom ⇒ empty graph") {
      val (ns, ls) = run(Seq(node("n1", "10", Seq("n2"))),
        Query[String](startsFrom = Nil))
      ns shouldBe empty
      ls shouldBe empty
    }
    it("disconnected component is not visited") {
      val (ns, _) = run(
        Seq(node("n1", "10", Seq("n2")), node("n9", "10", Seq("n8"))),
        Query(startsFrom = Seq("n1")))
      ns.map(_._1) shouldBe Seq("n1", "n2")
    }
    it("loop network terminates and covers the cycle") {
      val (ns, ls) = run(
        Seq(node("n1", "10", Seq("n2")), node("n2", "11", Seq("n3")),
          node("n3", "12", Seq("n1"))),
        Query(startsFrom = Seq("n1"), unifier = noNeg))
      ns.map(_._1) shouldBe Seq("n1", "n2", "n3")
      ls.map(l => (l._1, l._2)) shouldBe
        Seq(("n1", "n2"), ("n2", "n3"), ("n3", "n1"))
    }
    it("maxHops bounds the traversal; horizon nodes become boundary") {
      val (ns, _) = run(
        Seq(node("n1", "10", Seq("n2")), node("n2", "11", Seq("n3")),
          node("n3", "12", Seq("n4"))),
        Query(startsFrom = Seq("n1"), maxHops = Some(1), unifier = noNeg))
      // n1 (start) + n2 (1 hop) visited; n3 observed by n2 but past the
      // horizon ⇒ boundary.
      ns.map(n => (n._1, n._2)) shouldBe
        Seq(("n1", false), ("n2", false), ("n3", true))
    }
  }

  describe("GetSnapshot time interval (server corpus)") {
    it("only lower bound (exclusive)") {
      val (ns, ls) = run(intervalFns, Query(Seq("n1", "n2"),
        Interval(end("30", inclusive = false), IntervalEnd(None, true)),
        unifier = noNeg))
      ns.map(_._1) shouldBe Seq("n1", "n2", "n3", "n4", "n5")
      ns.map(!_._4) shouldBe Seq(false, false, true, false, true)
      ls shouldBe Seq(
        ("n1", "n3", ts("2018-12-01T01:40")),
        ("n2", "n3", ts("2018-12-01T01:35")),
        ("n2", "n4", ts("2018-12-01T01:35")),
        ("n2", "n5", ts("2018-12-01T01:35")))
    }
    it("only upper bound (exclusive)") {
      val (ns, ls) = run(intervalFns, Query(Seq("n1"),
        Interval(IntervalEnd(None, true), end("30", inclusive = false)),
        unifier = noNeg))
      ns.map(_._1) shouldBe Seq("n1", "n2", "n3", "n4", "n5")
      ns.map(!_._4) shouldBe Seq(false, false, false, false, true)
      ls shouldBe Seq(
        ("n1", "n2", ts("2018-12-01T01:20")),
        ("n1", "n3", ts("2018-12-01T01:20")),
        ("n2", "n4", ts("2018-12-01T01:25")),
        ("n3", "n2", ts("2018-12-01T01:10")),
        ("n3", "n4", ts("2018-12-01T01:10")),
        ("n4", "n1", ts("2018-12-01T01:25")),
        ("n4", "n5", ts("2018-12-01T01:25")))
    }
    it("only upper bound (inclusive)") {
      val (ns, ls) = run(intervalFns, Query(Seq("n3"),
        Interval(IntervalEnd(None, true), end("30", inclusive = true)),
        unifier = noNeg))
      ns.map(_._1) shouldBe Seq("n1", "n3", "n4", "n5")
      ns.map(!_._4) shouldBe Seq(false, false, false, true)
      ls shouldBe Seq(
        ("n3", "n4", ts("2018-12-01T01:30")),
        ("n4", "n1", ts("2018-12-01T01:25")),
        ("n4", "n5", ts("2018-12-01T01:25")))
    }
    it("both bounded") {
      val (ns, ls) = run(intervalFns, Query(Seq("n2"),
        Interval(end("20", inclusive = false), end("25", inclusive = true)),
        unifier = noNeg))
      ns.map(_._1) shouldBe Seq("n1", "n2", "n4", "n5")
      ns.map(!_._4) shouldBe Seq(true, false, false, true)
      ls shouldBe Seq(
        ("n2", "n4", ts("2018-12-01T01:25")),
        ("n4", "n1", ts("2018-12-01T01:25")),
        ("n4", "n5", ts("2018-12-01T01:25")))
    }
  }

  describe("GetSnapshot policy × interval (server corpus)") {
    it("policyOverwrite with timeInterval") {
      val (ns, ls) = run(policyFns, Query(Seq("n1"),
        Interval(IntervalEnd(None, true), IntervalEnd(Some(27), true)),
        policy = PolicyOverwrite, unifier = bySubject))
      ls shouldBe Seq(("n1", "n3", 20L), ("n3", "n1", 27L), ("n3", "n4", 27L))
      ns.map(_._1) shouldBe Seq("n1", "n3", "n4")
      ns.map(!_._4) shouldBe Seq(false, false, false)
    }
    it("policyAppend with timeInterval") {
      val (ns, ls) = run(policyFns, Query(Seq("n1"),
        Interval(IntervalEnd(Some(15), true), IntervalEnd(Some(30), true)),
        policy = PolicyAppend, unifier = bySubject))
      ls shouldBe Seq(
        ("n1", "n2", 30L), ("n1", "n3", 20L), ("n2", "n1", 15L),
        ("n2", "n4", 25L), ("n3", "n1", 27L), ("n3", "n4", 27L),
        ("n4", "n2", 28L), ("n4", "n3", 28L))
      ns.map(_._1) shouldBe Seq("n1", "n2", "n3", "n4")
      ns.map(!_._4) shouldBe Seq(false, false, false, false)
    }
  }

  describe("Generic node-id types (reference Int-id precedent, " +
      "ServerTest/Attributes.hs:105-106)") {
    // The weave/BFS/unify pipeline is schema-agnostic over the id type;
    // run the traversal corpus with BIGINT ids end to end.
    def lfn(subject: Long, atMin: Int, targets: Seq[Long], seq: Long = 0) =
      (subject, ts(f"2018-12-01T01:$atMin%02d"), seq,
        Map("o" -> "y"),
        targets.map(t => LLink(t, LinkState.ToTarget, Map.empty)))

    it("BFS + weave + boundary over BIGINT ids") {
      import spark.implicits._
      val findings = Seq(
        lfn(1L, 10, Seq(2L)),
        lfn(2L, 20, Seq(3L)),
        lfn(10L, 30, Seq(11L))) // disconnected island
        .toDF("subject", "epoch_ms", "finding_seq", "node_attrs", "links")
      // negation off: node 2's newer finding omits 1 and would (correctly)
      // negate the 1→2 link — the negation case is pinned separately below
      val g = snapshot(findings, Query(Seq(1L), unifier = noNeg))
      g.nodes.schema("node_id").dataType shouldBe
        org.apache.spark.sql.types.LongType
      val ns = g.nodes.collect()
        .map(r => (r.getLong(0), r.getBoolean(1), r.isNullAt(2)))
        .sortBy(_._1)
      // 1,2 visited with findings; 3 reached but finding-less ⇒ visited
      // bare (null ts, reference markAsVisited); island 10/11 unreachable
      ns shouldBe Seq((1L, false, false), (2L, false, false),
        (3L, false, true))
      val ls = g.links.collect()
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      ls shouldBe Seq((1L, 2L), (2L, 3L))
      // with a 1-hop horizon, 3 stays unvisited and surfaces as boundary
      val bounded = snapshot(findings,
        Query(Seq(1L), maxHops = Some(1), unifier = noNeg))
      bounded.nodes.collect()
        .map(r => (r.getLong(0), r.getBoolean(1))).sortBy(_._1) shouldBe
        Seq((1L, false), (2L, false), (3L, true))
    }

    it("negation + latest-per-pair semantics hold for BIGINT ids") {
      import spark.implicits._
      val findings = Seq(
        lfn(1L, 10, Seq(2L), seq = 1),
        lfn(2L, 20, Nil, seq = 2)) // newer empty re-observation negates
        .toDF("subject", "epoch_ms", "finding_seq", "node_attrs", "links")
      val g = snapshot(findings, Query(Seq(1L, 2L)))
      g.links.collect() shouldBe empty
      g.nodes.collect().map(_.getLong(0)).sorted shouldBe Seq(1L, 2L)
    }
  }

  describe("GetSnapshot.ofStarts (DataFrame start set)") {
    it("matches the Seq-based path bit for bit") {
      val fns = intervalFns
      val q = Query(Seq("n1", "n2"), unifier = noNeg)
      val viaSeq = snapshot(Findings.fromSeq(spark, fns), q)
      val viaDf = bothLanes(Findings.fromSeq(spark, fns),
        spark.createDataset(Seq("n1", "n2"))(stringEnc).toDF("node_id"),
        q.copy(startsFrom = Nil))
      viaDf.nodes.collect().map(_.toString).sorted.toSeq shouldBe
        viaSeq.nodes.collect().map(_.toString).sorted.toSeq
      viaDf.links.collect().map(_.toString).sorted.toSeq shouldBe
        viaSeq.links.collect().map(_.toString).sorted.toSeq
    }
  }

  describe("GetSnapshot lanes (driver-sized vs distributed)") {
    // The traversal, interval and policy cases above already run both
    // lanes; these add the unifiers and policy × horizon mixes they miss.
    val window = Interval(end("10", inclusive = false), end("35", inclusive = true))
    def agree(q: Query[String]) =
      snapshot(Findings.fromSeq(spark, intervalFns), q)

    it("agree for ListMergeUnifier, which gives StdUnifier's graph") {
      val q = Query(Seq("n1"), window,
        unifier = new ListMergeUnifier(ListMergeUnifier.latestOfBoth))
      graphMl(agree(q)) shouldBe
        graphMl(agree(q.copy(unifier = new StdUnifier())))
    }
    it("agree for StdUnifier(subId = …) with negation under PolicyKeepN(3)") {
      agree(Query(Seq("n1"), window, PolicyKeepN(3),
        new StdUnifier(subId = Seq(col("subject")))))
    }
    it("agree for ListMergeUnifier(negation = false) under PolicyAppend with maxHops") {
      agree(Query(Seq("n1"), window, PolicyAppend, new ListMergeUnifier(
        ListMergeUnifier.latestOfBoth, negation = false), Some(1)))
    }
    it("agree for StdUnifier(negation = false) under PolicyKeepN(3) with maxHops") {
      agree(Query(Seq("n1"), window, PolicyKeepN(3), noNeg, Some(1)))
    }

    it("agree for Int start ids against BIGINT subjects") {
      import spark.implicits._
      val findings = Seq(
        (1L, 10L, 0L, Map("o" -> "y"),
          Seq(LLink(2L, LinkState.ToTarget, Map.empty))),
        (2L, 20L, 1L, Map("o" -> "y"),
          Seq(LLink(3L, LinkState.ToTarget, Map.empty))))
        .toDF("subject", "epoch_ms", "finding_seq", "node_attrs", "links")
      val viaInt = snapshot(findings, Query(Seq(1), unifier = noNeg))
      viaInt.nodes.schema("node_id").dataType shouldBe
        org.apache.spark.sql.types.LongType
      sortedRows(viaInt.nodes) shouldBe
        sortedRows(snapshot(findings, Query(Seq(1L), unifier = noNeg)).nodes)
      sortedRows(viaInt.links) should have size 2
    }

    it("agree with tz present and with tz absent") {
      val cet = Some(Tz(60, summerOnly = false, "CET"))
      val withTz = intervalFns.zipWithIndex.map { case (f, i) =>
        if (i % 2 == 0) f.copy(tz = cet) else f }
      val present = snapshot(Findings.fromSeq(spark, withTz), Query(Seq("n1")))
      graphMl(present) should include ("CET")
      val absent = Findings.fromSeq(spark, intervalFns).drop("tz")
      graphMl(snapshot(absent, Query(Seq("n1")))) should not include ("CET")
    }

    it("the bound is inclusive: n retained findings take the lane at " +
        "bound n and fall back at n - 1") {
      val fns = Findings.fromSeq(spark, intervalFns)
      val starts = spark.createDataset(Seq("n1"))(stringEnc).toDF("node_id")
      val q = Query(Seq("n1"), policy = PolicyAppend)
      val n = intervalFns.size
      DriverLane.withBound(n)(bothLanes(fns, starts, q))
      DriverLane.withBound(n - 1)(GetSnapshot.ofStarts(spark, fns, starts, q))
        .nodes.queryExecution.optimizedPlan should not be a[LocalRelation]
    }

    it("a small history's snapshot runs a pinned number of jobs, none " +
        "in GraphMl.write, and leaves nothing persisted") {
      val dir = java.nio.file.Files.createTempDirectory("graft_lane").toString
      History.append(Findings.fromSeq(spark, intervalFns), dir)
      var findings: DataFrame = null
      jobsDuring {
        findings = History.read(spark, dir,
          Interval(end("10", inclusive = false), IntervalEnd(None, true)))
      } shouldBe 0
      val before = spark.sparkContext.getPersistentRDDs.keySet
      var g: SnapshotGraph = null
      val snapshotJobs = jobsDuring {
        g = GetSnapshot(spark, findings, Query(Seq("n1", "n2")))
      }
      var xml = ""
      jobsDuring { xml = GraphMl.write(g) } shouldBe 0
      xml should include ("<node id=\"n5\">")
      info(s"GetSnapshot ran $snapshotJobs jobs")
      snapshotJobs should be <= 2 // the retained fetch; the weave runs none
      (spark.sparkContext.getPersistentRDDs.keySet -- before) shouldBe empty
    }
  }

  describe("Driver weave parity on generated histories") {
    val neighborTypes = Seq("preferred_parent", "parent_candidate", "other")
    /** A seeded history over subjects "0".."11": epoch_ms drawn from 8
      * values (equal timestamps, told apart by finding_seq), self-loops,
      * all four link states, targets "12".."14" that own no finding
      * (bare visited nodes), empty links, null links on every 7th
      * finding and a tz on every 3rd. */
    def history(seed: Int): DataFrame = {
      val rnd = new scala.util.Random(seed)
      val cet = Tz(60, summerOnly = false, "CET")
      val fns = (0 until 60).map { i =>
        val subject = rnd.nextInt(12).toString
        def link(target: String) = FoundLink(target,
          LinkState.all(rnd.nextInt(4)), Map("w" -> rnd.nextInt(3).toString,
            "neighbor_type" -> neighborTypes(rnd.nextInt(3))))
        val links = Seq.fill(rnd.nextInt(4))(link(rnd.nextInt(15).toString)) ++
          (if (i % 9 == 0) Seq(link(subject)) else Nil)
        FoundNode(subject, 10L * rnd.nextInt(8), Map("i" -> i.toString),
          links, i, if (i % 3 == 0) Some(cet) else None)
      }
      Findings.fromSeq(spark, fns).withColumn("links",
        when(col("finding_seq") % 7 === 3, lit(null)).otherwise(col("links")))
    }
    /** `history` with BIGINT ids and no tz column. */
    def bigintHistory(seed: Int): DataFrame = history(seed).select(
      col("subject").cast("bigint").as("subject"), col("epoch_ms"),
      col("finding_seq"), col("node_attrs"),
      transform(col("links"), l => struct(
        l("target").cast("bigint").as("target"),
        l("link_state").as("link_state"),
        l("link_attrs").as("link_attrs"))).as("links"))

    /** `history` with INT subjects and `target`-typed targets. */
    def intHistory(seed: Int, target: String): DataFrame = history(seed).select(
      col("subject").cast("int").as("subject"), col("epoch_ms"),
      col("finding_seq"), col("node_attrs"),
      transform(col("links"), l => struct(
        l("target").cast(target).as("target"),
        l("link_state").as("link_state"),
        l("link_attrs").as("link_attrs"))).as("links"), col("tz"))

    val latestOrNull = (lo: Column, hi: Column) =>
      when(functions.size(lo) > 0 && functions.size(hi) > 0,
        ListMergeUnifier.latestOfBoth(lo, hi))
    val unifiers: Seq[(String, LinkUnifier)] = Seq(
      "StdUnifier()" -> new StdUnifier(),
      "StdUnifier(subId)" -> new StdUnifier(subId = Seq(col("link_attrs.w"))),
      "StdUnifier(postMerge)" -> new StdUnifier(postMerge = _.withColumn(
        "link_attrs", map_concat(
          coalesce(col("link_attrs"), typedLit(Map.empty[String, String])),
          map(lit("seq"), col("sample_seq").cast("string"))))),
      "StdUnifier(negation = false)" -> noNeg,
      "ListMergeUnifier(latestOfBoth)" ->
        new ListMergeUnifier(ListMergeUnifier.latestOfBoth),
      "ListMergeUnifier(a merge that returns null)" ->
        new ListMergeUnifier(latestOrNull),
      "ListMergeUnifier(negation = false)" ->
        new ListMergeUnifier(ListMergeUnifier.latestOfBoth, negation = false),
      "Rpl.DioUnifier (the default driver form)" -> graft.rpl.Rpl.DioUnifier)

    for ((name, unifier) <- unifiers)
      it(s"agree for $name under every policy, with and without maxHops") {
        def both[N: Encoder](h: DataFrame, q: Query[N]) = bothLanes(h,
          spark.createDataset(q.startsFrom).toDF("node_id"), q)
        val nLinks =
          for (policy <- Seq(PolicyOverwrite, PolicyAppend, PolicyKeepN(3));
               hops <- Seq(None, Some(1)))
            yield both(history(1), Query(Seq("0", "3"), policy = policy,
              unifier = unifier, maxHops = hops)).links.count()
        nLinks.sum should be > 0L
        // Int starts against BIGINT subjects, tz absent
        both(bigintHistory(2), Query(Seq(0, 3), policy = PolicyKeepN(3),
          unifier = unifier))(Encoders.scalaInt)
      }

    // mixed integrals: an INT pair key matched against BIGINT starts, and
    // a BIGINT pair key of INT subjects and BIGINT targets
    for ((name, unifier) <- unifiers; target <- Seq("int", "bigint"))
      it(s"agree for $name on INT subjects, ${target.toUpperCase} targets " +
          "and BIGINT starts") {
        bothLanes(intHistory(5, target), spark.createDataset(Seq(0L, 3L))(Encoders.scalaLong)
          .toDF("node_id"), Query(Seq(0L, 3L), unifier = unifier))
      }

    it("the pair key is Spark's least/greatest: UTF-8 byte order, a null " +
        "end ignored, mixed integrals as longs") {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      // U+FFFD sorts before U+1F600 in UTF-8 bytes, after it in UTF-16
      val ids = Seq("a", "\uFFFD", "\uD83D\uDE00", "\uD83D\uDE01")
      val fns = ids.zipWithIndex.map { case (s, i) =>
        FoundNode(s, 10L * i, Map.empty, ids.filterNot(_ == s).map(t =>
          FoundLink(t, LinkState.ToTarget, Map.empty)), i.toLong)
      }
      // a postMerge sees the key, so both lanes' rows must carry the same
      val keys = new StdUnifier(postMerge = _.withColumn("link_attrs",
        map(lit("lo"), col("pair_lo"), lit("hi"), col("pair_hi"))))
      snapshot(Findings.fromSeq(spark, fns), Query(Seq("a"), unifier = keys))
        .links.count() shouldBe 6
      // null ends, against Spark's own least/greatest over the same rows
      def sameKeys(t: (DataType, DataType), rows: Seq[(Any, Any)]) = {
        val table = DriverWeave.Table(rows.map { case (a, b) => Row(a, b) },
          StructType(Seq(StructField("subject", t._1), StructField("target", t._2))))
        val expected = table.frame(spark)
          .select(least(col("subject"), col("target")),
            greatest(col("subject"), col("target"))).collect().toSeq
        DriverWeave.withPairKey(table).rows
          .map(r => Row(r.get(2), r.get(3))) shouldBe expected
      }
      sameKeys((StringType, StringType), Seq(("a", null), (null, "a"),
        (null, null), ("\uFFFD", "\uD83D\uDE00"), ("b", "a")))
    }

    it("derives the node, sample, pair-key and link schemas the lazy " +
        "plans analyse to, nested nullability included") {
      import org.apache.spark.sql.types._
      val dir = java.nio.file.Files.createTempDirectory("graft_schemas")
        .toString + "/t"
      History.append(history(3), dir)
      val frames = Seq(
        // tz struct fields not nullable, links nullable
        ("a local frame", history(3), StringType),
        ("a parquet read", History.read(spark, dir), StringType),
        ("an Overwrite-retained frame",
          Weave.retainFindings(history(3), PolicyOverwrite), StringType),
        ("BIGINT ids, no tz", bigintHistory(3), LongType),
        ("INT ids, BIGINT starts", intHistory(3, "int"), LongType),
        ("INT subjects, BIGINT targets", intHistory(3, "bigint"), LongType))
      for ((name, f, idType) <- frames) withClue(s"$name: ") {
        val ids = spark.createDataFrame(java.util.List.of[org.apache.spark.sql.Row](),
          StructType(Seq(StructField("node_id", idType))))
        val nodes = Weave.snapshotNodes(f, Some(ids))
        val samples = Weave.linkSamples(f)
        DriverWeave.nodeSchema(f.schema, idType) shouldBe nodes.schema
        DriverWeave.sampleSchema(f.schema) shouldBe samples.schema
        DriverWeave.withPairKey(DriverWeave.Table(Nil, samples.schema))
          .schema shouldBe samples
          .withColumn("pair_lo", least(col("subject"), col("target")))
          .withColumn("pair_hi", greatest(col("subject"), col("target"))).schema
        for ((uName, u) <- unifiers) withClue(s"$uName: ") {
          DriverWeave.linkSchema(u.unify(samples, nodes).schema) shouldBe
            Weave.snapshotLinks(f, nodes, u).schema
        }
      }
    }

    it("DOUBLE node ids group -0.0 with 0.0, as Spark does") {
      // -0.0 and 0.0 are one node to Spark but two boxed Doubles to the
      // JVM, so such ids take the distributed lane
      val fns = Seq(FoundNode("-0.0", 10L, Map.empty,
          Seq(FoundLink("1.0", LinkState.ToTarget, Map.empty)), 0),
        FoundNode("0.0", 20L, Map.empty,
          Seq(FoundLink("2.0", LinkState.ToTarget, Map.empty)), 1))
      val h = Findings.fromSeq(spark, fns).select(
        col("subject").cast("double").as("subject"), col("epoch_ms"),
        col("finding_seq"), col("node_attrs"),
        transform(col("links"), l => struct(
          l("target").cast("double").as("target"),
          l("link_state").as("link_state"),
          l("link_attrs").as("link_attrs"))).as("links"))
      val starts = spark.createDataset(Seq(0.0))(Encoders.scalaDouble)
        .toDF("node_id")
      // both findings retained, so both spellings own one
      val q = Query(Seq(0.0), policy = PolicyAppend)
      val local = GetSnapshot.ofStarts(spark, h, starts, q)
      val dist = DriverLane.withBound(0)(GetSnapshot.ofStarts(spark, h, starts, q))
      sortedRows(local.nodes) shouldBe sortedRows(dist.nodes)
      sortedRows(local.links) shouldBe sortedRows(dist.links)
      local.nodes.collect().map(r => (r.getDouble(0), r.getBoolean(1)))
        .sortBy(_._1).toSeq shouldBe Seq((0.0, false), (1.0, false), (2.0, false))
    }

    it("a floating subId takes the default form and groups -0.0 with " +
        "0.0, and NaN with NaN, as Spark does") {
      // each end observes the pair once, under its own spelling of w
      def pair(a: String, wa: String, b: String, wb: String, at: Long,
          seq: Long) = Seq(
        FoundNode(a, at, Map.empty, Seq(
          FoundLink(b, LinkState.ToTarget, Map("w" -> wa))), seq),
        FoundNode(b, at + 10, Map.empty, Seq(
          FoundLink(a, LinkState.ToSubject, Map("w" -> wb))), seq + 1))
      val fns = pair("a", "-0.0", "b", "0.0", 10, 0) ++
        pair("c", "NaN", "d", "NaN", 30, 2)
      val u = new StdUnifier(
        subId = Seq(col("link_attrs")("w").cast("double")), negation = false)
      val g = snapshot(Findings.fromSeq(spark, fns),
        Query(Seq("a", "c"), unifier = u))
      g.links.collect().map(r => (r.getString(0), r.getString(1), r.getLong(3)))
        .sorted.toSeq shouldBe Seq(("a", "b", 20L), ("c", "d", 40L))
    }

    it("the weave runs no job for StdUnifier") {
      // a local findings frame under PolicyAppend: the fetch, the BFS and
      // the weave all run on the driver
      for (u <- Seq(new StdUnifier(), noNeg)) {
        var g: SnapshotGraph = null
        jobsDuring {
          g = GetSnapshot(spark, history(7),
            Query(Seq("0", "3"), policy = PolicyAppend, unifier = u))
          g.nodes.collect()
          g.links.collect()
        } shouldBe 0
        g.links.queryExecution.optimizedPlan shouldBe a[LocalRelation]
      }
    }

    it("a null link target gives a null boundary id on both lanes, " +
        "which the writers reject") {
      val fns = Seq(
        FoundNode("1", 10L, Map.empty, Seq(FoundLink("2", LinkState.ToTarget,
          Map.empty), FoundLink(null, LinkState.ToTarget, Map.empty)), 0),
        FoundNode("2", 20L, Map.empty, Seq(FoundLink("3", LinkState.ToTarget,
          Map.empty)), 1))
      val h = Findings.fromSeq(spark, fns)
      // INT subjects and BIGINT targets against BIGINT starts, plus a
      // null link element: the fetch casts the ids, and the element
      // stays null
      val linkType = h.schema("links").dataType
        .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType
      val mixed = h.select(col("subject").cast("int").as("subject"),
        col("epoch_ms"), col("finding_seq"), col("node_attrs"),
        transform(concat(col("links"), array(lit(null).cast(linkType))),
          l => l.withField("target", l("target").cast("bigint"))).as("links"),
        col("tz"))
      for ((findings, starts) <- Seq(
          h -> spark.createDataset(Seq("1"))(stringEnc).toDF("node_id"),
          mixed -> spark.createDataset(Seq(1L))(Encoders.scalaLong).toDF("node_id"))) {
        val q = Query(Seq.empty[String])
        val local = GetSnapshot.ofStarts(spark, findings, starts, q)
        val dist = DriverLane.withBound(0)(
          GetSnapshot.ofStarts(spark, findings, starts, q))
        local.nodes.queryExecution.optimizedPlan shouldBe a[LocalRelation]
        local.nodes.schema shouldBe dist.nodes.schema
        local.links.schema shouldBe dist.links.schema
        sortedRows(local.nodes) shouldBe sortedRows(dist.nodes)
        sortedRows(local.links) shouldBe sortedRows(dist.links)
        // the BFS reaches the null target (a visited id with no finding),
        // and no visited id matches it (a boundary id): one row each
        local.nodes.collect().count(_.isNullAt(0)) shouldBe 2
        for (g <- Seq(local, dist))
          (the[IllegalArgumentException] thrownBy graphMl(g))
            .getMessage should startWith ("node_id is null")
      }
    }

    it("a distributed run leaves no cache that a later driver-lane " +
        "query over the same history reads") {
      val q = Query(Seq("0", "3"), policy = PolicyAppend)
      val dist = DriverLane.withBound(0)(GetSnapshot(spark, history(8), q))
      dist.nodes.collect()
      dist.links.collect()
      jobsDuring {
        val g = GetSnapshot(spark, history(8), q)
        g.nodes.collect()
        g.links.collect()
      } shouldBe 0
    }
  }

  describe("Interval parsing") {
    it("parses i/x prefixes and ±inf") {
      Interval.parseEnd("x2019-10-09T12:03:22") shouldBe
        Some(IntervalEnd(Some(1570622602000L), false))
      Interval.parseEnd("i+inf") shouldBe Some(IntervalEnd(None, true))
      Interval.parseEnd("-inf") shouldBe Some(IntervalEnd(None, true))
      Interval.parseEnd("2019-10-09T12:03:22") shouldBe
        Some(IntervalEnd(Some(1570622602000L), true))
    }
    it("relaxed timestamp formats (reference doctest matrix)") {
      import graft.time.TimeParse
      TimeParse.parseMs("2018-10-11T11:20:10") shouldBe Some(1539256810000L)
      TimeParse.parseMs("2018-10-11 11:20:10") shouldBe Some(1539256810000L)
      TimeParse.parseMs("2015-03-23 03:33Z") shouldBe Some(1427081580000L)
      TimeParse.parseMs("1999-01-05 20:34:44.211+09:00") shouldBe
        Some(915536084211L)
      TimeParse.parseMs("2007/08/20T22:25-07:00") shouldBe Some(1187673900000L)
    }
  }
}
