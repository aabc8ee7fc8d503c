package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{functions => F}
import graft.model._
import graft.operators._

/** The reference's shared snapshot corpus re-expressed against the Spark
  * engine (net-spider/test/SnapshotTestCase.hs:167-666 "basics" — the same
  * cases the reference runs against BOTH its Weaver and its Gremlin
  * server, i.e. the engine's defining semantics). */
class WeaveSpec extends SparkSpec {

  private def fl(target: String, state: String,
      attrs: Map[String, String] = Map.empty) = FoundLink(target, state, attrs)
  private def fn(subject: String, at: String, links: Seq[FoundLink],
      attrs: Map[String, String] = Map.empty, seq: Long = 0) =
    FoundNode(subject, ts(at), attrs, links, seq)

  private def run(fns: Seq[FoundNode],
      policy: FoundNodePolicy = PolicyOverwrite,
      unifier: LinkUnifier = new StdUnifier()) = {
    val g = Weave.snapshot(Findings.fromSeq(spark, fns), policy, unifier)
    val nodes = g.nodes.collect().map(r => (
        r.getString(0), r.getBoolean(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None
        else Some(r.getMap[String, String](3).toMap)))
      .sortBy(_._1).toSeq
    val links = g.links.collect().map(r => (
        r.getString(0), r.getString(1), r.getBoolean(2), r.getLong(3),
        r.getMap[String, String](4).toMap))
      .sortBy(t => (t._1, t._2, t._5.toSeq.sorted.mkString(","))).toSeq
    (nodes, links)
  }

  describe("Weave.snapshot — reference basics corpus") {

    it("one neighbor") {
      val (ns, ls) = run(Seq(
        fn("n1", "2018-12-01T10:00", Seq(fl("n2", LinkState.ToTarget)))))
      ns shouldBe Seq(
        ("n1", false, Some(ts("2018-12-01T10:00")), Some(Map.empty[String, String])),
        ("n2", true, None, None))
      ls shouldBe Seq(
        ("n1", "n2", true, ts("2018-12-01T10:00"), Map.empty[String, String]))
    }

    it("no neighbor") {
      val (ns, ls) = run(Seq(fn("n1", "2018-12-01T20:00", Nil)))
      ns.map(_._1) shouldBe Seq("n1")
      ls shouldBe empty
    }

    it("mutual neighbors — latest observation wins the pair") {
      val (ns, ls) = run(Seq(
        fn("n1", "2018-12-01T10:00", Seq(fl("n2", LinkState.ToSubject))),
        fn("n2", "2018-12-01T20:00", Seq(fl("n1", LinkState.ToTarget)))))
      ns.map(_._1) shouldBe Seq("n1", "n2")
      ns.map(_._2) shouldBe Seq(false, false)
      ls shouldBe Seq(
        ("n2", "n1", true, ts("2018-12-01T20:00"), Map.empty[String, String]))
    }

    it("multiple findings for a single node — overwrite keeps latest") {
      val (ns, ls) = run(Seq(
        fn("n1", "2018-12-01T20:00",
          Seq(fl("n2", LinkState.ToTarget), fl("n3", LinkState.ToSubject)),
          Map("a" -> "at 20:00"), seq = 0),
        fn("n1", "2018-12-01T10:00", Nil, Map("a" -> "at 10:00"), seq = 1),
        fn("n1", "2018-12-01T15:00",
          Seq(fl("n2", LinkState.ToTarget)), Map("a" -> "at 15:00"), seq = 2)))
      ns shouldBe Seq(
        ("n1", false, Some(ts("2018-12-01T20:00")), Some(Map("a" -> "at 20:00"))),
        ("n2", true, None, None),
        ("n3", true, None, None))
      ls shouldBe Seq(
        ("n1", "n2", true, ts("2018-12-01T20:00"), Map.empty[String, String]),
        ("n3", "n1", true, ts("2018-12-01T20:00"), Map.empty[String, String]))
    }

    it("link disappears — newer empty observation negates") {
      val (ns, ls) = run(Seq(
        fn("n1", "2018-12-01T10:00", Seq(fl("n2", LinkState.Bidirectional))),
        fn("n2", "2018-12-01T20:00", Nil)))
      ns.map(_._1) shouldBe Seq("n1", "n2")
      ls shouldBe empty
    }

    it("link appears — newer link beats older empty observation") {
      val (ns, ls) = run(Seq(
        fn("n1", "2018-12-01T20:00", Seq(fl("n2", LinkState.Bidirectional))),
        fn("n2", "2018-12-01T10:00", Nil)))
      ns.map(_._1) shouldBe Seq("n1", "n2")
      ls shouldBe Seq(
        ("n1", "n2", false, ts("2018-12-01T20:00"), Map.empty[String, String]))
    }

    it("policyOverwrite and link disappear — old finding fully pruned") {
      val (ns, ls) = run(Seq(
        fn("n1", "2020-03-10T15:00", Seq(fl("n4", LinkState.Bidirectional)), seq = 0),
        fn("n1", "2020-03-10T14:00",
          Seq(fl("n2", LinkState.ToTarget), fl("n3", LinkState.Bidirectional)),
          seq = 1)))
      ns shouldBe Seq(
        ("n1", false, Some(ts("2020-03-10T15:00")), Some(Map.empty[String, String])),
        ("n4", true, None, None))
      ls shouldBe Seq(
        ("n1", "n4", false, ts("2020-03-10T15:00"), Map.empty[String, String]))
    }

    it("policyAppend — links aggregate across time, node ts is latest") {
      val (ns, ls) = run(Seq(
        fn("n1", "2020-02-18T11:00", Seq(fl("n2", LinkState.ToTarget)), seq = 0),
        fn("n1", "2020-02-18T10:00", Seq(fl("n3", LinkState.ToSubject)), seq = 1),
        fn("n1", "2020-02-18T09:00", Seq(fl("n4", LinkState.Bidirectional)), seq = 2)),
        policy = PolicyAppend)
      ns.map(n => (n._1, n._3)) shouldBe Seq(
        ("n1", Some(ts("2020-02-18T11:00"))),
        ("n2", None), ("n3", None), ("n4", None))
      ls shouldBe Seq(
        ("n1", "n2", true, ts("2020-02-18T11:00"), Map.empty[String, String]),
        ("n1", "n4", false, ts("2020-02-18T09:00"), Map.empty[String, String]),
        ("n3", "n1", true, ts("2020-02-18T10:00"), Map.empty[String, String]))
    }

    it("policyKeepN(2) — the middle ground: latest two findings' links " +
        "survive, the oldest is dropped") {
      val (ns, ls) = run(Seq(
        fn("n1", "2020-02-18T11:00", Seq(fl("n2", LinkState.ToTarget)), seq = 0),
        fn("n1", "2020-02-18T10:00", Seq(fl("n3", LinkState.ToSubject)), seq = 1),
        fn("n1", "2020-02-18T09:00", Seq(fl("n4", LinkState.Bidirectional)), seq = 2)),
        policy = PolicyKeepN(2))
      // n4 (only referenced by the dropped oldest finding) vanishes
      ns.map(n => (n._1, n._3)) shouldBe Seq(
        ("n1", Some(ts("2020-02-18T11:00"))),
        ("n2", None), ("n3", None))
      ls shouldBe Seq(
        ("n1", "n2", true, ts("2020-02-18T11:00"), Map.empty[String, String]),
        ("n3", "n1", true, ts("2020-02-18T10:00"), Map.empty[String, String]))
    }

    // Ports sub-ID unifier shared by the two multi-link cases
    // (TestCommon.hs:100-104 subIdWithAPorts + alignAPortsToLinkDirection):
    // sub-id = swap-insensitive {(subject, src_port), (target, dst_port)};
    // after merge, to_subject winners swap ports so attrs are in
    // (source, destination) orientation.
    def portsUnifier = new StdUnifier(
      subId = Seq(
        least(concat_ws("|", col("subject"), col("link_attrs")("fst")),
          concat_ws("|", col("target"), col("link_attrs")("snd"))),
        greatest(concat_ws("|", col("subject"), col("link_attrs")("fst")),
          concat_ws("|", col("target"), col("link_attrs")("snd")))),
      postMerge = df => df.withColumn("link_attrs",
        when(col("link_state") === LinkState.ToSubject,
          map(lit("fst"), col("link_attrs")("snd"),
              lit("snd"), col("link_attrs")("fst")))
          .otherwise(col("link_attrs"))))

    def ports(a: String, b: String) = Map("fst" -> a, "snd" -> b)

    it("multiple links between two nodes — 3 distinct port pairs survive") {
      val (ns, ls) = run(Seq(
        fn("n1", "2018-12-01T20:00", Seq(
          fl("n2", LinkState.ToTarget, ports("p4", "p8")),
          fl("n2", LinkState.ToTarget, ports("p3", "p6")),
          fl("n2", LinkState.ToTarget, ports("p5", "p10")))),
        fn("n2", "2018-12-01T10:00", Seq(
          fl("n1", LinkState.ToSubject, ports("p6", "p3")),
          fl("n1", LinkState.ToSubject, ports("p10", "p5")),
          fl("n1", LinkState.ToSubject, ports("p8", "p4"))))),
        unifier = portsUnifier)
      ns.map(_._1) shouldBe Seq("n1", "n2")
      ls.map(l => (l._1, l._2, l._5)) should contain theSameElementsAs Seq(
        ("n1", "n2", ports("p3", "p6")),
        ("n1", "n2", ports("p4", "p8")),
        ("n1", "n2", ports("p5", "p10")))
      all(ls.map(_._4)) shouldBe ts("2018-12-01T20:00")
      all(ls.map(_._3)) shouldBe true
    }

    it("multiple links, some appear, some disappear") {
      val (ns, ls) = run(Seq(
        fn("n2", "2018-12-01T20:00", Seq(
          fl("n1", LinkState.ToSubject, ports("p23", "p13")), // appears
          fl("n1", LinkState.ToSubject, ports("p22", "p12")))), // stays
        fn("n1", "2018-12-01T10:00", Seq(
          fl("n2", LinkState.ToTarget, ports("p11", "p21")), // disappears
          fl("n2", LinkState.ToTarget, ports("p12", "p22"))))), // stays
        unifier = portsUnifier)
      ns.map(n => (n._1, n._3)) shouldBe Seq(
        ("n1", Some(ts("2018-12-01T10:00"))),
        ("n2", Some(ts("2018-12-01T20:00"))))
      ls.map(l => (l._1, l._2, l._4, l._5)) should contain theSameElementsAs Seq(
        ("n1", "n2", ts("2018-12-01T20:00"), ports("p12", "p22")),
        ("n1", "n2", ts("2018-12-01T20:00"), ports("p13", "p23")))
    }

    def diamond(policy: FoundNodePolicy): Unit = {
      val mk = (sub: String, at: String, targets: Seq[String]) =>
        fn(sub, at, targets.map(t => fl(t, LinkState.Bidirectional)))
      val (ns, ls) = run(Seq(
        mk("n1", "2020-04-23T10:30", Seq("n2", "n3")),
        mk("n2", "2020-04-23T10:35", Seq("n1", "n4")),
        mk("n3", "2020-04-23T10:20", Seq("n1", "n4")),
        mk("n4", "2020-04-23T10:30", Seq("n2", "n3", "n5")),
        mk("n5", "2020-04-23T11:10", Seq("n4", "n6")),
        mk("n6", "2020-04-23T10:25", Seq("n5"))), policy = policy)
      ns.map(_._1) shouldBe Seq("n1", "n2", "n3", "n4", "n5", "n6")
      all(ns.map(_._2)) shouldBe false
      val pairs = ls.map(l =>
        (Seq(l._1, l._2).min, Seq(l._1, l._2).max, l._4)).sorted
      pairs shouldBe Seq(
        ("n1", "n2", ts("2020-04-23T10:35")),
        ("n1", "n3", ts("2020-04-23T10:30")),
        ("n2", "n4", ts("2020-04-23T10:35")),
        ("n3", "n4", ts("2020-04-23T10:30")),
        ("n4", "n5", ts("2020-04-23T11:10")),
        ("n5", "n6", ts("2020-04-23T11:10")))
      all(ls.map(_._3)) shouldBe false
    }

    it("diamond topology, policyOverwrite") { diamond(PolicyOverwrite) }
    it("diamond topology, policyAppend") { diamond(PolicyAppend) }

    it("multi-hop chain — per-pair latest wins with its link attributes") {
      def attr(s: String) = Map("a" -> s)
      def middle(i: Int, at: String) = fn(s"n$i", at, Seq(
        fl(s"n${i - 1}", LinkState.ToSubject, attr(s"n$i to prev")),
        fl(s"n${i + 1}", LinkState.ToTarget, attr(s"n$i to next"))), seq = i)
      val (ns, ls) = run(Seq(
        fn("n1", "2018-12-01T10:00",
          Seq(fl("n2", LinkState.ToTarget, attr("first"))), seq = 1),
        middle(2, "2018-12-01T05:00"),
        middle(3, "2018-12-01T15:00"),
        middle(4, "2018-12-01T20:00"),
        fn("n5", "2018-12-01T15:00",
          Seq(fl("n4", LinkState.ToSubject, attr("last"))), seq = 5)))
      ns.map(n => (n._1, n._3.get)) shouldBe Seq(
        ("n1", ts("2018-12-01T10:00")), ("n2", ts("2018-12-01T05:00")),
        ("n3", ts("2018-12-01T15:00")), ("n4", ts("2018-12-01T20:00")),
        ("n5", ts("2018-12-01T15:00")))
      ls.map(l => (l._1, l._2, l._3, l._4, l._5("a"))) shouldBe Seq(
        ("n1", "n2", true, ts("2018-12-01T10:00"), "first"),
        ("n2", "n3", true, ts("2018-12-01T15:00"), "n3 to prev"),
        ("n3", "n4", true, ts("2018-12-01T20:00"), "n4 to prev"),
        ("n4", "n5", true, ts("2018-12-01T20:00"), "n4 to next"))
    }

    it("loop network — cycle unifies to three links") {
      val (ns, ls) = run(Seq(
        fn("n1", "2018-12-01T10:00", Seq(
          fl("n2", LinkState.ToTarget), fl("n3", LinkState.ToSubject)), seq = 1),
        fn("n2", "2018-12-01T15:00", Seq(
          fl("n1", LinkState.ToSubject), fl("n3", LinkState.Bidirectional)), seq = 2),
        fn("n3", "2018-12-01T10:00", Seq(
          fl("n1", LinkState.ToTarget), fl("n2", LinkState.Bidirectional)), seq = 3)))
      ns.map(n => (n._1, n._2, n._3.get)) shouldBe Seq(
        ("n1", false, ts("2018-12-01T10:00")),
        ("n2", false, ts("2018-12-01T15:00")),
        ("n3", false, ts("2018-12-01T10:00")))
      ls.map(l => (l._1, l._2, l._3, l._4)) shouldBe Seq(
        ("n1", "n2", true, ts("2018-12-01T15:00")),
        ("n2", "n3", false, ts("2018-12-01T15:00")),
        ("n3", "n1", true, ts("2018-12-01T10:00")))
    }

    it("list-valued mergeSamples — mean attr over ALL samples of each " +
        "side (Unify.hs:135-139 escape hatch)") {
      import org.apache.spark.sql.Column
      def meanRssi(side: Column): Column =
        when(F.size(side) > 0, round(
          aggregate(side, lit(0.0d),
            (acc, s) => acc + s("link_attrs")("rssi").cast("double")) /
            F.size(side), 6))
      val merge = (lo: Column, hi: Column) => {
        val base = ListMergeUnifier.latestOfBoth(lo, hi)
        when(base.isNotNull, struct(
          base("subject").as("subject"),
          base("target").as("target"),
          base("link_state").as("link_state"),
          base("epoch_ms").as("epoch_ms"),
          map(lit("lo_mean"), meanRssi(lo).cast("string"),
            lit("hi_mean"), meanRssi(hi).cast("string")).as("link_attrs"),
          base("sample_seq").as("sample_seq"),
          base("tz").as("tz")))
      }
      val (ns, ls) = run(Seq(
        fn("n1", "2018-12-01T10:00",
          Seq(fl("n2", LinkState.Bidirectional, Map("rssi" -> "-4.0"))), seq = 1),
        fn("n1", "2018-12-01T11:00",
          Seq(fl("n2", LinkState.Bidirectional, Map("rssi" -> "-5.0"))), seq = 2),
        fn("n2", "2018-12-01T12:00",
          Seq(fl("n1", LinkState.Bidirectional, Map("rssi" -> "-6.5"))), seq = 3)),
        policy = PolicyAppend,
        unifier = new ListMergeUnifier(merge))
      ns.map(_._1) shouldBe Seq("n1", "n2")
      // base = latest overall (n2's 12:00 observation); the attrs average
      // EVERY sample of each side — inexpressible with StdUnifier, which
      // reduces to the latest winner before postMerge sees anything
      ls shouldBe Seq(("n2", "n1", false, ts("2018-12-01T12:00"),
        Map("lo_mean" -> "-4.5", "hi_mean" -> "-6.5")))
    }

    it("list-valued merge returning null drops the link (the reference's " +
        "Nothing) — a both-ends-must-confirm quorum rule") {
      import org.apache.spark.sql.Column
      val merge = (lo: Column, hi: Column) =>
        when(F.size(lo) > 0 && F.size(hi) > 0,
          ListMergeUnifier.latestOfBoth(lo, hi))
      val (ns, ls) = run(Seq(
        fn("n1", "2018-12-01T10:00", Seq(fl("n2", LinkState.Bidirectional)), seq = 1),
        fn("n2", "2018-12-01T11:00", Seq(fl("n1", LinkState.Bidirectional)), seq = 2),
        fn("n3", "2018-12-01T10:00", Seq(fl("n4", LinkState.Bidirectional)), seq = 3)))
      ls.map(l => (l._1, l._2)).toSet shouldBe
        Set(("n2", "n1"), ("n3", "n4")) // sanity: default keeps both
      val (_, confirmed) = run(Seq(
        fn("n1", "2018-12-01T10:00", Seq(fl("n2", LinkState.Bidirectional)), seq = 1),
        fn("n2", "2018-12-01T11:00", Seq(fl("n1", LinkState.Bidirectional)), seq = 2),
        fn("n3", "2018-12-01T10:00", Seq(fl("n4", LinkState.Bidirectional)), seq = 3)),
        unifier = new ListMergeUnifier(merge))
      confirmed.map(l => (l._1, l._2)) shouldBe Seq(("n2", "n1"))
    }

    it("ListMergeUnifier(latestOfBoth) reproduces the StdUnifier " +
        "snapshot on seeded random corpora") {
      val rnd = new scala.util.Random(13)
      val states = Seq(LinkState.ToTarget, LinkState.ToSubject,
        LinkState.Bidirectional, LinkState.Unused)
      (0 until 3).foreach { _ =>
        val fns = (0 until 25).map { i =>
          val subj = s"n${rnd.nextInt(8)}"
          val links = Seq.fill(rnd.nextInt(3)) {
            fl(s"n${rnd.nextInt(8)}", states(rnd.nextInt(4)),
              Map("a" -> rnd.nextInt(100).toString))
          }.filter(_.targetNode != subj)
          FoundNode(subj, 1000L + rnd.nextInt(50) * 1000L, Map.empty,
            links, i.toLong)
        }
        val df = Findings.fromSeq(spark, fns)
        def linkSet(u: LinkUnifier) = Weave.snapshot(df, unifier = u)
          .links.collect().map(r => (r.getString(0), r.getString(1),
            r.getBoolean(2), r.getLong(3),
            r.getMap[String, String](4).toMap)).toSet
        linkSet(new ListMergeUnifier(
          (lo, hi) => ListMergeUnifier.latestOfBoth(lo, hi))) shouldBe
          linkSet(new StdUnifier())
      }
    }

    it("weave invariants hold on seeded random corpora") {
      // Random findings over a small id space; invariants that must hold
      // for ANY input (the reference's semantics, not specific fixtures):
      //  1. every link endpoint appears in the node set;
      //  2. boundary nodes have null ts and never appear as subjects;
      //  3. per unordered pair at most one link (default unifyToOne);
      //  4. negation only removes links (negation-off is a superset).
      val rnd = new scala.util.Random(7)
      (0 until 3).foreach { _ =>
        val states = Seq(LinkState.ToTarget, LinkState.ToSubject,
          LinkState.Bidirectional, LinkState.Unused)
        val fns = (0 until 25).map { i =>
          val subj = s"n${rnd.nextInt(8)}"
          val links = Seq.fill(rnd.nextInt(3)) {
            fl(s"n${rnd.nextInt(8)}", states(rnd.nextInt(4)))
          }.filter(_.targetNode != subj)
          FoundNode(subj, 1000L + rnd.nextInt(50) * 1000L, Map.empty,
            links, i.toLong)
        }
        val df = Findings.fromSeq(spark, fns)
        val g = Weave.snapshot(df)
        val nodeIds = g.nodes.collect().map(_.getString(0)).toSet
        val links = g.links.collect()
          .map(r => (r.getString(0), r.getString(1))).toSeq
        links.foreach { case (s, d) =>
          nodeIds should contain(s)
          nodeIds should contain(d)
        }
        val subjects = fns.map(_.subjectNode).toSet
        g.nodes.collect().filter(_.getBoolean(1)).foreach { r =>
          r.isNullAt(2) shouldBe true
          subjects should not contain r.getString(0)
        }
        val pairKeys = links.map { case (s, d) =>
          if (s <= d) (s, d) else (d, s)
        }
        pairKeys.distinct.length shouldBe pairKeys.length
        val noNegLinks = Weave.snapshot(df,
            unifier = new StdUnifier(negation = false))
          .links.collect().map(r => (r.getString(0), r.getString(1))).toSet
        links.toSet.subsetOf(noNegLinks) shouldBe true
      }
    }

    it("snapshotWithStats counts policy/negation/unused decisions " +
        "(Weaver.hs:156-168 log parity)") {
      val fns = Seq(
        fn("n1", "2018-12-01T10:00", Seq(fl("n2", LinkState.ToTarget)), seq = 1),
        fn("n1", "2018-12-01T09:00", Seq(fl("n2", LinkState.ToTarget)), seq = 2),
        fn("n2", "2018-12-01T20:00", Nil, seq = 3),
        fn("n3", "2018-12-01T10:00", Seq(
          fl("n4", LinkState.ToTarget), fl("n5", LinkState.Unused)), seq = 4))
      val (g, stats) = Weave.snapshotWithStats(Findings.fromSeq(spark, fns))
      stats.nFindings shouldBe 4
      stats.nRetained shouldBe 3 // overwrite drops n1's older finding
      stats.nSamples shouldBe 3  // n1->n2, n3->n4, n3->n5(unused)
      stats.nUnifiedPairs shouldBe 2 // n1-n2 negated by n2's newer empty
      stats.nNegated shouldBe 1
      stats.nUnusedDropped shouldBe 1 // n3-n5
      stats.nLinks shouldBe 1 // n3->n4
      stats.nNodes shouldBe 5
      g.links.count() shouldBe 1
      stats.logLines.exists(_.contains("1 pairs negated")) shouldBe true
    }

    it("snapshotWithStats dispatches unifyRaw on the ACTUAL unifier — " +
        "list-merge negation counts stay consistent") {
      // n1 observes n1-n2; n2 is re-observed later with no links → the
      // merged sample is negated. The raw (negation-off) count must
      // come from the ListMergeUnifier itself, not a base-class twin.
      val merge = (lo: org.apache.spark.sql.Column,
          hi: org.apache.spark.sql.Column) =>
        ListMergeUnifier.latestOfBoth(lo, hi)
      val fns = Seq(
        fn("n1", "2018-12-01T10:00", Seq(fl("n2", LinkState.Bidirectional)), seq = 1),
        fn("n2", "2018-12-01T20:00", Nil, seq = 2))
      val (g, stats) = Weave.snapshotWithStats(
        Findings.fromSeq(spark, fns),
        unifier = new ListMergeUnifier(merge))
      stats.nUnifiedPairs shouldBe 0 // killed by negation
      stats.nNegated shouldBe 1      // raw (negation-off) saw the pair
      g.links.collect() shouldBe empty
    }

    it("snapshotWithStats releases its caches when the unifier throws") {
      val fns = Seq(
        fn("n1", "2018-12-01T10:00", Seq(fl("n2", LinkState.ToTarget)), seq = 1),
        fn("n2", "2018-12-01T20:00", Nil, seq = 2))
      // the plan fails when the unified frame materializes, after the
      // retained frame and the samples are cached
      val throwing = new LinkUnifier {
        def unify(samples: org.apache.spark.sql.DataFrame,
            nodes: org.apache.spark.sql.DataFrame) =
          samples.filter(expr("assert_true(epoch_ms < 0, 'unifier failed') IS NULL"))
      }
      def persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet
      val before = persisted
      val e = the[Exception] thrownBy
        Weave.snapshotWithStats(Findings.fromSeq(spark, fns), unifier = throwing)
      e.toString + Option(e.getCause).fold("")(_.toString) should include ("unifier failed")
      (persisted -- before) shouldBe empty
    }

    it("negation is an unhinted equi-join (AQE picks the strategy)") {
      val g = Weave.snapshot(Findings.fromSeq(spark, Seq(
        fn("n1", "2018-12-01T10:00", Seq(fl("n2", LinkState.ToTarget))),
        fn("n2", "2018-12-01T20:00", Nil))))
      // no forced broadcast hint survives into the optimized plan
      val logical = g.links.queryExecution.optimizedPlan.toString
      logical should not include "ResolvedHint"
      // the negation lookup is still a real join in the physical plan
      val physical = g.links.queryExecution.executedPlan.toString
      physical should include("Join")
      // and the negation semantics hold: n2's newer empty re-observation
      // kills the n1->n2 sample
      g.links.collect() shouldBe empty
    }
  }
}
