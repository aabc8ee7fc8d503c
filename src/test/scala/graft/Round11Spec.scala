package graft

import org.apache.spark.sql.functions._
import graft.operators.Bfs
import graft.util.DriverLane

/** Round-11 hardening: the Bfs.reachable small-graph local fallback
  * (the TemporalReach/GraphxOps probe discipline, applied to the
  * engine's core traversal). */
class Round11Spec extends SparkSpec {

  private def asSet(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.get(0), r.getInt(1))).toSet

  describe("Bfs.reachable local fallback") {

    it("local path ≡ distributed path across the probe boundary " +
        "(same graph, threshold just above / just below edge count)") {
      import spark.implicits._
      // diamond + tail + unreachable island + unknown start
      val edges = Seq(
        ("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"), ("d", "e"),
        ("x", "y"), ("e", "a") /* cycle back */).toDF("src", "dst")
      val starts = Seq("a", "ghost").toDF("node_id")
      val local = Bfs.reachable(edges, starts) // 7 edges < default threshold
      val dist = DriverLane.withBound(0)(Bfs.reachable(edges, starts))
      val expected = Set[(Any, Int)](
        ("a", 0), ("ghost", 0), ("b", 1), ("c", 1), ("d", 2), ("e", 3))
      asSet(local) shouldBe expected
      asSet(dist) shouldBe expected
      // boundary: bound exactly the distinct edge count → still local
      DriverLane.withBound(7)(asSet(Bfs.reachable(edges, starts))) shouldBe
        expected
      // bound one below → distributed
      DriverLane.withBound(6)(asSet(Bfs.reachable(edges, starts))) shouldBe
        expected
    }

    it("maxHops cuts at the same level on both paths") {
      import spark.implicits._
      val edges = (0 until 10).map(i => (s"n$i", s"n${i + 1}")).toDF("src", "dst")
      val starts = Seq("n0").toDF("node_id")
      for (h <- Seq(0, 1, 3)) {
        val local = asSet(Bfs.reachable(edges, starts, maxHops = Some(h)))
        val dist = DriverLane.withBound(0)(
          asSet(Bfs.reachable(edges, starts, maxHops = Some(h))))
        local shouldBe (0 to h).map(i => (s"n$i": Any, i)).toSet
        dist shouldBe local
      }
    }

    it("mixed integral id types unify to long on both paths; " +
        "non-unifiable types skip the local path without error") {
      import spark.implicits._
      val edges = Seq((1, 2L), (2, 3L)).toDF("src", "dst")
      val starts = Seq(1L).toDF("node_id")
      val local = Bfs.reachable(edges, starts)
      local.schema("node_id").dataType shouldBe
        org.apache.spark.sql.types.LongType
      asSet(local) shouldBe Set((1L, 0), (2L, 1), (3L, 2))
      DriverLane.withBound(0)(asSet(Bfs.reachable(edges, starts))) shouldBe
        asSet(local)
      // string edges + long starts: types don't unify → distributed path,
      // Spark's join coercion as before (no rows match here, starts remain)
      val sEdges = Seq(("1", "2")).toDF("src", "dst")
      val got = Bfs.reachable(sEdges, starts)
      got.select("node_id").count() should be >= 1L
    }

    it("local path returns nothing-but-starts on an empty edge list " +
        "and an empty frame on empty starts") {
      import spark.implicits._
      val noEdges = Seq.empty[(String, String)].toDF("src", "dst")
      val starts = Seq("a").toDF("node_id")
      asSet(Bfs.reachable(noEdges, starts)) shouldBe Set(("a", 0))
      val noStarts = Seq.empty[String].toDF("node_id")
      val edges = Seq(("a", "b")).toDF("src", "dst")
      Bfs.reachable(edges, noStarts).count() shouldBe 0L
    }

    it("local path runs in ZERO distributed jobs after the probe " +
        "(the whole point: no per-level scheduler round-trips)") {
      import spark.implicits._
      val edges = (0 until 50).map(i => (i.toLong, i.toLong + 1)).toDF("src", "dst")
      val starts = Seq(0L).toDF("node_id")
      // force lazy plan evaluation complete before counting
      val before = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
      val out = Bfs.reachable(edges, starts)
      val mid = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
      out.count()
      // probe + starts fetch are bounded (a handful of jobs), NOT
      // proportional to the 50-level diameter
      (mid - before) should be < 10
    }
  }

  describe("round-11 ADVICE closures") {

    it("Robots: comment/blank lines between User-agent lines keep the " +
        "header block together (RFC 9309 ignores them entirely)") {
      import graft.text.Robots
      val body =
        """User-agent: *
          |# a comment inside the header block
          |User-agent: b
          |Disallow: /x
          |
          |User-agent: c
          |Disallow: /only-c
          |""".stripMargin
      // the shared (*, b) group's rule must land in the star set; the
      // old state machine dropped it (comment reset the header block →
      // 'User-agent: b' cleared inStar) — failing OPEN
      Robots.parseStarRules(body) shouldBe Seq(false -> "/x")
      // blank line between UA lines: same RFC grammar, same answer
      Robots.parseStarRules(
        "User-agent: a\n\nUser-agent: *\nDisallow: /y\n") shouldBe
        Seq(false -> "/y")
    }

    it("Stats.decayedCounts fails loudly (not silent NULL) when the " +
        "per-key weight sum would overflow long") {
      import graft.pipeline.Stats
      import spark.implicits._
      // maxBuckets=62 → one bucket-0 event weighs 2^62; three of them
      // exceed Long.MaxValue in the DECIMAL sum
      val df = Seq(("k", 100L), ("k", 100L), ("k", 100L)).toDF("key", "ms")
      val ex = intercept[Exception] {
        Stats.decayedCounts(df, Seq("key"), "ms",
          refMs = 100L, halfLifeMs = 1000L, maxBuckets = 62).collect()
      }
      ex.getMessage should include("decayedCounts")
      // sane settings still work and stay exact longs
      val ok = Stats.decayedCounts(df, Seq("key"), "ms",
        refMs = 100L, halfLifeMs = 1000L, maxBuckets = 30).collect()
      ok.head.getAs[Long]("decayed_micro") shouldBe 3L * (1L << 30)
    }

    it("Jsonl.parseWithQuarantine survives a caller schema that " +
        "already contains `_corrupt`") {
      import graft.io.Jsonl
      import org.apache.spark.sql.types._
      import spark.implicits._
      val schema = StructType(Seq(
        StructField("id", LongType), StructField("_corrupt", StringType)))
      val lines = Seq(
        """{"id":1,"_corrupt":null}""",
        """{"id":2,"_corrupt":"previously quarantined line"}""",
        """not json at all""").toDF("line")
      val parsed = Jsonl.parseWithQuarantine(lines, schema, Seq("id"))
      val (good, bad) = Jsonl.route(parsed)
      good.columns.toSeq shouldBe Seq("id", "_corrupt")
      good.select("id").as[Long].collect().sorted shouldBe Array(1L, 2L)
      // the user's own _corrupt FIELD round-trips untouched
      good.filter($"id" === 2)
        .select("_corrupt").as[String].head() shouldBe
        "previously quarantined line"
      bad.as[String].collect().toSeq shouldBe Seq("not json at all")
    }
  }

  describe("Spread — the compute-amplifier partition guard") {
    import graft.util.Spread

    it("leaves small or already-parallel frames alone and spreads " +
        "only big under-partitioned ones") {
      import spark.implicits._
      val want = spark.sparkContext.defaultParallelism
      // small single-partition frame: below MinSpreadBytes → untouched
      val small = (1 to 100).toDF("x").coalesce(1)
      Spread.spread(small).rdd.getNumPartitions shouldBe 1
      // big but already-parallel: untouched (the production layout)
      val par = (1 to 1000).toDF("x").repartition(want)
      Spread.spread(par).rdd.getNumPartitions shouldBe want
      // big AND under-partitioned: spreads to session parallelism.
      // ~1M rows of 32-byte strings ≈ 32 MB estimated > 8 MB gate.
      val big = spark.range(1000000)
        .select(md5(col("id").cast("string")).as("s")).coalesce(1)
      assert(BigInt(big.queryExecution.optimizedPlan.stats.sizeInBytes
        .toString) >= Spread.MinSpreadBytes)
      Spread.spread(big).rdd.getNumPartitions shouldBe want
      // row parity either way
      Spread.spread(big).count() shouldBe 1000000L
    }
  }

  describe("exclusivePrefixSum eagerness contract, quantified") {
    it("the probe's construction-time job cost is measured and " +
        "windowThreshold=0 removes exactly it") {
      import graft.pipeline.{Mixture, PipelineOps}
      val sf = "/root/testdata/sf0.001"
      val docs = graft.sources.Tables.documents(spark, sf)
        .select(col("doc_id"), col("lang"), col("text"))
      docs.count() // absorb table-open/footer jobs before counting
      // Below the threshold the whole construction cost IS the probe
      // (the window path itself adds zero jobs); its job count is a
      // Spark internal (CollectLimit runs an incremental scale-up —
      // 2 jobs observed), so pin it RELATIVELY, not absolutely.
      val windowPath = jobsDuring { PipelineOps.packSequences(docs) }
      windowPath should be >= 1
      // Past the bound (forced low here) the probe runs AND fails,
      // so the two-pass scan pays its own construction jobs PLUS the
      // now-useless probe — a bound of 0 removes exactly that probe
      // cost
      val probedTwoPass = jobsDuring {
        DriverLane.withBound(2)(PipelineOps.packSequences(docs))
      }
      val directTwoPass = jobsDuring {
        DriverLane.withBound(0)(PipelineOps.packSequences(docs))
      }
      probedTwoPass - directTwoPass shouldBe windowPath
      info(s"construction jobs: probe $windowPath (the window path's " +
        s"whole cost), two-pass $directTwoPass (pass-1 subtotals), " +
        s"probe tax past the threshold ${probedTwoPass - directTwoPass}")
      // threaded through Mixture.applyPlanTokenExact: same probe tax,
      // removed the same way
      val plan = Mixture.plan(docs, targetsPpm = Map("en" -> 500000L))
      val tokenExactProbed = jobsDuring {
        DriverLane.withBound(2)(Mixture.applyPlanTokenExact(docs, plan))
      }
      val tokenExactDirect = jobsDuring {
        DriverLane.withBound(0)(Mixture.applyPlanTokenExact(docs, plan))
      }
      tokenExactProbed - tokenExactDirect shouldBe windowPath
      // both paths state the same rows (the bound only picks the
      // physical shape)
      val a = Mixture.applyPlanTokenExact(docs, plan)
        .select("doc_id", "copy").collect().map(r => (r.getLong(0),
          r.getLong(1))).toSet
      val b = DriverLane.withBound(0) {
        Mixture.applyPlanTokenExact(docs, plan)
          .select("doc_id", "copy").collect().map(r => (r.getLong(0),
            r.getLong(1))).toSet
      }
      a shouldBe b
    }
  }
}
