package graft

import org.apache.spark.sql.functions._
import graft.util.DriverLane

/** Round-8 hardening: gate builders must be LAZY — constructing a
  * query plan from SparkEntry.queries runs zero Spark jobs (the
  * verdict's q83/q92 finding: thresholds derived from corpus counts
  * belong inside the plan as 1×1 scalar summaries, not driver-side
  * `count()` actions). The two-pass operators (packing, deterministic
  * shuffle, skyline) are exempt by design — their algorithms are
  * multi-job — so this pins exactly the threshold-scalar class.
  */
class Round8Spec extends SparkSpec {

  describe("threshold-scalar gates build lazily") {
    val sf = "/root/testdata/sf0.001"

    // Opening a parquet table itself can run a footer/listing job, so
    // the yardstick is a known-lazy gate over the same table: building
    // q83/q92 must run exactly as many jobs as building q16 — i.e.
    // the threshold derivation adds ZERO jobs.
    it("q83_heavy_hitters builds with no more jobs than a lazy gate") {
      val base = jobsDuring { SparkEntry.queries("q16_text_quality")(spark, sf) }
      val n = jobsDuring { SparkEntry.queries("q83_heavy_hitters")(spark, sf) }
      n shouldBe base
    }

    it("q92_pmi builds with no more jobs than a lazy gate") {
      val base = jobsDuring { SparkEntry.queries("q16_text_quality")(spark, sf) }
      val n = jobsDuring { SparkEntry.queries("q92_pmi")(spark, sf) }
      n shouldBe base
    }

    it("frequentTokensFrac matches the absolute-threshold form") {
      import spark.implicits._
      val docs = (0L until 200L).map { i =>
        val words =
          (if (i % 3 == 0) Seq("common") else Seq.empty) ++
          (if (i % 20 == 0) Seq(s"rare$i") else Seq.empty) ++
          Seq("the", s"w${i % 7}")
        (i, words.mkString(" "))
      }.toDF("doc_id", "text")
      val frac = graft.sketch.Frequent
        .frequentTokensFrac(docs, minDocFrac = 0.05)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      val abs = graft.sketch.Frequent
        .frequentTokens(docs, math.ceil(0.05 * 200).toLong)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      frac shouldBe abs
      frac.map(_._1) should contain("common")
    }

    it("pmiComponentsFrac matches the absolute-threshold form") {
      import spark.implicits._
      val docs = (0L until 100L).map { i =>
        // a,b: df=50 (in band [20,80]); c: df=25 (in band); z: df=4
        // (below); u_i: df=1 (below). Pair counts a∧b=50, a∧c=b∧c=25.
        val words =
          (if (i % 2 == 0) Seq("a", "b") else Seq.empty) ++
          (if (i % 4 == 0) Seq("c") else Seq.empty) ++
          (if (i % 30 == 0) Seq("z") else Seq.empty) ++
          Seq(s"u$i")
        (i, words.mkString(" "))
      }.toDF("doc_id", "text")
      val frac = graft.text.Cooccur
        .pmiComponentsFrac(docs, 0.2, 0.8, 0.05)
        .collect().map(r => (r.getString(0), r.getString(1),
          r.getLong(2), r.getLong(3), r.getLong(4))).toSet
      val abs = graft.text.Cooccur.pmiComponents(docs,
        minDf = math.ceil(0.2 * 100).toLong,
        maxDf = math.floor(0.8 * 100).toLong,
        minPairCount = math.ceil(0.05 * 100).toLong)
        .collect().map(r => (r.getString(0), r.getString(1),
          r.getLong(2), r.getLong(3), r.getLong(4))).toSet
      frac shouldBe abs
      frac.map(t => (t._1, t._2)) should contain(("a", "b"))
    }
  }

  describe("BPE local merge fallback") {
    it("local and distributed loops learn the identical merge table") {
      import spark.implicits._
      // ties at several ranks + repeated symbols ("aaa" exercises the
      // greedy non-overlap state machine) + multi-round cascades
      val docs = Seq((1L,
        (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
         Seq.fill(6)("newest") ++ Seq.fill(3)("widest") ++
         Seq.fill(4)("aaa") ++ Seq.fill(4)("bab")).mkString(" ")))
        .toDF("doc_id", "text")
      val local = graft.text.Bpe.learnMerges(docs, numMerges = 12)
        .as[(Long, String, String, Long)].collect().sortBy(_._1).toSeq
      val dist = DriverLane.withBound(0) {
        graft.text.Bpe.learnMerges(docs, numMerges = 12)
          .as[(Long, String, String, Long)].collect().sortBy(_._1).toSeq
      }
      local shouldBe dist
      local.size should be > 4
    }

    it("200 local merge rounds complete in one probe job") {
      import spark.implicits._
      // enough distinct pair mass for 200 rounds: words of varied
      // letters so merges keep finding count-2 pairs
      val docs = (0 until 400).map { i =>
        (i.toLong, s"w${i % 97}x${(i * 7) % 89}y${(i * 13) % 83}")
      }.toDF("doc_id", "text")
      val t0 = System.nanoTime()
      val merges = graft.text.Bpe
        .learnMerges(docs, numMerges = 200, minCount = 2L)
      val n = merges.count()
      val secs = (System.nanoTime() - t0) / 1e9
      n should be > 50L
      // the one-job-per-round loop took minutes at this merge count;
      // the local loop is bounded by a single collect + driver work
      secs should be < 60.0
    }
  }

  describe("token-exact mixture draws") {
    import graft.pipeline.Mixture

    def tokensOf(df: org.apache.spark.sql.DataFrame): Long =
      df.select(sum(graft.text.TextOps.tokenCount(col("text"))
        .cast("long"))).collect()(0).getLong(0)

    it("realized token mass lands within one document of want_toks " +
        "under pathological length skew") {
      import spark.implicits._
      // one 10k-token monster + 500 ten-token docs: n_toks = 15_000.
      // Row-level draws put ±10k variance on the monster's coin; the
      // token-exact prefix guarantees want ≤ realized < want + max_doc.
      val docs = ((0L until 500L).map { i =>
        (i, "x", Seq.fill(10)("w").mkString(" "))
      } :+ ((9999L, "x", Seq.fill(10000)("m").mkString(" "))))
        .toDF("doc_id", "lang", "text")
      val want = 6000L
      val planDf = Mixture.plan(docs, Map("x" -> 1000000L),
        budgetTokens = Some(want))
      val kept = Mixture.applyPlanTokenExact(docs, planDf)
      val realized = tokensOf(kept)
      realized should be >= want
      realized should be < (want + 10000L)
      // deterministic under re-evaluation and re-partitioning
      val again = Mixture
        .applyPlanTokenExact(docs.repartition(13), planDf)
      tokensOf(again) shouldBe realized
      again.select("doc_id", "copy").collect().toSet shouldBe
        kept.select("doc_id", "copy").collect().toSet
    }

    it("full epochs still replicate every doc; the remainder rides the " +
        "token prefix") {
      import spark.implicits._
      val docs = (0L until 100L).map { i =>
        (i, "x", Seq.fill(5)("w").mkString(" "))
      }.toDF("doc_id", "lang", "text") // n_toks = 500
      val planDf = Mixture.plan(docs, Map("x" -> 1000000L),
        budgetTokens = Some(1200L)) // 2 full epochs + 200-token remainder
      val kept = Mixture.applyPlanTokenExact(docs, planDf)
      val copies = kept.groupBy("doc_id")
        .agg(count(lit(1)).as("n")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      copies.size shouldBe 100 // every doc present with ≥2 copies
      copies.values.foreach(_ should be >= 2L)
      copies.values.count(_ == 3L) shouldBe 40 // 200 tokens / 5 per doc
      tokensOf(kept) shouldBe 1200L
    }
  }

  describe("small-graph local fallbacks (q77/q97 latency)") {
    // seeded random digraphs: local and distributed fixpoints must be
    // row-identical (labels, arrivals) — same contract as the
    // clusterLabelsStar union-find fallback
    def randomEdges(seed: Int, n: Int, m: Int): Seq[(String, String, Long)] = {
      val rnd = new scala.util.Random(seed)
      (0 until m).map { _ =>
        (s"v${rnd.nextInt(n)}", s"v${rnd.nextInt(n)}",
          (rnd.nextInt(50) * 1000L))
      }.filter(e => e._1 != e._2)
    }

    it("SCC: local Tarjan equals the GraphX path on random digraphs") {
      import spark.implicits._
      for (seed <- Seq(1, 7, 42)) {
        val edges = randomEdges(seed, 18, 60)
          .map(e => (e._1, e._2)).toDF("src", "dst")
        val local = graft.operators.GraphxOps
          .stronglyConnectedComponents(edges)
          .as[(String, String)].collect().toSet
        val dist = DriverLane.withBound(0) {
          graft.operators.GraphxOps.stronglyConnectedComponents(edges)
            .as[(String, String)].collect().toSet
        }
        withClue(s"seed=$seed") { local shouldBe dist }
      }
    }

    it("temporal reach: local label correction equals the frontier " +
        "loop, maxHops included") {
      import spark.implicits._
      for (seed <- Seq(3, 11); hops <- Seq(None, Some(2))) {
        val edges = randomEdges(seed, 15, 80)
          .toDF("src", "dst", "edge_ms")
        val starts = Seq("v0", "v1").toDF("node_id")
        val local = graft.operators.TemporalReach
          .earliestArrival(edges, starts, maxHops = hops)
          .as[(String, Long)].collect().toSet
        val dist = DriverLane.withBound(0) {
          graft.operators.TemporalReach
            .earliestArrival(edges, starts, maxHops = hops)
            .as[(String, Long)].collect().toSet
        }
        withClue(s"seed=$seed hops=$hops") { local shouldBe dist }
      }
    }
  }

  describe("ingestDocStream crash-restart") {
    it("dedup state survives a stop/restart from the same checkpoint — " +
        "a pre-restart duplicate is still dropped") {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import org.apache.spark.sql.streaming.OutputMode
      implicit val sql = spark.sqlContext
      import spark.implicits._
      val dir = java.nio.file.Files
        .createTempDirectory("graft_ingest_restart").toString
      val input = MemoryStream[(Long, String, Long)]
      def start() = graft.streaming.StreamingIngest.ingestDocStream(
          input.toDF().toDF("doc_id", "text", "epoch_ms"),
          weights = Map("f_tok" -> 1L), thresholdPpm = 1000000L,
          watermark = "1 hour")
        .writeStream.format("parquet")
        .option("path", s"$dir/out")
        .option("checkpointLocation", s"$dir/ckpt")
        .outputMode(OutputMode.Append()).start()

      val q1 = start()
      try {
        input.addData(
          (1L, "first unique document body", 1000L),
          (2L, "second unique document body", 2000L))
        q1.processAllAvailable()
      } finally q1.stop() // "crash": no graceful drain of future data
      // restart on the SAME checkpoint; a duplicate of doc 1 arrives
      // only after the restart — dropping it requires the dedup state
      // store to have been recovered, not rebuilt from scratch
      val q2 = start()
      try {
        input.addData(
          (3L, "first unique document body", 3000L), // dup of pre-restart 1
          (4L, "third unique document body", 4000L))
        q2.processAllAvailable()
        val ids = spark.read.parquet(s"$dir/out")
          .select("doc_id").as[Long].collect().sorted.toSeq
        ids shouldBe Seq(1L, 2L, 4L)
      } finally q2.stop()
    }
  }
}
