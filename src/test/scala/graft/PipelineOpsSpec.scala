package graft

import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.pipeline.PipelineOps
import graft.text.TextOps
import graft.util.DriverLane

/** Corpus-shaping operators: near-dup clustering, contamination,
  * normalization, sampling, packing. */
class PipelineOpsSpec extends SparkSpec {

  it("funnel only counts stages in strict order; stalled keys keep nulls") {
    import spark.implicits._
    val ev = Seq(
      // u1: full ordered funnel
      (1L, "view", 10L), (1L, "click", 20L), (1L, "purchase", 30L),
      // u2: click BEFORE first view — must not count; purchase without
      // a qualifying click must not count either
      (2L, "click", 5L), (2L, "view", 10L), (2L, "purchase", 15L),
      // u3: view only
      (3L, "view", 7L),
      // u4: never viewed — not in the funnel at all
      (4L, "click", 1L), (4L, "purchase", 2L),
      // u5: equal timestamps are NOT "after" (strict order)
      (5L, "view", 40L), (5L, "click", 40L))
      .toDF("user_id", "event_type", "ms")
    val got = graft.pipeline.Funnel.funnel(ev, Seq("view", "click", "purchase"))
      .select("user_id", "funnel_stage")
      .as[(Long, Long)].collect().toMap
    got shouldBe Map(1L -> 3L, 2L -> 1L, 3L -> 1L, 5L -> 1L)
  }

  it("clusterLabels closes transitively to the min id") {
    import spark.implicits._
    // components {1,2,3,4} (chain) and {10,11}; 20-20 self-free
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("id1", "id2")
    val got = Dedup.clusterLabels(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    got shouldBe Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L),
      (10L, 10L), (11L, 10L))
  }

  it("clusterLabelsStar agrees with min-label propagation on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    (0 until 3).foreach { _ =>
      val n = 40
      val pairs = (0 until 60).map { _ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)
      }.filter(p => p._1 != p._2).toDF("id1", "id2")
      val simple = Dedup.clusterLabels(pairs).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
      val star = Dedup.clusterLabelsStar(pairs).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
      star shouldBe simple
    }
    // adversarial long chain (diameter 30): star variant must still agree
    val chain = (0L until 30L).map(i => (i, i + 1)).toDF("id1", "id2")
    val got = Dedup.clusterLabelsStar(chain).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    got.map(_._2).distinct shouldBe Seq(0L)
    got.map(_._1).sorted shouldBe (0L to 30L)
  }

  it("the DISTRIBUTED star rounds (forced past the local fallback) " +
      "equal min-label propagation on chains, cliques, random graphs " +
      "and supplementary-plane string ids") {
    // Every other CC test rides the adaptive small-tail union-find
    // (edge sets far below the 1M-edge bound), so this is the ONLY
    // exercise of the O(log n) shuffle rounds — the path a
    // billion-edge dup graph takes at 100 TB. A driver-lane bound of
    // 0 forces it.
    import spark.implicits._
    def starDist(pairs: org.apache.spark.sql.DataFrame) =
      DriverLane.withBound(0)(Dedup.clusterLabelsStar(pairs).collect())
        .map(r => (r.get(0), r.get(1))).sortBy(_._1.toString).toSeq
    def simple(pairs: org.apache.spark.sql.DataFrame) =
      Dedup.clusterLabels(pairs).collect()
        .map(r => (r.get(0), r.get(1))).sortBy(_._1.toString).toSeq
    // diameter-30 chain: needs the full alternating-round contraction
    val chain = (0L until 30L).map(i => (i, i + 1)).toDF("id1", "id2")
    starDist(chain) shouldBe simple(chain)
    // two cliques bridged by one edge + a far singleton pair
    val cliques = (for {
      a <- 0L until 6L; b <- 0L until 6L if a < b
    } yield (a, b)).toSeq ++ (for {
      a <- 100L until 106L; b <- 100L until 106L if a < b
    } yield (a, b)) ++ Seq((5L, 100L), (900L, 901L))
    val cdf = cliques.toDF("id1", "id2")
    starDist(cdf) shouldBe simple(cdf)
    // seeded random graphs — same equivalence the local path passes
    val rnd = new scala.util.Random(7)
    (0 until 2).foreach { _ =>
      val pairs = (0 until 80)
        .map(_ => (rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
        .filter(p => p._1 != p._2).toDF("id1", "id2")
      starDist(pairs) shouldBe simple(pairs)
    }
    // STRING ids incl. supplementary-plane chars: the distributed
    // min() compares UTF8String bytes; must match clusterLabels AND
    // the local fallback's explicit UTF-8 comparator
    val sPairs = Seq(("b", "😀doc"), ("😀doc", "z"),
      ("a", "b"), ("�rep", "z")).toDF("id1", "id2")
    starDist(sPairs) shouldBe simple(sPairs)
    starDist(sPairs) shouldBe
      Dedup.clusterLabelsStar(sPairs).collect()
        .map(r => (r.get(0), r.get(1))).sortBy(_._1.toString).toSeq
  }

  it("a sliding-window near-dup CHAIN unifies transitively: LSH links " +
      "consecutive docs, clustering spans all six, dedup keeps one") {
    // the FuzzSpec chain corpus (40-token window, stride 2 → adjacent
    // Jaccard ≈ .90, ends ≈ .58): pins that the cross-engine fuzz rows
    // exercise MULTI-HOP propagation, not a vacuous no-candidate set.
    // MinHash banding is deterministic (fixed hash constants), so the
    // candidate set is exact, not probabilistic.
    import spark.implicits._
    val docs = (0 until 6).map { j =>
      (65L + j, (2 * j until 2 * j + 40).map(i => s"link_$i").mkString(" "))
    }.toDF("doc_id", "text")
    val pairs = Dedup.minhashCandidatePairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // every consecutive pair is a candidate; the chain ends are not,
    // and doc 65 reaches the component ONLY through 66 (>= 2 hops)
    (0 until 5).foreach { j =>
      pairs should contain ((65L + j, 66L + j))
    }
    (pairs should not).contain((65L, 70L))
    pairs.filter(p => p._1 == 65L || p._2 == 65L) shouldBe Set((65L, 66L))
    val labels = Dedup.clusterLabelsStar(
      Dedup.minhashCandidatePairs(docs)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    labels.keySet shouldBe (65L to 70L).toSet
    labels.values.toSet shouldBe Set(65L)
    Dedup.dedupCorpus(docs).select("doc_id").as[Long].collect()
      .toSeq shouldBe Seq(65L)
  }

  it("iterative ops run with a RELIABLE checkpoint dir (fault-tolerant " +
      "lineage cuts) and produce identical results") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("id1", "id2")
    val local = Dedup.clusterLabelsStar(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    withCheckpointDir(dir) {
      val reliable = Dedup.clusterLabelsStar(pairs).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
      reliable shouldBe local
      Dedup.clusterLabels(pairs).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq shouldBe local
      val edges = Seq(("a", "b"), ("b", "c")).toDF("src", "dst")
      val starts = Seq("a").toDF("node_id")
      val bfs = graft.operators.Bfs.reachable(edges, starts).collect()
        .map(r => (r.getString(0), r.getInt(1))).sortBy(_._1).toSeq
      bfs shouldBe Seq(("a", 0), ("b", 1), ("c", 2))
    }
    // reliable checkpoints actually materialized on disk
    def rddFiles(f: java.io.File): Long =
      if (f.isDirectory) f.listFiles().map(rddFiles).sum
      else if (f.getName.startsWith("part-")) 1L else 0L
    rddFiles(new java.io.File(dir)) should be > 0L
  }

  it("ngramJaccardPairs: join-based verify for oversized docs matches " +
      "the array path (one pathologically large doc)") {
    import spark.implicits._
    // two LARGE near-dup docs (~600 shingles) + two small near-dups +
    // an unrelated doc; threshold 0.8
    val big1 = (0 until 600).map(i => s"tok$i").mkString(" ")
    val big2 = (0 until 600).map(i =>
      if (i == 17) "changed" else s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, big1), (2L, big2),
      (3L, "small common text shared by both docs here"),
      (4L, "small common text shared by both docs too"),
      (5L, "entirely unrelated material on another topic")).toDF("doc_id", "text")
    def pairsWith(cap: Int) =
      Dedup.ngramJaccardPairs(docs, k = 3, threshold = 0.8,
          maxVerifyShingles = cap).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(p => (p._1, p._2)).toSeq
    val arrayPath = pairsWith(Int.MaxValue) // everything via array_intersect
    val joinPath = pairsWith(100)           // big docs via the equi-join verify
    arrayPath.map(p => (p._1, p._2)) should contain((1L, 2L))
    joinPath shouldBe arrayPath
  }

  it("codegen WordShingles matches the interpreted HOF form, edge cases " +
      "included") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps"),
      (2L, "two words"),          // fewer than k → one short shingle
      (3L, "one"), (4L, ""), (5L, "   "),
      (6L, "dup dup dup dup"),    // repeated shingles → distinct
      (7L, "ünï çødé 漢字 mixed tokens here")).toDF("doc_id", "text")
    (2 to 4).foreach { k =>
      val fast = Dedup.shingles(docs, k).collect()
        .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      val slow = Dedup.shinglesHof(docs, k).collect()
        .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      fast shouldBe slow
    }
  }

  it("codegen AllWordShingles matches the interpreted HOF form — every " +
      "position, duplicates and empties kept") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps"),
      (2L, "two words"),          // fewer than k → one short shingle
      (3L, "one"), (4L, ""), (5L, "   "),  // empty tokens → [""]
      (6L, "dup dup dup dup"),    // repeated shingles KEPT here
      (7L, "ünï çødé 漢字 mixed tokens here")).toDF("doc_id", "text")
    val toks = graft.text.TextOps.tokens(col("text"))
    (2 to 4).foreach { k =>
      val fast = docs.select(col("doc_id"), posexplode(
          graft.functions.TextExpressions.allWordShingles(toks, k)))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
        .sorted.toSeq
      val slow = docs.select(col("doc_id"), posexplode(
          transform(sequence(lit(0), greatest(
              org.apache.spark.sql.functions.size(toks) - k, lit(0))),
            i => array_join(slice(toks, i + 1, lit(k)), " "))))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
        .sorted.toSeq
      fast shouldBe slow
    }
  }

  it("codegen SimHash60 matches the interpreted HOF form bit-for-bit") {
    import spark.implicits._
    val docs = Seq(
      "the quick brown fox jumps over the lazy dog",
      "the quick brown fox jumps over the lazy cat",
      "", "   ", "über ñandú 漢字 emoji 😀 mixed",
      "single", "repeat repeat repeat repeat").toDF("text")
    val got = docs.select(
      Dedup.simhash(col("text")).as("fast"),
      Dedup.simhashHof(col("text")).as("slow")).collect()
    got.foreach(r => r.getLong(0) shouldBe r.getLong(1))
    // distinct inputs produce distinct-ish fingerprints (sanity)
    got.map(_.getLong(0)).distinct.length should be >= 5
  }

  it("nfcNormalize composes decomposed unicode inside codegen") {
    import spark.implicits._
    val decomposed = "éclair" // e + COMBINING ACUTE
    val composed = "éclair"    // é precomposed
    val got = Seq(decomposed, composed, "plain").toDF("s")
      .select(graft.functions.TextExpressions.nfcNormalize(col("s")).as("n"))
      .collect().map(_.getString(0))
    got(0) shouldBe composed
    got(1) shouldBe composed
    got(2) shouldBe "plain"
    // full normalization: case + whitespace runs
    val norm = Seq("  Á  b\t\nC ").toDF("s")
      .select(TextOps.normalizeText(col("s"))).collect()(0).getString(0)
    norm shouldBe "á b c"
  }

  it("contaminationCounts joins shingles; freq cap drops boilerplate") {
    import spark.implicits._
    val train = Seq(
      (1L, "the quick brown fox jumps over dogs"),
      (2L, "the quick brown cat sleeps all day"),
      (3L, "completely different text entirely here now")).toDF("doc_id", "text")
    val test = Seq(
      (100L, "the quick brown fox runs away fast"),
      (200L, "nothing in common with training data")).toDF("doc_id", "text")
    val got = Dedup.contaminationCounts(train, test).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    // test 100 shares "the quick brown" with docs 1 and 2, and
    // "quick brown fox" with doc 1; test 200 is clean (absent)
    got.map(_._1) shouldBe Seq(100L)
    got(0)._2 shouldBe 2 // train docs 1 and 2
    got(0)._3 shouldBe 2 // shingles "the quick brown", "quick brown fox"
    // capping at freq 1 drops the shared-by-two "the quick brown"
    val capped = Dedup.contaminationCounts(train, test,
      maxShingleFreq = Some(1L)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    capped shouldBe Seq((100L, 1L, 1L))
  }

  it("stratifiedSample is deterministic and respects rate 0/1e6") {
    import spark.implicits._
    val df = (0L until 100L).map(i => (i, if (i < 50) "keep" else "drop"))
      .toDF("doc_id", "lang")
    val rates = Map("keep" -> 1000000L, "drop" -> 0L)
    val got = PipelineOps.stratifiedSample(df, rates).collect()
    got.map(_.getAs[Long]("doc_id")).sorted shouldBe (0L until 50L)
    // deterministic: same kept set on re-run
    PipelineOps.stratifiedSample(df, rates).collect()
      .map(_.getAs[Long]("doc_id")).sorted shouldBe (0L until 50L)
  }

  it("sampleNPerStratum returns exactly n per stratum, deterministically") {
    import spark.implicits._
    val df = (0L until 200L).map(i => (i, if (i % 2 == 0) "a" else "b"))
      .toDF("doc_id", "lang")
    val got = PipelineOps.sampleNPerStratum(df, 7)
    val plan = got.queryExecution.executedPlan.toString
    plan should not include "No Partition Defined"
    val rows = got.collect().map(r => (r.getString(1), r.getLong(0)))
    rows.count(_._1 == "a") shouldBe 7
    rows.count(_._1 == "b") shouldBe 7
    // reproducible across runs
    PipelineOps.sampleNPerStratum(df, 7).collect()
      .map(r => (r.getString(1), r.getLong(0))).sorted.toSeq shouldBe
      rows.sorted.toSeq
  }

  it("saltedJoin matches the plain join on skewed keys and spreads the " +
      "hot key") {
    import spark.implicits._
    // 900 of 1000 rows share one hot key
    val big = (0L until 1000L)
      .map(i => (i, if (i < 900) "hot" else s"k${i % 7}"))
      .toDF("row_id", "k")
    val small = Seq(("hot", 1L), ("k1", 2L), ("k3", 3L)).toDF("k", "v")
    val plain = big.join(small, Seq("k")).collect()
      .map(r => (r.getLong(1), r.getLong(2))).sorted.toSeq
    val salted = PipelineOps.saltedJoin(big, small, "k", salt = 8)
      .select("row_id", "v").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    salted shouldBe plain
    // the hot key's rows actually scatter across several salt buckets
    val buckets = PipelineOps.saltedJoin(big, small, "k", salt = 8)
      .filter($"k" === "hot")
      .select(org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.hash(
          org.apache.spark.sql.functions.struct($"row_id", $"k")),
        org.apache.spark.sql.functions.lit(8)))
      .distinct().count()
    buckets should be >= 4L
  }

  it("packSequences bins per stratum in id order, no per-stratum window") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a", "one two three"),          // 3 tokens, bin 0
      (2L, "a", ("x " * 2050).trim),       // 2050 tokens, starts at cum 3
      (3L, "a", "tail tokens here"),       // after 2053 → bin 1
      (10L, "b", "other stratum")).toDF("doc_id", "lang", "text")
    // the scale contract: past the driver-lane bound the running sum
    // is the two-pass prefix scan, not a Window.partitionBy(lang) sort
    // funnelling a whole stratum through one task
    val got = DriverLane.withBound(0) {
      PipelineOps.packSequences(docs, capacity = 2048)
    }
    val plan = got.queryExecution.executedPlan.toString
    plan should not include "Window"
    val rows = got.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(3))).sortBy(_._1)
    rows shouldBe Seq((1L, "a", 0L), (2L, "a", 0L), (3L, "a", 1L),
      (10L, "b", 0L))
    // on the driver lane the small-input window plan fires (q40 bench
    // path) and states the identical bins
    val small = PipelineOps.packSequences(docs, capacity = 2048)
    small.queryExecution.executedPlan.toString should include("Window")
    small.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(3)))
      .sortBy(_._1) shouldBe rows
  }

  it("exclusivePrefixSum window and two-pass paths are byte-identical " +
      "across null strata and multi-column order") {
    import spark.implicits._
    val rows = (0L until 800L).map { i =>
      val lang = if (i % 11 == 0) null
        else if (i % 3 == 0) "hot" else s"l${i % 4}"
      (i % 7, i, lang, i % 13 + 1)
    }.toDF("grp", "doc_id", "lang", "n").repartition(9)
      .select(col("grp"), col("doc_id"), col("lang"), col("n").cast("long")
        .as("n"))
    def run() = PipelineOps.exclusivePrefixSum(rows, "lang",
        Seq("grp", "doc_id"), "n", "cum")
      .collect().map(r => (r.getLong(1), r.getLong(4))).sortBy(_._1)
    val twoPass = DriverLane.withBound(0)(run())
    val windowed = DriverLane.withBound(1 << 20)(run())
    windowed shouldBe twoPass
  }

  it("packSequences keeps a NULL stratum distinct from the string " +
      "\"null\" and zero-fills null text instead of crashing") {
    import spark.implicits._
    // 40 docs of 1000 tokens in the NULL stratum and 40 in the literal
    // "null" stratum: if the two merged (the old String.valueOf key),
    // the running sum would double and the bin numbers halve apart.
    val docs = (0L until 40L).flatMap { i =>
      val words = Seq.fill(1000)("w").mkString(" ")
      Seq((i, null: String, words), (100L + i, "null", words))
    } :+ ((500L, "null", null: String)) // null text → 0 tokens, binned
    val df = docs.toDF("doc_id", "lang", "text").repartition(7)
    val got = PipelineOps.packSequences(df, capacity = 2048)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toMap
    // each stratum independently: 1000-token docs, capacity 2048 → two
    // docs per bin (ids in order), 40 docs → bins 0..19 twice over
    (0L until 40L).foreach { i =>
      got(i) shouldBe (i * 1000L) / 2048L
      got(100L + i) shouldBe (i * 1000L) / 2048L
    }
    // the null-text doc sorts after id 139 in "null": prefix 40_000
    got(500L) shouldBe 40000L / 2048L
  }

  it("packSequences releases its sorted cache after materializing") {
    import spark.implicits._
    val docs = (0L until 50L).map(i => (i, "a", "w x y"))
      .toDF("doc_id", "lang", "text")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // a driver-lane bound of 0 forces the two-pass scan: 50 rows would
    // otherwise take the window path, which persists no RDD and made
    // this unpersist-regression spec vacuous (r9 ADVICE)
    DriverLane.withBound(0) {
      PipelineOps.packSequences(docs, capacity = 8).count()
    }
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    // localCheckpoint legitimately pins the (narrow) RESULT; the
    // corpus-sized sorted intermediate must not survive. The two are
    // distinguishable: the checkpoint RDD reports isCheckpointed, the
    // leaked cache would not.
    leaked.toSeq.map(spark.sparkContext.getPersistentRDDs(_))
      .count(r => !r.isCheckpointed) shouldBe 0
  }

  it("packSequences prefix scan matches a local cumsum across many " +
      "partitions and skewed strata") {
    import spark.implicits._
    // one hot stratum (most rows) + several small ones, spread over many
    // input partitions so strata straddle range-partition boundaries
    val docs = (0L until 3000L).map { i =>
      val lang = if (i % 5 != 0) "hot" else s"l${i % 4}"
      val words = (i % 37 + 1).toInt
      (i, lang, Seq.fill(words)("w").mkString(" "))
    }.toDF("doc_id", "lang", "text").repartition(17)
    val cap = 64
    val got = PipelineOps.packSequences(docs, capacity = cap)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toMap
    // local oracle: per stratum, id-ordered exclusive prefix ÷ capacity
    val expected = (0L until 3000L).map { i =>
      val lang = if (i % 5 != 0) "hot" else s"l${i % 4}"
      (i, lang, (i % 37 + 1))
    }.groupBy(_._2).flatMap { case (_, rows) =>
      var run = 0L
      rows.sortBy(_._1).map { case (id, _, n) =>
        val bin = run / cap; run += n; (id, bin)
      }
    }
    got shouldBe expected
  }
}
