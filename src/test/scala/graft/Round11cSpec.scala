package graft

import org.apache.spark.sql.functions._

/** Round-11 additions, third batch: incremental near-dup cluster
  * maintenance (the daily-ingest quotient-graph CC).
  */
class Round11cSpec extends SparkSpec {
  import graft.dedup.Dedup

  describe("Dedup.clusterIncrementFromPairs / applyIncrement") {

    it("covers all four delta lanes and equals a full rebuild " +
        "(join-existing, touch-singleton, batch-only, bridge-merge)") {
      import spark.implicits._
      // existing corpus clusters: {1,2} label 1, {5,6} label 5;
      // corpus docs 3, 4 are unlabeled singletons.
      val existing = Seq((1L, 1L), (2L, 1L), (5L, 5L), (6L, 5L))
        .toDF("id", "cluster")
      // batch-internal pair: 102-103 (new batch-only cluster)
      val bb = Seq((102L, 103L)).toDF("id1", "id2")
      // batch→corpus: 100 joins cluster 1 (via member 2), 101 touches
      // singleton 3, 104 bridges clusters 1 and 5 (via members 2, 6).
      val bc = Seq((100L, 2L), (101L, 3L), (104L, 2L), (104L, 6L))
        .toDF("qid", "did")
      val delta = Dedup.clusterIncrementFromPairs(bb, bc, existing)

      delta.batchLabels.as[(Long, Long)].collect().toSet shouldBe Set(
        (100L, 1L), (101L, 3L), (102L, 102L), (103L, 102L), (104L, 1L))
      delta.relabels.as[(Long, Long)].collect().toSet shouldBe
        Set((5L, 1L))
      delta.touchedLabels.as[(Long, Long)].collect().toSet shouldBe
        Set((3L, 3L))

      val applied = Dedup.applyIncrement(existing, delta)
        .as[(Long, Long)].collect().toSet
      // full rebuild over the union pair set (corpus pairs that
      // produced `existing` + the batch round's bb/bc pairs)
      val unionPairs = Seq((1L, 2L), (5L, 6L), (100L, 2L), (101L, 3L),
        (104L, 2L), (104L, 6L), (102L, 103L)).toDF("id1", "id2")
      val rebuilt = Dedup.clusterLabelsStar(unionPairs)
        .as[(Long, Long)].collect().toSet
      applied shouldBe rebuilt
      // the bridge merged {1,2,5,6,100,104} under label 1
      applied shouldBe Set(
        (1L, 1L), (2L, 1L), (5L, 1L), (6L, 1L), (100L, 1L), (104L, 1L),
        (3L, 3L), (101L, 3L),
        (102L, 102L), (103L, 102L))
      // doc 4 (never in a pair) stays unlabeled in both
      applied.map(_._1) should not contain 4L
    }

    it("no-op batch (no candidate pairs) leaves existing labels " +
        "unchanged") {
      import spark.implicits._
      val existing = Seq((1L, 1L), (2L, 1L)).toDF("id", "cluster")
      val empty = Seq.empty[(Long, Long)].toDF("id1", "id2")
      val emptyBc = Seq.empty[(Long, Long)].toDF("qid", "did")
      val delta = Dedup.clusterIncrementFromPairs(empty, emptyBc, existing)
      delta.batchLabels.count() shouldBe 0L
      delta.relabels.count() shouldBe 0L
      delta.touchedLabels.count() shouldBe 0L
      Dedup.applyIncrement(existing, delta)
        .as[(Long, Long)].collect().toSet shouldBe Set((1L, 1L), (2L, 1L))
    }
  }

  describe("Dedup.clusterIncrement (persistent-index daily flow)") {

    it("increment-maintained labels equal a full re-cluster of the " +
        "union (LSH index candidates + in-batch banding)") {
      import spark.implicits._
      val tA = "alpha beta gamma delta epsilon zeta eta theta"
      val tB = "one two three four five six seven eight nine"
      val tC = "completely different text with no shared shingles here"
      val corpus = Seq(
        (1L, tA), (2L, tA), // existing cluster {1,2}
        (3L, tB),           // unlabeled singleton
        (4L, tC)            // unlabeled singleton, never touched
      ).toDF("doc_id", "text")
      val batch = Seq(
        (100L, tA),         // joins cluster 1
        (101L, tB),         // touches singleton 3
        (102L, "fresh unique content nobody else wrote today at all"),
        (103L, "fresh unique content nobody else wrote today at all")
      ).toDF("doc_id", "text")

      val idxDir = java.nio.file.Files
        .createTempDirectory("graft_clinc_idx").toString
      Dedup.writeLshIndex(corpus, idxDir)
      val existing =
        Dedup.clusterLabelsStar(Dedup.minhashCandidatePairs(corpus))
      val delta = Dedup.clusterIncrement(spark, idxDir, batch, existing)
      val applied = Dedup.applyIncrement(existing, delta)
        .as[(Long, Long)].collect().toSet

      val rebuilt = Dedup.clusterLabelsStar(
        Dedup.minhashCandidatePairs(corpus.unionByName(batch)))
        .as[(Long, Long)].collect().toSet
      applied shouldBe rebuilt
      // sanity on the lanes: 100 joined {1,2}; 3 got touched by 101;
      // the batch twins formed their own cluster; 4 stayed unlabeled
      applied should contain allOf ((100L, 1L), (3L, 3L), (101L, 3L),
        (102L, 102L), (103L, 102L))
      applied.map(_._1) should not contain 4L
    }
  }

  describe("Dedup.corpusOverlap / corpusShingleJaccard") {

    it("identical corpora: every permutation min agrees, exact " +
        "Jaccard = 1") {
      import spark.implicits._
      val docs = Seq((1L, "alpha beta gamma delta"),
        (2L, "one two three four five")).toDF("doc_id", "text")
      val sk = graft.dedup.Dedup.corpusOverlap(docs, docs)
        .as[(Long, Long, Long)].collect().head
      sk shouldBe ((16L, 16L, 1000000L))
      val ex = graft.dedup.Dedup.corpusShingleJaccard(docs, docs)
        .as[(Long, Long, Long)].collect().head
      // 2 + 3 distinct 3-gram shingles
      ex shouldBe ((5L, 5L, 1000000L))
    }

    it("disjoint corpora: zero shared shingles, sketch ~0 agreement") {
      import spark.implicits._
      val a = Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text")
      val b = Seq((2L, "six seven eight nine ten")).toDF("doc_id", "text")
      val ex = graft.dedup.Dedup.corpusShingleJaccard(a, b)
        .as[(Long, Long, Long)].collect().head
      ex shouldBe ((0L, 5L, 0L))
      // sketch: mins over disjoint sets CAN collide by chance, but the
      // estimate stays far from 1; with these 5-shingle sets it is 0
      val sk = graft.dedup.Dedup.corpusOverlap(a, b)
        .as[(Long, Long, Long)].collect().head
      sk._2 shouldBe 16L
      sk._1 should be < 16L
    }

    it("overlap estimate is partitioning-independent and corpus-level " +
        "(per-doc duplicate shingles don't shift it)") {
      import spark.implicits._
      val a = Seq((1L, "alpha beta gamma delta"),
        (3L, "alpha beta gamma delta")) // duplicate doc: same shingle SET
        .toDF("doc_id", "text")
      val a1 = Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text")
      val b = Seq((2L, "alpha beta gamma nine ten")).toDF("doc_id", "text")
      val full = graft.dedup.Dedup.corpusOverlap(a, b)
        .as[(Long, Long, Long)].collect().head
      val one = graft.dedup.Dedup.corpusOverlap(a1, b)
        .as[(Long, Long, Long)].collect().head
      full shouldBe one
      val re = graft.dedup.Dedup.corpusOverlap(a.repartition(5), b)
        .as[(Long, Long, Long)].collect().head
      re shouldBe full
      // exact: shingles "alpha beta gamma" + "beta gamma delta" vs
      // "alpha beta gamma" + "beta gamma nine" + "gamma nine ten"
      graft.dedup.Dedup.corpusShingleJaccard(a, b)
        .as[(Long, Long, Long)].collect().head shouldBe ((1L, 4L, 250000L))
    }
  }

  describe("Similarity.gramMatrixMicro / gramMatrixMicroLocal") {

    it("matches hand-computed quantized products on the upper triangle") {
      import spark.implicits._
      val df = Seq((1L, Array(1.0f, -0.5f, 0.25f)),
        (2L, Array(0.5f, 0.5f, -1.0f))).toDF("vec_id", "embedding")
      val got = graft.similarity.Similarity.gramMatrixMicro(df)
        .collect().map(r => ((r.getInt(0), r.getInt(1)),
          r.getDecimal(2).longValueExact())).toMap
      // q1 = (1000000, -500000, 250000); q2 = (500000, 500000, -1000000)
      val q1 = Array(1000000L, -500000L, 250000L)
      val q2 = Array(500000L, 500000L, -1000000L)
      val expect = (for { i <- 0 until 3; j <- i until 3 } yield
        ((i, j), q1(i) * q1(j) + q2(i) * q2(j))).toMap
      got shouldBe expect
    }

    it("local one-pass twin is bit-identical and " +
        "partitioning-independent") {
      import spark.implicits._
      val rnd = new scala.util.Random(7)
      val df = (1L to 40L).map(id =>
          (id, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
        .toDF("vec_id", "embedding")
      def canon(d: org.apache.spark.sql.DataFrame) =
        d.collect().map(r => ((r.getInt(0), r.getInt(1)),
          r.getDecimal(2).longValueExact())).toMap
      val gen = canon(graft.similarity.Similarity.gramMatrixMicro(df))
      gen should have size 36
      canon(graft.similarity.Similarity.gramMatrixMicroLocal(df)) shouldBe gen
      canon(graft.similarity.Similarity
        .gramMatrixMicroLocal(df.repartition(7))) shouldBe gen
      canon(graft.similarity.Similarity
        .gramMatrixMicro(df.repartition(3))) shouldBe gen
    }

    it("floor quantization (not round) — negative halves go DOWN, " +
        "matching the oracle's floor") {
      import spark.implicits._
      // -0.0000005 * 1e6 = -0.5 → floor -1 (round() would give 0 or -1
      // depending on the engine's half rule; floor is unambiguous)
      val df = Seq((1L, Array(-0.0000005f, 0.0000005f)))
        .toDF("vec_id", "embedding")
      val got = graft.similarity.Similarity.gramMatrixMicro(df)
        .collect().map(r => ((r.getInt(0), r.getInt(1)),
          r.getDecimal(2).longValueExact())).toMap
      // quantized: floor(-0.5)=-1, floor(0.4999…)=0 (float 5e-7 is
      // slightly below 0.5 after the double widening)
      got((0, 0)) shouldBe 1L
      got((1, 1)) shouldBe 0L
      got((0, 1)) shouldBe 0L
    }
  }

  describe("Similarity.fitInt8 / int8Quantize / int8Dequantize") {
    import graft.similarity.Similarity

    it("range endpoints map to ±127; codes match hand integer math") {
      import spark.implicits._
      val df = Seq((1L, Array(-1.0f, 0.0f)), (2L, Array(1.0f, 0.5f)),
        (3L, Array(0.0f, 0.25f))).toDF("vec_id", "embedding")
      val m = Similarity.fitInt8(df)
      m.mnMicro shouldBe Seq(-1000000L, 0L)
      m.spanMicro shouldBe Seq(2000000L, 500000L)
      val got = Similarity.int8Quantize(df, m)
        .collect().map(r => (r.getLong(0),
          r.getSeq[Byte](1).map(_.toInt))).toMap
      // doc1 = the per-dim minima on both dims → (-127, -127)
      got(1L) shouldBe Seq(-127, -127)
      got(2L) shouldBe Seq(127, 127)
      // dim0: (0 - (-1e6))*254 // 2e6 - 127 = 127 - 127 = 0
      // dim1: (250000*254) // 500000 - 127 = 127 - 127 = 0
      got(3L) shouldBe Seq(0, 0)
    }

    it("constant dimension (span clamped to 1) is stable at -127 and " +
        "dequantizes back exactly") {
      import spark.implicits._
      val df = Seq((1L, Array(0.5f)), (2L, Array(0.5f)))
        .toDF("vec_id", "embedding")
      val m = Similarity.fitInt8(df)
      m.spanMicro shouldBe Seq(1L)
      val q = Similarity.int8Quantize(df, m)
      q.collect().map(_.getSeq[Byte](1).head).toSet shouldBe Set(-127.toByte)
      val back = Similarity.int8Dequantize(q, m)
        .collect().map(_.getSeq[Float](1).head).toSet
      back shouldBe Set(0.5f)
    }

    it("stored-model reuse clamps out-of-range coordinates to ±127 " +
        "instead of byte-wrapping") {
      import spark.implicits._
      val fitOn = Seq((1L, Array(0.0f, 0.0f)), (2L, Array(1.0f, 1.0f)))
        .toDF("vec_id", "embedding")
      val m = Similarity.fitInt8(fitOn)
      // new batch outside the fitted range on both sides
      val batch = Seq((3L, Array(2.5f, -1.5f))).toDF("vec_id", "embedding")
      val got = Similarity.int8Quantize(batch, m)
        .collect().head.getSeq[Byte](1).map(_.toInt)
      got shouldBe Seq(127, -127)
    }

    it("round trip error is bounded by span/254 + 1 micro per " +
        "coordinate, and codes are partitioning-independent") {
      import spark.implicits._
      val rnd = new scala.util.Random(11)
      val df = (1L to 100L).map(id =>
          (id, Array.fill(6)(rnd.nextFloat() * 4 - 2)))
        .toDF("vec_id", "embedding")
      val m = Similarity.fitInt8(df)
      val q = Similarity.int8Quantize(df, m)
      val back = Similarity.int8Dequantize(q, m)
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toMap
      val orig = df.collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1))).toMap
      for ((id, xs) <- orig; i <- xs.indices) {
        val errMicro = math.abs(
          math.floor(back(id)(i).toDouble * 1000000).toLong -
          math.floor(xs(i).toDouble * 1000000).toLong)
        errMicro should be <= (m.spanMicro(i) / 254 + 2)
      }
      val re = Similarity.int8Quantize(df.repartition(7), m)
        .collect().map(r => (r.getLong(0), r.getSeq[Byte](1))).toMap
      re shouldBe Similarity.int8Quantize(df, m)
        .collect().map(r => (r.getLong(0), r.getSeq[Byte](1))).toMap
    }
  }

  describe("Similarity.pcaComponents / pcaProject") {
    import graft.similarity.Similarity

    it("recovers a planted dominant direction; eigenpairs satisfy " +
        "A·v = λ·v against the collected Gram") {
      import spark.implicits._
      val d = 5
      val dir = Array(3.0, 1.0, 2.0, -1.0, 0.5)
      val n = math.sqrt(dir.map(x => x * x).sum)
      val v0 = dir.map(_ / n)
      val rnd = new scala.util.Random(3)
      val df = (1L to 200L).map { id =>
        val s = rnd.nextGaussian() * 2
        val noise = Array.fill(d)(rnd.nextGaussian() * 0.05)
        (id, Array.tabulate(d)(i => (s * v0(i) + noise(i)).toFloat))
      }.toDF("vec_id", "embedding")
      val gram = Similarity.gramMatrixMicro(df)
      val comps = Similarity.pcaComponents(gram, 3)
      val eigs = comps.map(_._1)
      eigs shouldBe eigs.sorted(Ordering[Double].reverse)
      val top = comps.head._2
      val cos = top.zip(v0).map { case (a, b) => a * b }.sum
      math.abs(cos) should be > 0.999
      // residual check against the dense Gram the op consumed
      val a = Array.ofDim[Double](d, d)
      gram.collect().foreach { r =>
        val x = r.getDecimal(2).doubleValue() / 1e12
        a(r.getInt(0))(r.getInt(1)) = x
        a(r.getInt(1))(r.getInt(0)) = x
      }
      for ((lam, vec) <- comps) {
        val av = Array.tabulate(d)(i =>
          (0 until d).map(j => a(i)(j) * vec(j)).sum)
        val res = math.sqrt(av.zip(vec)
          .map { case (x, y) => (x - lam * y) * (x - lam * y) }.sum)
        res should be < 1e-6 * math.max(math.abs(lam), 1.0)
      }
      // projection: pc_0 carries the planted variance, pc_1 the noise
      val proj = Similarity.pcaProject(df, comps.take(2)).collect()
        .map(r => (r.getDouble(1), r.getDouble(2)))
      def variance(xs: Seq[Double]) = {
        val m = xs.sum / xs.size
        xs.map(x => (x - m) * (x - m)).sum / xs.size
      }
      variance(proj.map(_._1).toSeq) should be >
        10 * variance(proj.map(_._2).toSeq)
    }

    it("flags a planted mislabel: the noisy point's neighbors all " +
        "disagree, clean points mostly agree") {
      import spark.implicits._
      // two tight clusters along +x and +y; vec 99 sits in the +x
      // cluster but carries the +y cluster's label
      val xs = (1L to 6L).map(id =>
        (id, Array(1.0f, 0.01f * id, 0.0f), 0))
      val ys = (11L to 16L).map(id =>
        (id, Array(0.01f * (id - 10), 1.0f, 0.0f), 1))
      val noisy = Seq((99L, Array(1.0f, 0.035f, 0.0f), 1))
      val df = (xs ++ ys ++ noisy).toDF("vec_id", "embedding", "label")
      val got = graft.similarity.Similarity
        .knnLabelAgreement(df, k = 5, maxQueryId = 500L)
        .collect().map(r => (r.getLong(0),
          (r.getInt(1), r.getLong(2), r.getLong(4)))).toMap
      got(99L) shouldBe ((1, 0L, 0L)) // all 5 neighbors are x-cluster
      // a clean x point: neighbors = 4 x-mates + the mislabeled 99,
      // which still AGREES by geometry but not label → 4/5 at least
      for (id <- 1L to 6L) got(id)._2 should be >= 4L
      for (id <- 11L to 16L) {
        got(id)._1 shouldBe 1
        got(id)._2 shouldBe 5L // 5 y-mates beat any x dot
      }
    }

    it("prCurve: hand-checked thresholds, endpoint semantics, and " +
        "window-vs-two-pass parity") {
      import spark.implicits._
      // scores: 1(neg) 2(pos) 2(neg) 3(pos) 3(pos) 5(neg)
      val df = Seq((1L, false), (2L, true), (2L, false), (3L, true),
        (3L, true), (5L, false)).toDF("score", "gold")
      def canon(d: org.apache.spark.sql.DataFrame) =
        d.collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
      val got = canon(graft.pipeline.Stats.prCurve(df, "score", "gold"))
      // s=1: keep all → tp=3 fp=3 fn=0; s=2: tp=3 fp=2; s=3: tp=2
      // fp=1; s=5: tp=0 fp=1 → precision 0
      got(1L) shouldBe ((3L, 3L, 0L, 500000L, 1000000L))
      got(2L) shouldBe ((3L, 2L, 0L, 600000L, 1000000L))
      got(3L) shouldBe ((2L, 1L, 1L, 666666L, 666666L))
      got(5L) shouldBe ((0L, 1L, 3L, 0L, 0L))
      // two-pass path (driver-lane bound 0) states the same table
      graft.util.DriverLane.withBound(0) {
        canon(graft.pipeline.Stats.prCurve(df, "score", "gold"))
      } shouldBe got
      canon(graft.pipeline.Stats.prCurve(df.repartition(5), "score",
        "gold")) shouldBe got
    }

    it("shardBalanced: snake order, ±1 row counts, near-equal size " +
        "totals, repartition-stable") {
      import spark.implicits._
      // sizes 20,19,...,1 over 4 shards: snake rounds give totals
      // 54/53/52/51 — spread ≤ nShards, vs 74 for naive round-robin
      val df = (1L to 20L).map(id => (id, 21L - id)).toDF("doc_id", "sz")
      val got = graft.pipeline.PipelineOps.shardBalanced(df, "sz", 4)
        .as[(Long, Long, Int)].collect()
      got.length shouldBe 20
      val byShard = got.groupBy(_._3)
      byShard.keySet shouldBe Set(0, 1, 2, 3)
      byShard.values.map(_.size).toSet shouldBe Set(5)
      byShard.map { case (s, rows) => (s, rows.map(_._2).sum) } shouldBe
        Map(0 -> 54L, 1 -> 53L, 2 -> 52L, 3 -> 51L)
      // first snake rounds: pos0(sz20)→s0, pos3(sz17)→s3,
      // pos4(sz16)→s3 (odd round reverses), pos7(sz13)→s0
      val shardOf = got.map(r => (r._1, r._3)).toMap
      shardOf(1L) shouldBe 0
      shardOf(4L) shouldBe 3
      shardOf(5L) shouldBe 3
      shardOf(8L) shouldBe 0
      val re = graft.pipeline.PipelineOps
        .shardBalanced(df.repartition(7), "sz", 4)
        .as[(Long, Long, Int)].collect().map(r => (r._1, r._3)).toMap
      re shouldBe shardOf
      // nShards = 1 degenerates to a single shard
      graft.pipeline.PipelineOps.shardBalanced(df, "sz", 1)
        .as[(Long, Long, Int)].collect().map(_._3).toSet shouldBe Set(0)
    }

    it("IVF scale path equals the brute audit on clustered data") {
      import spark.implicits._
      val rnd = new scala.util.Random(5)
      // two clearly-separated clusters, 30 vectors each
      val df = (0 until 60).map { i =>
        val base = if (i < 30) Array(1.0f, 0.0f, 0.0f)
          else Array(0.0f, 1.0f, 0.0f)
        (i.toLong, base.map(_ + rnd.nextFloat() * 0.05f), i / 30)
      }.toDF("vec_id", "embedding", "label")
      def canon(d: org.apache.spark.sql.DataFrame) =
        d.collect().map(r => (r.getLong(0),
          (r.getInt(1), r.getLong(2), r.getLong(4)))).toMap
      val brute = canon(graft.similarity.Similarity
        .knnLabelAgreement(df, k = 5, maxQueryId = 1000L))
      val ivf = canon(graft.similarity.Similarity
        .knnLabelAgreementIvf(df, k = 5, nprobe = 2, centroidStride = 10))
      ivf shouldBe brute
      brute.values.foreach { case (_, nAgree, _) => nAgree shouldBe 5L }
    }

    it("multi-benchmark contamination: per-(doc,bench) distinct-gram " +
        "counts and the release summary") {
      import spark.implicits._
      val corpus = Seq(
        (1L, "the quick brown fox jumps"),   // hits b0 (2 grams)
        (2L, "totally clean original text"), // no hits
        (3L, "lazy dog sleeps all day")      // hits b1 (1 gram)
      ).toDF("doc_id", "text")
      val benches = Seq(
        ("b0", 100L, "the quick brown fox"), // shares 2 grams with doc1
        ("b1", 101L, "fox jumps high lazy dog sleeps") // 1 gram of doc3
      ).toDF("bench", "doc_id", "text")
      val per = graft.text.Decontaminate
        .overlapReportByBench(corpus, benches, n = 3)
        .as[(Long, String, Long)].collect().toSet
      per shouldBe Set((1L, "b0", 2L), (3L, "b1", 1L))
      val sum = graft.text.Decontaminate
        .contaminationSummary(corpus, benches, n = 3)
        .as[(String, Long, Long, Long)].collect().toSet
      sum shouldBe Set(("b0", 1L, 2L, 333333L), ("b1", 1L, 1L, 333333L))
    }

    it("Robots.ruleRegex: metas escaped, * expanded, trailing-$ " +
        "anchored, mid-$ literal") {
      import spark.implicits._
      val got = Seq("/a/*.pdf$", "/p(1)+x", "/m$id/y", "/raw*$", "/s")
        .toDF("prefix")
        .select(col("prefix"),
          graft.text.Robots.ruleRegex(col("prefix")).as("rx"))
        .as[(String, String)].collect().toMap
      got("/a/*.pdf$") shouldBe "^/a/.*\\.pdf$"
      got("/p(1)+x") shouldBe "^/p\\(1\\)\\+x"
      got("/m$id/y") shouldBe "^/m\\$id/y" // mid-$ stays literal
      got("/raw*$") shouldBe "^/raw.*$"
      got("/s") shouldBe "^/s"
    }

    it("matchUrlsWildcard: $ anchor holds and fails, star-vs-prefix " +
        "precedence by raw rule length, Allow tie, default allow") {
      import spark.implicits._
      val rules = Seq(
        (false, "/*.pdf$"), (true, "/pub/*/ok"), (false, "/pub/"),
        (true, "/t/a*"), (false, "/t/a*") // exact tie → Allow wins
      ).map { case (a, p) => ("h", a, p) }.toDF("host", "allow", "prefix")
      val urls = Seq("/x/a.pdf", "/x/a.pdfz", "/pub/q/ok/1", "/pub/q/1",
        "/t/a9", "/none").map(("h", _)).toDF("host", "path")
      val got = graft.text.Robots.matchUrlsWildcard(urls, rules)
        .select(col("path"), col("allowed"))
        .as[(String, Boolean)].collect().toMap
      got("/x/a.pdf") shouldBe false   // $ holds
      got("/x/a.pdfz") shouldBe true   // $ fails → no rule → default
      got("/pub/q/ok/1") shouldBe true // len 9 Allow beats len 5 Disallow
      got("/pub/q/1") shouldBe false
      got("/t/a9") shouldBe true       // identical-length tie → Allow
      got("/none") shouldBe true
    }

    it("aucExact: hand 2U with ties, perfect/inverted/random endpoints") {
      import spark.implicits._
      // scores: pos {3,3,2}, neg {2,1,1} → pairs (9): 3>2 ×2·1? count:
      // pos3 vs neg2: 2 pos·1 neg strictly above = 2; pos3 vs neg1 ×2:
      // 2·2=4; pos2 vs neg2: tie (½); pos2 vs neg1 ×2: 2.
      // U = 2+4+2+0.5 = 8.5 → 2U = 17, auc = 17/18
      val df = Seq((3L, true), (3L, true), (2L, true),
        (2L, false), (1L, false), (1L, false)).toDF("score", "gold")
      val got = graft.pipeline.Stats.aucExact(df, "score", "gold")
        .collect().head
      got.getLong(0) shouldBe 3L
      got.getLong(1) shouldBe 3L
      got.getDecimal(2).longValueExact() shouldBe 17L
      got.getLong(3) shouldBe (17L * 500000L / 9L) // 944444
      // perfect separation → 1.0; inverted → 0; all-tied → exactly ½
      def auc(rows: Seq[(Long, Boolean)]): Long =
        graft.pipeline.Stats.aucExact(rows.toDF("score", "gold"),
          "score", "gold").collect().head.getLong(3)
      auc(Seq((2L, true), (1L, false))) shouldBe 1000000L
      auc(Seq((1L, true), (2L, false))) shouldBe 0L
      auc(Seq((1L, true), (1L, false), (1L, true))) shouldBe 500000L
      // two-pass parity
      graft.util.DriverLane.withBound(0) {
        graft.pipeline.Stats.aucExact(df.repartition(5), "score", "gold")
          .collect().head.getLong(3)
      } shouldBe got.getLong(3)
    }

    it("datasetCard: hand-checked per-language profile") {
      import spark.implicits._
      val docs = Seq(
        (1L, "en", "hello world", 11L),
        (2L, "en", "hello world", 11L),    // exact dup of 1
        (3L, "en", "one two three", 13L),
        (4L, "en", "four five", 9L),
        (5L, "de", "hallo welt", 10L)
      ).toDF("doc_id", "lang", "text", "n_chars")
      val got = graft.pipeline.Stats.datasetCard(docs)
        .as[(String, Long, Long, Long, Long, Long, Long)]
        .collect().map(r => (r._1, (r._2, r._3, r._4, r._5, r._6, r._7)))
        .toMap
      // en: 4 docs, 2+2+3+2 = 9 toks, 44 chars, 1 dup;
      // chars sorted: 9,11,11,13 → p50 = 11 (cum 3/4 ≥ .5 at 11),
      // p90 = 13
      got("en") shouldBe ((4L, 9L, 44L, 1L, 11L, 13L))
      got("de") shouldBe ((1L, 2L, 10L, 0L, 10L, 10L))
    }

    it("deterministic: same gram → identical components across calls") {
      import spark.implicits._
      val df = Seq((1L, Array(1.0f, 0.2f, 0.0f)),
        (2L, Array(0.1f, -1.0f, 0.4f)),
        (3L, Array(0.3f, 0.5f, 0.9f))).toDF("vec_id", "embedding")
      val gram = Similarity.gramMatrixMicro(df)
      val c1 = Similarity.pcaComponents(gram, 3)
      val c2 = Similarity.pcaComponents(gram, 3)
      c1.map(_._1) shouldBe c2.map(_._1)
      c1.map(_._2.toSeq) shouldBe c2.map(_._2.toSeq)
    }
  }
}
