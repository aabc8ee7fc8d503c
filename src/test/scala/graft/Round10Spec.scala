package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._
import graft.util.BoundedCollect

/** Round-10 hardening: the ObjectHashAggregate fallback-threshold scope.
  * The session raises the threshold to 16384 for fixed-arity buffers
  * (Tables.sessionConfs); document-sized collectors must therefore not
  * plan as hash aggregates at all — BoundedCollect streams one group's
  * buffer at a time. */
class Round10Spec extends SparkSpec {

  /** Max shuffle-read records of any single task during `body` — the
    * per-task width a skewed key inflates. Bus drained via the
    * [[SparkSpec.jobsDuring]] sentinel-job trick (waitUntilEmpty is
    * private). */
  private class MaxTaskReadListener extends SparkListener {
    val maxRead = new java.util.concurrent.atomic.AtomicLong(0)
    @volatile var sentinelSeen = false
    override def onJobStart(j: SparkListenerJobStart): Unit =
      if (j.properties != null && "round10-sentinel" ==
          j.properties.getProperty("spark.jobGroup.id"))
        sentinelSeen = true
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      if (t.taskMetrics != null) {
        val r = t.taskMetrics.shuffleReadMetrics.recordsRead
        maxRead.getAndUpdate(x => math.max(x, r))
      }
  }

  private def maxTaskReadDuring(body: => Unit): Long = {
    val l = new MaxTaskReadListener
    spark.sparkContext.addSparkListener(l)
    try {
      body
      spark.sparkContext.setJobGroup("round10-sentinel", "drain barrier")
      try spark.range(1).count()
      finally spark.sparkContext.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!l.sentinelSeen && System.nanoTime() < deadline)
        Thread.sleep(10)
      l.maxRead.get()
    } finally spark.sparkContext.removeSparkListener(l)
  }

  describe("dedup family under a 30%-hot skewed key") {
    // 600 docs; 180 (30%) carry the same 8-token boilerplate sentence,
    // whose 6 k=3 shingles each occur in 180 docs — far past every cap.
    // Two planted true near-dup pairs: (1,2) share a 20-token span of
    // otherwise-unique text; (3,4) likewise AND both carry the hot
    // sentence (cap must not mask a real dup that also has boilerplate).
    lazy val hotSentence =
      "click here to accept all cookies on this site"
    def uniq(id: Long, n: Int, tag: String) =
      (0 until n).map(p => s"u${tag}_${id}_$p").mkString(" ")
    lazy val sharedSpan =
      (0 until 20).map(p => s"planted_common_$p").mkString(" ")
    lazy val sharedSpanB =
      (0 until 20).map(p => s"planted_hotdup_$p").mkString(" ")
    lazy val skewDocs = {
      import spark.implicits._
      (0L until 600L).map { id =>
        val hot = id % 10 < 3 // 30% of docs
        val body = id match {
          case 1L | 2L => s"${uniq(id, 6, "pre")} $sharedSpan ${uniq(id, 6, "post")}"
          case 3L | 4L =>
            s"${uniq(id, 6, "pre")} $sharedSpanB ${uniq(id, 6, "post")} $hotSentence"
          case _ if hot => s"${uniq(id, 12, "a")} $hotSentence ${uniq(id, 12, "b")}"
          case _ => uniq(id, 30, "c")
        }
        (id, body)
      }.toDF("doc_id", "text")
    }

    it("sharedSpanPairs: hot shingles never feed the match join; " +
        "per-task width stays bounded") {
      var rows: Array[org.apache.spark.sql.Row] = Array.empty
      val cappedWidth = maxTaskReadDuring {
        rows = graft.dedup.Dedup.sharedSpanPairs(skewDocs,
          minSpanTokens = 8, maxOcc = 64).collect()
      }
      val pairs = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
      // exactly the planted pairs: boilerplate-only overlap (any two of
      // the 180 hot docs share the full 8-token sentence, span ≥ the
      // threshold if it were counted) must NOT produce a pair
      pairs shouldBe Set((1L, 2L), (3L, 4L))
      rows.foreach { r => r.getLong(2) should be >= 20L }
      // the hot key inflates no task: an uncapped control run over the
      // same fixture pays a quadratic hot-pair blowup (~16k pairs x ~7
      // shingle matches) in the island window's shuffle; the cap must
      // keep the max per-task width at least 2x below it (AQE coalesces
      // the small common shuffles into single tasks, so the shared
      // baseline dominates the capped number — the blowup still at
      // least doubles the uncapped one)
      var ctrl: Long = 0
      val uncappedWidth = maxTaskReadDuring {
        ctrl = graft.dedup.Dedup.sharedSpanPairs(skewDocs,
          minSpanTokens = 8, maxOcc = 1000000).count()
      }
      ctrl should be >= (180L * 179L / 2) // hot pairs all qualify
      cappedWidth should be > 0L
      uncappedWidth should be >= cappedWidth * 2
      info(s"max per-task shuffle-read records: capped=$cappedWidth, " +
        s"uncapped control=$uncappedWidth")
    }

    it("contaminationCounts: the skew cap drops boilerplate evidence, " +
        "keeps true contamination") {
      import spark.implicits._
      val test = Seq(
        (1000L, s"fresh one ${hotSentence} fresh two"), // boilerplate only
        (1001L, s"${uniq(7L, 30, "c")}"),               // copies doc 7
        (1002L, "totally novel text with no overlap at all")
      ).toDF("doc_id", "text")
      val capped = graft.dedup.Dedup.contaminationCounts(skewDocs, test,
          maxShingleFreq = Some(64L))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
        .toMap
      // hot-sentence shingles are dropped from the train side: the
      // boilerplate-only test doc reports NO contaminating docs
      capped.get(1000L) shouldBe None
      // the true copy still reports its source
      capped(1001L)._1 should be >= 1L
      capped.get(1002L) shouldBe None
      // uncapped control: the same boilerplate doc implicates ~180
      // train docs — the skew (and the false-evidence class) the cap
      // exists to remove
      val uncapped = graft.dedup.Dedup.contaminationCounts(skewDocs, test)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      uncapped(1000L) should be >= 180L
    }

    it("minhashCandidatePairs: a 30%-hot token does not explode the " +
        "band buckets") {
      val n = graft.dedup.Dedup.minhashCandidatePairs(skewDocs).count()
      // 180 docs share the sentence but differ in everything else, so
      // their signatures differ and banding must NOT produce the
      // ~16k-pair hot-bucket blowup; only genuinely similar docs
      // (the planted pairs, plus a handful of band collisions) collide
      n should be < 100L
    }

    it("dedupLinesGlobal: a 30%-hot LINE keeps exactly one survivor " +
        "(its keeper join is N x 1, never a pair blowup)") {
      import spark.implicits._
      // multiline twin of the fixture: the hot sentence is a whole LINE
      // in 30% of docs — the keep-first contract says exactly ONE copy
      // survives corpus-wide (contrast removeBoilerplate, which deletes
      // all ≥ minDf occurrences); each doc's unique lines all survive
      val docsML = (0L until 600L).map { id =>
        val hot = id % 10 < 3
        val lines = Seq(s"unique_head_$id") ++
          (if (hot) Seq(hotSentence) else Seq.empty) ++
          Seq(s"unique_tail_$id")
        (id, lines.mkString("\n"))
      }.toDF("doc_id", "text")
      val out = graft.text.TextOps.dedupLinesGlobal(docsML)
        .collect().map(r => (r.getLong(0), r.getString(1))).toMap
      val hotIds = (0L until 600L).filter(_ % 10 < 3)
      val survivors = hotIds.filter(id => out(id).contains(hotSentence))
      survivors shouldBe Seq(hotIds.min) // first (id, pos) wins
      // every doc keeps both of its unique lines
      (0L until 600L).foreach { id =>
        out(id) should include(s"unique_head_$id")
        out(id) should include(s"unique_tail_$id")
      }
      // the 179 losers keep original line order of what remains
      out(hotIds(1)) shouldBe
        s"unique_head_${hotIds(1)}\nunique_tail_${hotIds(1)}"
    }
  }

  describe("local-fallback type contracts") {

    it("earliestArrival handles IntegerType timestamps and int ids on " +
        "the local path (and unifies mixed int/long endpoints)") {
      import spark.implicits._
      // all-Int edge frame: (src, dst, ts) — previously getLong(2) CCE'd
      // and boxed-Integer starts matched nothing
      val edges = Seq((1, 2, 10), (2, 3, 20), (2, 3, 5), (3, 4, 15))
        .toDF("src", "dst", "edge_ms")
      val starts = Seq(1).toDF("node_id")
      val got = graft.operators.TemporalReach.earliestArrival(edges, starts)
        .collect().map(r => (r.get(0), r.getLong(1))).toMap
      // time-respecting: 1@-inf -> 2@10 -> 3@20 (the ts=5 edge is too
      // early once we arrive at 2 at t=10) -> no 4 (15 < 20)
      got.keySet should have size 3
      got(1) shouldBe Long.MinValue
      got(2) shouldBe 10L
      got(3) shouldBe 20L
      // mixed int/long endpoints unify to long instead of silently
      // matching nothing across boxed types
      val mixed = edges.select(col("src"),
        col("dst").cast("long").as("dst"), col("edge_ms"))
      val gotMixed = graft.operators.TemporalReach
        .earliestArrival(mixed, starts)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      gotMixed shouldBe Map(1L -> Long.MinValue, 2L -> 10L, 3L -> 20L)
      // non-unifiable id types fail loudly, not wrongly
      val bad = edges.select(col("src"),
        col("dst").cast("string").as("dst"), col("edge_ms"))
      an[IllegalArgumentException] should be thrownBy
        graft.operators.TemporalReach.earliestArrival(bad, starts)
    }

    it("stronglyConnectedComponents routes mixed/unsafe id types to the " +
        "distributed path instead of the Comparable-cast Tarjan") {
      import spark.implicits._
      // 1 -> 2 -> 1 cycle plus a tail; src int, dst LONG (mixed boxing
      // previously CCE'd inside compareTo on the local path)
      val mixed = Seq((1, 2L), (2, 1L), (2, 3L)).toDF("src", "dst")
      val got = graft.operators.GraphxOps
        .stronglyConnectedComponents(mixed)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      got shouldBe Map(1L -> 1L, 2L -> 1L, 3L -> 3L)
      // same-typed ids keep the (fast) local path and agree
      val intEdges = Seq((1, 2), (2, 1), (2, 3)).toDF("src", "dst")
      val gotInt = graft.operators.GraphxOps
        .stronglyConnectedComponents(intEdges)
        .collect().map(r => (r.getInt(0), r.getInt(1))).toMap
      gotInt shouldBe Map(1 -> 1, 2 -> 1, 3 -> 3)
    }

    it("incremental local BPE matches the full-rebuild loop " +
        "bit-for-bit across a large merge count") {
      import spark.implicits._
      // reference = the pre-r10 full pair-count rebuild per round,
      // reimplemented verbatim here; corpus = 3000 distinct words with
      // heavy shared substructure so 800 rounds keep finding merges
      def utf8Lt(a: String, b: String): Boolean =
        graft.util.DriverLane.strings.lt(a, b)
      def applyMerge(syms: Array[String], l: String,
          r: String): Array[String] = {
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
            out += (l + r); i += 2
          } else { out += syms(i); i += 1 }
        }
        out.toArray
      }
      def oldLearn(words0: Array[(Long, Array[String])], numMerges: Int,
          minCount: Long): Seq[(Long, String, String, Long)] = {
        var words = words0
        val merges = scala.collection.mutable.ArrayBuffer
          .empty[(Long, String, String, Long)]
        var rank = 0L
        var done = false
        while (rank < numMerges && !done) {
          val counts = new java.util.HashMap[(String, String), Long]()
          words.foreach { case (cnt, syms) =>
            var i = 0
            while (i + 1 < syms.length) {
              counts.merge((syms(i), syms(i + 1)), cnt, _ + _); i += 1
            }
          }
          var best: (String, String) = null
          var bestCnt = Long.MinValue
          counts.forEach { (k, c) =>
            if (c > bestCnt || (c == bestCnt &&
                (utf8Lt(k._1, best._1) ||
                 (k._1 == best._1 && utf8Lt(k._2, best._2)))))
              { best = k; bestCnt = c }
          }
          if (best == null || bestCnt < minCount) done = true
          else {
            merges += ((rank, best._1, best._2, bestCnt))
            words = words.map { case (cnt, syms) =>
              (cnt, applyMerge(syms, best._1, best._2))
            }
            rank += 1
          }
        }
        merges.toSeq
      }
      val rnd = new scala.util.Random(7)
      val vocabWords = (0 until 3000).map { _ =>
        val len = 8 + rnd.nextInt(6)
        (0 until len).map(_ => ('a' + rnd.nextInt(6)).toChar).mkString
      }.distinct
      val wordCnt = vocabWords.map(w => w -> (1L + rnd.nextInt(5)))
      val docs = wordCnt.zipWithIndex.map { case ((w, c), i) =>
        (i.toLong, Seq.fill(c.toInt)(w).mkString(" "))
      }.toDF("doc_id", "text")
      val t0 = System.nanoTime()
      val got = graft.text.Bpe.learnMerges(docs, numMerges = 800,
          minCount = 1L)
        .orderBy("rank").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getLong(3))).toSeq
      val tNew = (System.nanoTime() - t0) / 1e9
      val wordsArr = wordCnt
        .map { case (w, c) => (c, w.toCharArray.map(_.toString)) }.toArray
      val t1 = System.nanoTime()
      val want = oldLearn(wordsArr, 800, 1L)
      val tOld = (System.nanoTime() - t1) / 1e9
      got should have size 800
      got shouldBe want
      info(f"800 merges over ${vocabWords.size} words: incremental " +
        f"$tNew%.1f s (incl. Spark collect) vs full-rebuild $tOld%.1f s")
    }
  }

  describe("BoundedCollect.sortedGather") {

    it("streaming and hash paths match sort_array(collect_list) on a " +
        "multi-partition fixture with duplicate order keys") {
      import spark.implicits._
      // (id, freq, shingle): duplicate (freq, shingle) pairs and
      // deliberately shuffled input order across many partitions
      val rows = for {
        id <- 0L until 50L
        j <- 0 until 20
      } yield (id, (j * 7 % 5).toLong, s"sh${(j * 13) % 9}")
      val df = spark.createDataset(
          new scala.util.Random(42).shuffle(rows.toList))
        .toDF("id", "freq", "shingle").repartition(7)
      def run(gather: (org.apache.spark.sql.DataFrame, Seq[String],
          Seq[String], String, String) => org.apache.spark.sql.DataFrame) =
        gather(df, Seq("id"), Seq("freq", "shingle"), "shingle", "shingles")
          .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      val streaming = run(BoundedCollect.streamingGather)
      val hash = run(BoundedCollect.hashGather)
      val adaptive = run(BoundedCollect.sortedGather)
      val want = df.groupBy(col("id"))
        .agg(sort_array(collect_list(struct(col("freq"), col("shingle"))))
          .as("ranked"))
        .select(col("id"), col("ranked.shingle"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      streaming shouldBe want
      hash shouldBe want
      adaptive shouldBe want
      streaming.keySet should have size 50
    }

    it("streaming path plans no ObjectHashAggregate and holds one group " +
        "at a time; small inputs adaptively keep the hash plan") {
      import spark.implicits._
      val df = (0L until 10L).flatMap(id =>
          (0 until 100).map(p => (id, p.toLong, s"line$p")))
        .toDF("id", "pos", "line")
      val gathered = BoundedCollect.streamingGather(df, Seq("id"),
        Seq("pos"), "line", "lines")
      gathered.queryExecution.executedPlan.toString should not include
        "ObjectHashAggregate"
      // the buffer-bounding shape sits in the RDD lineage behind the
      // ExistingRDD scan: hash repartition on the key (a shuffle), then
      // a spillable partition-local sort feeding the streaming fold
      gathered.rdd.toDebugString should include("ShuffledRowRDD")
      // below the row threshold the probe keeps the classic hash plan
      // (the q53 0.2 -> 0.6 s regression when streaming was
      // unconditional): per-task buffer mass is bounded by the small
      // input itself, so the fast plan is the right one there
      val small = BoundedCollect.sortedGather(df, Seq("id"),
        Seq("pos"), "line", "lines")
      small.queryExecution.executedPlan.toString should include(
        "ObjectHashAggregate")
      small.collect().map(r => r.getLong(0) -> r.getSeq[String](1))
        .toMap shouldBe gathered.collect()
        .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    }

    it("keeps the three rebuilt operators value-identical on a " +
        "large-document corpus") {
      import spark.implicits._
      // 20 docs x 2000 lines — each group's buffer is genuinely
      // document-sized; a boilerplate line lands in every doc
      val docs = (0L until 20L).map { id =>
        val lines = (0 until 2000).map {
          case p if p % 100 == 0 => "COOKIE BANNER"
          case p => s"doc$id line$p"
        }
        (id, lines.mkString("\n"))
      }.toDF("doc_id", "text")
      val cleaned = graft.text.TextOps.removeBoilerplate(docs, minDf = 3)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getLong(3)))
      cleaned should have size 20
      cleaned.foreach { case (_, clean, nLines, nKept) =>
        nLines shouldBe 2000L
        nKept shouldBe 1980L
        clean should not include "COOKIE BANNER"
      }
      // line ORDER survives the rebuild
      val c0 = cleaned.find(_._1 == 0L).get._2.split("\n")
      c0.take(3) shouldBe Array("doc0 line1", "doc0 line2", "doc0 line3")

      // BPE encode round-trips token order through the bounded gather
      val tiny = Seq((0L, "ab ab ra ca da bra ab"), (1L, "ra ra ab"),
          (9L, "ab")).toDF("doc_id", "text")
      val merges = graft.text.Bpe.learnMerges(tiny, numMerges = 4,
          minCount = 1L)
        .orderBy("rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      val enc = graft.text.Bpe.encode(tiny, merges)
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      enc.keySet shouldBe Set(0L, 1L, 9L)
      val ids0 = enc(0L)
      ids0 should not be empty
      // word-level structure survives: doc0 = "ab ab ra ca da bra ab" —
      // its first and last words are "ab", whose id sequence doc9
      // pins down; both ends of doc0 must carry it (order preserved
      // through the gather)
      val perWord = enc(9L)
      perWord should not be empty
      ids0.take(perWord.size) shouldBe perWord
      ids0.takeRight(perWord.size) shouldBe perWord
    }
  }

  describe("sourceOverlapMatrix (q136 inter-source dedup signal)") {
    it("counts distinct shared shingles per source pair with exact set " +
        "sizes; disjoint sources emit no row") {
      import spark.implicits._
      val docs = Seq(
        ("A", "the quick brown fox jumps over the lazy dog"),
        ("A", "the quick brown fox sat still"), // same prefix shingles
        ("B", "the quick brown fox jumps high"),
        ("C", "completely different words entirely here now"))
        .toDF("source", "text")
      val m = graft.dedup.Dedup.sourceOverlapMatrix(docs)
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).sortBy(t => (t._1, t._2))
      // A: doc1 has 7 shingles, doc2 has 4; shared within A:
      // "the quick brown","quick brown fox" → |A| = 9
      // B: 4 shingles; A∩B = {the quick brown, quick brown fox,
      // brown fox jumps} = 3. C: 4 shingles, disjoint.
      m shouldBe Seq(("A", "B", 3L, 9L, 4L))
    }
  }

  describe("Stats.globalRanks (q139 global ordering without a global " +
      "window over the rows)") {
    it("matches rank()/dense_rank() semantics incl. ties; null values " +
        "keep null ranks; both prefix paths agree") {
      import spark.implicits._
      import graft.pipeline.Stats
      val df = Seq[(Long, java.lang.Long)](
        (1L, 10L), (2L, 10L), (3L, 5L), (4L, 20L), (5L, null),
        (6L, 10L)).toDF("id", "v")
      def run(thr: Int) = graft.util.DriverLane.withBound(thr) {
        Stats.globalRanks(df, "v")
          .select("id", "rnk", "drnk").collect()
      }.map(r => (r.getLong(0),
          if (r.isNullAt(1)) null else java.lang.Long.valueOf(r.getLong(1)),
          if (r.isNullAt(2)) null else java.lang.Long.valueOf(r.getLong(2))))
        .sortBy(_._1).toSeq
      val viaWindow = run(1 << 20)
      // v=5 → rank 1/dense 1; three 10s → rank 2/dense 2; 20 → rank
      // 5/dense 3; null → null
      viaWindow shouldBe Seq(
        (1L, 2L: java.lang.Long, 2L: java.lang.Long),
        (2L, 2L: java.lang.Long, 2L: java.lang.Long),
        (3L, 1L: java.lang.Long, 1L: java.lang.Long),
        (4L, 5L: java.lang.Long, 3L: java.lang.Long),
        (5L, null, null),
        (6L, 2L: java.lang.Long, 2L: java.lang.Long))
      run(0) shouldBe viaWindow // two-pass scan path, byte-identical
    }

    it("agrees with the global sort window on seeded random data " +
        "(duplicates, negatives)") {
      import spark.implicits._
      import org.apache.spark.sql.expressions.Window
      val rnd = new scala.util.Random(11)
      val df = (1 to 400)
        .map(i => (i.toLong, (rnd.nextInt(40) - 20).toLong))
        .toDF("id", "v").repartition(7)
      val got = graft.pipeline.Stats.globalRanks(df, "v")
        .select("id", "rnk", "drnk").as[(Long, Long, Long)]
        .collect().sortBy(_._1).toSeq
      val w = Window.orderBy(col("v"))
      val want = df.select(col("id"),
          rank().over(w).cast("long").as("rnk"),
          dense_rank().over(w).cast("long").as("drnk"))
        .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
      got shouldBe want
    }
  }

  describe("VideoDedup.nearDupPairs randomized parity") {
    it("matches the naive shared-frame computation on seeded random " +
        "frame tables") {
      import spark.implicits._
      val rnd = new scala.util.Random(23)
      // 40 videos × up to 12 frames drawn from a 30-hash pool →
      // plenty of shared frames and hot hashes
      val rows = for {
        v <- 1 to 40
        _ <- 1 to (1 + rnd.nextInt(12))
      } yield (v.toLong, s"h${rnd.nextInt(30)}")
      val frames = rows.toDF("media_id", "fhash").repartition(5)
      val got = graft.multimodal.VideoDedup
        .nearDupPairs(frames, minSharedPct = 60, maxOcc = 10)
        .select("id1", "id2", "shared", "n1", "n2")
        .as[(Long, Long, Long, Long, Long)].collect().sorted.toSeq
      // naive: distinct sets, cold hashes only in shared counts
      val sets = rows.distinct.groupBy(_._1).view
        .mapValues(_.map(_._2).toSet).toMap
      val occ = rows.distinct.groupBy(_._2).view
        .mapValues(_.map(_._1).toSet.size).toMap
      val cold = occ.filter(_._2 <= 10).keySet
      val want = (for {
        a <- sets.keys; b <- sets.keys if a < b
        shared = (sets(a) intersect sets(b)) intersect cold
        if shared.nonEmpty &&
          shared.size * 100 >= 60 * math.min(sets(a).size, sets(b).size)
      } yield (a, b, shared.size.toLong, sets(a).size.toLong,
        sets(b).size.toLong)).toSeq.sorted
      got shouldBe want
      want.size should be > 3
    }
  }

  describe("PipelineOps.splitAssign (q143 exact split sizes)") {
    it("produces exact floor counts per stratum, is stable across " +
        "partitionings, and rejects bad shares") {
      import spark.implicits._
      import graft.pipeline.PipelineOps
      val docs = ((1 to 103).map(i => (i.toLong, "en")) ++
        (200 to 209).map(i => (i.toLong, "de"))).toDF("doc_id", "lang")
      val splits = Seq("train" -> 800000L, "val" -> 100000L,
        "test" -> 100000L)
      val got = PipelineOps.splitAssign(docs, splits).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      val counts = got.groupBy(t => (t._2, t._3)).view
        .mapValues(_.length).toMap
      // en: 103 → floor(82.4)=82 train, floor(92.7)−82=10 val, 11 test
      counts(("en", "train")) shouldBe 82
      counts(("en", "val")) shouldBe 10
      counts(("en", "test")) shouldBe 11
      // de: 10 → 8 / 1 / 1
      counts(("de", "train")) shouldBe 8
      counts(("de", "val")) shouldBe 1
      counts(("de", "test")) shouldBe 1
      val again = PipelineOps.splitAssign(docs.repartition(9), splits)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      again.sorted.toSeq shouldBe got.sorted.toSeq
      an[IllegalArgumentException] should be thrownBy
        PipelineOps.splitAssign(docs, Seq("a" -> 500000L))
    }
  }

  describe("PipelineOps.weightedChoice (q145 exact-proportional draw)") {
    it("wins proportionally to integer weights across many groups, " +
        "deterministically; nonpositive weights never win") {
      import spark.implicits._
      import graft.pipeline.PipelineOps
      // 200 groups, each: heavy id=1 (w=9), light id=2 (w=1),
      // poisoned id=3 (w=0) — heavy should take ~90 %
      val df = (1 to 200).flatMap(g => Seq(
        (s"g$g", 1L, 9L), (s"g$g", 2L, 1L), (s"g$g", 3L, 0L)))
        .toDF("grp", "id", "w")
      val picks = PipelineOps.weightedChoice(df, Seq("grp"), "w", "id")
        .collect().map(r => (r.getString(0), r.getLong(1)))
      picks.length shouldBe 200
      picks.map(_._2) should not contain 3L
      val heavy = picks.count(_._2 == 1L)
      heavy should be >= 160 // ~binomial(200, 0.9), deterministic
      heavy should be < 200 // ...but the light row does win sometimes
      val again = PipelineOps
        .weightedChoice(df.repartition(11), Seq("grp"), "w", "id")
        .collect().map(r => (r.getString(0), r.getLong(1)))
      again.sorted.toSeq shouldBe picks.sorted.toSeq
      // a group with only nonpositive weights emits nothing
      PipelineOps.weightedChoice(
        Seq(("g", 1L, 0L)).toDF("grp", "id", "w"),
        Seq("grp"), "w", "id").count() shouldBe 0L
    }
  }

  describe("TextOps.deflateSizes (compression-proxy quality signal)") {
    it("repeated boilerplate compresses far below prose; sizes are " +
        "deterministic and null-safe") {
      import spark.implicits._
      import graft.text.TextOps
      val docs = Seq(
        (1L, "spam spam spam " * 200),
        (2L, "A quiet fox studied seventeen unusual manuscripts while " +
          "rain gathered over the valley, noting each binding flaw."),
        (3L, null: String))
        .toDF("doc_id", "text")
      val got = TextOps.deflateSizes(docs).collect()
        .map(r => (r.getLong(0),
          if (r.isNullAt(1)) -1L else r.getLong(1),
          if (r.isNullAt(2)) -1L else r.getLong(2))).sortBy(_._1)
      val (d1, r1) = (got(0)._2, got(0)._3)
      val (d2, r2) = (got(1)._2, got(1)._3)
      r1 shouldBe 3000L
      // boilerplate: deflate under 3% of raw; prose: above 50%
      d1 * 100 should be < r1 * 3
      d2 * 100 should be > r2 * 50L
      got(2) shouldBe ((3L, -1L, -1L))
      TextOps.deflateSizes(docs.repartition(5)).collect()
        .map(_.toSeq).sortBy(_.toString) shouldBe
        got.map(t => Seq(t._1,
          if (t._2 < 0) null else t._2,
          if (t._3 < 0) null else t._3)).sortBy(_.toString)
    }
  }

  describe("ngramJaccardPairs under the 30%-hot boilerplate fixture " +
      "(the q21 path)") {
    it("finds exactly the planted near-dup pair, rejects all " +
        "boilerplate-only overlap, and the groupBy+join frequency " +
        "stage keeps per-task width below a window-based control") {
      import spark.implicits._
      // Same 30%-hot fixture shape as the dedup-family describe above
      // (scoped there, so rebuilt locally): 600 docs, 180 carrying the
      // same 8-token boilerplate sentence.
      val hotSentence = "click here to accept all cookies on this site"
      def uniq(id: Long, n: Int, tag: String) =
        (0 until n).map(p => s"u${tag}_${id}_$p").mkString(" ")
      val skewDocs = (0L until 600L).map { id =>
        val body =
          if (id % 10 < 3) s"${uniq(id, 12, "a")} $hotSentence ${uniq(id, 12, "b")}"
          else uniq(id, 30, "c")
        (id, body)
      }.toDF("doc_id", "text")
      // ...plus one planted TRUE near-dup at jaccard >= 0.8:
      // 30 shared tokens + 1 unique suffix each, BOTH carrying the hot
      // sentence (the skew must not mask a real dup that also has
      // boilerplate). Shared k=3 shingles ~= 34, unique ~= 3 per side.
      val common = (0 until 30).map(p => s"planted_jac_$p").mkString(" ")
      val nearDup = Seq(
        (900L, s"$common $hotSentence only_in_900"),
        (901L, s"$common $hotSentence only_in_901"))
        .toDF("doc_id", "text")
      val docs = skewDocs.unionByName(nearDup)
      val rows = graft.dedup.Dedup.ngramJaccardPairs(docs, k = 3,
        threshold = 0.8).collect()
      val pairs = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
      // ONLY the planted pair: any two of the ~180 hot docs share the
      // full boilerplate sentence but nothing else (jaccard ~= 0.2),
      // and the prefix filter must not promote them
      pairs shouldBe Set((900L, 901L))
      // jaccard matches the brute-force value computed here, using
      // the engine's tokenization (lowercase, split on non-alnum —
      // underscores split, so "only_in_900" is 3 tokens)
      def shingleSet(t: String) =
        t.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)
          .sliding(3).map(_.mkString(" ")).toSet
      val (s1, s2) = (shingleSet(s"$common $hotSentence only_in_900"),
        shingleSet(s"$common $hotSentence only_in_901"))
      val brute = s1.intersect(s2).size.toDouble /
        s1.union(s2).size.toDouble
      rows.head.getDouble(2) shouldBe (math.rint(brute * 1e6) / 1e6)
      // Skew posture, frequency STAGE ONLY: the pre-r12 stage was a
      // partitionBy(shingle) window — a hot shingle's FULL occurrence
      // set funnels through one task, and Spark's AQE can neither
      // skew-split a window partition nor broadcast it away. The
      // shipped groupBy+join shape absorbs hot keys in map-side
      // partial aggregation and leaves the join AQE-splittable.
      // Assert the shipped stage plans with NO Window operator and
      // that its aggregate is partial (map-side combine present);
      // per-task width at 600 docs is AQE-coalesce noise, so the
      // proof is plan shape, not a toy-scale timing.
      val sh = graft.dedup.Dedup.shingles(docs, 3, "doc_id", "text")
      val freqs = sh.groupBy(col("shingle"))
        .agg(count(lit(1)).as("freq"))
      val shipped = sh.join(freqs, Seq("shingle"))
      val plan = shipped.queryExecution.executedPlan.toString
      plan should not include "Window"
      // partial_count = the map-side combine that absorbs a hot key
      // before the shuffle
      plan should include ("partial_count")
      // ...and the window control DOES plan a Window over the raw
      // occurrence rows (the shape the fix removed)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("shingle"))
      sh.withColumn("freq", count(lit(1)).over(w))
        .queryExecution.executedPlan.toString should include ("Window")
    }
  }
}
