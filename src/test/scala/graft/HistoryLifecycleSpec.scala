package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.model.{FoundLink, FoundNode, LinkState}
import graft.operators.PolicyOverwrite
import graft.sources.History
import graft.streaming.StreamingIngest
import graft.time.{Interval, IntervalEnd}

/** History-table LIFECYCLE at the daily-ops shape (round-14 verdict
  * item 3): a 100 TB findings table lives under a continuous writer —
  * the streaming sink appends to today's partition while maintenance
  * compacts yesterday-and-older. The round-13 spec surface proved
  * append/read/compact in isolation; this spec drives the interleave:
  *
  *  1. batch-append three closed days (multiple small files per day);
  *  2. snapshot the q01/q02-class answers (interval read + policy
  *     retention) as the byte-identity baseline;
  *  3. start a LIVE streaming appendToHistory writer on day 4;
  *  4. compact(beforeDay = day4) WHILE the stream is running;
  *  5. stream another batch after the compact;
  *  6. assert: closed days hold exactly one file, the
  *     baseline answers are byte-identical, the streamed rows are all
  *     present, and interval reads still PARTITION-PRUNE (inputFiles
  *     confined to the matching day dirs);
  *  7. crash-recovery: strand a day under `.compact_old_*` (the state
  *     a kill between the two renames leaves) and assert the next
  *     compact restores it with identical answers.
  *
  * Reference semantics anchor: interval-then-retention ordering,
  * net-spider/test/ServerTest/Snapshot.hs:97-265.
  */
class HistoryLifecycleSpec extends SparkSpec {

  private def fn(subject: String, epochMs: Long, seq: Long,
      target: Option[String] = None) =
    FoundNode(subject, epochMs, Map.empty,
      target.map(t => FoundLink(t, LinkState.ToTarget, Map.empty)).toSeq,
      seq)

  private val d1 = ts("2024-03-01T10:00")
  private val d2 = ts("2024-03-02T10:00")
  private val d3 = ts("2024-03-03T10:00")
  private val d4 = ts("2024-03-04T10:00")

  private def closedInterval = Interval(
    IntervalEnd(Some(d1 - 1000), true),
    IntervalEnd(Some(d2 + 1000), true)) // days 1-2 only

  private def answers(dir: String): (Seq[String], Seq[String]) = {
    val q01 = History.read(spark, dir, closedInterval)
      .select(col("subject"), col("epoch_ms"), col("finding_seq"))
      .collect().map(_.toString).sorted.toSeq
    val q02 = History.readRetained(spark, dir, closedInterval,
        PolicyOverwrite)
      .select(col("subject"), col("epoch_ms"))
      .collect().map(_.toString).sorted.toSeq
    (q01, q02)
  }

  private def filesIn(dir: String, day: String): Seq[String] = {
    val d = new java.io.File(s"$dir/day=$day")
    if (!d.exists()) Seq.empty
    else d.listFiles().filter(f => f.getName.endsWith(".parquet"))
      .map(_.getName).toSeq
  }

  it("queries stay byte-identical and partition-pruned across a " +
      "closed-day compaction under a live streaming writer") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_lc").toString
    val dir = s"$root/table"

    // 1. three closed days, two small files each (two appends per day)
    for (seq <- 0 to 1) {
      History.append(model.Findings.fromSeq(spark, Seq(
        fn("a", d1 + seq, seq, Some("b")))), dir)
      History.append(model.Findings.fromSeq(spark, Seq(
        fn("b", d2 + seq, 10 + seq, Some("c")))), dir)
      History.append(model.Findings.fromSeq(spark, Seq(
        fn("c", d3 + seq, 20 + seq))), dir)
    }
    filesIn(dir, "2024-03-01").size shouldBe 2

    // 2. the byte-identity baseline
    val baseline = answers(dir)
    baseline._1.size shouldBe 4 // a x2, b x2 within days 1-2
    baseline._2 shouldBe Seq(s"[a,${d1 + 1}]", s"[b,${d2 + 1}]")

    // 3. live streaming writer on day 4
    val input = MemoryStream[FoundNode]
    val q = StreamingIngest.appendToHistory(input.toDS(),
      dir, s"$root/ckpt")
    try {
      input.addData(fn("d", d4, 30, Some("a")))
      q.processAllAvailable()

      // 4. compact CLOSED days only, stream still running
      History.compact(spark, dir, beforeDay = Some("2024-03-04"))

      // 5. more stream data after the compact
      input.addData(fn("d", d4 + 1000, 31))
      q.processAllAvailable()
    } finally q.stop()

    // 6a. closed days consolidated; the open day untouched by compact
    filesIn(dir, "2024-03-01").size shouldBe 1
    filesIn(dir, "2024-03-02").size shouldBe 1
    filesIn(dir, "2024-03-03").size shouldBe 1
    filesIn(dir, "2024-03-04").size shouldBe 2 // one file per stream batch

    // 6b. byte-identical closed-day answers; streamed rows all present
    answers(dir) shouldBe baseline
    History.read(spark, dir)
      .filter(col("subject") === "d").count() shouldBe 2
    History.readRetained(spark, dir, Interval.whole, PolicyOverwrite)
      .filter(col("subject") === "d")
      .select(col("epoch_ms")).collect()(0).getLong(0) shouldBe d4 + 1000

    // 6c. pruning survives the rewrite: the interval read touches ONLY
    // the matching day dirs (partition pruning at the file level)
    val pruned = History.read(spark, dir, closedInterval)
    val files = pruned.select(input_file_name()).distinct()
      .collect().map(_.getString(0)).toSeq
    files should not be empty
    all(files) should (include ("day=2024-03-01") or
      include ("day=2024-03-02"))

    // 7. crash-recovery: strand day 1 the way a kill between the two
    // renames does, then compact again — it must recover first
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.rename(new org.apache.hadoop.fs.Path(dir, "day=2024-03-01"),
      new org.apache.hadoop.fs.Path(dir, ".compact_old_day=2024-03-01"))
    History.compact(spark, dir, beforeDay = Some("2024-03-04"))
    filesIn(dir, "2024-03-01").size shouldBe 1
    answers(dir) shouldBe baseline
  }

  it("exactly-once under crash replay: a replayed epoch never doubles " +
      "PolicyAppend counts (batch-id manifest commit)") {
    import graft.operators.PolicyAppend
    val root = java.nio.file.Files.createTempDirectory("graft_eo").toString
    val dir = s"$root/table"
    val hconf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(hconf)
    def p(s: String) = new org.apache.hadoop.fs.Path(s"$dir/$s")
    def appendCount: Long = History.readRetained(spark, dir,
      Interval.whole, PolicyAppend).count()

    val epoch0 = model.Findings.fromSeq(spark,
      Seq(fn("a", d1, 0, Some("b")), fn("a", d1 + 500, 1)))
    History.appendBatch(epoch0, dir, 0L)
    val base = History.read(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    base.size shouldBe 2

    // replay of a COMMITTED epoch (crash after the marker): skipped
    History.appendBatch(epoch0, dir, 0L)
    History.read(spark, dir)
      .collect().map(_.toString).sorted.toSeq shouldBe base

    // crash AFTER the data moves, BEFORE the marker: the replay must
    // scrub its own half-applied files and redo, not double
    fs.delete(p("_applied_batches/0"), false) shouldBe true
    History.appendBatch(epoch0, dir, 0L)
    History.read(spark, dir)
      .collect().map(_.toString).sorted.toSeq shouldBe base

    // crash MID-STAGING: a stale partial staging dir is replaced
    // wholesale by the replay's Overwrite
    fs.mkdirs(p(".batch_staging_1"))
    History.appendBatch(model.Findings.fromSeq(spark,
      Seq(fn("c", d1 + 900, 2))), dir, 1L)
    fs.exists(p(".batch_staging_1")) shouldBe false
    appendCount shouldBe 3 // every finding contributes exactly once

    // compaction must NOT fold an uncommitted epoch's files into a
    // rewrite (the replay's scrub could no longer remove them): strand
    // epoch 2 as committed-minus-marker, compact, then replay
    val epoch2 = model.Findings.fromSeq(spark, Seq(fn("d", d1 + 950, 3)))
    History.appendBatch(epoch2, dir, 2L)
    fs.delete(p("_applied_batches/2"), false) shouldBe true
    History.compact(spark, dir, beforeDay = Some("2024-03-04"))
    // the unapplied epoch's file survives as a LOOSE batch-tagged file
    filesIn(dir, "2024-03-01")
      .count(_.startsWith("b2-")) shouldBe 1
    History.appendBatch(epoch2, dir, 2L) // replay: scrub + redo + commit
    appendCount shouldBe 4
    History.read(spark, dir).filter(col("subject") === "d")
      .count() shouldBe 1
  }

  it("a torn epoch is INVISIBLE to batch readers before the replay " +
      "(read committed), then lands exactly once on replay") {
    import graft.operators.PolicyAppend
    // VERDICT r15 item 2: the scrub made the replay exact, but between
    // a mid-move crash and the replay a reader saw the partially-moved
    // epoch's b<id>- files. History.read now detects the torn epoch by
    // its surviving .batch_staging_<id> dir (deleted only after the
    // marker commits) and excludes exactly those files.
    val root = java.nio.file.Files.createTempDirectory("graft_torn").toString
    val dir = s"$root/table"
    val hconf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(hconf)
    def p(s: String) = new org.apache.hadoop.fs.Path(s"$dir/$s")

    val epoch0 = model.Findings.fromSeq(spark,
      Seq(fn("a", d1, 0, Some("b")), fn("a", d1 + 500, 1)))
    History.appendBatch(epoch0, dir, 0L)

    // crash MID-MOVE of epoch 1: day dir holds its b1- files, the
    // marker never published, the staging dir survives (it is dropped
    // only AFTER the marker) — rebuilt here as an empty dir, exactly
    // what a fully-moved-then-crashed attempt leaves
    val epoch1 = model.Findings.fromSeq(spark,
      Seq(fn("t", d1 + 700, 2), fn("t", d2 + 100, 3)))
    History.appendBatch(epoch1, dir, 1L)
    fs.delete(p("_applied_batches/1"), false) shouldBe true
    fs.mkdirs(p(".batch_staging_1"))
    filesIn(dir, "2024-03-01").count(_.startsWith("b1-")) shouldBe 1

    // read BEFORE the replay: zero rows of the torn epoch, committed
    // rows untouched — through read, interval read, and retention
    History.read(spark, dir).filter(col("subject") === "t")
      .count() shouldBe 0
    History.read(spark, dir).count() shouldBe 2
    History.read(spark, dir, closedInterval).count() shouldBe 2
    History.readRetained(spark, dir, Interval.whole, PolicyAppend)
      .count() shouldBe 2

    // replay: the epoch lands exactly once, staging is gone, and the
    // fast path (no staging dirs -> plain directory scan) is back
    History.appendBatch(epoch1, dir, 1L)
    fs.exists(p(".batch_staging_1")) shouldBe false
    History.read(spark, dir).count() shouldBe 4
    History.readRetained(spark, dir, Interval.whole, PolicyAppend)
      .count() shouldBe 4
    History.read(spark, dir).filter(col("subject") === "t")
      .count() shouldBe 2

    // degenerate: a table whose ONLY content is a torn epoch reads as
    // zero rows with the schema intact
    val dir2 = s"$root/only_torn"
    History.appendBatch(epoch1, dir2, 5L)
    val fs2 = new org.apache.hadoop.fs.Path(dir2).getFileSystem(hconf)
    fs2.delete(new org.apache.hadoop.fs.Path(
      s"$dir2/_applied_batches/5"), false) shouldBe true
    fs2.mkdirs(new org.apache.hadoop.fs.Path(s"$dir2/.batch_staging_5"))
    History.read(spark, dir2).count() shouldBe 0
    History.read(spark, dir2).columns should contain("subject")
  }

  it("a late append racing a closed-day compact is preserved, not " +
      "deleted with the rewritten originals (manifest reconcile)") {
    // History.append partitions by EVENT day, so a crash-replayed or
    // late finding can legally land in a day that compact is rewriting.
    // The pre-r14 swap deleted the whole old dir — silent data loss.
    // This drives both manifest states the recovery phase decides on.
    val root = java.nio.file.Files.createTempDirectory("graft_lcl").toString
    val dir = s"$root/table"
    val day = "2024-03-02"
    for (seq <- 0 to 1)
      History.append(model.Findings.fromSeq(spark, Seq(
        fn("b", d2 + seq, 10 + seq, Some("c")))), dir)
    History.compact(spark, dir)
    val hconf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(hconf)
    def p(s: String) = new org.apache.hadoop.fs.Path(s"$dir/$s")

    // STATE A — claimed swap killed before the reconcile: day holds the
    // staged rewrite, .compact_old_ holds the originals + manifest + a
    // LATE file that landed after the snapshot
    val dayFile = filesIn(dir, day).head
    fs.mkdirs(p(s".compact_old_day=$day"))
    org.apache.hadoop.fs.FileUtil.copy(
      fs, p(s"day=$day/$dayFile"),
      fs, p(s".compact_old_day=$day/$dayFile"), false, hconf)
    val out = fs.create(p(s".compact_old_day=$day/_compact_inputs"), true)
    out.write(dayFile.getBytes("UTF-8")); out.close()
    // the late row, written through the real append path then relocated
    History.append(model.Findings.fromSeq(spark, Seq(
      fn("late", d2 + 999, 99))), s"$root/late")
    val lateFile = new java.io.File(s"$root/late/day=$day")
      .listFiles().filter(_.getName.endsWith(".parquet")).head.getName
    fs.rename(new org.apache.hadoop.fs.Path(s"$root/late/day=$day/$lateFile"),
      p(s".compact_old_day=$day/$lateFile"))

    History.compact(spark, dir)
    fs.exists(p(s".compact_old_day=$day")) shouldBe false
    val subjects = History.read(spark, dir)
      .select(col("subject")).collect().map(_.getString(0)).toSeq.sorted
    subjects shouldBe Seq("b", "b", "late") // late survived, b NOT doubled

    // STATE B — killed before the claim marker while an append had
    // already recreated the day dir: old (no manifest) must UNION back
    fs.rename(p(s"day=$day"), p(s".compact_old_day=$day"))
    History.append(model.Findings.fromSeq(spark, Seq(
      fn("later", d2 + 1500, 100))), dir)
    History.compact(spark, dir)
    fs.exists(p(s".compact_old_day=$day")) shouldBe false
    History.read(spark, dir).select(col("subject"))
      .collect().map(_.getString(0)).toSeq.sorted shouldBe
      Seq("b", "b", "late", "later")
  }
}
