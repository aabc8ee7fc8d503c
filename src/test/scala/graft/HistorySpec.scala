package graft

import graft.model.{FoundLink, FoundNode, Findings, LinkState}
import graft.operators.PolicyOverwrite
import graft.sources.History
import graft.time.{Interval, IntervalEnd}

/** History table: append/clear/read with date partitioning and interval
  * pruning. */
class HistorySpec extends SparkSpec {

  private def fn(subject: String, at: String, seq: Long) =
    FoundNode(subject, ts(at), Map.empty,
      Seq(FoundLink("x", LinkState.ToTarget, Map.empty)), seq)

  it("appends date-partitioned, reads back with interval pruning, clears") {
    val dir = java.nio.file.Files.createTempDirectory("graft_history").toString + "/t"
    val findings = Findings.fromSeq(spark, Seq(
      fn("n1", "2024-01-10T05:00", 0), fn("n1", "2024-01-12T05:00", 1),
      fn("n2", "2024-02-01T05:00", 2)))
    History.append(findings, dir)
    // partition dirs by day exist
    val days = new java.io.File(dir).list().filter(_.startsWith("day="))
    days.sorted.toSeq shouldBe
      Seq("day=2024-01-10", "day=2024-01-12", "day=2024-02-01")

    History.read(spark, dir).count() shouldBe 3
    val janOnly = History.read(spark, dir, Interval(
      IntervalEnd(Some(ts("2024-01-01T00:00")), true),
      IntervalEnd(Some(ts("2024-01-31T23:59")), true)))
    janOnly.count() shouldBe 2
    janOnly.columns should not contain "day"

    val retained = History.readRetained(spark, dir, Interval.whole, PolicyOverwrite)
    retained.count() shouldBe 2 // latest per node
    History.nodesView(History.read(spark, dir))
      .collect().map(_.getString(0)).sorted.toSeq shouldBe Seq("n1", "n2", "x")

    // append again (blind, no upserts) then clear
    History.append(Findings.fromSeq(spark, Seq(fn("n3", "2024-03-01T00:00", 3))), dir)
    History.read(spark, dir).count() shouldBe 4
    History.clear(spark, dir)
    new java.io.File(dir).exists() shouldBe false
  }

  it("compact merges small files per day without changing content") {
    val dir = java.nio.file.Files.createTempDirectory("graft_compact").toString + "/t"
    // 5 blind appends → 5+ small files in the same day partition
    (0 until 5).foreach { i =>
      History.append(Findings.fromSeq(spark,
        Seq(fn(s"n$i", "2024-01-10T05:00", i.toLong))), dir)
    }
    def partFiles() = new java.io.File(s"$dir/day=2024-01-10")
      .list().count(_.endsWith(".parquet"))
    partFiles() should be >= 5
    val before = History.read(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    History.compact(spark, dir)
    partFiles() shouldBe 1
    val after = History.read(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    after shouldBe before
    History.clear(spark, dir)
  }

  it("compact recovers a day partition stranded by a crashed swap") {
    val dir = java.nio.file.Files.createTempDirectory("graft_crash").toString + "/t"
    History.append(Findings.fromSeq(spark, Seq(
      fn("n1", "2024-01-10T05:00", 0), fn("n2", "2024-01-10T06:00", 1))), dir)
    val before = History.read(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    // simulate a crash between rename(day, old) and rename(staged, day):
    // the day dir exists ONLY under the hidden .compact_old_ name
    val root = new java.io.File(dir)
    val day = new java.io.File(root, "day=2024-01-10")
    val orphan = new java.io.File(root, ".compact_old_day=2024-01-10")
    day.renameTo(orphan) shouldBe true
    // a naive read now loses the whole day; compact must restore it first
    History.compact(spark, dir)
    new java.io.File(root, "day=2024-01-10").exists() shouldBe true
    new java.io.File(root, ".compact_old_day=2024-01-10").exists() shouldBe false
    History.read(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1))).sorted.toSeq shouldBe before
    History.clear(spark, dir)
  }

  it("bucketed read path: policy retention runs with NO Exchange before " +
      "the subject aggregation") {
    val table = "graft_hist_bucketed_t2"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    History.appendBucketed(Findings.fromSeq(spark, Seq(
      fn("n1", "2024-01-10T05:00", 0), fn("n1", "2024-01-12T05:00", 1),
      fn("n2", "2024-02-01T05:00", 2))), table, numBuckets = 4)
    try {
      val retained = History.readBucketedRetained(spark, table,
        Interval.whole, PolicyOverwrite)
      retained.count() shouldBe 2 // latest per node
      retained.collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq shouldBe
        Seq(("n1", ts("2024-01-12T05:00")), ("n2", ts("2024-02-01T05:00")))
      // the bucketed scan satisfies the aggregation's distribution —
      // the whole retention plan contains no shuffle at all
      val plan = retained.queryExecution.executedPlan.toString
      plan should not include "Exchange"
      // an interval read still pushes the ms predicate to the scan
      val janOnly = History.readBucketed(spark, table, Interval(
        IntervalEnd(Some(ts("2024-01-01T00:00")), true),
        IntervalEnd(Some(ts("2024-01-31T23:59")), true)))
      janOnly.count() shouldBe 2
      janOnly.queryExecution.executedPlan.toString should include("PushedFilters: [")
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  it("bucketed history feeds GetSnapshot directly — same snapshot as " +
      "the plain read path") {
    val table = "graft_hist_bucketed_t3"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val findings = Findings.fromSeq(spark, Seq(
      FoundNode("n1", ts("2024-01-10T05:00"), Map.empty,
        Seq(FoundLink("n2", LinkState.Bidirectional, Map.empty)), 0),
      FoundNode("n2", ts("2024-01-11T05:00"), Map.empty,
        Seq(FoundLink("n3", LinkState.ToTarget, Map.empty)), 1),
      FoundNode("n1", ts("2024-01-12T05:00"), Map.empty,
        Seq(FoundLink("n2", LinkState.Bidirectional, Map.empty)), 2)))
    History.appendBucketed(findings, table, numBuckets = 4)
    try {
      import spark.implicits._
      val q = graft.query.Query(Seq("n1"))
      def graph(df: org.apache.spark.sql.DataFrame) = {
        val g = graft.query.GetSnapshot(spark, df, q)
        (g.nodes.collect().map(_.getString(0)).sorted.toSeq,
          g.links.collect().map(r => (r.getString(0), r.getString(1),
            r.getLong(3))).sorted.toSeq)
      }
      val fromBucketed = graph(History.readBucketed(spark, table))
      fromBucketed shouldBe graph(findings)
      fromBucketed._1 shouldBe Seq("n1", "n2", "n3")
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  it("z-ordered layout: content round-trips and per-file z-ranges are " +
      "pairwise disjoint (both-dimension row-group pruning)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_zorder")
      .toString + "/t"
    val rnd = new scala.util.Random(7)
    val findings = Findings.fromSeq(spark, (0 until 600).map { i =>
      fn(s"n${rnd.nextInt(40)}",
        f"2024-01-${1 + rnd.nextInt(28)}%02dT${rnd.nextInt(24)}%02d:00",
        i.toLong)
    })
    History.writeZOrdered(findings, dir, numFiles = 8)
    val back = spark.read.parquet(dir)
    // content identical (multiset of (subject, ms, seq))
    back.select("subject", "epoch_ms", "finding_seq")
      .as[(String, Long, Long)].collect().sorted.toSeq shouldBe
      findings.select("subject", "epoch_ms", "finding_seq")
        .as[(String, Long, Long)].collect().sorted.toSeq
    // each file covers a disjoint z-interval — the clustering property
    // that lets parquet min/max stats prune on BOTH dimensions
    val ranges = back
      .withColumn("z", History.zValue(col("subject"), col("epoch_ms")))
      .withColumn("f", input_file_name())
      .groupBy(col("f")).agg(min(col("z")).as("lo"), max(col("z")).as("hi"))
      .select("lo", "hi").as[(Long, Long)].collect().sortBy(_._1)
    ranges.length should be > 1
    ranges.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) => hi1 should be <= lo2
      case _ =>
    }
  }

  it("bucketed layout makes subject aggregation shuffle-free") {
    val table = "graft_hist_bucketed_t1"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    History.appendBucketed(Findings.fromSeq(spark, Seq(
      fn("n1", "2024-01-10T05:00", 0), fn("n1", "2024-01-12T05:00", 1),
      fn("n2", "2024-02-01T05:00", 2))), table, numBuckets = 4)
    try {
      val agg = spark.table(table).groupBy("subject")
        .agg(org.apache.spark.sql.functions.max("epoch_ms"))
      agg.count() shouldBe 2
      // the bucketed scan pre-partitions by subject: no Exchange in the plan
      val plan = agg.queryExecution.executedPlan.toString
      plan should not include "Exchange hashpartitioning(subject"
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  describe("History.read declares the schema inference would find") {
    import org.apache.spark.sql.functions.{col, struct, transform}
    val tz = Some(graft.model.Tz(60, summerOnly = false, "CET"))
    def fns(tzs: Boolean, days: String*) = Findings.fromSeq(spark,
      days.zipWithIndex.map { case (d, i) =>
        FoundNode(s"$i", ts(d + "T05:00"), Map("k" -> "v"),
          Seq(FoundLink(s"${i + 1}", LinkState.ToTarget, Map.empty)), i.toLong,
          if (tzs) tz else None)
      })
    def tempDir(name: String) =
      java.nio.file.Files.createTempDirectory(name).toString + "/t"

    /** `History.read(dir)` builds with no job and has the schema of a
      * plain `spark.read.parquet(dir)`; returns the read. */
    def sameSchema(dir: String): org.apache.spark.sql.DataFrame = {
      var read: org.apache.spark.sql.DataFrame = null
      jobsDuring { read = History.read(spark, dir) } shouldBe 0
      read.schema shouldBe spark.read.parquet(dir).drop("day").schema
      read
    }

    it("canonical, BIGINT-id and tz-less histories") {
      val canonical = tempDir("graft_schema_canonical")
      History.append(fns(tzs = true, "2024-01-10", "2024-01-12"), canonical)
      sameSchema(canonical).count() shouldBe 2
      // the partition column is still discovered, typed as inference types it
      History.readParquet(spark, Seq(canonical)).schema shouldBe
        spark.read.parquet(canonical).schema

      val bigint = tempDir("graft_schema_bigint")
      History.append(fns(tzs = true, "2024-01-10", "2024-01-11")
        .withColumn("subject", col("subject").cast("long"))
        .withColumn("links", transform(col("links"), l => struct(
          l("target").cast("long").as("target"), l("link_state").as("link_state"),
          l("link_attrs").as("link_attrs")))), bigint)
      sameSchema(bigint).schema("subject").dataType shouldBe
        org.apache.spark.sql.types.LongType

      val noTz = tempDir("graft_schema_notz")
      History.append(fns(tzs = true, "2024-01-10").drop("tz"), noTz)
      sameSchema(noTz).columns should not contain "tz"
    }

    it("a mixed history takes the path-first file's schema, or every " +
        "file's with mergeSchema on") {
      val dir = tempDir("graft_schema_mixed")
      // the tz-less batch lands in the day that sorts first
      History.append(fns(tzs = true, "2024-01-12").drop("tz"), dir)
      History.append(fns(tzs = true, "2024-01-13"), dir)
      History.append(fns(tzs = true, "2024-01-10").drop("tz"), dir)
      sameSchema(dir).columns should not contain "tz"
      val key = "spark.sql.parquet.mergeSchema"
      val old = spark.conf.getOption(key)
      spark.conf.set(key, "true")
      try sameSchema(dir).columns should contain ("tz")
      finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }

    it("a z-ordered directory and a torn epoch") {
      val z = tempDir("graft_schema_z")
      History.writeZOrdered(fns(tzs = true, "2024-01-10", "2024-01-11",
        "2024-01-12"), z, numFiles = 2)
      sameSchema(z).count() shouldBe 3

      val torn = tempDir("graft_schema_torn")
      History.appendBatch(fns(tzs = true, "2024-01-10"), torn, 0L)
      History.appendBatch(fns(tzs = true, "2024-01-10", "2024-01-11"), torn, 1L)
      val fs = new org.apache.hadoop.fs.Path(torn)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(s"$torn/_applied_batches/1"),
        false) shouldBe true
      fs.mkdirs(new org.apache.hadoop.fs.Path(s"$torn/.batch_staging_1"))
      sameSchema(torn).count() shouldBe 1
    }

    it("a summary file, or mergeSchema over more files than the parallel " +
        "discovery threshold, leaves the schema to inference") {
      val dir = tempDir("graft_schema_fallback")
      History.append(fns(tzs = true, "2024-01-12").drop("tz"), dir)
      History.append(fns(tzs = true, "2024-01-10"), dir)
      def inferred() = {
        var read: org.apache.spark.sql.DataFrame = null
        jobsDuring { read = History.read(spark, dir) } should be > 0
        read.schema shouldBe spark.read.parquet(dir).drop("day").schema
      }
      val (merge, threshold) = ("spark.sql.parquet.mergeSchema",
        "spark.sql.sources.parallelPartitionDiscovery.threshold")
      val old = Seq(merge, threshold).map(k => k -> spark.conf.getOption(k))
      spark.conf.set(merge, "true")
      spark.conf.set(threshold, "1")
      try inferred()
      finally old.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
      // a summary file holding the tz-less day's schema
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val first = fs.globStatus(new org.apache.hadoop.fs.Path(s"$dir/day=*/*.parquet"))
        .map(_.getPath).minBy(_.toString)
      org.apache.hadoop.fs.FileUtil.copy(fs, first, fs,
        new org.apache.hadoop.fs.Path(s"$dir/_common_metadata"), false,
        spark.sparkContext.hadoopConfiguration)
      inferred()
    }

    it("a directory with no data file fails as the plain read does") {
      val empty = java.nio.file.Files.createTempDirectory("graft_schema_empty")
        .toString
      val plain = intercept[org.apache.spark.sql.AnalysisException](
        spark.read.parquet(empty))
      intercept[org.apache.spark.sql.AnalysisException](
        History.read(spark, empty)).getCondition shouldBe plain.getCondition
    }
  }
}
