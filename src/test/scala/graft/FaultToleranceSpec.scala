package graft

import org.apache.spark.sql.functions._

import graft.operators.{Bfs, PageRank, ShortestPaths}
import graft.util.{Checkpoints, DriverLane}

/** Fault-injection for the checkpointed iterative family (round-14
  * verdict item 4): on a preemptible cluster the failure mode is "the
  * upstream data an iteration's lineage points at is GONE" — an
  * executor died, a shuffle dir was reclaimed, an input went away. A
  * reliable checkpoint dir (the SparkContext's, which every
  * `Checkpoints.cut` follows; each case scopes one with
  * `withCheckpointDir`) is supposed to make the loop's state
  * self-contained on durable storage so recomputation resumes from the
  * checkpoint files instead of replaying lineage. These specs PROVE
  * that by destroying the lineage's source: the input parquet files
  * are DELETED and the result must still materialize — identically —
  * because every read now comes from the checkpoint dir. If any plan
  * still referenced the parquet scan, the action would throw
  * FileNotFoundException instead.
  *
  * (The loops' integer arithmetic is deterministic, so "identical" is
  * exact equality, not approximate.)
  */
class FaultToleranceSpec extends SparkSpec {

  private def tmp(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Write a small two-component digraph, read it back as a REAL
    * parquet scan (deletable), return (edgesDf, dataDir). */
  private def edgesOnDisk(): (org.apache.spark.sql.DataFrame, String) = {
    import spark.implicits._
    val dir = tmp("graft_ft_edges")
    Seq((1L, 2L, 1L), (2L, 3L, 2L), (3L, 4L, 1L), (4L, 1L, 1L),
      (2L, 5L, 3L), (5L, 6L, 1L), (6L, 7L, 1L), (7L, 8L, 1L),
      (8L, 9L, 1L), (10L, 11L, 2L))
      .toDF("src", "dst", "w")
      .repartition(2).write.mode("overwrite").parquet(dir)
    (spark.read.parquet(dir), dir)
  }

  private def deleteData(dir: String): Unit = {
    val d = new java.io.File(dir)
    d.listFiles().filter(_.getName.endsWith(".parquet"))
      .foreach(f => assert(f.delete(), s"could not delete $f"))
  }

  private def assertNoFileScanOf(df: org.apache.spark.sql.DataFrame,
      dir: String): Unit = {
    // lineage truncation, stated on the plan: nothing below the result
    // references the deleted parquet relation
    val plan = df.queryExecution.analyzed.toString
    assert(!plan.contains(dir),
      s"plan still references the deleted input $dir:\n$plan")
  }

  it("PageRank with a reliable checkpointDir survives losing its " +
      "input files mid-computation") {
    val (edges, dataDir) = edgesOnDisk()
    val ckpt = tmp("graft_ft_ckpt_pr")
    // baseline from an intact twin run (deterministic integer ranks)
    val expected = PageRank.pageRank(edges, 6)
      .collect().map(_.toString).sorted.toSeq
    // checkpointed run: iterations > CutEvery forces interior cuts AND
    // a final cut, so the returned frame is self-contained on disk
    withCheckpointDir(ckpt) {
      val pr = PageRank.pageRank(edges, 6)
      assertNoFileScanOf(pr, dataDir)
      deleteData(dataDir)
      pr.collect().map(_.toString).sorted.toSeq shouldBe expected
    }
  }

  it("PageRank's reliable cuts are durable: a 10-iteration run survives " +
      "losing its input AND every block the run left persisted") {
    val (edges, dataDir) = edgesOnDisk()
    val ckpt = tmp("graft_ft_ckpt_durable")
    val expected = PageRank.pageRank(edges, 10)
      .collect().map(_.toString).sorted.toSeq
    withCheckpointDir(ckpt) {
      val sc = spark.sparkContext
      val before = sc.getPersistentRDDs.keySet
      val pr = PageRank.pageRank(edges, 10)
      deleteData(dataDir)
      // a local cut's only copy is its persisted blocks; dropping them
      // leaves nothing to read unless the cut went to durable storage
      sc.getPersistentRDDs.filter { case (id, _) => !before(id) }
        .values.foreach(_.unpersist(blocking = true))
      pr.collect().map(_.toString).sorted.toSeq shouldBe expected
    }
  }

  it("BFS with a reliable checkpointDir survives losing its input " +
      "files (forced distributed path)") {
    import spark.implicits._
    val (edges, dataDir) = edgesOnDisk()
    val ckpt = tmp("graft_ft_ckpt_bfs")
    val starts = Seq(1L).toDF("node_id")
    val expected = DriverLane.withBound(0) {
      Bfs.reachable(edges.select(col("src"), col("dst")), starts)
    }.collect().map(_.toString).sorted.toSeq
    withCheckpointDir(ckpt) {
      val bfs = DriverLane.withBound(0) {
        Bfs.reachable(edges.select(col("src"), col("dst")), starts)
      }
      assertNoFileScanOf(bfs, dataDir)
      deleteData(dataDir)
      bfs.collect().map(_.toString).sorted.toSeq shouldBe expected
    }
  }

  it("SSSP with a reliable checkpointDir survives losing its input " +
      "files") {
    val (edges, dataDir) = edgesOnDisk()
    val ckpt = tmp("graft_ft_ckpt_sssp")
    val wEdges = edges.selectExpr("cast(src as string) u",
      "cast(dst as string) v", "w")
    val expected = ShortestPaths.sssp(wEdges, "1")
      .collect().map(_.toString).sorted.toSeq
    withCheckpointDir(ckpt) {
      val d = ShortestPaths.sssp(wEdges, "1")
      assertNoFileScanOf(d, dataDir)
      deleteData(dataDir)
      d.collect().map(_.toString).sorted.toSeq shouldBe expected
    }
  }

  it("connected components with a reliable checkpointDir survive " +
      "losing their input files (forced distributed star rounds)") {
    val (edges, dataDir) = edgesOnDisk()
    val ckpt = tmp("graft_ft_ckpt_cc")
    val pairs = edges.select(col("src").as("id1"), col("dst").as("id2"))
    val expected = DriverLane.withBound(0) {
      graft.dedup.Dedup.clusterLabelsStar(pairs)
    }.collect().map(_.toString).sorted.toSeq
    withCheckpointDir(ckpt) {
      val cc = DriverLane.withBound(0) {
        graft.dedup.Dedup.clusterLabelsStar(pairs)
      }
      assertNoFileScanOf(cc, dataDir)
      deleteData(dataDir)
      cc.collect().map(_.toString).sorted.toSeq shouldBe expected
    }
  }

  /** `run`'s rows after its input under `dataDir` is deleted and every
    * RDD the run left persisted is unpersisted: a local cut's only copy
    * is its persisted blocks, so only cuts on durable storage leave
    * anything to read. */
  private def rowsAfterLosingAll(dataDir: String)(
      run: => org.apache.spark.sql.DataFrame): Seq[String] = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val df = run
    deleteData(dataDir)
    sc.getPersistentRDDs.filter { case (id, _) => !before(id) }
      .values.foreach(_.unpersist(blocking = true))
    df.collect().map(_.toString).sorted.toSeq
  }

  it("BFS's reliable cuts are durable: the distributed rounds survive " +
      "losing their input AND every block the run left persisted") {
    import spark.implicits._
    val (edges, dataDir) = edgesOnDisk()
    def bfs() = DriverLane.withBound(0) {
      Bfs.reachable(edges.select(col("src"), col("dst")),
        Seq(1L).toDF("node_id"))
    }
    val expected = bfs().collect().map(_.toString).sorted.toSeq
    withCheckpointDir(tmp("graft_ft_ckpt_bfs_durable")) {
      rowsAfterLosingAll(dataDir)(bfs()) shouldBe expected
    }
  }

  it("SSSP's reliable cuts are durable: the rounds survive losing their " +
      "input AND every block the run left persisted") {
    val (edges, dataDir) = edgesOnDisk()
    val wEdges = edges.selectExpr("cast(src as string) u",
      "cast(dst as string) v", "w")
    val expected = ShortestPaths.sssp(wEdges, "1")
      .collect().map(_.toString).sorted.toSeq
    withCheckpointDir(tmp("graft_ft_ckpt_sssp_durable")) {
      rowsAfterLosingAll(dataDir)(ShortestPaths.sssp(wEdges, "1")) shouldBe
        expected
    }
  }

  it("connected components' reliable cuts are durable: the star rounds " +
      "survive losing their input AND every block the run left persisted") {
    val (edges, dataDir) = edgesOnDisk()
    val pairs = edges.select(col("src").as("id1"), col("dst").as("id2"))
    def cc() = DriverLane.withBound(0) {
      graft.dedup.Dedup.clusterLabelsStar(pairs)
    }
    val expected = cc().collect().map(_.toString).sorted.toSeq
    withCheckpointDir(tmp("graft_ft_ckpt_cc_durable")) {
      rowsAfterLosingAll(dataDir)(cc()) shouldBe expected
    }
  }

  it("Checkpoints.cut(Some(dir)) truncates lineage MID-ITERATION: " +
      "rounds after the cut never replay the deleted source") {
    val (edges, dataDir) = edgesOnDisk()
    val ckpt = tmp("graft_ft_ckpt_cut")
    // hand-rolled 3-round recurrence over the raw cut primitive (the
    // exact machinery every operator loop uses): round 1 runs on the
    // live input and is cut; the input dies; rounds 2-3 must complete
    withCheckpointDir(ckpt) {
      var deg = edges.groupBy(col("src")).agg(count(lit(1)).as("d"))
      deg = Checkpoints.cut(deg) // round 1 materialized
      deleteData(dataDir)
      var out = deg
      for (_ <- 2 to 3)
        out = Checkpoints.cut(out.withColumn("d", col("d") * 2))
      out.agg(sum(col("d"))).collect()(0).getLong(0) shouldBe 40L // 10 edges * 4
    }
  }

  it("Checkpoints.cut follows the SparkContext's checkpoint dir: local " +
      "without one, reliable inside withCheckpointDir, restored after") {
    import spark.implicits._
    val sc = spark.sparkContext
    val before = sc.getCheckpointDir
    before shouldBe None // no earlier suite left a dir on the shared context
    val df = Seq(1L, 2L, 3L).toDF("x")
    def root(cut: org.apache.spark.sql.DataFrame) =
      cut.queryExecution.analyzed match {
        case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
        case p => fail(s"cut root is not a LogicalRDD:\n$p")
      }
    // no dir: executor-local blocks, no checkpoint file anywhere
    root(Checkpoints.cut(df)).getCheckpointFile shouldBe None
    val ckpt = tmp("graft_ft_ckpt_mode")
    withCheckpointDir(ckpt) {
      val file = root(Checkpoints.cut(df)).getCheckpointFile
      file.map(f => new java.io.File(new java.net.URI(f)).getPath
        .startsWith(ckpt)) shouldBe Some(true)
    }
    def partFiles(f: java.io.File): Long =
      if (f.isDirectory) f.listFiles().map(partFiles).sum
      else if (f.getName.startsWith("part-")) 1L else 0L
    partFiles(new java.io.File(ckpt)) should be > 0L
    sc.getCheckpointDir shouldBe before
    // a body that throws still restores the dir
    an[IllegalStateException] should be thrownBy
      withCheckpointDir(tmp("graft_ft_ckpt_throw")) {
        throw new IllegalStateException("boom")
      }
    sc.getCheckpointDir shouldBe before
    root(Checkpoints.cut(df)).getCheckpointFile shouldBe None
  }
}
