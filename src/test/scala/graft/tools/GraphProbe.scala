package graft.tools
// Dev-only standalone scale probe for the ITERATIVE graph family
// (round-14 verdict item 1): the relational 100x sweeps only ever
// derived a ~60-node graph, so PageRank/TrustRank/HITS/HyperBall/LPA/
// BFS/SSSP/CC had never run against a graph-shaped corpus. This main
// drives each operator over the R-MAT power-law corpora from
// scripts/graph_testdata.py (graph_small: 1M edges / 131k nodes;
// graph_big: 10M edges / 1.048M nodes, max outdeg ~41k) min-of-N in
// one fresh JVM, and appends a per-graph JSON object to an output
// file consumed by scripts/graph_check.py (10x growth-ratio gate).
//
// The BFS and CC driver lanes are DISABLED (DriverLane.withBound(0))
// so the DISTRIBUTED iteration paths are what gets timed — the same
// forcing the round-13 CC specs used (which found a real crash).

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.operators.{Bfs, Communities, Hits, HyperBall, PageRank, ShortestPaths}
import graft.util.DriverLane

object GraphProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/repo/testdata_graph/graph_big")
    val opsArg = if (args.length > 1) args(1) else "all"
    val runs = if (args.length > 2) args(2).toInt else 3
    val outJson = if (args.length > 3) Some(args(3)) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // heap note: spark.driver.memory is a NO-OP in an already-running
    // local JVM — size the fork via SPARK_DRIVER_MEM (build.sbt -Xmx);
    // 48g documented floor for graph_big: sparse-register hyperball4
    // OOM'd 8g (67M register rows; the packed rebuild shrank that
    // 64x, but pagerank10/hits4 checkpoint sets still want headroom)
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val e = spark.read.parquet(s"$dir/edges.parquet").persist()
    val edgeCnt = e.count()
    val nodeCnt = e.select(col("src").as("id"))
      .unionByName(e.select(col("dst").as("id"))).distinct().count()
    // highest-out-degree node: BFS/SSSP/TrustRank seed (1-row collect)
    val hub = e.groupBy(col("src")).agg(count(lit(1)).as("d"))
      .orderBy(desc("d"), asc("src")).limit(1).collect()(0).getLong(0)
    println(s"GRAPH $dir: $edgeCnt edges, $nodeCnt nodes, hub=$hub")

    // each op returns its materialized row count (effdiam: the hop)
    val ops: Seq[(String, () => Long)] = Seq(
      "pagerank3" -> (() => PageRank.pageRank(e, 3).count()),
      "pagerank10" -> (() => PageRank.pageRank(e, 10).count()),
      // convergence-terminated run (r15): cap 50, stop when the exact
      // Σ|Δpr| falls under scale/20 — the production to-tolerance
      // shape; the row records what a real ranking run costs vs the
      // caller-fixed counts above
      "pagerank_tol" -> (() => PageRank.pageRank(e, 50,
        tolMicro = 1000000000000L / 20).count()),
      "trustrank5" -> (() => PageRank.personalizedPageRank(
        e, e.sparkSession.range(64).select(col("id")), 5).count()),
      "prweighted3" -> (() => PageRank.pageRankWeighted(e, 3).count()),
      "hits4" -> (() => Hits.hits(e, 4).count()),
      "hyperball4" -> (() => HyperBall.harmonicCentralities(e, 4).count()),
      "effdiam6" -> (() => HyperBall.effectiveDiameter(e, 6).toLong),
      // run-to-stability (r16): cap 32, stop when the exact integer
      // register sum is unchanged (no ball grew — HyperANF's fixed
      // point) — the true-diameter run vs the fixed-horizon row above
      "effdiam_tol" -> (() => HyperBall.effectiveDiameter(e, 32,
        toStability = true).toLong),
      // LPA's final frame is nodes LEFT JOIN best: a plain count()
      // lets Catalyst ELIMINATE the left joins (row count is
      // join-invariant) and the lazy run times nothing — materialize
      // through the dataset's own physical plan instead
      "lpa2" -> (() => Communities.labelPropagation(e, 2)
        .queryExecution.toRdd.count()),
      "lpa6" -> (() => Communities.labelPropagation(e, 6)
        .queryExecution.toRdd.count()),
      "bfs_hub" -> (() => DriverLane.withBound(0)(Bfs.reachable(
        e.select(col("src"), col("dst")),
        e.sparkSession.range(1).select(lit(hub).as("node_id")))).count()),
      "sssp_hub" -> (() => ShortestPaths.sssp(
        e.selectExpr("cast(src as string) u", "cast(dst as string) v", "w"),
        hub.toString).count()),
      "cc_star" -> (() => DriverLane.withBound(0)(Dedup.clusterLabelsStar(
        e.select(col("src").as("id1"), col("dst").as("id2")))).count()))
    val wanted =
      if (opsArg == "all") ops
      else { val s = opsArg.split(",").toSet; ops.filter(o => s(o._1)) }

    val results = scala.collection.mutable.LinkedHashMap.empty[String, String]
    for ((name, f) <- wanted) {
      val secs = (1 to runs).map { i =>
        val t0 = System.nanoTime()
        val n = f()
        val s = (System.nanoTime() - t0) / 1e9
        println(f"PROBE $name run$i: $s%.2f s rows=$n")
        (s, n)
      }
      val minSec = secs.map(_._1).min
      results(name) = f"""{"min_sec":$minSec%.2f,"runs":[${
        secs.map(s => f"${s._1}%.2f").mkString(",")}],"rows":${secs.head._2}}"""
      println(f"PROBE $name MIN: $minSec%.2f s")
    }
    val json = s"""{"dir":"$dir","edges":$edgeCnt,"nodes":$nodeCnt,""" +
      s""""runs":$runs,"ops":{${
        results.map { case (k, v) => s""""$k":$v""" }.mkString(",")}}}"""
    println("RESULT " + json)
    outJson.foreach { p =>
      // append one JSON line per invocation (graph_check.py merges)
      java.nio.file.Files.write(java.nio.file.Paths.get(p),
        (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
      ()
    }
    spark.stop()
  }
}
