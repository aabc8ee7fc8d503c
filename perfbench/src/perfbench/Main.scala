package perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. `run.py` builds and launches it; see the
  * README next to it for workloads, metrics and layers.
  *
  * {{{
  * Main --workload W --seed N --seconds S --trace 0|1
  *      --work DIR --data DIR --out PREFIX [--commit C] [--source-digest D]
  * Main --selftest digests|failing --seed N --work DIR --data DIR --out PREFIX
  * }}}
  *
  * Prints one JSON line — correct, attempted, failed and the metric
  * values — and writes PREFIX.json (environment, input digests, per-op
  * rows, where the time went) and, traced, PREFIX-spans.jsonl. Exits 1
  * when any op failed or any output was wrong. */
object Main {
  /** Layers whose spans are builders returning a lazy result: their
    * time is "build" in the where-the-time-went split. */
  val BuilderSpans = Seq("SparkEntry.queries.build", "query.GetSnapshot",
    "sources.History.read", "rpl.ContikiNg.readLogs")

  private def parse(args: Array[String]): Map[String, String] =
    args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(
        s"expected --key value pairs, got ${other.mkString(" ")}")
    }.toMap

  def session(work: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val b = SparkSession.builder().master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    graft.sources.Tables.sessionConfs.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def secondsOf(body: => Any): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val work = o("work")
    Files.createDirectories(Paths.get(work))
    val seed = o("seed").toLong
    val t0 = System.nanoTime()
    val spark = session(work)
    val sessionStartS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(spark.sparkContext, t0)
    val ctx = new Ctx(spark, seed, work, o("data"), tracer)
    val code =
      try o.get("selftest") match {
        case Some("digests") => SelfTest.digests(ctx)
        case Some("failing") =>
          emit(ctx, o, "failing", Runner.run(ctx, SelfTest.Failing, 0.0, trace = false),
            trace = false, sessionStartS)
        case Some(other) => throw new IllegalArgumentException(s"unknown self-test $other")
        case None =>
          val wl = Workloads(o("workload"), ctx)
          val trace = o("trace") == "1"
          val gc0 = Tracer.gcTotalMs
          val res = Runner.run(ctx, wl, o("seconds").toDouble, trace)
          emit(ctx, o, o("workload"), res, trace, sessionStartS, Tracer.gcTotalMs - gc0)
      } finally spark.stop()
    sys.exit(code)
  }

  /** Reads the frozen machine probe: a fixed range→hash→sum job. Context
    * for comparing runs across machines, not a metric. */
  private def machineProbeS(spark: SparkSession): Double = secondsOf(
    spark.range(0L, 100000000L, 1L, spark.sparkContext.defaultParallelism)
      .selectExpr("sum(hash(id)) AS h").collect())

  /** Median wall time of an empty one-task-per-core job: the fixed
    * scheduling cost every job pays. */
  private def perJobS(spark: SparkSession): Double = {
    val sc = spark.sparkContext
    val n = sc.defaultParallelism
    Runner.median((1 to 25).map(_ => secondsOf(sc.parallelize(0 until n, n).count())))
  }

  private def emit(ctx: Ctx, o: Map[String, String], workload: String,
      res: RunResult, trace: Boolean, sessionStartS: Double, gcMsAll: Long = 0L): Int = {
    val spark = ctx.spark
    val sc = spark.sparkContext
    val ok = res.rows.filter(r => r.ok && r.round > 0)
    val untracedRounds = res.roundS.filterNot(_._1).map(_._2)
    val probeS = machineProbeS(spark)
    val endToEnd = Seq(
      "setup_s" -> Runner.median(res.setupS),
      "wall_s" -> (if (untracedRounds.isEmpty) 0.0 else Runner.median(untracedRounds)),
      "op_p50_s" -> (if (ok.isEmpty) 0.0 else Runner.median(ok.map(_.sec))))
    val (perLayer, where) =
      if (trace) layerMetrics(ctx, res, perJobS(spark)) else (Nil, Nil)
    val timed = ok.filterNot(_.traced).map(_.sec)
    val artifact = Json.obj(
      "workload" -> workload,
      "correct" -> (res.failed == 0),
      "attempted" -> res.attempted,
      "failed" -> res.failed,
      "fail_rate" -> res.failed.toDouble / res.attempted,
      "env" -> Json.obj(
        "cpus" -> Runtime.getRuntime.availableProcessors,
        "defaultParallelism" -> sc.defaultParallelism,
        "spark.sql.shuffle.partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "xmx_mb" -> Runtime.getRuntime.maxMemory / (1L << 20),
        "spark" -> spark.version,
        "jdk" -> System.getProperty("java.version"),
        "scala" -> scala.util.Properties.versionNumberString,
        "commit" -> o.getOrElse("commit", "unknown"),
        "source_digest" -> o.getOrElse("source-digest", "unknown"),
        "seed" -> ctx.seed,
        "seconds" -> o.getOrElse("seconds", "0"),
        "trace" -> trace,
        "session_start_s" -> sessionStartS,
        "machine_probe_s" -> probeS),
      "inputs" -> Json.obj(res.digests: _*),
      "setup_s" -> res.setupS,
      "rounds" -> res.roundS.map { case (t, s) => Json.obj("traced" -> t, "wall_s" -> s) },
      "op_samples" -> timed.size,
      "op_p75_s" -> (if (timed.size >= 40) Some(Runner.percentile(timed, 0.75)) else None),
      "end_to_end" -> Json.obj(endToEnd: _*),
      "per_layer" -> Json.obj(perLayer: _*),
      "where_the_time_went" -> Json.obj(where: _*),
      "gc_s" -> gcMsAll / 1e3,
      "final_check_error" -> res.finalError,
      "ops" -> res.rows.map(r => Json.obj("round" -> r.round, "id" -> r.id,
        "sec" -> r.sec, "ok" -> r.ok, "error" -> r.error,
        "persists_left" -> r.persistsLeft, "traced" -> r.traced)))
    val out = o("out")
    Files.createDirectories(Paths.get(out).toAbsolutePath.getParent)
    Files.writeString(Paths.get(s"$out.json"), Json.render(artifact) + "\n")
    if (trace)
      Files.write(Paths.get(s"$out-spans.jsonl"), ctx.tr.spanLines.asJava)
    res.rows.filterNot(_.ok).take(10).foreach(r =>
      System.err.println(s"FAILED op ${r.id} (round ${r.round}): ${r.error.getOrElse("")}"))
    res.finalError.foreach(e => System.err.println(s"FAILED final check: $e"))
    println(Json.render(Json.obj(
      "correct" -> (res.failed == 0), "attempted" -> res.attempted,
      "failed" -> res.failed,
      "metrics" -> Json.obj((if (trace) perLayer else endToEnd): _*))))
    if (res.failed == 0) 0 else 1
  }

  /** Per-layer numbers of the traced rounds, each per round unless its
    * name says otherwise, plus the where-the-time-went split. */
  private def layerMetrics(ctx: Ctx, res: RunResult,
      perJob: Double): (Seq[(String, Double)], Seq[(String, Double)]) = {
    val tr = ctx.tr
    val traced = res.roundS.filter(_._1).map(_._2)
    val untraced = res.roundS.filterNot(_._1).map(_._2)
    val n = traced.size.toDouble
    val wall = traced.sum
    val cores = ctx.spark.sparkContext.defaultParallelism
    def layer(name: String) = tr.layer(name)
    val tot = tr.total
    val tallies = ctx.tallies(traced.size)
    def tally(name: String) = tallies.getOrElse(name, 0.0)
    val taskS = tot.taskMs / 1e3
    val opsWithRead = tr.spans.filter(_.name == "sources.History.read").map(_.op).toSet
    val readInput = tr.spans.filter(s => opsWithRead(s.op))
      .map(s => tr.countersOf(s.id).input).sum
    val spark = Seq(
      "spark.jobs" -> tot.jobs / n,
      "spark.stages" -> tot.stages / n,
      "spark.tasks" -> tot.tasks / n,
      "spark.task_s" -> taskS / n,
      "spark.core_util" -> taskS / (wall * cores),
      "spark.shuffle_read_mb" -> tot.shuffleRead / 1e6 / n,
      "spark.shuffle_write_mb" -> tot.shuffleWrite / 1e6 / n,
      "spark.spill_mb" -> tot.spill / 1e6 / n,
      "spark.task_skew" -> (if (tot.stageSkews.isEmpty) 1.0
        else tot.stageSkews.sum / tot.stageSkews.size),
      "spark.gc_s" -> tr.gcMs / 1e3 / n,
      "spark.persists_left" -> {
        val rows = res.rows.filter(_.traced)
        rows.map(_.persistsLeft).sum.toDouble / math.max(1, rows.size)
      })
    val layers = Seq(
      "SparkEntry.queries.build_s" -> layer("SparkEntry.queries.build").seconds / n,
      "SparkEntry.queries.build_jobs" -> layer("SparkEntry.queries.build").counters.jobs / n,
      "SparkEntry.queries.action_s" -> layer("SparkEntry.queries.action").seconds / n,
      "SparkEntry.queries.action_jobs" -> layer("SparkEntry.queries.action").counters.jobs / n,
      "query.GetSnapshot.build_s" -> layer("query.GetSnapshot").seconds / n,
      "query.GetSnapshot.build_jobs" -> layer("query.GetSnapshot").counters.jobs / n,
      "query.GetSnapshot.persists_left" -> tally("query.GetSnapshot.persists_left"),
      "io.GraphMl.write.self_s" -> layer("io.GraphMl.write").selfSeconds / n,
      "io.GraphMl.write.jobs" -> layer("io.GraphMl.write").counters.jobs / n,
      "io.GraphMl.write.task_s" -> layer("io.GraphMl.write").counters.taskMs / 1e3 / n,
      "io.GraphMl.write.out_mb" -> tally("io.GraphMl.write.out_mb"),
      "sources.History.read.files_read" -> tally("sources.History.read.files_read"),
      "sources.History.read.input_mb" -> readInput / 1e6 / n,
      "sources.History.appendBatch.self_s" -> layer("sources.History.appendBatch").selfSeconds / n,
      "sources.History.appendBatch.files_written" ->
        tally("sources.History.appendBatch.files_written"),
      "sources.History.appendBatch.output_mb" -> layer("sources.History.appendBatch").counters.output / 1e6 / n,
      "sources.History.appendBatch.findings_per_s" ->
        tally("rpl.ContikiNg.readLogs.findings") * n / wall,
      "sources.History.bytes_per_finding" -> tally("sources.History.bytes_per_finding"),
      "sources.History.compact.self_s" -> layer("sources.History.compact").selfSeconds / n,
      "sources.History.compact.rewritten_mb" ->
        layer("sources.History.compact").counters.output / 1e6 / n,
      "rpl.ContikiNg.readLogs.self_s" -> layer("rpl.ContikiNg.readLogs").selfSeconds / n,
      "rpl.ContikiNg.readLogs.findings" -> tally("rpl.ContikiNg.readLogs.findings"),
      "rpl.ContikiNg.readLogs.warnings" -> tally("rpl.ContikiNg.readLogs.warnings"))
    val buildS = BuilderSpans.map(layer(_).seconds).sum / n
    val where = Seq(
      "where.wall_s" -> wall / n,
      "where.per_job_ms" -> perJob * 1e3,
      "where.job_overhead_s" -> tot.jobs / n * perJob,
      "where.build_s" -> buildS,
      "where.work_s" -> taskS / n / cores)
    val overhead = Seq("trace.overhead_s" -> (traced.sum / n - untraced.sum / untraced.size))
    (spark ++ layers ++ where ++ overhead, where)
  }
}

/** Checks of the benchmark itself; `test_perfbench.py` drives them. */
object SelfTest {
  /** Prints every workload's input digests for the run's seed, one JSON
    * line, by running each set-up exactly as a real run does. */
  def digests(ctx: Ctx): Int = {
    val all = Workloads.names.map(n => n -> Json.obj(Workloads(n, ctx).setup(): _*))
    println(Json.render(Json.obj(all: _*)))
    0
  }

  /** One op that passes, one that throws, one whose check fails. */
  object Failing extends Workload {
    def setup(): Seq[(String, String)] = Seq("none" -> "0")
    def round(r: Int): Seq[Op] = Seq(
      Op("passes", () => 1, _ => ()),
      Op("throws", () => throw new IllegalStateException("injected"), _ => ()),
      Op("wrong", () => 1, v => Mismatch.check(v == 2, s"got $v, expected 2")))
  }
}
