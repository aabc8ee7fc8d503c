package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Random
import org.apache.spark.sql.DataFrame
import graft.SparkEntry
import graft.io.GraphMl
import graft.model.Findings
import graft.operators.{FoundNodePolicy, PolicyKeepN, PolicyOverwrite}
import graft.query.{GetSnapshot, Query}
import graft.rpl.ContikiNg
import graft.sources.History
import graft.time.Interval

object Workloads {
  val names: Seq[String] = Seq("snapshot_query", "rpl_ingest", "gates")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "snapshot_query" => new SnapshotQuery(ctx)
    case "rpl_ingest" => new RplIngest(ctx)
    case "gates" => new Gates(ctx)
    case other => throw new IllegalArgumentException(
      s"unknown workload $other; expected one of ${names.mkString(", ")}")
  }

  /** Data files of a table directory, skipping `_`/`.` marker paths the
    * way a parquet scan does. */
  def dataFiles(dir: String): Seq[Path] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Nil
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).filterNot { p =>
        root.relativize(p).iterator().asScala
          .exists(n => n.toString.startsWith("_") || n.toString.startsWith("."))
      }.toList
      finally s.close()
    }
  }
}

/** The paper's read path: History.read over an interval, GetSnapshot from
  * the DODAG root, GraphMl.write. Set-up appends a week of hourly
  * findings from a 2k-node mesh (336k findings). A round is one query
  * per interval width (1/6/24 h); the policies (Overwrite, KeepN(3))
  * alternate by width and round, and the window ends are drawn from the
  * seed. */
final class SnapshotQuery(ctx: Ctx) extends Workload {
  import ctx.{spark, tr}
  val Nodes = 2000
  val Hours = 168
  private val table = s"${ctx.work}/snapshot_history"
  private var mesh: MeshHistory = _

  def setup(): Seq[(String, String)] = {
    import spark.implicits._
    mesh = MeshHistory.generate(ctx.seed, Nodes, Hours)
    History.clear(spark, table)
    val m = mesh
    val ds = spark.range(0, Hours, 1, spark.sparkContext.defaultParallelism)
      .as[Long].flatMap(h => m.findingsAt(h.toInt))
    History.append(Findings.toCanonical(ds), table)
    Seq("mesh_history" -> mesh.digest)
  }

  private val policies: Seq[(String, FoundNodePolicy)] =
    Seq("overwrite" -> PolicyOverwrite, "keep3" -> PolicyKeepN(3))

  def round(r: Int): Seq[Op] = {
    val rnd = new Random(ctx.seed * 1000003L + r)
    for ((width, i) <- Seq(1, 6, 24).zipWithIndex) yield {
      val (pName, policy) = policies((i + r) % 2)
      val hEnd = width + rnd.nextInt(Hours - width)
      val endMs = mesh.hourMs(hEnd) + rnd.nextInt(60) * 60000L
      Op(s"w${width}h-$pName-end$hEnd",
        () => query(Interval.secUpTo(width * 3600L, endMs), policy),
        xml => checkSnapshot(xml.asInstanceOf[String], hEnd))
    }
  }

  /** One query per policy: the rest of a round shares their code paths,
    * and each cold query costs several seconds. */
  override def warmup: Seq[Op] = round(0).take(2)

  private def query(interval: Interval, policy: FoundNodePolicy): String = {
    import spark.implicits._
    val findings = tr.span("sources.History.read") {
      History.read(spark, table, interval)
    }
    if (tr.isOn) ctx.tally("sources.History.read.files_read", Scans.files(findings))
    val graph = tr.span("query.GetSnapshot") {
      GetSnapshot(spark, findings,
        Query(Seq(MeshHistory.nodeId(0)), interval, policy))
    }
    val xml = tr.span("io.GraphMl.write") { GraphMl.write(graph) }
    ctx.tally("io.GraphMl.write.out_mb", xml.length / 1e6)
    ctx.sample("query.GetSnapshot.persists_left",
      spark.sparkContext.getPersistentRDDs.size)
    xml
  }

  private val NodeRe = """<node id="([^"]*)"""".r
  private val EdgeRe = """<edge source="([^"]*)" target="([^"]*)" directed="([^"]*)"""".r

  /** Every node reports every hour, so any window ending in hour `hEnd`
    * must give the whole tree as it was at `hEnd`: all nodes visited, one
    * directed parent→child link per non-root node. Under KeepN(3), links
    * of earlier hours are negated by the child's newer report. */
  private def checkSnapshot(xml: String, hEnd: Int): Unit = {
    val nodes = NodeRe.findAllMatchIn(xml).map(_.group(1)).toSet
    Mismatch.check(nodes.size == Nodes, s"snapshot has ${nodes.size} nodes, expected $Nodes")
    val edges = EdgeRe.findAllMatchIn(xml).map(m => (m.group(1), m.group(2), m.group(3))).toSeq
    Mismatch.check(edges.forall(_._3 == "true"), "snapshot has undirected links")
    val want = mesh.edgesAt(hEnd).toSet
    val got = edges.map(e => (e._1, e._2)).toSet
    Mismatch.check(edges.size == want.size && got == want,
      s"snapshot has ${edges.size} links (${(got -- want).size} unexpected, " +
        s"${(want -- got).size} missing), expected ${want.size}")
  }
}

/** Files a DataFrame's scans select after partition pruning, counted
  * through the plan's own file index. */
object Scans {
  def files(df: DataFrame): Double = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    df.queryExecution.sparkPlan.collect { case s: FileSourceScanExec => s }
      .map(s => s.relation.location.listFiles(s.partitionFilters, s.dataFilters)
        .map(_.files.size).sum)
      .sum.toDouble
  }
}

/** The write side of the same history layer: Contiki-NG syslog batches
  * parsed with ContikiNg.readLogs and committed with
  * History.appendBatch, one batch id per op; every `CompactEvery`-th op
  * also compacts the closed days. Set-up bulk-loads a day of earlier
  * batches with History.append. */
final class RplIngest(ctx: Ctx) extends Workload {
  import ctx.{spark, tr}
  val Nodes = 100
  val FilesPerBatch = 4
  val PriorBatches = 24
  val CompactEvery = 6
  private val head = ContikiNg.SyslogHead(2019)
  private val gen = new SyslogMesh(ctx.seed, Nodes, FilesPerBatch)
  private val table = s"${ctx.work}/rpl_history"
  private val logs = s"${ctx.work}/rpl_logs"
  private var priorRows = 0L
  private var nextBatch = 0
  private val committed = scala.collection.mutable.LinkedHashMap.empty[Int, Long]

  /** Writes batch `b` under `dir` and returns its expected finding count
    * and digest. The parser's own warnings are checked here, on the
    * generated text, before graft reads it. */
  private def writeBatch(b: Int, dir: String): (Long, String) = {
    val (parents, texts) = gen.batch(b)
    Files.createDirectories(Paths.get(dir))
    val d = new Digest()
    var parsed = 0L
    texts.zipWithIndex.foreach { case (t, f) =>
      val r = ContikiNg.parseText(t, head)
      Mismatch.check(r.warnings.isEmpty,
        s"batch $b file $f: parse warnings ${r.warnings.take(3)}")
      parsed += r.dios.size + r.daos.size
      Files.writeString(Paths.get(dir, f"b$b%05d-c$f.log"), t)
      d.add(t)
    }
    val expected = gen.expectedFindings(parents)
    Mismatch.check(parsed == expected,
      s"batch $b parses to $parsed findings, generator expects $expected")
    (expected, d.hex)
  }

  def setup(): Seq[(String, String)] = {
    History.clear(spark, table)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(logs))
    committed.clear()
    val prior = s"$logs/prior"
    val d = new Digest()
    priorRows = (0 until PriorBatches).map { b =>
      val (n, h) = writeBatch(b, prior); d.add(h); n
    }.sum
    val (dio, dao) = ContikiNg.readLogs(spark, prior, head)
    History.append(dio.unionByName(dao), table)
    nextBatch = PriorBatches
    Seq("syslog_prior" -> d.hex)
  }

  private def dayOf(ms: Long): String =
    java.time.Instant.ofEpochMilli(ms).atZone(java.time.ZoneOffset.UTC)
      .toLocalDate.toString

  def round(r: Int): Seq[Op] = (0 until CompactEvery).map { k =>
    val b = nextBatch
    nextBatch += 1
    val dir = s"$logs/b$b"
    val (expected, _) = writeBatch(b, dir)
    Op(s"batch$b${if (k == CompactEvery - 1) "+compact" else ""}", () => {
      val before = if (tr.isOn) Workloads.dataFiles(table).size else 0
      val (dio, dao) = tr.span("rpl.ContikiNg.readLogs") {
        ContikiNg.readLogs(spark, dir, head)
      }
      tr.span("sources.History.appendBatch") {
        History.appendBatch(dio.unionByName(dao), table, b.toLong)
      }
      if (tr.isOn) {
        ctx.tally("sources.History.appendBatch.files_written",
          Workloads.dataFiles(table).size - before)
        ctx.tally("rpl.ContikiNg.readLogs.findings", expected.toDouble)
        // writeBatch already failed the op on any parse warning
        ctx.tally("rpl.ContikiNg.readLogs.warnings", 0.0)
      }
      if (k == CompactEvery - 1) tr.span("sources.History.compact") {
        History.compact(spark, table, beforeDay = Some(dayOf(gen.stepMs(b))))
      }
      b
    }, _ => {
      // the op returned, so the batch counts toward the final total
      committed(b) = expected
      val files = Workloads.dataFiles(table)
        .filter(_.getFileName.toString.startsWith(s"b$b-"))
      Mismatch.check(files.nonEmpty, s"batch $b committed no data files")
      val rows = spark.read.parquet(files.map(_.toString): _*).count()
      Mismatch.check(rows == expected, s"batch $b committed $rows rows, expected $expected")
    })
  }

  /** The whole history holds exactly the generated findings, and
    * replaying a committed batch id changes nothing. */
  override def finish(): Unit = {
    val want = priorRows + committed.values.sum
    val rows = History.read(spark, table).count()
    Mismatch.check(rows == want, s"history has $rows rows, expected $want")
    val b = committed.keys.last
    val (dio, dao) = ContikiNg.readLogs(spark, s"$logs/b$b", head)
    History.appendBatch(dio.unionByName(dao), table, b.toLong)
    val again = History.read(spark, table).count()
    Mismatch.check(again == want, s"replaying batch $b changed the history: $again rows")
    val bytes = Workloads.dataFiles(table).map(Files.size).sum
    ctx.record("sources.History.bytes_per_finding", bytes.toDouble / rows)
  }
}

/** A fixed sample of the `SparkEntry.queries` gates on the committed
  * sf0.01 tables: every 22nd gate in name order. One op is the gate's
  * builder, then `count()`; the count must equal the gate's
  * oracle-matched row count in data/gates_expected.json. Every gate is
  * a different plan, and a third pass over them still ran faster than a
  * second one, so a run warms up with two passes and times two. */
final class Gates(ctx: Ctx) extends Workload {
  import ctx.{spark, tr}
  private val sf = s"${ctx.data}/sf0.01"
  private val expected: Seq[(String, Long)] = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Paths.get(ctx.data, "gates_expected.json").toFile)
    m.fieldNames().asScala.toSeq.sorted.map(n => n -> m.get(n).asLong())
  }

  def setup(): Seq[(String, String)] = {
    val d = new Digest()
    Workloads.dataFiles(sf).sortBy(_.toString).foreach { p =>
      d.add(p.getFileName.toString).add(Files.readAllBytes(p))
      spark.read.parquet(p.toString).count()
    }
    Seq("sf0.01" -> d.hex)
  }

  override def warmup: Seq[Op] = round(0) ++ round(0)
  override def minRounds: Int = 2

  def round(r: Int): Seq[Op] = expected.map { case (name, rows) =>
    Op(name, () => {
      val df = tr.span("SparkEntry.queries.build") { SparkEntry.queries(name)(spark, sf) }
      tr.span("SparkEntry.queries.action") { df.count() }
    }, n => Mismatch.check(n == rows, s"$name returned $n rows, expected $rows"))
  }
}
