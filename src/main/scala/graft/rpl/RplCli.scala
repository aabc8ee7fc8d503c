package graft.rpl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.query.{GetSnapshot, Query}
import graft.time.{Interval, IntervalEnd}
import graft.operators.LinkOps

/** RPL pipeline CLI mirroring the reference's `net-spider-rpl-cli`
  * snapshot/cis flow (CLI.hs:65-139) and the `net-spider-cli` option
  * grammar (Snapshot.hs:92-160):
  *
  *   runMain graft.rpl.RplCli <logPathGlob> <cooja|syslog:YEAR> [mode]
  *     [-s NODE-ID]... [-f TIMESTAMP] [-t TIMESTAMP] [-d SECONDS]
  *     [--filter none|latest|keep:N]
  *
  * Timestamps accept the `i`/`x` inclusivity prefixes and `±inf`
  * (Interval.parseEnd). --duration composes with exactly one bound
  * (secSince/secUntil inclusivity flip). --filter latest = keep only
  * each node's latest finding before the query (CLI.hs:236-247);
  * --filter keep:N = each node keeps its latest N findings
  * (PolicyKeepN, the library retention between the reference's
  * policyOverwrite and policyAppend).
  * Modes: summary | nodes | links | graphml | unifylog (the reference
  * Weaver's per-pair "Unify link [a]-[b]: from N samples to M samples"
  * decision lines, per layer).
  */
object RplCli {

  case class Opts(
      path: String, head: ContikiNg.LogHead, mode: String,
      startsFrom: Seq[String], from: Option[IntervalEnd],
      to: Option[IntervalEnd], durationSec: Option[Long],
      filter: String)

  def parseArgs(args: Array[String]): Either[String, Opts] = {
    if (args.length < 2) return Left(
      "usage: RplCli <logPath> <cooja|syslog:YEAR> [mode] [options]")
    val head = args(1) match {
      case "cooja" => ContikiNg.CoojaHead
      case s if s.startsWith("syslog:") => ContikiNg.SyslogHead(s.drop(7).toInt)
      case other => return Left(s"unknown log format: $other")
    }
    var mode = "summary"
    var starts = Vector.empty[String]
    var from: Option[IntervalEnd] = None
    var to: Option[IntervalEnd] = None
    var dur: Option[Long] = None
    var filter = "none"
    var i = 2
    while (i < args.length) {
      args(i) match {
        case "-s" | "--starts-from" => starts :+= args(i + 1); i += 2
        case "-f" | "--time-from" =>
          from = Interval.parseEnd(args(i + 1))
          if (from.isEmpty) return Left(s"bad --time-from: ${args(i + 1)}")
          i += 2
        case "-t" | "--time-to" =>
          to = Interval.parseEnd(args(i + 1))
          if (to.isEmpty) return Left(s"bad --time-to: ${args(i + 1)}")
          i += 2
        case "-d" | "--duration" => dur = Some(args(i + 1).toLong); i += 2
        case "--filter" =>
          filter = args(i + 1)
          if (filter != "none" && filter != "latest" &&
              !(filter.startsWith("keep:") &&
                filter.drop(5).toIntOption.exists(_ >= 1)))
            return Left(s"bad --filter: $filter (none|latest|keep:N)")
          i += 2
        case m if !m.startsWith("-") && i == 2 => mode = m; i += 1
        case other => return Left(s"unknown option: $other")
      }
    }
    // interval assembly rules (Snapshot.hs:73-84)
    (from, to, dur) match {
      case (Some(_), Some(_), Some(_)) =>
        return Left("Specifying all --time-to, --time-from and --duration is not allowed.")
      case (None, None, Some(_)) =>
        return Left("Specifying --duration only is not allowed. Specify --time-to or --time-from, too.")
      case _ => ()
    }
    Right(Opts(args(0), head, mode, starts, from, to, dur, filter))
  }

  def intervalOf(o: Opts): Interval = (o.from, o.to, o.durationSec) match {
    case (Some(f), None, Some(d)) => Interval.secSince(d, f)
    case (None, Some(t), Some(d)) => Interval.secUntil(d, t)
    case (f, t, _) => Interval(
      f.getOrElse(IntervalEnd(None, inclusive = false)),
      t.getOrElse(IntervalEnd(None, inclusive = false)))
  }

  private def newSession(): SparkSession = {
    val b = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[4]"))
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
    graft.sources.Tables.sessionConfs.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Subcommand dispatch mirroring the reference CLI
    * (clear | input | snapshot | cis, CLI.hs:65-139). A bare invocation
    * without a subcommand behaves as `cis` (clear-input-snapshot in one
    * shot, directly from logs, no store). */
  def main(args: Array[String]): Unit = args.headOption match {
    case Some("clear") =>
      val spark = newSession()
      graft.Spider(spark, args(1)).clearAll()
      println(s"""{"cleared":"${args(1)}"}""")
      spark.stop()
    case Some("input") =>
      // input <historyDir> <logPath> <format> [--filter latest]
      val spark = newSession()
      parseArgs(args.drop(2)) match {
        case Left(err) => System.err.println(err); sys.exit(2)
        case Right(o) =>
          val (dioF, daoF) = ContikiNg.readLogs(spark, o.path, o.head)
          def pre(df: DataFrame) =
            if (o.filter == "latest")
              LinkOps.latestPerKey(df, Seq("subject"),
                Seq("epoch_ms", "finding_seq"))
            else df
          persisting(dioF, daoF) {
            val sp = graft.Spider(spark, args(1))
            sp.addFoundNodes(pre(dioF))
            sp.addFoundNodes(pre(daoF))
            println(s"""{"ingested_dio":${dioF.count()},"ingested_dao":${daoF.count()}}""")
          }
      }
      spark.stop()
    case Some("snapshot") =>
      // snapshot <historyDir> [mode] [query opts] — dio/dao split by the
      // FindingID scheme prefix
      val spark = newSession()
      parseArgs(Array("unused", "cooja") ++ args.drop(2)) match {
        case Left(err) => System.err.println(err); sys.exit(2)
        case Right(o) =>
          val all = graft.sources.History.read(spark, args(1),
            intervalOf(o))
          val dioF = all.filter(col("subject").startsWith("dio://"))
          val daoF = all.filter(col("subject").startsWith("dao://"))
          cis(spark, dioF, daoF,
            o.copy(from = None, to = None, durationSec = None))
      }
      spark.stop()
    case _ =>
      val opts = parseArgs(args) match {
        case Left(err) => System.err.println(err); sys.exit(2)
        case Right(o) => o
      }
      val spark = newSession()
      val (dioF0, daoF0) = ContikiNg.readLogs(spark, opts.path, opts.head)
      cis(spark, dioF0, daoF0, opts)
      spark.stop()
  }

  /** Runs `body` with `frames` persisted, so a body that reads a frame
    * several times parses or filters it once, and releases them after.
    * [[ContikiNg.readLogs]] frames are lazy; the cache belongs here, with
    * the caller that reuses them. */
  private def persisting[T](frames: DataFrame*)(body: => T): T = {
    frames.foreach(_.persist())
    try body
    finally frames.foreach(_.unpersist())
  }

  /** The reference's derived start order (CLI.hs:134-136): DAO subjects
    * sorted by route_num descending (sortDAONodes, CLI.hs:388-389 —
    * roots, which carry the route table, first; subjects lacking a
    * route_num last), then DIO subjects. The reference breaks ties by
    * reversed load order; a distributed engine has no load order, so
    * ties break by subject ascending (deterministic). BFS results don't
    * depend on start order — this is the parity-pinned list for
    * debugging/output purposes. */
  def sortedStarts(dioF: DataFrame, daoF: DataFrame): Seq[String] = {
    val dao = daoF
      .select(col("subject"),
        col("node_attrs")("dao_route_num").cast("long").as("rn"))
      .groupBy(col("subject")).agg(max(col("rn")).as("rn"))
      .orderBy(desc_nulls_last("rn"), asc("subject"))
      .collect().map(_.getString(0)).toSeq
    val dio = dioF.select(col("subject")).distinct().orderBy(col("subject"))
      .collect().map(_.getString(0)).toSeq
    dao ++ dio
  }

  private[graft] def cis(spark: SparkSession, dioF0: DataFrame,
      daoF0: DataFrame, opts: Opts): Unit = {
    // P5 pre-insert filter (CLI.hs:236-247,366-383); keep:N is the
    // PolicyKeepN retention (the library generalization between the
    // reference's policyOverwrite and policyAppend) reachable from the
    // CLI grammar: each subject keeps its latest N findings.
    def preFilter(df: DataFrame): DataFrame = opts.filter match {
      case "latest" =>
        LinkOps.latestPerKey(df, Seq("subject"), Seq("epoch_ms", "finding_seq"))
      case k if k.startsWith("keep:") =>
        graft.operators.Weave.retainFindings(df,
          graft.operators.PolicyKeepN(k.drop(5).toInt))
      case _ => df
    }
    val dioF = preFilter(dioF0)
    val daoF = preFilter(daoF0)
    persisting(dioF, daoF) {
      val interval = intervalOf(opts)
      // One combined start set for BOTH layer queries (CLI.hs:129-137:
      // starts = sortDAONodes dao_nodes ++ dio_nodes). Kept as a DataFrame
      // semi-join input — never collected to the driver (the loaded node
      // set is unbounded at scale); BFS is set-based so the reference's
      // start ORDER (pinned by [[sortedStarts]]) does not change results.
      val startsDf =
        if (opts.startsFrom.nonEmpty) {
          import spark.implicits._
          opts.startsFrom.toDF("node_id")
        } else daoF.select(col("subject"))
          .union(dioF.select(col("subject"))).distinct()
          .toDF("node_id")
      val dioG = GetSnapshot.ofStarts(spark, dioF, startsDf,
        Query[String](Nil, interval, unifier = Rpl.DioUnifier))
      val daoG = GetSnapshot.ofStarts(spark, daoF, startsDf,
        Query[String](Nil, interval, unifier = Rpl.daoUnifier))
      val combined = Rpl.combineGraphs(dioG, daoG)

      opts.mode match {
        case "summary" =>
          val s = Rpl.dodagSummary(daoG).collect()(0)
          println(s"""{"node_num":${s.getAs[Long]("node_num")},"edge_num":${s.getAs[Long]("edge_num")},"depth":${s.getAs[Long]("depth")},"root":"${s.getAs[String]("root")}","graph_ts":${s.getAs[Long]("graph_ts")},"combined_nodes":${combined.nodes.count()},"combined_links":${combined.links.count()}}""")
        case "nodes" =>
          combined.nodes.orderBy("node_id").select(to_json(struct(col("*"))))
            .collect().foreach(r => println(r.getString(0)))
        case "links" =>
          combined.links.orderBy("source_node", "dest_node")
            .select(to_json(struct(col("*"))))
            .collect().foreach(r => println(r.getString(0)))
        case "graphml" =>
          println(graft.io.GraphMl.write(combined))
        case "unifylog" =>
          // the reference Weaver's per-decision debug lines
          // (Weaver.hs:186-189), one per unordered pair per layer —
          // forensics for "why did these samples become that link"
          Seq("dio" -> (dioF, Rpl.DioUnifier: graft.operators.LinkUnifier),
              "dao" -> (daoF, Rpl.daoUnifier: graft.operators.LinkUnifier))
            .foreach { case (layer, (f, u)) =>
              graft.operators.Weave
                .unificationLog(f.filter(interval.predicate(col("epoch_ms"))),
                  unifier = u)
                .orderBy(col("pair_lo"), col("pair_hi"))
                .select(col("log_line")).collect()
                .foreach(r => println(s"[$layer] ${r.getString(0)}"))
            }
        case other => System.err.println(s"unknown mode: $other"); sys.exit(2)
      }
    }
  }
}
