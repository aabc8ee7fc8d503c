package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.model.{FoundNode, Findings, SnapshotGraph}
import graft.operators.{FoundNodePolicy, LinkUnifier, PolicyOverwrite, StdUnifier, Weave}
import graft.query.{GetSnapshot, Query}
import graft.sources.History
import graft.time.Interval

/** User-facing facades matching the reference's two engines, so a
  * net-spider user can switch 1:1:
  *
  *  - [[Weaver]] — the pure in-memory engine
  *    (net-spider/src/NetSpider/Weaver.hs): accumulate findings, then
  *    compute a whole-graph snapshot (no traversal, no interval).
  *  - [[Spider]] — the store-backed engine
  *    (net-spider/src/NetSpider/Spider.hs): findings live in the
  *    date-partitioned history table; queries traverse from start nodes
  *    within a time interval.
  */
class Weaver(spark: SparkSession,
    policy: FoundNodePolicy = PolicyOverwrite,
    spillThreshold: Int = 100000) {
  require(spillThreshold > 0, "spillThreshold must be positive")
  private val buf = scala.collection.mutable.ArrayBuffer.empty[FoundNode]
  private val visited = scala.collection.mutable.LinkedHashSet.empty[String]
  private var nextSeq = 0L
  private var spillDir: Option[String] = None

  /** Weaver.hs addFoundNode. Assigns insertion order as findingSeq so
    * equal-timestamp ties break like the reference's insert order.
    *
    * The driver buffer is BOUNDED: past `spillThreshold` findings the
    * buffer flushes to a temp parquet findings table and clears — the
    * reference's in-memory Weaver carries a documented "does not scale"
    * caveat (README.md:316-321); here a large stream degrades to the
    * history-table path instead of silently OOMing the driver. */
  def addFoundNode(fn: FoundNode): this.type = {
    buf += fn.copy(findingSeq = nextSeq)
    nextSeq += 1
    if (buf.size >= spillThreshold) spill()
    this
  }

  private def spill(): Unit = {
    val dir = spillDir.getOrElse {
      val d = java.nio.file.Files.createTempDirectory("graft_weaver_spill_")
        .toString
      spillDir = Some(d)
      Weaver.registerSpillCleanup(d)
      d
    }
    Findings.fromSeq(spark, buf.toSeq)
      .write.mode(org.apache.spark.sql.SaveMode.Append).parquet(dir)
    buf.clear()
  }

  /** Release the spill directory (if any) and reset the weaver. Spill
    * dirs are also removed by a JVM shutdown hook, but a long-lived
    * driver cycling many Weavers should close each one. */
  def close(): Unit = {
    spillDir.foreach(Weaver.deleteRecursively)
    spillDir = None
    buf.clear()
    visited.clear()
    nextSeq = 0L
  }

  /** Weaver.hs markAsVisited. */
  def markAsVisited(nodeId: String): this.type = { visited += nodeId; this }

  /** Weaver.hs getSnapshot. */
  def getSnapshot(unifier: LinkUnifier = new StdUnifier()): SnapshotGraph = {
    import spark.implicits._
    val extra = if (visited.isEmpty) None
      else Some(visited.toSeq.toDF("node_id"))
    val inMem = Findings.fromSeq(spark, buf.toSeq)
    val findings = spillDir match {
      case Some(d) => History.readParquet(spark, Seq(d)).unionByName(inMem)
      case None => inMem
    }
    Weave.snapshot(findings, policy, unifier, extra)
  }
}

object Weaver {
  private val spillDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private lazy val hookInstalled: Unit =
    sys.addShutdownHook {
      spillDirs.forEach(d => deleteRecursively(d))
    }

  private[graft] def registerSpillCleanup(dir: String): Unit = {
    hookInstalled
    spillDirs.add(dir)
  }

  private[graft] def deleteRecursively(dir: String): Unit = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(f => try Files.delete(f) catch { case _: Throwable => () })
    }
    spillDirs.remove(dir)
  }
}

/** Generic over the node-id type `N` like the reference's `Spider n na fla`
  * (Int-id precedent: net-spider/test/ServerTest/Attributes.hs:105-106).
  * `Spider(spark, dir)` via the companion keeps the common STRING-id case
  * inference-friendly; `new Spider[Long](...)` (with an Encoder in scope)
  * runs the identical pipeline over BIGINT ids. */
class Spider[N](spark: SparkSession, historyDir: String)(
    implicit enc: org.apache.spark.sql.Encoder[N]) {

  /** Spider.hs addFoundNode — a blind append (no get-or-make round
    * trips; identity resolves at read). The Seq overload speaks the
    * String-id [[FoundNode]] model; other id types append canonical
    * findings DataFrames directly. */
  def addFoundNodes(fns: Seq[FoundNode])(implicit ev: N =:= String): Unit =
    addFoundNodes(Findings.fromSeq(spark, fns))

  def addFoundNodes(findings: DataFrame): Unit =
    if (History.isBucketedTable(spark, historyDir))
      History.appendBucketed(findings, historyDir)
    else History.append(findings, historyDir)

  /** Spider.hs clearAll. */
  def clearAll(): Unit =
    if (History.isBucketedTable(spark, historyDir))
      spark.sql(s"DROP TABLE IF EXISTS $historyDir")
    else History.clear(spark, historyDir)

  /** The interval-filtered findings view this spider queries over —
    * LAYOUT-AWARE: when `historyDir` names a subject-bucketed catalog
    * table ([[History.appendBucketed]]), the bucketed scan's hash
    * partitioning on `subject` feeds policy retention with NO Exchange
    * — the default query path uses the scale layout automatically, the
    * way the reference's `byNodeId` JanusGraph composite index
    * (janusgraph-conf/net-spider-index.groovy:18-34) is ITS default
    * read path. Plain date-partitioned and z-ordered dirs read via
    * [[History.read]] (partition / row-group pruning respectively). */
  def readFindings(interval: Interval): DataFrame =
    if (History.isBucketedTable(spark, historyDir))
      History.readBucketed(spark, historyDir, interval)
    else History.read(spark, historyDir, interval)

  /** Spider.hs getSnapshot: interval filter → policy retention → BFS
    * from startsFrom → weave. */
  def getSnapshot(query: Query[N]): SnapshotGraph =
    GetSnapshot(spark, readFindings(query.interval),
      // interval already applied by the pruned read
      query.copy(interval = Interval.whole))

  def getSnapshotSimple(startsFrom: Seq[N]): SnapshotGraph =
    getSnapshot(Query(startsFrom))
}

object Spider {
  /** The common STRING-node-id spider (the reference CLI's shape). */
  def apply(spark: SparkSession, historyDir: String): Spider[String] =
    new Spider[String](spark, historyDir)(
      org.apache.spark.sql.Encoders.STRING)
}
