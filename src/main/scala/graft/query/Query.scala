package graft.query

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StructType}
import graft.model.SnapshotGraph
import graft.operators._
import graft.time.Interval
import graft.util.DriverLane

/** The query object (net-spider/src/NetSpider/Query.hs:47-80): start
  * nodes + time interval + retention policy + unifier, plus a maxHops
  * bound the reference left as a TODO (Spider.hs:254).
  *
  * Generic over the node-id type `N`, like the reference's `Query n na la`
  * (tested there with Int ids, test/ServerTest/Attributes.hs:105-106):
  * every downstream operator (Weave/Bfs/LinkOps) is schema-agnostic over
  * the id column's type, so any orderable Spark-encodable id works —
  * STRING, BIGINT, INT, …  An `Encoder[N]` is required where the start
  * list becomes a DataFrame (GetSnapshot). */
case class Query[N](
    startsFrom: Seq[N],
    interval: Interval = Interval.whole,
    policy: FoundNodePolicy = PolicyOverwrite,
    unifier: LinkUnifier = new StdUnifier(),
    maxHops: Option[Int] = None)

/** getSnapshot (Spider.hs:175-185) re-expressed for Spark: interval
  * filter (pushes to the scan) → policy retention → BFS restriction →
  * weave.
  *
  * Ordering matters and matches the reference (risk §7.4-3): the interval
  * filter runs BEFORE policy retention (a node's "latest" finding is the
  * latest WITHIN the interval, ServerTest/Snapshot.hs:228-265), and
  * retention runs before link explode.
  *
  * BFS follows subject→target of the retained findings (the traversal
  * direction of the reference's `out("finds")` steps,
  * Spider/Internal/Graph.hs:177-178). Nodes reached but owning no
  * in-interval findings are still "visited" (the reference's
  * markAsVisited for bare `vn` rows, Spider.hs:194-226) — they appear
  * with null timestamp, NOT as boundary nodes. With maxHops set, nodes
  * just past the horizon stay unvisited and therefore surface as
  * boundary nodes.
  *
  * Two lanes, one result:
  *  - driver-sized: when the retained frame and the start set fit the
  *    [[graft.util.DriverLane]] findings bound (one bounded
  *    `limit(n+1).collect()` fetch each) and the start, subject and
  *    target ids have a driver-lane id type (`DriverLane.idType`: not
  *    floating or binary), the retained rows are fetched once, their
  *    ids cast to that type in the fetch projection as on every driver
  *    lane, the BFS runs on the driver (`Bfs.localHops`), and
  *    [[graft.operators.DriverWeave]] weaves the fetched rows in plain
  *    Scala. With the plain [[graft.operators.StdUnifier]] (no `subId`,
  *    the default `postMerge`) the fetch is the query's only job; any
  *    other unifier runs its own `unify` over local frames and collects.
  *    The returned graph is backed by local frames: reading it (GraphML,
  *    JSON) launches no job, and nothing stays persisted.
  *  - distributed: past the bound (or with ids of no driver-lane type)
  *    the retained frame is cut lazily (`Checkpoints.cut`),
  *    `Bfs.reachable` restricts it, and the lazy
  *    [[graft.operators.Weave.snapshot]] weaves it — the only path for
  *    histories too big to fetch, and the reference the driver weave
  *    must match row for row. The cut's blocks are stored on first use,
  *    registered with no cache, and freed with the returned graph.
  */
object GetSnapshot {

  def apply[N: org.apache.spark.sql.Encoder](
      spark: SparkSession, findings: DataFrame, query: Query[N]): SnapshotGraph =
    ofStarts(spark, findings,
      spark.createDataset(query.startsFrom).toDF("node_id"), query)

  /** Same pipeline with the start set as a DataFrame (one id column) —
    * the scale path when starts are derived from data rather than a
    * driver-side list (e.g. "all loaded subjects"): on the distributed
    * lane the start set never materializes on the driver, it stays a
    * semi-join input. `query.startsFrom` is ignored. */
  def ofStarts(spark: SparkSession, findings: DataFrame,
      startsDf: DataFrame, query: Query[_]): SnapshotGraph = {
    val filtered =
      if (query.interval.isWhole) findings
      else findings.filter(query.interval.predicate(col("epoch_ms")))
    val retained = Weave.retainFindings(filtered, query.policy)
    val starts = startsDf.toDF("node_id")
    driverSized(spark, retained, starts, query)
      .getOrElse(distributed(retained, starts, query))
  }

  /** The driver-sized lane: None when the retained frame or the start
    * set exceeds the `DriverLane.findings` bound, when the ids have no
    * driver-lane id type (`DriverLane.idType`), or when the findings
    * have column types the driver weave derives no schema for
    * (`DriverWeave.schemas`). Otherwise the
    * distributed lane's BFS restriction, run over the fetched rows, and
    * the driver weave of the reachable ones. */
  private def driverSized(spark: SparkSession, retained: DataFrame,
      startsDf: DataFrame, query: Query[_]): Option[SnapshotGraph] = {
    val schema = retained.schema
    val si = schema.fieldIndex("subject")
    val li = schema.fieldIndex("links")
    val link = schema(li).dataType.asInstanceOf[ArrayType]
      .elementType.asInstanceOf[StructType]
    val ti = link.fieldIndex("target")
    val types = Seq(schema(si).dataType, link(ti).dataType,
      startsDf.schema(0).dataType)
    // the BFS sets and the driver weave group ids by JVM equality, and
    // the weave types its rows with the schemas it derives
    val idType = DriverLane.idType(types: _*)
    val schemas = idType.flatMap(DriverWeave.schemas(schema, _))
    if (schemas.isEmpty) return None
    // ids of mixed types are cast to one in the fetch projection, as on
    // every driver lane; `withField` keeps a null link null
    val (retainedC, startsC) =
      if (types.distinct.size == 1) (retained, startsDf)
      else {
        val t = idType.get
        (retained.withColumn("subject", col("subject").cast(t))
          .withColumn("links", transform(col("links"),
            l => l.withField("target", l("target").cast(t)))),
          startsDf.select(col("node_id").cast(t)))
      }
    // Starts first: a driver-side list is a local relation, so this
    // fetch runs no job.
    val bound = DriverLane.findings
    val fetched = for (s <- DriverLane.fetch(startsC, bound);
        r <- DriverLane.fetch(retainedC, bound)) yield (s, r)
    if (fetched.isEmpty) return None
    val (startRows, rows) = fetched.get

    def targets(r: Row): Iterator[Any] =
      if (r.isNullAt(li)) Iterator.empty
      else r.getSeq[Row](li).iterator.map(l => if (l == null) null else l.get(ti))
    // Known nodes: anything present as subject or target. A start that
    // is absent contributes nothing (missing start ⇒ empty graph,
    // SnapshotTestCase.hs:811-821).
    val known = new java.util.HashSet[Any]()
    rows.foreach { r => known.add(r.get(si)); targets(r).foreach(known.add) }
    val starts = startRows.iterator.map(_.get(0))
      .filter(s => s != null && known.contains(s)).toSeq
    val visited = Bfs.localHops(
      rows.iterator.flatMap { r => val s = r.get(si); targets(r).map(s -> _) },
      starts, query.maxHops).keySet
    val reachable = rows.filter(r => !r.isNullAt(si) && visited.contains(r.get(si)))
    val withFindings = reachable.iterator.map(_.get(si)).toSet
    // Visited nodes without in-interval findings still need a row.
    val bare = visited.asScala.iterator.filterNot(withFindings).toSeq
    Some(DriverWeave.snapshot(spark, reachable.toSeq, schema, bare,
      schemas.get, query.unifier))
  }

  private def distributed(retained0: DataFrame, starts0: DataFrame,
      query: Query[_]): SnapshotGraph = {
    // cut: the retained frame feeds FOUR consumers (node summary, BFS
    // edge list, reachable findings, bare-visited) — without it each
    // consumer re-runs the findings scan + retention aggregation. A lazy
    // cut stores the blocks on first use and registers no cache entry,
    // so no later query over the same plan reads them, and they are
    // freed with the returned (lazy) SnapshotGraph.
    val retained = graft.util.Checkpoints.cut(retained0, eager = false)

    val starts = starts0.distinct()

    // Known nodes: anything present in the graph as subject or target.
    // A start node that is absent contributes nothing (missing start ⇒
    // empty graph, SnapshotTestCase.hs:811-821).
    val subjects = retained.select(col("subject").as("node_id")).distinct()
    val targets = retained
      .select(explode(col("links.target")).as("node_id")).distinct()
    val known = subjects.union(targets).distinct()

    val edges = retained
      .select(col("subject").as("src"),
        explode(col("links.target")).as("dst"))
    val visited = Bfs.reachable(edges,
        starts.join(known, Seq("node_id"), "left_semi"), query.maxHops)
      .select("node_id")

    val reachableFindings = retained
      .join(visited.withColumnRenamed("node_id", "subject"),
        Seq("subject"), "left_semi")
    // Visited nodes without in-interval findings still need a row.
    val bare = visited.join(
      reachableFindings.select(col("subject").as("node_id")).distinct(),
      Seq("node_id"), "left_anti")
    Weave.snapshot(reachableFindings, PolicyAppend /* already retained */,
      query.unifier, extraVisited = Some(bare))
  }
}
