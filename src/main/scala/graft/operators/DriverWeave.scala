package graft.operators

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import graft.model.{LinkState, SnapshotGraph}

/** The weave of the driver-sized `GetSnapshot` lane: the reference's
  * in-memory Weaver (net-spider/src/NetSpider/Weaver.hs) over retained
  * findings already fetched onto the driver, giving the rows and
  * schemas of the lazy [[Weave]] plans the distributed lane runs.
  *
  * The aggregations and joins of those plans (latest finding per node,
  * boundary anti-join, [[StdUnifier]]'s latest sample per key,
  * negation), the sample explode and the link materialization are
  * driver loops over at most the `graft.util.DriverLane` findings
  * bound. User `Column`s (`subId`, `postMerge`) and the pair key are
  * Spark projections over a local frame: Spark's
  * `ConvertToLocalRelation` folds a projection or filter over a
  * `LocalRelation` on the driver, so they run no job and keep Spark's
  * semantics — the pair key's `least`/`greatest` compare strings by
  * UTF-8 bytes, not by Java's UTF-16 `compareTo`. Output schemas come
  * from analysing the lazy plans over empty local frames, which runs
  * no job either. Node ids are grouped by JVM equality, so the lane
  * hands over only ids of a type `DriverLane.idType` accepts.
  */
private[graft] object DriverWeave {

  /** Rows on the driver, with their schema. */
  final case class Table(rows: Seq[Row], schema: StructType) {
    def frame(spark: SparkSession): DataFrame = local(spark, rows, schema)

    /** This table less the `names` columns. */
    def without(names: Seq[String]): Table = {
      val keep = schema.fieldNames.indices
        .filterNot(i => names.contains(schema(i).name))
      Table(rows.map(r => Row.fromSeq(keep.map(r.get))),
        StructType(keep.map(schema(_))))
    }
  }

  object Table {
    /** `df`'s rows. A projection or filter over a local frame folds, so
      * this runs no job unless `df` aggregates or joins. */
    def apply(df: DataFrame): Table = Table(df.collect().toSeq, df.schema)
  }

  /** The driver-woven node summary: its local `frame`, and each node's
    * latest finding time for negation. Ids are matched through `id`,
    * the lane's canonical form of an id value. */
  final class Nodes private[DriverWeave] (val frame: DataFrame,
      ts: java.util.HashMap[Any, java.lang.Long], id: Any => Any) {

    /** `merged`'s rows, less — with `negation` on — those an end node
      * negates ([[Weave.negateAgainstEnds]]): the end was observed
      * later than the sample, by a node other than the sample's
      * subject. */
    def negate(merged: DataFrame, negation: Boolean): Table = {
      val all = Table(merged)
      if (!negation) return all
      val Seq(lo, hi, sub, ep) = Seq("pair_lo", "pair_hi", "subject",
        "epoch_ms").map(all.schema.fieldIndex)
      def negatedBy(r: Row, end: Int): Boolean =
        !r.isNullAt(end) && !r.isNullAt(ep) && !r.isNullAt(sub) && {
          val e = id(r.get(end))
          val t = ts.get(e)
          t != null && r.getAs[Number](ep).longValue < t &&
            id(r.get(sub)) != e
        }
      all.copy(rows = all.rows.filterNot(r => negatedBy(r, lo) || negatedBy(r, hi)))
    }
  }

  /** The snapshot of the fetched `rows` (the reachable retained
    * findings, of `schema`) plus the visited ids in `bare` that own no
    * finding, of `idType`. */
  def snapshot(spark: SparkSession, rows: Seq[Row], schema: StructType,
      bare: Seq[Any], idType: DataType, id: Any => Any,
      unifier: LinkUnifier): SnapshotGraph = {
    val (nodeSchema, sampleSchema) = schemasOf(spark, schema, idType)
    val Seq(si, ei, fi, ni, li) = Seq("subject", "epoch_ms", "finding_seq",
      "node_attrs", "links").map(schema.fieldIndex)
    val tz = tzOf(schema)
    def links(r: Row): Iterator[Row] =
      if (r.isNullAt(li)) Iterator.empty else r.getSeq[Row](li).iterator
    val link = schema(li).dataType.asInstanceOf[ArrayType].elementType
      .asInstanceOf[StructType]
    val Seq(ti, lsi, lai) = Seq("target", "link_state", "link_attrs")
      .map(link.fieldIndex)

    // Nodes (Weave.snapshotNodes): each subject's latest finding, the
    // bare visited ids, and the targets no visited node owns.
    val latest = new java.util.LinkedHashMap[Any, Row]()
    keepLatest(rows.iterator, r => id(r.get(si)), Seq(ei, fi), latest)
    val nodeId = conform(nodeSchema("node_id").dataType)
    val nodeTs = conform(nodeSchema("epoch_ms").dataType)
    val ts = new java.util.HashMap[Any, java.lang.Long]()
    val nodeRows = Seq.newBuilder[Row]
    latest.forEach { (k, r) =>
      nodeRows += Row(nodeId(k), false, nodeTs(r.get(ei)), r.get(ni), tz(r))
      if (!r.isNullAt(ei)) ts.put(k, r.getAs[Number](ei).longValue)
    }
    bare.foreach(v => nodeRows += Row(nodeId(v), false, null, null, null))
    val bareSet = bare.toSet
    val targets = new java.util.LinkedHashSet[Any]()
    rows.foreach(r => links(r).foreach(l =>
      targets.add(if (l == null) null else id(l.get(ti)))))
    // a null target matches no visited id, as in the anti-join
    targets.forEach { t =>
      if (t == null || !(latest.containsKey(t) || bareSet(t)))
        nodeRows += Row(nodeId(t), true, null, null, null)
    }
    val nodes = new Nodes(local(spark, nodeRows.result(), nodeSchema), ts, id)

    // Link samples (Weave.linkSamples): one per (finding, link position).
    val sampleSeq = conform(sampleSchema("sample_seq").dataType)
    val samples = rows.flatMap(r => links(r).zipWithIndex.map { case (l, pos) =>
      val seq = if (r.isNullAt(fi)) null
        else sampleSeq(r.getAs[Number](fi).longValue * 1000000L + pos)
      if (l == null) Row(r.get(si), null, null, r.get(ei), null, seq, tz(r))
      else Row(r.get(si), l.get(ti), l.get(lsi), r.get(ei), l.get(lai), seq, tz(r))
    })
    val unified = unifier.unifyOnDriver(local(spark, samples, sampleSchema), nodes)
    SnapshotGraph(nodes.frame, linkRows(spark, unified).frame(spark))
  }

  /** [[Weave.linkColumns]] over unified samples: unused samples drop,
    * to_subject ones turn round, bidirectional ones are undirected. */
  private def linkRows(spark: SparkSession, unified: Table): Table = {
    val schema = Weave.linkColumns(local(spark, Nil, unified.schema)).schema
    val u = unified.schema
    val Seq(sub, tgt, st, ep, la) = Seq("subject", "target", "link_state",
      "epoch_ms", "link_attrs").map(u.fieldIndex)
    val tz = tzOf(u)
    val end = conform(schema("source_node").dataType)
    Table(unified.rows.iterator
      .filter(r => !r.isNullAt(st) && r.get(st) != LinkState.Unused)
      .map { r =>
        val back = r.get(st) == LinkState.ToSubject
        Row(end(r.get(if (back) tgt else sub)), end(r.get(if (back) sub else tgt)),
          r.get(st) != LinkState.Bidirectional, r.get(ep), r.get(la), tz(r))
      }.toSeq, schema)
  }

  /** A row's tz, null when `schema` has no tz column
    * (`Findings.ensureTz`). */
  private def tzOf(schema: StructType): Row => Any =
    if (schema.fieldNames.contains("tz")) {
      val i = schema.fieldIndex("tz")
      r => r.get(i)
    } else _ => null

  /** Node-summary and link-sample schemas of a findings `schema` and
    * an id type, from analysing the lazy plans over empty local frames. */
  private def schemasOf(spark: SparkSession, schema: StructType,
      idType: DataType): (StructType, StructType) = {
    val findings = local(spark, Nil, schema)
    (Weave.snapshotNodes(findings, Some(local(spark, Nil,
        StructType(Seq(StructField("node_id", idType)))))).schema,
      Weave.linkSamples(findings).schema)
  }

  /** [[LinkOps.latestPerKey]] over `t`: per `keys`, the row with the
    * greatest `ord` values. Its columns are nullable, as the fields of
    * the aggregation's `max_by` struct are. */
  def latestPerKey(t: Table, keys: Seq[String], ord: Seq[String]): Table = {
    val ki = keys.map(t.schema.fieldIndex)
    val won = new java.util.LinkedHashMap[Any, Row]()
    keepLatest(t.rows.iterator, r => ki.map(r.get), ord.map(t.schema.fieldIndex), won)
    Table(won.values.asScala.toSeq,
      StructType(t.schema.map(_.copy(nullable = true))))
  }

  /** Per key, keeps in `won` the row with the greatest values at `ord`
    * compared in order, nulls lowest (Spark's struct order for
    * `max_by`), the first one seen on a tie. */
  private def keepLatest(rows: Iterator[Row], key: Row => Any,
      ord: Seq[Int], won: java.util.Map[Any, Row]): Unit = {
    def later(a: Row, b: Row): Boolean = ord.iterator
      .map(i => (a.get(i), b.get(i)) match {
        case (null, null) => 0
        case (null, _) => -1
        case (_, null) => 1
        case (x, y) => x.asInstanceOf[Comparable[Any]].compareTo(y)
      }).find(_ != 0).exists(_ > 0)
    rows.foreach { r =>
      val k = key(r)
      val cur = won.get(k)
      if (cur == null || later(r, cur)) won.put(k, r)
    }
  }

  def local(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  /** Values of an integral column widened by a union or coercion
    * (mixed-integral ids) as `t`'s Java type; others pass through. */
  private def conform(t: DataType): Any => Any = {
    def to(f: Number => Any): Any => Any = {
      case n: Number => f(n)
      case v => v
    }
    t match {
      case LongType => to(_.longValue)
      case IntegerType => to(_.intValue)
      case ShortType => to(_.shortValue)
      case ByteType => to(_.byteValue)
      case _ => identity
    }
  }
}
