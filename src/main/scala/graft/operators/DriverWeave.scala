package graft.operators

import scala.jdk.CollectionConverters._
import scala.util.Try
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import graft.model.{LinkState, SnapshotGraph}

/** The weave of the driver-sized `GetSnapshot` lane: the reference's
  * in-memory Weaver (net-spider/src/NetSpider/Weaver.hs) over retained
  * findings already fetched onto the driver, giving the rows and
  * schemas of the lazy [[Weave]] plans the distributed lane runs.
  *
  * The aggregations and joins of those plans (latest finding per node,
  * boundary anti-join), the sample explode and the link materialization
  * are driver loops over at most the `graft.util.DriverLane` findings
  * bound. [[snapshot]] picks the unification's form with one match: the
  * plain [[StdUnifier]] (that class, no `subId`, the default
  * `postMerge`, negation on or off) runs as driver loops too, with
  * Spark's semantics (the pair key is `least`/`greatest`: nulls
  * ignored, strings in UTF-8 byte order), so the weave runs no job.
  * Every other unifier runs its own `unify` over local frames, and its
  * aggregations and joins run jobs.
  *
  * Ids are grouped by JVM equality: as on every driver lane, the caller
  * casts them to `DriverLane.idType` in the fetch projection, and
  * [[local]] gives each integral value its column's type. The output
  * schemas are derived from the findings schema and the id type as
  * Spark's analysis types those plans, nested nullability included,
  * with no plan analysed per query (analysing them cost a warm
  * snapshot query about 26 ms at its median). A change to the columns
  * of [[Weave.snapshotNodes]], [[Weave.linkSamples]] or
  * [[Weave.snapshotLinks]] is made here too; a QuerySpec case pins the
  * derived schemas to the analysed ones. Findings whose `node_attrs` or
  * `tz` type differs from the canonical one other than in nullability
  * get no derived schemas ([[schemas]]) and take the distributed lane.
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

  /** The node-summary and link-sample schemas of findings of `schema`
    * with ids of `idType`, or None when a column's type is not one the
    * driver lane derives (see [[common]]). */
  def schemas(schema: StructType, idType: DataType): Option[(StructType, StructType)] =
    Try((nodeSchema(schema, idType), sampleSchema(schema))).toOption

  /** The snapshot of the fetched `rows` (the reachable retained
    * findings, of `schema`, their ids of one JVM type) plus the visited
    * ids in `bare` that own no finding, given the node-summary and
    * link-sample schemas [[schemas]] derives for them. */
  def snapshot(spark: SparkSession, rows: Seq[Row], schema: StructType,
      bare: Seq[Any], schemas: (StructType, StructType),
      unifier: LinkUnifier): SnapshotGraph = {
    val (nodeSchema, sampleSchema) = schemas
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
    keepLatest(rows.iterator, _.get(si), Seq(ei, fi), latest)
    val ts = new java.util.HashMap[Any, java.lang.Long]()
    val nodeRows = Seq.newBuilder[Row]
    latest.forEach { (k, r) =>
      nodeRows += Row(k, false, r.get(ei), r.get(ni), tz(r))
      if (!r.isNullAt(ei)) ts.put(k, r.getAs[Number](ei).longValue)
    }
    bare.foreach(v => nodeRows += Row(v, false, null, null, null))
    val bareSet = bare.toSet
    val targets = new java.util.LinkedHashSet[Any]()
    rows.foreach(r => links(r).foreach(l =>
      targets.add(if (l == null) null else l.get(ti))))
    // a null target matches no visited id, as in the anti-join
    targets.forEach { t =>
      if (t == null || !(latest.containsKey(t) || bareSet(t)))
        nodeRows += Row(t, true, null, null, null)
    }
    val nodes = local(spark, nodeRows.result(), nodeSchema)

    // Link samples (Weave.linkSamples): one per (finding, link position).
    val samples = Table(rows.flatMap(r => links(r).zipWithIndex.map { case (l, pos) =>
      val seq = if (r.isNullAt(fi)) null
        else r.getAs[Number](fi).longValue * 1000000L + pos
      if (l == null) Row(r.get(si), null, null, r.get(ei), null, seq, tz(r))
      else Row(r.get(si), l.get(ti), l.get(lsi), r.get(ei), l.get(lai), seq, tz(r))
    }), sampleSchema)
    val unified = unifier match {
      case u: StdUnifier if u.getClass == classOf[StdUnifier] &&
          u.subId.isEmpty && (u.postMerge eq StdUnifier.NoPostMerge) =>
        val keys = Seq("pair_lo", "pair_hi")
        val winners = latestPerKey(withPairKey(samples), keys,
          Seq("epoch_ms", "sample_seq"))
        (if (u.negation) negate(winners, ts) else winners).without(keys)
      case u => Table(u.unify(samples.frame(spark), nodes))
    }
    SnapshotGraph(nodes, linkRows(unified).frame(spark))
  }

  /** `merged` less the rows an end node negates
    * ([[Weave.negateAgainstEnds]]): the end, whose latest finding time
    * `ts` holds, was observed later than the sample, by a node other
    * than the sample's subject. */
  private def negate(merged: Table, ts: java.util.Map[Any, java.lang.Long]): Table = {
    val Seq(lo, hi, sub, ep) = Seq("pair_lo", "pair_hi", "subject",
      "epoch_ms").map(merged.schema.fieldIndex)
    def negatedBy(r: Row, end: Int): Boolean =
      !r.isNullAt(end) && !r.isNullAt(ep) && !r.isNullAt(sub) && {
        val t = ts.get(r.get(end))
        t != null && r.getAs[Number](ep).longValue < t && r.get(sub) != r.get(end)
      }
    merged.copy(rows = merged.rows.filterNot(r => negatedBy(r, lo) || negatedBy(r, hi)))
  }

  /** [[Weave.snapshotLinks]] over unified samples: unused samples drop,
    * to_subject ones turn round, bidirectional ones are undirected. */
  private def linkRows(unified: Table): Table = {
    val u = unified.schema
    val Seq(sub, tgt, st, ep, la) = Seq("subject", "target", "link_state",
      "epoch_ms", "link_attrs").map(u.fieldIndex)
    val tz = tzOf(u)
    Table(unified.rows.iterator
      .filter(r => !r.isNullAt(st) && r.get(st) != LinkState.Unused)
      .map { r =>
        val back = r.get(st) == LinkState.ToSubject
        Row(r.get(if (back) tgt else sub), r.get(if (back) sub else tgt),
          r.get(st) != LinkState.Bidirectional, r.get(ep), r.get(la), tz(r))
      }.toSeq, linkSchema(u))
  }

  /** A row's tz, null when `schema` has no tz column
    * (`Findings.ensureTz`). */
  private def tzOf(schema: StructType): Row => Any =
    if (schema.fieldNames.contains("tz")) {
      val i = schema.fieldIndex("tz")
      r => r.get(i)
    } else _ => null

  private val tzType = DataType.fromDDL(graft.model.Findings.tzType)

  /** The tz column of `schema`, or the null one `Findings.ensureTz`
    * adds. */
  private def tzField(schema: StructType): StructField =
    if (schema.fieldNames.contains("tz")) schema("tz")
    else StructField("tz", tzType)

  /** The type a union, `least` or `when` gives columns of types `a` and
    * `b`, for the types this lane derives: equal ones, ones that differ
    * only in nested nullability (merged as a union merges them) and
    * integral ones (the wider). Throws on any other pair. */
  private def common(a: DataType, b: DataType): DataType = {
    val integral = Seq(ByteType, ShortType, IntegerType, LongType)
    if (a == b) a
    else if (integral.contains(a) && integral.contains(b))
      integral(integral.indexOf(a).max(integral.indexOf(b)))
    else org.apache.spark.sql.graftshim.Shim.unionLikeMerge(a, b).getOrElse(
      throw new IllegalArgumentException(s"no common type of $a and $b"))
  }

  /** [[Weave.snapshotNodes]]' schema over findings of `schema`, with
    * extra visited ids of `idType`: the union of the visited nodes
    * (left-joined to their latest finding) and the boundary nodes
    * (typed nulls). */
  private[graft] def nodeSchema(schema: StructType, idType: DataType): StructType =
    StructType(Seq(
      StructField("node_id", common(common(schema("subject").dataType, idType),
        targetField(schema).dataType)),
      StructField("is_on_boundary", BooleanType, nullable = false),
      StructField("epoch_ms", common(schema("epoch_ms").dataType, LongType)),
      StructField("node_attrs", common(schema("node_attrs").dataType,
        MapType(StringType, StringType))),
      StructField("tz", common(tzField(schema).dataType, tzType))))

  /** A link struct's field of findings of `schema`, as `l.<name>` gives
    * it over the exploded links. */
  private def linkField(schema: StructType, name: String): StructField = {
    val ArrayType(link: StructType, containsNull) = schema("links").dataType
    val f = link(name)
    f.copy(nullable = containsNull || f.nullable)
  }
  private def targetField(schema: StructType) = linkField(schema, "target")

  /** [[Weave.linkSamples]]' schema over findings of `schema`. */
  private[graft] def sampleSchema(schema: StructType): StructType = {
    val seq = schema("finding_seq")
    StructType(Seq(schema("subject"), targetField(schema),
      linkField(schema, "link_state"), schema("epoch_ms"),
      linkField(schema, "link_attrs"),
      StructField("sample_seq", common(seq.dataType, IntegerType), seq.nullable),
      tzField(schema)))
  }

  /** [[Weave.snapshotLinks]]' schema over unified samples of schema `u`. */
  private[graft] def linkSchema(u: StructType): StructType = {
    val (sub, tgt) = (u("subject"), u("target"))
    val end = common(tgt.dataType, sub.dataType)
    StructType(Seq(
      StructField("source_node", end, tgt.nullable || sub.nullable),
      StructField("dest_node", end, tgt.nullable || sub.nullable),
      StructField("is_directed", BooleanType, u("link_state").nullable),
      u("epoch_ms"), u("link_attrs"),
      tzField(u)))
  }

  /** `samples` plus [[StdUnifier]]'s swap-insensitive pair key,
    * `pair_lo`/`pair_hi`, as Spark's `least`/`greatest` give it: a null
    * end is ignored (two give null), ids compare in `DriverLane.order`
    * of the key type. */
  def withPairKey(samples: Table): Table = {
    val s = samples.schema
    val Seq(si, ti) = Seq("subject", "target").map(s.fieldIndex)
    val t = common(s(si).dataType, s(ti).dataType)
    val ord = graft.util.DriverLane.order(t)
    val nullable = s(si).nullable && s(ti).nullable
    Table(samples.rows.map { r =>
      val (a, b) = (r.get(si), r.get(ti))
      val (lo, hi) =
        if (a == null || b == null) { val v = if (a == null) b else a; (v, v) }
        else if (ord.lteq(a, b)) (a, b)
        else (b, a)
      Row.fromSeq(r.toSeq :+ lo :+ hi)
    }, StructType(s.fields ++ Seq(StructField("pair_lo", t, nullable),
      StructField("pair_hi", t, nullable))))
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

  /** A local frame of `rows` typed by `schema`, each integral value
    * converted to its column's type: mixed integral ids are BIGINT from
    * the fetch on, but the lazy plans keep INT links of INT subjects and
    * targets, and widen or narrow `epoch_ms` and `sample_seq`. */
  def local(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame = {
    val to: Array[Option[Number => Any]] = schema.fields.map(_.dataType match {
      case LongType => Some(_.longValue)
      case IntegerType => Some(_.intValue)
      case ShortType => Some(_.shortValue)
      case ByteType => Some(_.byteValue)
      case _ => None
    })
    val conformed = rows.map(r => Row.fromSeq(to.indices.map(i =>
      (r.get(i), to(i)) match {
        case (n: Number, Some(f)) => f(n)
        case (v, _) => v
      })))
    spark.createDataFrame(conformed.asJava, schema)
  }
}
