package graft.io

import org.apache.spark.sql.Row
import graft.model.SnapshotGraph
import graft.util.DriverLane.strings

/** GraphML sink (the reference's NetSpider.GraphML.Writer,
  * net-spider/src/NetSpider/GraphML/Writer.hs:199-366): key-table
  * discovery with per-key type inference, XML escaping, meta-attributes
  * `@timestamp`/`@timestamp_str`/`@is_on_boundary`, per-edge `directed`.
  *
  * Snapshot graphs are small relative to the findings table (they are the
  * distilled network state), so [[write]] collects to the driver — the
  * same stance as the reference. For snapshots too big to collect,
  * [[writeDistributed]] renders the SAME GraphML document as part files:
  * header (key table) + range-sorted per-partition node/edge fragments +
  * footer, concatenating to a byte-identical document
  * (assembled by [[assembleDistributed]], or `cat` in part order).
  */
object GraphMl {

  private[io] def esc(s: String): String = s.flatMap {
    case '&' => "&amp;"
    case '"' => "&quot;"
    case '<' => "&lt;"
    case '>' => "&gt;"
    case c => c.toString
  }

  /** Throws an IllegalArgumentException naming the first of `cols` (name
    * and index) that is null in `r`: node ids and link endpoints are the
    * document's element ids. */
  private[io] def requireIds(r: Row, cols: (String, Int)*): Unit =
    cols.find(c => r.isNullAt(c._2)).foreach { case (name, _) =>
      throw new IllegalArgumentException(s"$name is null (" +
        cols.map { case (n, i) => s"$n=${r.get(i)}" }.mkString(", ") +
        "): a node id or link endpoint must be set to be written")
    }

  /** [[requireIds]] over `df`: one job reading a row with a null id. */
  private[io] def requireIds(df: org.apache.spark.sql.DataFrame, cols: String*): Unit =
    df.select(cols.map(df(_)): _*).filter(cols.map(df(_).isNull).reduce(_ || _))
      .limit(1).collect().foreach(requireIds(_, cols.zipWithIndex: _*))

  private val tsFmt =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS")

  /** `@timestamp_str` (showTimestamp, Timestamp.hs:132-150): local time
    * rendered IN the stored zone when a tz rides along — suffix is the
    * zone name when present ("Z" for exactly UTC), else the ±HH:MM
    * offset; tz-less timestamps render as bare UTC local time. */
  private def tsStr(ms: Long, tz: Option[(Int, Boolean, String)]): String = {
    val offsetMin = tz.map(_._1).getOrElse(0)
    val local = java.time.LocalDateTime.ofInstant(
      java.time.Instant.ofEpochMilli(ms),
      java.time.ZoneOffset.ofTotalSeconds(offsetMin * 60)).format(tsFmt)
    tz match {
      case None => local
      case Some((off, summer, name)) =>
        val suffix =
          if (name.isEmpty) {
            val a = math.abs(off)
            f"${if (off < 0) "-" else "+"}%s${a / 60}%02d:${a % 60}%02d"
          } else if (off == 0 && !summer && name == "UTC") "Z"
          else name
        local + suffix
    }
  }

  private def tzOf(r: Row, i: Int): Option[(Int, Boolean, String)] =
    if (i < 0 || r.isNullAt(i)) None
    else {
      val tz = r.getStruct(i)
      Some((tz.getInt(0), tz.getBoolean(1), tz.getString(2)))
    }

  /** GraphML attr.type for one attribute value (the reference gets types
    * from its AttrValue sum, GraphML/Attribute.hs:29-35; the generic map
    * path must infer). A key's final type is the WEAKEST of its values'
    * types (long &lt; double &lt; boolean &lt; string ranks below). */
  private[io] def valueType(v: String): String =
    if (v.nonEmpty && v.forall(c => c.isDigit || c == '-') &&
      scala.util.Try(v.toLong).isSuccess) "long"
    else if (scala.util.Try(v.toDouble).isSuccess) "double"
    else if (v == "true" || v == "false") "boolean"
    else "string"

  /** long/double/boolean if EVERY value agrees, else string — same
    * lattice driver-side and distributed. */
  private[io] def combineTypes(types: Iterable[String]): String =
    if (types.isEmpty) "string"
    else if (types.forall(_ == "long")) "long"
    else if (types.forall(t => t == "long" || t == "double")) "double"
    else if (types.forall(_ == "boolean")) "boolean"
    else "string"

  /** The document's key table: ids are d0.. in definition order — node
    * meta keys, node tz keys (when any node carries tz), node user keys
    * (sorted), then the edge equivalents (Writer.hs:199-246). */
  private case class KeyTable(
      keyDefs: Seq[(String, String, String, String)],
      nTs: String, nTsStr: String, nBound: String,
      nTzKeys: Option[(String, String, String)],
      nUser: Map[String, String],
      eTs: String, eTsStr: String,
      eTzKeys: Option[(String, String, String)],
      eUser: Map[String, String])

  private def buildKeyTable(nodeHasTz: Boolean, linkHasTz: Boolean,
      nodeKeyTypes: Seq[(String, String)],
      linkKeyTypes: Seq[(String, String)]): KeyTable = {
    val keyDefs = scala.collection.mutable.ArrayBuffer.empty[(String, String, String, String)]
    def defKey(domain: String, name: String, tpe: String): String = {
      val id = s"d${keyDefs.size}"
      keyDefs += ((id, domain, name, tpe))
      id
    }
    val nTs = defKey("node", "@timestamp", "long")
    val nTsStr = defKey("node", "@timestamp_str", "string")
    val nBound = defKey("node", "@is_on_boundary", "boolean")
    val nTzKeys = if (nodeHasTz) Some((
      defKey("node", "@tz_offset_min", "int"),
      defKey("node", "@tz_summer_only", "boolean"),
      defKey("node", "@tz_name", "string"))) else None
    val nUser = nodeKeyTypes.map { case (k, t) => k -> defKey("node", k, t) }.toMap
    val eTs = defKey("edge", "@timestamp", "long")
    val eTsStr = defKey("edge", "@timestamp_str", "string")
    val eTzKeys = if (linkHasTz) Some((
      defKey("edge", "@tz_offset_min", "int"),
      defKey("edge", "@tz_summer_only", "boolean"),
      defKey("edge", "@tz_name", "string"))) else None
    val eUser = linkKeyTypes.map { case (k, t) => k -> defKey("edge", k, t) }.toMap
    KeyTable(keyDefs.toSeq, nTs, nTsStr, nBound, nTzKeys, nUser,
      eTs, eTsStr, eTzKeys, eUser)
  }

  private[io] def attrsOf(r: Row, i: Int): Map[String, String] =
    if (r.isNullAt(i)) Map.empty
    else r.getMap[String, String](i).toMap

  private def header(kt: KeyTable): String = {
    val sb = new StringBuilder
    sb ++= "<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n"
    sb ++= "<graphml xmlns=\"http://graphml.graphdrawing.org/xmlns\"\n"
    sb ++= " xmlns:xsi=\"http://www.w3.org/2001/XMLSchema-instance\"\n"
    sb ++= " xsi:schemaLocation=\"http://graphml.graphdrawing.org/xmlns http://graphml.graphdrawing.org/xmlns/1.0/graphml.xsd\">\n"
    kt.keyDefs.foreach { case (id, domain, name, tpe) =>
      sb ++= s"""<key id="$id" for="$domain" attr.name="${esc(name)}" attr.type="$tpe"/>\n"""
    }
    sb ++= "<graph edgedefault=\"directed\">\n"
    sb.toString
  }

  private val footer = "</graph>\n</graphml>\n"

  private def tzData(sb: StringBuilder, tz: Option[(Int, Boolean, String)],
      keys: Option[(String, String, String)]): Unit =
    keys.foreach { case (kOff, kSum, kName) =>
      tz.foreach { case (off, summer, name) =>
        sb ++= s"""    <data key="$kOff">$off</data>\n"""
        sb ++= s"""    <data key="$kSum">$summer</data>\n"""
        sb ++= s"""    <data key="$kName">${esc(name)}</data>\n"""
      }
    }

  /** Row layout: node_id, is_on_boundary, epoch_ms, node_attrs[, tz]. */
  private def nodeElement(r: Row, kt: KeyTable, tzIdx: Int): String = {
    val sb = new StringBuilder
    val tz = tzOf(r, tzIdx)
    sb ++= s"""  <node id="${esc(r.getString(0))}">\n"""
    if (!r.isNullAt(2)) {
      sb ++= s"""    <data key="${kt.nTs}">${r.getLong(2)}</data>\n"""
      sb ++= s"""    <data key="${kt.nTsStr}">${tsStr(r.getLong(2), tz)}</data>\n"""
    }
    tzData(sb, tz, kt.nTzKeys)
    attrsOf(r, 3).toSeq.sortBy(_._1).foreach { case (k, v) =>
      sb ++= s"""    <data key="${kt.nUser(k)}">${esc(v)}</data>\n"""
    }
    sb ++= s"""    <data key="${kt.nBound}">${r.getBoolean(1)}</data>\n"""
    sb ++= "  </node>\n"
    sb.toString
  }

  /** Row layout: source, dest, is_directed, epoch_ms, link_attrs[, tz]. */
  private def edgeElement(r: Row, kt: KeyTable, tzIdx: Int): String = {
    val sb = new StringBuilder
    val tz = tzOf(r, tzIdx)
    sb ++= s"""  <edge source="${esc(r.getString(0))}" target="${esc(r.getString(1))}" directed="${r.getBoolean(2)}">\n"""
    sb ++= s"""    <data key="${kt.eTs}">${r.getLong(3)}</data>\n"""
    sb ++= s"""    <data key="${kt.eTsStr}">${tsStr(r.getLong(3), tz)}</data>\n"""
    tzData(sb, tz, kt.eTzKeys)
    attrsOf(r, 4).toSeq.sortBy(_._1).foreach { case (k, v) =>
      sb ++= s"""    <data key="${kt.eUser(k)}">${esc(v)}</data>\n"""
    }
    sb ++= "  </edge>\n"
    sb.toString
  }

  private def withTz(df: org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.functions.lit
    if (df.columns.contains("tz")) df
    else df.withColumn("tz", lit(null).cast(graft.model.Findings.tzType))
  }

  private[io] def selectNodes(graph: SnapshotGraph) = {
    import org.apache.spark.sql.functions.col
    withTz(graph.nodes).select(
      col("node_id"), col("is_on_boundary"), col("epoch_ms"),
      col("node_attrs"), col("tz"))
  }

  private[io] def selectLinks(graph: SnapshotGraph) = {
    import org.apache.spark.sql.functions.col
    withTz(graph.links).select(
      col("source_node"), col("dest_node"), col("is_directed"),
      col("epoch_ms"), col("link_attrs"), col("tz"))
  }

  def write(graph: SnapshotGraph): String = {
    val nodes = selectNodes(graph).collect()
    val links = selectLinks(graph).collect()
    nodes.foreach(requireIds(_, "node_id" -> 0))
    links.foreach(requireIds(_, "source_node" -> 0, "dest_node" -> 1))

    val nodeKeys = nodes.flatMap(attrsOf(_, 3).keys).distinct.sorted.toSeq
    val linkKeys = links.flatMap(attrsOf(_, 4).keys).distinct.sorted.toSeq
    val kt = buildKeyTable(
      nodes.exists(!_.isNullAt(4)), links.exists(!_.isNullAt(5)),
      nodeKeys.map(k => k ->
        combineTypes(nodes.flatMap(attrsOf(_, 3).get(k)).map(valueType))),
      linkKeys.map(k => k ->
        combineTypes(links.flatMap(attrsOf(_, 4).get(k)).map(valueType))))

    // Spark's string order, the one its range sort applies in
    // writeDistributed, keeps `write` byte-identical to
    // `assembleDistributed`
    val sb = new StringBuilder
    sb ++= header(kt)
    nodes.sortBy(_.getString(0))(strings)
      .foreach(r => sb ++= nodeElement(r, kt, 4))
    inLinkOrder(links.sortBy(r => (r.getString(0), r.getString(1)))(
        Ordering.Tuple2(strings, strings)).iterator, kt)
      .foreach(sb ++= _)
    sb ++= footer
    sb.toString
  }

  /** The `<edge>` elements of `links`, which come sorted by (source,
    * dest): each element rendered once, and each run of parallel links
    * (equal source and dest) sorted by its rendered text, so the order
    * is total and does not depend on how the links were collected. */
  private def inLinkOrder(links: Iterator[Row], kt: KeyTable): Iterator[String] = {
    val it = links.buffered
    Iterator.continually(it).takeWhile(_.hasNext).flatMap { _ =>
      val (s, d) = (it.head.getString(0), it.head.getString(1))
      val run = scala.collection.mutable.ArrayBuffer.empty[String]
      while (it.hasNext && it.head.getString(0) == s &&
          it.head.getString(1) == d)
        run += edgeElement(it.next(), kt, 5)
      run.sorted(strings)
    }
  }

  /** Distributed GraphML: the SAME document as [[write]], emitted as
    * part files that concatenate (lexicographic path order) into one
    * valid GraphML doc:
    *
    *   00_header/part-*  — xml decl + key table + &lt;graph&gt;
    *   01_nodes/part-*   — range-sorted node fragments
    *   02_edges/part-*   — range-sorted edge fragments
    *   03_footer/part-*  — &lt;/graph&gt;&lt;/graphml&gt;
    *
    * Key-table discovery (attr keys, type inference, tz presence) runs
    * as distributed aggregations — only the per-key type summary (bounded
    * by the attribute vocabulary, not the data) reaches the driver.
    * Fragments render per-partition via the same element renderers as
    * the driver path. */
  def writeDistributed(graph: SnapshotGraph, outDir: String): Unit = {
    import org.apache.spark.sql.functions._
    val spark = graph.nodes.sparkSession
    import spark.implicits._

    val nodes = selectNodes(graph)
    val links = selectLinks(graph)
    requireIds(nodes, "node_id")
    requireIds(links, "source_node", "dest_node")

    def keyTypes(df: org.apache.spark.sql.DataFrame, attrsCol: String)
        : Seq[(String, String)] =
      df.select(explode(col(attrsCol)).as(Seq("k", "v")))
        .as[(String, String)]
        .map { case (k, v) => (k, valueType(v)) }
        .groupByKey(_._1)
        .mapGroups((k, it) => (k, combineTypes(it.map(_._2).toSeq)))
        .collect().sortBy(_._1).toSeq

    def hasTz(df: org.apache.spark.sql.DataFrame): Boolean =
      !df.filter(col("tz").isNotNull).isEmpty

    val kt = buildKeyTable(hasTz(nodes), hasTz(links),
      keyTypes(nodes, "node_attrs"), keyTypes(links, "link_attrs"))

    spark.createDataset(Seq(header(kt))).coalesce(1)
      .map(_.stripLineEnd) // Dataset text writer appends one \n per row
      .write.mode("overwrite").text(s"$outDir/00_header")
    nodes.repartitionByRange(col("node_id"))
      .sortWithinPartitions("node_id")
      .mapPartitions(_.map(r => nodeElement(r, kt, 4).stripLineEnd))
      .write.mode("overwrite").text(s"$outDir/01_nodes")
    links.repartitionByRange(col("source_node"), col("dest_node"))
      .sortWithinPartitions("source_node", "dest_node")
      .mapPartitions(inLinkOrder(_, kt).map(_.stripLineEnd))
      .write.mode("overwrite").text(s"$outDir/02_edges")
    spark.createDataset(Seq(footer)).coalesce(1)
      .map(_.stripLineEnd)
      .write.mode("overwrite").text(s"$outDir/03_footer")
  }

  /** Concatenate a [[writeDistributed]] output dir back into one
    * document string (driver-side; for verification and small graphs —
    * at scale, stream the part files in path order instead). */
  def assembleDistributed(spark: org.apache.spark.sql.SparkSession,
      outDir: String): String = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(outDir), spark.sparkContext.hadoopConfiguration)
    val sections = Seq("00_header", "01_nodes", "02_edges", "03_footer")
    val sb = new StringBuilder
    sections.foreach { sec =>
      val dir = new org.apache.hadoop.fs.Path(s"$outDir/$sec")
      val parts = fs.listStatus(dir).map(_.getPath)
        .filter(_.getName.startsWith("part-")).sortBy(_.getName)
      parts.foreach { p =>
        val in = fs.open(p)
        try {
          val src = scala.io.Source.fromInputStream(in, "UTF-8")
          sb ++= src.mkString
        } finally in.close()
      }
    }
    sb.toString
  }
}
