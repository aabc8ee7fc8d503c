package graft.io

import org.apache.spark.sql.Row
import graft.model.SnapshotGraph

/** GEXF 1.3 sink (Gephi's native graph format) — a beyond-parity
  * alternative to [[GraphMl]] for visualization workflows. Same
  * attribute discovery/typing lattice as the GraphML writer (shared
  * helpers), and the same two write modes: a driver-side `write` for
  * snapshot-sized graphs, and `writeDistributed` emitting part files
  * that concatenate (lexicographic path order, via
  * [[GraphMl.assembleDistributed]]) into one byte-identical document.
  *
  * Shape notes vs GraphML: GEXF declares typed `attributes` blocks per
  * class, node/edge attribute values ride in `attvalues`, mixed
  * directedness is per-edge `type`, edges carry a dense sequential id
  * (assigned in the global (source, dest) sort order — zipWithIndex in
  * the distributed path, never a global window), and timestamps map to
  * the reserved attributes `ts_ms` and `boundary`.
  */
object Gexf {
  import GraphMl.{esc, attrsOf, valueType, combineTypes, requireIds}
  import graft.util.DriverLane.strings

  private def gexfType(t: String): String = t match {
    case "long" => "long"
    case "double" => "double"
    case "boolean" => "boolean"
    case _ => "string"
  }

  // attribute ids: nodes 0 = ts_ms, 1 = boundary, user keys from 2;
  // edges 0 = ts_ms, user keys from 1
  private def nodeIds(keys: Seq[String]): Map[String, Int] =
    keys.zipWithIndex.map { case (k, i) => k -> (i + 2) }.toMap
  private def edgeIds(keys: Seq[String]): Map[String, Int] =
    keys.zipWithIndex.map { case (k, i) => k -> (i + 1) }.toMap

  private def header(nTypes: Seq[(String, String)],
      lTypes: Seq[(String, String)]): String = {
    val nIds = nodeIds(nTypes.map(_._1))
    val lIds = edgeIds(lTypes.map(_._1))
    val sb = new StringBuilder
    sb ++= "<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n"
    sb ++= "<gexf xmlns=\"http://gexf.net/1.3\" version=\"1.3\">\n"
    sb ++= "<graph defaultedgetype=\"directed\">\n"
    sb ++= "<attributes class=\"node\">\n"
    sb ++= "  <attribute id=\"0\" title=\"ts_ms\" type=\"long\"/>\n"
    sb ++= "  <attribute id=\"1\" title=\"boundary\" type=\"boolean\"/>\n"
    nTypes.foreach { case (k, t) =>
      sb ++= s"""  <attribute id="${nIds(k)}" title="${esc(k)}" type="${gexfType(t)}"/>\n"""
    }
    sb ++= "</attributes>\n"
    sb ++= "<attributes class=\"edge\">\n"
    sb ++= "  <attribute id=\"0\" title=\"ts_ms\" type=\"long\"/>\n"
    lTypes.foreach { case (k, t) =>
      sb ++= s"""  <attribute id="${lIds(k)}" title="${esc(k)}" type="${gexfType(t)}"/>\n"""
    }
    sb ++= "</attributes>\n"
    sb ++= "<nodes>\n"
    sb.toString
  }

  private val midSection = "</nodes>\n<edges>\n"
  private val footer = "</edges>\n</graph>\n</gexf>\n"

  /** Row layout: node_id, is_on_boundary, epoch_ms, node_attrs[, tz]. */
  private def nodeElement(r: Row, nIds: Map[String, Int]): String = {
    val sb = new StringBuilder
    val id = esc(r.getString(0))
    sb ++= s"""  <node id="$id" label="$id">\n"""
    sb ++= "    <attvalues>\n"
    if (!r.isNullAt(2))
      sb ++= s"""      <attvalue for="0" value="${r.getLong(2)}"/>\n"""
    sb ++= s"""      <attvalue for="1" value="${r.getBoolean(1)}"/>\n"""
    attrsOf(r, 3).toSeq.sortBy(_._1).foreach { case (k, v) =>
      sb ++= s"""      <attvalue for="${nIds(k)}" value="${esc(v)}"/>\n"""
    }
    sb ++= "    </attvalues>\n"
    sb ++= "  </node>\n"
    sb.toString
  }

  /** Row layout: source, dest, is_directed, epoch_ms, link_attrs[, tz]. */
  private def edgeElement(r: Row, edgeId: Long,
      lIds: Map[String, Int]): String = {
    val sb = new StringBuilder
    val tpe = if (r.getBoolean(2)) "directed" else "undirected"
    sb ++= s"""  <edge id="$edgeId" source="${esc(r.getString(0))}" target="${esc(r.getString(1))}" type="$tpe">\n"""
    sb ++= "    <attvalues>\n"
    sb ++= s"""      <attvalue for="0" value="${r.getLong(3)}"/>\n"""
    attrsOf(r, 4).toSeq.sortBy(_._1).foreach { case (k, v) =>
      sb ++= s"""      <attvalue for="${lIds(k)}" value="${esc(v)}"/>\n"""
    }
    sb ++= "    </attvalues>\n"
    sb ++= "  </edge>\n"
    sb.toString
  }

  def write(graph: SnapshotGraph): String = {
    val nodes = GraphMl.selectNodes(graph).collect()
    val links = GraphMl.selectLinks(graph).collect()
    nodes.foreach(requireIds(_, "node_id" -> 0))
    links.foreach(requireIds(_, "source_node" -> 0, "dest_node" -> 1))

    val nodeKeys = nodes.flatMap(attrsOf(_, 3).keys).distinct.sorted.toSeq
    val linkKeys = links.flatMap(attrsOf(_, 4).keys).distinct.sorted.toSeq
    def keyTypes(keys: Seq[String], rows: Array[Row], i: Int) =
      keys.map(k => k ->
        combineTypes(rows.flatMap(attrsOf(_, i).get(k)).map(valueType)))
    val nTypes = keyTypes(nodeKeys, nodes, 3)
    val lTypes = keyTypes(linkKeys, links, 4)
    val nIds = nodeIds(nodeKeys)
    val lIds = edgeIds(linkKeys)

    val sb = new StringBuilder
    sb ++= header(nTypes, lTypes)
    nodes.sortBy(_.getString(0))(strings)
      .foreach(r => sb ++= nodeElement(r, nIds))
    sb ++= midSection
    links.sortBy(r => (r.getString(0), r.getString(1)))(
        Ordering.Tuple2(strings, strings))
      .zipWithIndex
      .foreach { case (r, i) => sb ++= edgeElement(r, i.toLong, lIds) }
    sb ++= footer
    sb.toString
  }

  /** Distributed GEXF: the SAME document as [[write]] as concatenable
    * part files (00_header / 01_nodes / 02_edges / 03_footer —
    * reassemble with [[GraphMl.assembleDistributed]]). Key discovery is
    * distributed; node/edge fragments render per partition after a
    * range sort; the dense edge ids come from `zipWithIndex` over the
    * range-sorted frame (per-partition offsets, no global window).
    * Byte-identical to the driver document when (source, dest) pairs
    * are unique — multi-edges between one pair tie-break
    * nondeterministically in both paths. */
  def writeDistributed(graph: SnapshotGraph, outDir: String): Unit = {
    import org.apache.spark.sql.functions._
    val spark = graph.nodes.sparkSession
    import spark.implicits._

    val nodes = GraphMl.selectNodes(graph)
    val links = GraphMl.selectLinks(graph)
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

    val nTypes = keyTypes(nodes, "node_attrs")
    val lTypes = keyTypes(links, "link_attrs")
    val nIds = nodeIds(nTypes.map(_._1))
    val lIds = edgeIds(lTypes.map(_._1))

    spark.createDataset(Seq(header(nTypes, lTypes))).coalesce(1)
      .map(_.stripLineEnd)
      .write.mode("overwrite").text(s"$outDir/00_header")
    nodes.repartitionByRange(col("node_id"))
      .sortWithinPartitions("node_id")
      .mapPartitions(_.map(r => nodeElement(r, nIds).stripLineEnd))
      .write.mode("overwrite").text(s"$outDir/01_nodes")
    val sortedLinks = links
      .repartitionByRange(col("source_node"), col("dest_node"))
      .sortWithinPartitions("source_node", "dest_node")
    // the </nodes><edges> transition rides with the FIRST edge line so
    // the section files still concatenate in pure path order
    val edgeLines = sortedLinks.rdd.zipWithIndex().map { case (r, i) =>
      val elem = edgeElement(r, i, lIds)
      (if (i == 0L) midSection + elem else elem).stripLineEnd
    }
    spark.createDataset(edgeLines)
      .write.mode("overwrite").text(s"$outDir/02_edges")
    val tail = if (links.isEmpty) midSection + footer else footer
    spark.createDataset(Seq(tail)).coalesce(1)
      .map(_.stripLineEnd)
      .write.mode("overwrite").text(s"$outDir/03_footer")
  }
}
