package graft

import graft.model.SnapshotGraph
import graft.io.GraphMl

/** Golden-structure test mirroring the reference WriterSpec case
  * (net-spider/test/NetSpider/GraphML/WriterSpec.hs:59-120): mixed
  * directed/undirected, escaped node ids, boundary node without
  * timestamp. */
class GraphMlSpec extends SparkSpec {

  it("writes escaped GraphML with key table and meta attributes") {
    val nodes = spark.createDataFrame(Seq(
      ("\"the root\"", false, Some(100L), Some(Map.empty[String, String])),
      ("☃", true, None, None),
      ("<child>", false, Some(1537660132000L), Some(Map.empty[String, String]))))
      .toDF("node_id", "is_on_boundary", "epoch_ms", "node_attrs")
    val links = spark.createDataFrame(Seq(
      ("\"the root\"", "☃", true, 100L, Map.empty[String, String]),
      ("<child>", "\"the root\"", false, 1537660132000L, Map.empty[String, String])))
      .toDF("source_node", "dest_node", "is_directed", "epoch_ms", "link_attrs")
    val got = GraphMl.write(SnapshotGraph(nodes, links))

    got should startWith("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n")
    got should include("<key id=\"d0\" for=\"node\" attr.name=\"@timestamp\" attr.type=\"long\"/>")
    got should include("<key id=\"d2\" for=\"node\" attr.name=\"@is_on_boundary\" attr.type=\"boolean\"/>")
    got should include("<key id=\"d3\" for=\"edge\" attr.name=\"@timestamp\" attr.type=\"long\"/>")
    got should include("<node id=\"&quot;the root&quot;\">")
    got should include("<node id=\"&lt;child&gt;\">")
    got should include("<node id=\"☃\">")
    // boundary node has no timestamp rows, only the boundary flag
    got should include("  <node id=\"☃\">\n    <data key=\"d2\">true</data>\n  </node>")
    got should include("<data key=\"d1\">1970-01-01T00:00:00.100</data>")
    got should include("<edge source=\"&quot;the root&quot;\" target=\"☃\" directed=\"true\">")
    got should include("<edge source=\"&lt;child&gt;\" target=\"&quot;the root&quot;\" directed=\"false\">")
    got should endWith("</graph>\n</graphml>\n")
  }

  it("distributed writer assembles to the exact driver document") {
    import graft.model.Tz
    val nodes = spark.createDataFrame(Seq(
      ("a", false, Some(100L), Some(Map("rank" -> "1")),
        Some(Tz(540, false, "JST"))),
      ("b", true, None, None, None),
      ("c", false, Some(200L), Some(Map("rank" -> "2")), None)))
      .toDF("node_id", "is_on_boundary", "epoch_ms", "node_attrs", "tz")
    val links = spark.createDataFrame(Seq(
      ("a", "c", true, 150L, Map("w" -> "0.5"), Option.empty[Tz]),
      ("c", "b", false, 200L, Map("w" -> "1.5"), Some(Tz(0, false, "UTC")))))
      .toDF("source_node", "dest_node", "is_directed", "epoch_ms",
        "link_attrs", "tz")
    val g = SnapshotGraph(nodes, links)
    val dir = java.nio.file.Files.createTempDirectory("graphml_dist")
      .toString
    GraphMl.writeDistributed(g, dir)
    val assembled = GraphMl.assembleDistributed(spark, dir)
    assembled shouldBe GraphMl.write(g)
    // parses as one well-formed XML document
    val doc = scala.xml.XML.loadString(assembled)
    (doc \\ "node").size shouldBe 3
    (doc \\ "edge").size shouldBe 2
  }

  it("distributed writer keeps byte parity across MANY range partitions " +
      "(the 100 TB export path: part files concatenate in order)") {
    import spark.implicits._
    // enough rows that repartitionByRange actually fans out (shuffle
    // partitions = 4 in specs) and part-file concatenation order is
    // load-bearing; ids deliberately interleave so a naive hash layout
    // would scramble the document
    val nodes = (0 until 2000)
      .map(i => (f"n${(i * 7919) % 2000}%04d", i % 13 == 0,
        Some(1000L + i), Some(Map("rank" -> i.toString))))
      .toDF("node_id", "is_on_boundary", "epoch_ms", "node_attrs")
    val links = (0 until 3000)
      .map { i =>
        (f"n${(i * 104729) % 2000}%04d", f"n${(i * 7919 + 13) % 2000}%04d",
          i % 2 == 0, 2000L + i, Map("w" -> s"$i.5"))
      }
      .toDF("source_node", "dest_node", "is_directed", "epoch_ms",
        "link_attrs")
    val g = SnapshotGraph(nodes.repartition(4), links.repartition(4))
    val dir = java.nio.file.Files
      .createTempDirectory("graphml_dist_big").toString
    // AQE coalesces a spec-sized range shuffle to one partition, which
    // would make the multi-part concatenation vacuous — pin it off so
    // the writer actually fans out like it does at scale
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.getOption(coalesceKey)
    try {
      spark.conf.set(coalesceKey, "false")
      GraphMl.writeDistributed(g, dir)
    } finally {
      prev match {
        case Some(v) => spark.conf.set(coalesceKey, v)
        case None => spark.conf.unset(coalesceKey)
      }
    }
    // the node/edge sections really did fan out into several part files
    def partCount(sec: String) =
      new java.io.File(s"$dir/$sec").listFiles()
        .count(_.getName.startsWith("part-"))
    partCount("01_nodes") should be > 1
    partCount("02_edges") should be > 1
    val assembled = GraphMl.assembleDistributed(spark, dir)
    assembled shouldBe GraphMl.write(g)
    val doc = scala.xml.XML.loadString(assembled)
    (doc \\ "node").size shouldBe 2000
    (doc \\ "edge").size shouldBe 3000
  }

  it("driver write sorts in UTF-8 byte order — supplementary-plane ids " +
      "keep distributed parity") {
    // U+FFFD (EF BF BD) sorts BEFORE U+1F600 (F0 9F 98 80) in UTF-8
    // bytes but AFTER it in Java's UTF-16 code-unit order (FFFD > D83D):
    // the driver sort must use the UTF-8 ordering or the two paths
    // produce differently-ordered documents
    val repl = "�"
    val emoji = "😀"
    val nodes = spark.createDataFrame(Seq(
      (repl, false, Some(100L), Option.empty[Map[String, String]]),
      (emoji, false, Some(100L), Option.empty[Map[String, String]]),
      ("plain", false, Some(100L), Option.empty[Map[String, String]])))
      .toDF("node_id", "is_on_boundary", "epoch_ms", "node_attrs")
    val links = spark.createDataFrame(Seq(
      (repl, "plain", true, 100L, Map.empty[String, String]),
      (emoji, "plain", true, 100L, Map.empty[String, String])))
      .toDF("source_node", "dest_node", "is_directed", "epoch_ms",
        "link_attrs")
    val g = SnapshotGraph(nodes, links)
    val driverDoc = GraphMl.write(g)
    // sanity: UTF-8 order puts the replacement char before the emoji
    driverDoc.indexOf(s"""<node id="$repl">""") should be <
      driverDoc.indexOf(s"""<node id="$emoji">""")
    val dir = java.nio.file.Files.createTempDirectory("graphml_supp").toString
    GraphMl.writeDistributed(g, dir)
    GraphMl.assembleDistributed(spark, dir) shouldBe driverDoc
  }

  it("parallel links render in one order, whichever order they are " +
      "collected in, on the driver and distributed") {
    val nodes = spark.createDataFrame(Seq(
      ("a", false, Some(100L), Option.empty[Map[String, String]]),
      ("b", false, Some(100L), Option.empty[Map[String, String]])))
      .toDF("node_id", "is_on_boundary", "epoch_ms", "node_attrs")
    val parallel = Seq(
      ("a", "b", true, 300L, Map("w" -> "2")),
      ("a", "b", true, 200L, Map("w" -> "1")),
      ("a", "b", false, 200L, Map("w" -> "1")))
    def graph(links: Seq[(String, String, Boolean, Long, Map[String, String])]) =
      SnapshotGraph(nodes, spark.createDataFrame(links).toDF("source_node",
        "dest_node", "is_directed", "epoch_ms", "link_attrs"))
    val docs = parallel.permutations.map(p => GraphMl.write(graph(p))).toSet
    docs should have size 1
    val doc = docs.head
    // ties broken by the rendered element: directed="false" < "true",
    // then the @timestamp data, 200 < 300
    val at = Seq("directed=\"false\"", "directed=\"true\">\n    <data key=\"d3\">200",
      "directed=\"true\">\n    <data key=\"d3\">300").map(doc.indexOf(_))
    at.foreach(_ should be >= 0)
    at shouldBe at.sorted
    for (p <- Seq(parallel, parallel.reverse)) {
      val dir = java.nio.file.Files.createTempDirectory("graphml_par").toString
      GraphMl.writeDistributed(graph(p), dir)
      GraphMl.assembleDistributed(spark, dir) shouldBe doc
    }
  }

  it("renders @timestamp_str in the stored zone (showTimestamp parity)") {
    import graft.model.Tz
    val nodes = spark.createDataFrame(Seq(
      ("jst", false, Some(0L), Some(Map.empty[String, String]),
        Some(Tz(540, false, "JST"))),
      ("offset", false, Some(0L), Some(Map.empty[String, String]),
        Some(Tz(-300, false, ""))),
      ("utc", false, Some(0L), Some(Map.empty[String, String]),
        Some(Tz(0, false, "UTC"))),
      ("bare", false, Some(0L), Some(Map.empty[String, String]), None)))
      .toDF("node_id", "is_on_boundary", "epoch_ms", "node_attrs", "tz")
    val links = spark.createDataFrame(
      Seq.empty[(String, String, Boolean, Long, Map[String, String])])
      .toDF("source_node", "dest_node", "is_directed", "epoch_ms", "link_attrs")
    val got = GraphMl.write(SnapshotGraph(nodes, links))
    // Timestamp.hs doctests: zone-local time + name / offset / Z suffix
    got should include(">1970-01-01T09:00:00.000JST<")
    got should include(">1969-12-31T19:00:00.000-05:00<")
    got should include(">1970-01-01T00:00:00.000Z<")
    got should include(">1970-01-01T00:00:00.000<")
  }

  it("GEXF sink writes typed attributes and per-edge directedness") {
    val nodes = spark.createDataFrame(Seq(
      ("a", false, Some(100L), Some(Map("rank" -> "128"))),
      ("b", true, None, None)))
      .toDF("node_id", "is_on_boundary", "epoch_ms", "node_attrs")
    val links = spark.createDataFrame(Seq(
      ("a", "b", true, 100L, Map("w" -> "0.5")),
      ("b", "a", false, 200L, Map("w" -> "1.5"))))
      .toDF("source_node", "dest_node", "is_directed", "epoch_ms", "link_attrs")
    val got = graft.io.Gexf.write(SnapshotGraph(nodes, links))
    val doc = scala.xml.XML.loadString(got)
    (doc \\ "node").size shouldBe 2
    (doc \\ "edge").size shouldBe 2
    (doc \\ "edge").map(e => (e \ "@type").text).sorted shouldBe
      Seq("directed", "undirected")
    got should include("""title="rank" type="long"""")
    got should include("""title="w" type="double"""")
    // boundary node has no ts attvalue but carries the boundary flag
    got should include("""<attvalue for="1" value="true"/>""")
  }

  it("distributed GEXF assembles to the exact driver document") {
    val nodes = spark.createDataFrame(Seq(
      ("a", false, Some(100L), Some(Map("rank" -> "128"))),
      ("b", true, None, Option.empty[Map[String, String]]),
      ("c", false, Some(200L), Some(Map("rank" -> "7")))))
      .toDF("node_id", "is_on_boundary", "epoch_ms", "node_attrs")
    val links = spark.createDataFrame(Seq(
      ("a", "b", true, 100L, Map("w" -> "0.5")),
      ("c", "a", false, 200L, Map("w" -> "1.5")),
      ("b", "c", true, 150L, Map("w" -> "2"))))
      .toDF("source_node", "dest_node", "is_directed", "epoch_ms", "link_attrs")
    val g = SnapshotGraph(nodes, links)
    val dir = java.nio.file.Files.createTempDirectory("gexf_dist").toString
    graft.io.Gexf.writeDistributed(g, dir)
    val assembled = GraphMl.assembleDistributed(spark, dir)
    assembled shouldBe graft.io.Gexf.write(g)
    val doc = scala.xml.XML.loadString(assembled)
    (doc \\ "node").size shouldBe 3
    (doc \\ "edge").size shouldBe 3
    // dense sequential edge ids in global (source, dest) order
    (doc \\ "edge").map(e => (e \ "@id").text) shouldBe Seq("0", "1", "2")
  }

  it("infers user attribute types for the key table") {
    val nodes = spark.createDataFrame(Seq(
      ("a", false, Some(1L), Some(Map("rank" -> "128", "name" -> "x"))),
      ("b", false, Some(2L), Some(Map("rank" -> "42", "name" -> "3x")))))
      .toDF("node_id", "is_on_boundary", "epoch_ms", "node_attrs")
    val links = spark.emptyDataFrame
      .sparkSession.createDataFrame(
        Seq.empty[(String, String, Boolean, Long, Map[String, String])])
      .toDF("source_node", "dest_node", "is_directed", "epoch_ms", "link_attrs")
    val got = GraphMl.write(SnapshotGraph(nodes, links))
    got should include("attr.name=\"rank\" attr.type=\"long\"")
    got should include("attr.name=\"name\" attr.type=\"string\"")
  }
  describe("a null node id or link endpoint") {
    /** A graph whose node `b` has a null id, or — with `nullEnd` — whose
      * ids are all set and one link has a null dest. */
    def graph(nullEnd: Boolean) = {
      val ids = if (nullEnd) Seq("a", "b") else Seq("a", null)
      val nodes = spark.createDataFrame(ids.map(id =>
          (id, false, Some(1L), Some(Map.empty[String, String]))))
        .toDF("node_id", "is_on_boundary", "epoch_ms", "node_attrs")
      val links = spark.createDataFrame(Seq(
          ("a", if (nullEnd) null else "b", true, 1L, Map.empty[String, String])))
        .toDF("source_node", "dest_node", "is_directed", "epoch_ms", "link_attrs")
      SnapshotGraph(nodes, links)
    }
    val writers: Seq[(String, SnapshotGraph => Unit)] = Seq(
      "GraphMl.write" -> (g => GraphMl.write(g)),
      "GraphMl.writeDistributed" -> (g => GraphMl.writeDistributed(g,
        java.nio.file.Files.createTempDirectory("graphml_null").toString)),
      "Gexf.write" -> (g => graft.io.Gexf.write(g)),
      "Gexf.writeDistributed" -> (g => graft.io.Gexf.writeDistributed(g,
        java.nio.file.Files.createTempDirectory("gexf_null").toString)))
    for ((name, write) <- writers)
      it(s"is rejected by $name with an error naming the column") {
        the[IllegalArgumentException] thrownBy write(graph(nullEnd = false)) should
          have message ("node_id is null (node_id=null): a node id or " +
            "link endpoint must be set to be written")
        the[IllegalArgumentException] thrownBy write(graph(nullEnd = true)) should
          have message ("dest_node is null (source_node=a, dest_node=null): " +
            "a node id or link endpoint must be set to be written")
      }
  }
}
