package graft

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.dedup.Dedup
import graft.model._
import graft.operators.{Bfs, GraphxOps, TemporalReach}
import graft.query.{GetSnapshot, Query}
import graft.util.DriverLane

/** The shared driver-lane rule ([[DriverLane]]) and the id types every
  * operator's lane accepts: each lane must give the rows its at-scale
  * path gives (bound 0), whatever the id type. */
class DriverLaneSpec extends SparkSpec {

  /** `df`'s rows as sorted strings, binary values as hex and -0.0 kept
    * apart from 0.0, so equal output means equal values. */
  private def canon(df: DataFrame): Seq[String] = {
    def show(v: Any): String = v match {
      case null => "null"
      case b: Array[Byte] => hex(b)
      case r: Row => r.toSeq.map(show).mkString("(", ",", ")")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => show(k) + "->" + show(x) }.sorted
          .mkString("{", ",", "}")
      case s: scala.collection.Seq[_] => s.map(show).mkString("[", ",", "]")
      case x => x.toString
    }
    df.collect().map(show).sorted.toSeq
  }

  /** `run`'s rows at the default bound, checked equal to its rows under
    * bound 0 (every operator on its at-scale path). */
  private def sameOnBothLanes(run: => DataFrame): Seq[String] = {
    val lane = canon(run)
    DriverLane.withBound(0)(canon(run)) shouldBe lane
    lane
  }

  private def bin(s: String): Array[Byte] = s.getBytes("UTF-8")
  private def hex(b: Array[Byte]): String =
    b.map(x => f"$x%02x").mkString("0x", "", "")
  private def hex(s: String): String = hex(bin(s))

  describe("DriverLane") {
    it("idType: equal types pass, mixed integrals widen to BIGINT, and " +
        "only types whose JVM equality is Spark's grouping equality " +
        "qualify") {
      DriverLane.idType(StringType, StringType) shouldBe Some(StringType)
      DriverLane.idType(IntegerType, LongType, ShortType) shouldBe Some(LongType)
      DriverLane.idType(DateType) shouldBe Some(DateType)
      DriverLane.idType(DecimalType(10, 2)) shouldBe Some(DecimalType(10, 2))
      DriverLane.idType(StringType, LongType) shouldBe None
      DriverLane.idType(DoubleType) shouldBe None
      DriverLane.idType(FloatType, FloatType) shouldBe None
      DriverLane.idType(BinaryType) shouldBe None
      DriverLane.idType(IntegerType, DoubleType) shouldBe None
      DriverLane.idType(StringType("UTF8_LCASE")) shouldBe None
      DriverLane.idType(ArrayType(IntegerType)) shouldBe None
    }

    it("strings and order compare as Spark does: UTF-8 bytes, not UTF-16 " +
        "code units") {
      import spark.implicits._
      val emoji = "😀" // U+1F600, above U+FFFD in code points
      "�".compareTo(emoji) should be > 0 // Java's UTF-16 order
      DriverLane.strings.compare("�", emoji) should be < 0
      DriverLane.order(StringType).compare("�", emoji) should be < 0
      DriverLane.order(LongType).compare(2L, 10L) should be < 0
      Seq(emoji, "�", "a").toDF("s").orderBy("s").collect()
        .map(_.getString(0)).toSeq shouldBe
        Seq("a", emoji, "�").sorted(DriverLane.strings)
    }

    it("strings order as Spark's orderBy: supplementary characters, lone " +
        "surrogates as '?', shared prefixes and the empty string") {
      import spark.implicits._
      // distinct under Spark's encoding, so its order has no ties
      val values = Seq("", "a", "ab", "abc", "ab\uFFFD", "ab😀", "😀", "😁",
        "\uFFFD", "a\uD800b", "a?c", "a?a", "\uDC00x", "z\uD83D", "za",
        "\uE000", "\uD7FF")
      // compared by index: a collected lone surrogate comes back as '?',
      // and a failure message must print under any locale
      values.zipWithIndex.toDF("s", "i").orderBy("s").collect()
        .map(_.getInt(1)).toSeq shouldBe
        values.indices.sortBy(values)(DriverLane.strings)
      // a lone surrogate encodes as '?', as UTF8String.fromString does
      Seq("\uD800", "?").toDF("s").distinct().count() shouldBe 1
      DriverLane.strings.compare("\uD800", "?") shouldBe 0
      DriverLane.strings.compare("a\uD800b", "a?c") should be < 0
      DriverLane.strings.compare("", "a") should be < 0
      DriverLane.strings.compare("ab", "ab") shouldBe 0
    }

    it("fetch gives the rows up to the bound, None past it, and runs no " +
        "job at bound 0; fits agrees") {
      val df = spark.range(5).toDF("id")
      DriverLane.fetch(df, 5).map(_.length) shouldBe Some(5)
      DriverLane.fetch(df, 4) shouldBe None
      jobsDuring { DriverLane.fetch(df, 0) shouldBe None } shouldBe 0
      DriverLane.withBound(5)(DriverLane.fits(df)) shouldBe true
      DriverLane.withBound(4)(DriverLane.fits(df)) shouldBe false
      jobsDuring {
        DriverLane.withBound(0)(DriverLane.fits(df)) shouldBe false
      } shouldBe 0
    }

    it("withBound is scoped and process-wide: nested overrides restore in " +
        "order, also when the body throws, and a pool thread sees it") {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration._
      DriverLane.rows shouldBe DriverLane.Rows
      DriverLane.findings shouldBe DriverLane.Findings
      DriverLane.withBound(7) {
        DriverLane.rows shouldBe 7
        DriverLane.findings shouldBe 7
        Await.result(Future(DriverLane.rows), 10.seconds) shouldBe 7
        an[IllegalStateException] should be thrownBy
          DriverLane.withBound(3) {
            DriverLane.rows shouldBe 3
            throw new IllegalStateException("boom")
          }
        DriverLane.rows shouldBe 7
      }
      DriverLane.rows shouldBe DriverLane.Rows
      DriverLane.findings shouldBe DriverLane.Findings
    }
  }

  describe("BINARY and DOUBLE ids on every driver lane") {
    // the same graph in two id types: a -> b -> c, plus x -> y; the
    // DOUBLE spelling writes a as -0.0 on its edge and as 0.0 where it
    // starts, one node to Spark
    val names = Map("a" -> (-0.0, 0.0), "b" -> (1.0, 1.0), "c" -> (2.0, 2.0),
      "x" -> (3.0, 3.0), "y" -> (4.0, 4.0))
    val chain = Seq(("a", "b", 10L), ("b", "c", 20L), ("x", "y", 5L))
    def binEdges: DataFrame = spark.createDataFrame(
      spark.sparkContext.parallelize(
        chain.map { case (s, d, t) => Row(bin(s), bin(d), t) }),
      StructType(Seq(StructField("src", BinaryType),
        StructField("dst", BinaryType), StructField("edge_ms", LongType))))
    def dblEdges: DataFrame = spark.createDataFrame(
      spark.sparkContext.parallelize(chain.map { case (s, d, t) =>
        Row(names(s)._1, names(d)._1, t) }),
      StructType(Seq(StructField("src", DoubleType),
        StructField("dst", DoubleType), StructField("edge_ms", LongType))))
    def binStarts = spark.createDataset(Seq(bin("a")))(Encoders.BINARY)
      .toDF("node_id")
    def dblStarts = spark.createDataset(Seq(names("a")._2))(
      Encoders.scalaDouble).toDF("node_id")

    it("Bfs.reachable") {
      def bfs(e: DataFrame, s: DataFrame) =
        Bfs.reachable(e.select("src", "dst"), s)
      sameOnBothLanes(bfs(binEdges, binStarts)) shouldBe
        Seq(s"(${hex("a")},0)", s"(${hex("b")},1)", s"(${hex("c")},2)")
      sameOnBothLanes(bfs(dblEdges, dblStarts)) should have size 3
    }

    it("TemporalReach.earliestArrival") {
      sameOnBothLanes(TemporalReach.earliestArrival(binEdges, binStarts)) shouldBe
        Seq(s"(${hex("a")},${Long.MinValue})", s"(${hex("b")},10)",
          s"(${hex("c")},20)")
      sameOnBothLanes(TemporalReach.earliestArrival(dblEdges, dblStarts)) should
        have size 3
    }

    it("GraphxOps.stronglyConnectedComponents, and mixed integral ids") {
      // a <-> b is one component, labelled by its least member
      def cyclic(e: DataFrame) =
        e.select("src", "dst").unionByName(
          e.filter(col("edge_ms") === 10L).select(col("dst").as("src"),
            col("src").as("dst")))
      sameOnBothLanes(GraphxOps.stronglyConnectedComponents(
          cyclic(binEdges))) should contain allOf (
        s"(${hex("a")},${hex("a")})", s"(${hex("b")},${hex("a")})",
        s"(${hex("c")},${hex("c")})")
      sameOnBothLanes(GraphxOps.stronglyConnectedComponents(
        cyclic(dblEdges))) should have size 5
      import spark.implicits._
      val mixed = Seq((1, 2L), (2, 1L), (2, 3L)).toDF("src", "dst")
      sameOnBothLanes(GraphxOps.stronglyConnectedComponents(mixed)) shouldBe
        Seq("(1,1)", "(2,1)", "(3,3)")
    }

    it("Dedup.clusterLabelsStar") {
      def pairs(e: DataFrame) = e.select(col("src").as("id1"),
        col("dst").as("id2"))
      sameOnBothLanes(Dedup.clusterLabelsStar(pairs(binEdges))) shouldBe
        Seq("a" -> "a", "b" -> "a", "c" -> "a", "x" -> "x", "y" -> "x")
          .map { case (i, c) => s"(${hex(i)},${hex(c)})" }
      sameOnBothLanes(Dedup.clusterLabelsStar(pairs(dblEdges))) should
        have size 5
    }

    it("GetSnapshot") {
      def typed(t: String, id: String => String): DataFrame = {
        val fns = chain.zipWithIndex.map { case ((s, d, ms), i) =>
          FoundNode(id(s), ms, Map("i" -> i.toString),
            Seq(FoundLink(id(d), LinkState.ToTarget, Map.empty)), i.toLong) }
        Findings.fromSeq(spark, fns).select(
          col("subject").cast(t).as("subject"), col("epoch_ms"),
          col("finding_seq"), col("node_attrs"),
          transform(col("links"), l => struct(
            l("target").cast(t).as("target"),
            l("link_state").as("link_state"),
            l("link_attrs").as("link_attrs"))).as("links"))
      }
      val q = Query[String](Nil)
      for ((h, starts) <- Seq(typed("binary", identity) -> binStarts,
          typed("double", n => names(n)._1.toString) -> dblStarts)) {
        def snap() = GetSnapshot.ofStarts(spark, h, starts, q)
        sameOnBothLanes(snap().nodes) should have size 3
        // b's later finding, which has no link to a, negates a -> b
        sameOnBothLanes(snap().links) should have size 1
      }
    }
  }

  /** Every gate that reaches a driver lane on the sf0.001 test data:
    * its sorted rows at the default bound must equal its rows with
    * every operator on its at-scale path (bound 0). The list is every
    * gate whose builder or action reads a driver-lane bound there,
    * plus q15_j3_combine, which reads none and stands as a control.
    * No gate that reaches a lane is left out. */
  describe("gate lane parity on sf0.001") {
    val sf = "/root/testdata/sf0.001"
    val gates = Seq(
      "q12_bfs_reachable", "q14_a11_summary", "q15_j3_combine",
      "q36_neardup_clusters", "q40_seq_packing", "q50_dedup_corpus",
      "q71_pipeline_e2e", "q77_scc", "q97_temporal_reach",
      "q124_image_neardup", "q130_audio_neardup", "q131_video_neardup",
      "q139_global_rank", "q140_label_prop", "q142_entity_resolution",
      "q150_leakage_split", "q151_knn_topics", "q153_keep_best",
      "q157_negative_samples", "q170_rank_blend", "q171_curate_e2e",
      "q193_cluster_increment", "q198_pr_curve", "q201_auc",
      "q209_takedown")
    for (g <- gates)
      it(s"$g gives the same rows at bound 0") {
        val build = SparkEntry.queries(g)
        val t0 = System.nanoTime()
        val lane = canon(build(spark, sf))
        DriverLane.withBound(0)(canon(build(spark, sf))) shouldBe lane
        info(f"${lane.size} rows, both bounds in ${(System.nanoTime() - t0) / 1e9}%.1f s")
      }
  }
}
