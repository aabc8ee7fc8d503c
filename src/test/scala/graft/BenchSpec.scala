package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `graft.Bench` and `graft.Verify` fail loudly: a gate that throws is
  * recorded as a failure, never as a time or a silent gap. */
class BenchSpec extends SparkSpec {

  private val gates = Map[String, (SparkSession, String) => DataFrame](
    "fine" -> ((s, _) => s.range(10).toDF()),
    "throws_building" -> ((_, _) =>
      throw new IllegalStateException("injected \"builder\" failure")),
    "throws_running" -> ((s, _) =>
      s.range(10).toDF().filter(
        assert_true(col("id") < 0, lit("injected run failure")).isNull)))

  private def field(line: String, name: String) =
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(line).get(name)

  describe("Bench.GateTimer") {
    it("records a throwing gate as failed with its error and leaves it " +
        "out of the totals") {
      val timer = new Bench.GateTimer(spark, "unused", gates, gcBarrier = false)
      for (phase <- Seq("pass1", "pass2"); g <- gates.keys.toSeq.sorted)
        timer.run(g, phase).isDefined shouldBe (g == "fine")
      timer.failed.toSeq shouldBe Seq("throws_building", "throws_running")
      timer.best(gates.keys.toSeq.sorted, Set("pass1", "pass2"))
        .map(_._1) shouldBe Seq("fine")

      val byGate = timer.diag.toSeq.groupBy(field(_, "q").asText)
      byGate("fine").map(field(_, "ok").asBoolean) shouldBe Seq(true, true)
      byGate("fine").map(field(_, "error")) shouldBe Seq(null, null)
      for (g <- Seq("throws_building", "throws_running"); line <- byGate(g))
        field(line, "ok").asBoolean shouldBe false
      field(byGate("throws_building").head, "error").asText shouldBe
        "java.lang.IllegalStateException: injected \"builder\" failure"
      field(byGate("throws_running").head, "error").asText should include (
        "injected run failure")
    }
  }

  describe("Bench.totalLine") {
    it("labels the result with cpus and defaultParallelism") {
      val line = Bench.totalLine(spark, 3, 1.5, "{\"q01\":1.5}", 0.25,
        "/data/sf0.1")
      field(line, "cpus").asInt shouldBe 3
      field(line, "defaultParallelism").asInt shouldBe
        spark.sparkContext.defaultParallelism
      field(line, "queries").get("q01").asDouble shouldBe 1.5
      field(line, "value").asDouble shouldBe 1.5
      field(line, "sf").asText shouldBe "/data/sf0.1"
    }
  }

  describe("Verify.dump") {
    it("dumps the gates that run, still writes the oracle file, and " +
        "names the gates that threw") {
      val out = java.nio.file.Files.createTempDirectory("verify_dump").toString
      val oracle = Map("fine" -> "SELECT \"id\"\tFROM t")
      Verify.dump(spark, "unused", out, gates.toSeq.sortBy(_._1),
        oracle) shouldBe Seq("throws_building", "throws_running")
      spark.read.parquet(s"$out/fine").count() shouldBe 10L
      new java.io.File(s"$out/throws_building").exists shouldBe false
      java.nio.file.Files.readString(
        java.nio.file.Paths.get(s"$out/oracle_sql.json")) shouldBe
        """{"fine": "SELECT \"id\"\tFROM t"}"""
    }
  }
}
