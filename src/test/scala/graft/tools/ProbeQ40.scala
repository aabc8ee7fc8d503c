package graft.tools
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.sources.Tables
object ProbeQ40 {
  def main(args: Array[String]): Unit = {
    val b = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
    Tables.sessionConfs.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    def time(tag: String)(f: => Long): Unit = {
      val t0 = System.nanoTime(); val n = f
      println(f"STAGE $tag: ${(System.nanoTime() - t0) / 1e9}%.3f s rows=$n")
    }
    // warmup
    Tables.documents(spark, d).count()
    val docs = Tables.documents(spark, d)
    time("probe-count")(docs.select(lit(1)).limit((1<<20)+1).count())
    time("probe-count2")(docs.select(lit(1)).limit((1<<20)+1).count())
    time("toks-only") {
      docs.select(col("doc_id"), col("lang"),
        coalesce(graft.text.TextOps.tokenCount(col("text")).cast("long"), lit(0L)).as("n_tokens")).count()
    }
    time("window-full")(graft.pipeline.PipelineOps.packSequences(docs).count())
    time("window-full2")(graft.pipeline.PipelineOps.packSequences(docs).count())
    time("twopass-full")(graft.util.DriverLane.withBound(0)(
      graft.pipeline.PipelineOps.packSequences(docs)).count())
    spark.stop()
  }
}
