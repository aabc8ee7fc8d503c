package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB oracle compare
  * (`scripts/selfcheck.py`). A gate that throws does not stop the dump,
  * but `main` names it and exits 1. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name filter (local debugging;
    // the driver always passes exactly two args = full dump)
    val Array(sfDir, outDir) = args.take(2)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
    graft.sources.Tables.sessionConfs.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val failed = dump(spark, sfDir, outDir, SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }.toSeq,
      SparkEntry.oracleSql)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} gate(s) threw: " +
        failed.mkString(", "))
      sys.exit(1)
    }
  }

  /** Writes each gate's result to `outDir/<name>` as parquet, then
    * `outDir/oracle_sql.json` from `oracle`. A gate that throws is
    * logged and skipped, so it hides neither the other gates nor the
    * oracle file; returns the names of the gates that threw, in run
    * order. */
  private[graft] def dump(spark: SparkSession, sfDir: String,
      outDir: String,
      gates: Seq[(String, (SparkSession, String) => DataFrame)],
      oracle: Map[String, String]): Seq[String] = {
    new java.io.File(outDir).mkdirs()
    val failed = gates.flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = oracle
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    failed
  }
}
