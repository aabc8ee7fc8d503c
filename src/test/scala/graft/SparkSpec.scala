package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funspec.AnyFunSpec
import org.scalatest.matchers.should.Matchers
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs. */
trait SparkSpec extends AnyFunSpec with Matchers with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  /** "2018-12-01T20:00" → epoch ms UTC. */
  def ts(s: String): Long =
    java.time.LocalDateTime
      .parse(if (s.length == 16) s + ":00" else s)
      .toInstant(java.time.ZoneOffset.UTC).toEpochMilli

  /** Spark jobs started while `body` runs. The listener bus is async
    * (and its waitUntilEmpty is private[spark]): one tagged sentinel job
    * runs AFTER the body — bus ordering delivers every earlier JobStart
    * first, so once the sentinel is seen the counter holds exactly the
    * body's job count. */
  def jobsDuring(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    @volatile var sentinelSeen = false
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties != null && SparkSpec.Sentinel ==
            j.properties.getProperty("spark.jobGroup.id")) sentinelSeen = true
        else jobs.incrementAndGet(): Unit
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      spark.sparkContext.setJobGroup(SparkSpec.Sentinel, "drain barrier")
      try spark.range(1).count()
      finally spark.sparkContext.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!sentinelSeen && System.nanoTime() < deadline)
        Thread.sleep(10)
      jobs.get()
    } finally spark.sparkContext.removeSparkListener(l)
  }

  /** Runs `body` with the shared context's checkpoint dir set to `dir`
    * (so every `Checkpoints.cut` inside is a reliable checkpoint), then
    * puts the previous dir back — set or unset — so later suites in
    * the same JVM keep their local cuts. */
  def withCheckpointDir[T](dir: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getCheckpointDir
    sc.setCheckpointDir(dir)
    try body
    finally org.apache.spark.CheckpointDirAccess.restore(sc, prev)
  }
}

object SparkSpec {
  private val Sentinel = "jobs-sentinel"

  lazy val session: SparkSession = {
    val b = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
    graft.sources.Tables.sessionConfs.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
