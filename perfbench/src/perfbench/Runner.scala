package perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** A wrong output. Counted as a failed op, like an exception. */
final class Mismatch(msg: String) extends Exception(msg)

object Mismatch {
  def check(ok: Boolean, msg: => String): Unit = if (!ok) throw new Mismatch(msg)
}

/** One unit of work. `run` is the timed call into graft and returns what
  * `check` needs; `check` throws when the output is wrong. Input
  * generation (in [[Workload.round]]) and the check are not timed. */
final case class Op(id: String, run: () => Any, check: Any => Unit)

/** What a workload needs from the run: the session, the seed, a scratch
  * directory (removed at exit), the benchmark's data directory, the
  * tracer, and tallies for layer numbers the listener cannot see. */
final class Ctx(val spark: SparkSession, val seed: Long, val work: String,
    val data: String, val tr: Tracer) {
  private val sums = mutable.LinkedHashMap.empty[String, Double]
  private val means = mutable.LinkedHashMap.empty[String, (Double, Int)]

  /** Adds to a per-round total; only while tracing. */
  def tally(name: String, v: Double): Unit =
    if (tr.isOn) sums(name) = sums.getOrElse(name, 0.0) + v

  /** Adds a sample to a per-call mean; only while tracing. */
  def sample(name: String, v: Double): Unit =
    if (tr.isOn) {
      val (s, n) = means.getOrElse(name, (0.0, 0))
      means(name) = (s + v, n + 1)
    }

  /** Records a value of the whole run, traced or not. */
  def record(name: String, v: Double): Unit = means(name) = (v, 1)

  def tallies(rounds: Int): Map[String, Double] =
    sums.map { case (k, v) => k -> v / rounds }.toMap ++
      means.map { case (k, (s, n)) => k -> s / n }
}

trait Workload {
  /** Builds the inputs from the seed and loads them into graft,
    * replacing any earlier set-up. Returns a digest per generated input. */
  def setup(): Seq[(String, String)]
  /** The ops of round `r`. Every round runs the same mix of ops. */
  def round(r: Int): Seq[Op]
  /** Untimed ops run once before the timed rounds, so JIT compilation,
    * codegen and lazily built state are not timed. */
  def warmup: Seq[Op] = round(0)
  /** Timed rounds a run makes even when `--seconds` have passed. */
  def minRounds: Int = 1
  /** Checks over the whole run, after the timed section. */
  def finish(): Unit = ()
}

final case class OpRow(round: Int, id: String, sec: Double, ok: Boolean,
    error: Option[String], persistsLeft: Int, traced: Boolean)

final case class RunResult(setupS: Seq[Double], digests: Seq[(String, String)],
    rows: Seq[OpRow], roundS: Seq[(Boolean, Double)], finalError: Option[String]) {
  /** Every op, plus the workload's whole-run check. */
  def attempted: Int = rows.size + 1
  def failed: Int = rows.count(!_.ok) + finalError.size
}

object Runner {
  val SetupRepeats = 3

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.max(0, math.ceil(p * s.size).toInt - 1))
  }

  private def errorOf(t: Throwable): String =
    s"${t.getClass.getName}: ${Option(t.getMessage).getOrElse("")}".take(500)

  /** Runs one op: the call, then the release of whatever it left
    * cached, both timed; then the untimed check. Nothing it throws is
    * swallowed: it becomes a failed row. */
  def runOp(ctx: Ctx, round: Int, op: Op): OpRow = {
    val spark = ctx.spark
    val sc = spark.sparkContext
    ctx.tr.op = op.id
    var left = -1
    val t0 = System.nanoTime()
    val out = try {
      val v = ctx.tr.span("op") {
        val v = op.run()
        left = sc.getPersistentRDDs.size
        ctx.tr.span("release") {
          spark.catalog.clearCache()
          sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
        }
        v
      }
      Right(v)
    } catch { case t: Throwable => Left(errorOf(t)) }
    val sec = (System.nanoTime() - t0) / 1e9
    val checked = out.flatMap(v =>
      try { op.check(v); Right(()) } catch { case t: Throwable => Left(errorOf(t)) })
    OpRow(round, op.id, sec, checked.isRight, checked.left.toOption, left,
      ctx.tr.isOn)
  }

  /** Set-up ×[[SetupRepeats]], the untimed warm-up, then timed rounds
    * until `seconds` have passed and at least [[Workload.minRounds]] ran. */
  def run(ctx: Ctx, wl: Workload, seconds: Double, trace: Boolean): RunResult = {
    var digests = Seq.empty[(String, String)]
    val setupS = (1 to SetupRepeats).map { i =>
      val t0 = System.nanoTime()
      val d = wl.setup()
      val s = (System.nanoTime() - t0) / 1e9
      if (i > 1) Mismatch.check(d == digests,
        s"set-up is not deterministic: $digests then $d")
      digests = d
      s
    }
    val rows = mutable.ArrayBuffer.empty[OpRow]
    rows ++= wl.warmup.map(runOp(ctx, 0, _))
    val rounds = mutable.ArrayBuffer.empty[(Boolean, Double)]
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    var r = 1
    // Traced runs measure untraced, traced, untraced: the traced round is
    // compared with the mean of its neighbours, so warm-up that is still
    // going on cancels out of the tracing overhead.
    while (if (trace) r <= 3 else rounds.size < wl.minRounds || elapsed < seconds) {
      val traced = trace && r == 2
      val ops = wl.round(r)
      if (traced) ctx.tr.start()
      val t0 = System.nanoTime()
      rows ++= ops.map(runOp(ctx, r, _))
      rounds += ((traced, (System.nanoTime() - t0) / 1e9))
      if (traced) ctx.tr.stop()
      r += 1
    }
    val finalError =
      try { wl.finish(); None } catch { case t: Throwable => Some(errorOf(t)) }
    RunResult(setupS, digests, rows.toSeq, rounds.toSeq, finalError)
  }
}
