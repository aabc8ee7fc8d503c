package perfbench

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** What Spark did on behalf of one span. */
final class Counters {
  var jobs = 0L; var stages = 0L; var tasks = 0L; var taskMs = 0L
  var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
  var input = 0L; var output = 0L
  /** max/median task run time of each finished stage that ran 2+ tasks. */
  val stageSkews = mutable.ArrayBuffer.empty[Double]

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; taskMs += o.taskMs
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
    spill += o.spill; input += o.input; output += o.output
    stageSkews ++= o.stageSkews
  }
}

final case class LayerStats(seconds: Double, selfSeconds: Double, counters: Counters)

final case class Span(id: Int, name: String, parent: Int, op: String,
    startNs: Long) {
  var endNs: Long = -1L
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans around the benchmark's calls into graft, plus a SparkListener
  * that adds each job's stage and task counters to the span that was
  * innermost when the job was submitted. The span id travels with the
  * job as a local property, so attribution does not depend on when the
  * listener bus delivers the events. Everything stays in memory until
  * the run ends. While tracing is off, `span` only runs its body and no
  * listener is registered. */
final class Tracer(sc: SparkContext, t0Ns: Long) {
  private val Prop = "perfbench.span"
  /** Jobs submitted outside any span (e.g. from a thread that did not
    * inherit the property) land here. */
  private val Unattributed = -1

  private var enabled = false
  private var stack: List[Int] = Nil
  var op: String = ""
  val spans = mutable.ArrayBuffer.empty[Span]
  private val counters = mutable.HashMap.empty[Int, Counters]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val stageTaskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]

  def isOn: Boolean = enabled

  private def counterOf(span: Int): Counters =
    counters.getOrElseUpdate(span, new Counters)

  private object Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
        .map(_.toInt).getOrElse(Unattributed)
      e.stageIds.foreach(stageSpan.update(_, span))
      counterOf(span).jobs += 1
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val id = e.stageInfo.stageId
      val c = counterOf(stageSpan.getOrElse(id, Unattributed))
      c.stages += 1
      stageTaskMs.remove(id).filter(_.size >= 2).foreach { ms =>
        val sorted = ms.sorted
        c.stageSkews += sorted.last.toDouble / math.max(1L, sorted(sorted.size / 2))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val c = counterOf(stageSpan.getOrElse(e.stageId, Unattributed))
        c.tasks += 1
        c.taskMs += m.executorRunTime
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.diskBytesSpilled
        c.input += m.inputMetrics.bytesRead
        c.output += m.outputMetrics.bytesWritten
        stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
          m.executorRunTime
      }
    }
  }

  /** JVM GC time while tracing was on. */
  var gcMs = 0L
  private var gcAtStart = 0L

  def start(): Unit = {
    sc.addSparkListener(Listener)
    gcAtStart = Tracer.gcTotalMs
    enabled = true
  }

  def stop(): Unit = {
    org.apache.spark.perfbench.Bus.drain(sc)
    sc.removeSparkListener(Listener)
    gcMs += Tracer.gcTotalMs - gcAtStart
    enabled = false
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, name, stack.headOption.getOrElse(Unattributed),
        op, System.nanoTime() - t0Ns)
      spans += s
      stack = s.id :: stack
      sc.setLocalProperty(Prop, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime() - t0Ns
        stack = stack.tail
        sc.setLocalProperty(Prop, stack.headOption.map(_.toString).orNull)
      }
    }

  /** Counters of one span (its own jobs, not its children's). Call
    * after [[stop]], which waits for the listener bus to drain. */
  def countersOf(span: Int): Counters = synchronized {
    counters.getOrElse(span, new Counters)
  }

  /** Self time: the span's duration minus what its child spans cover.
    * Children never overlap: the client is one thread. */
  lazy val selfSeconds: Map[Int, Double] = {
    val childS = spans.filter(_.parent >= 0).groupMapReduce(_.parent)(_.seconds)(_ + _)
    spans.map(s => s.id -> (s.seconds - childS.getOrElse(s.id, 0.0))).toMap
  }

  /** Spans of one name, summed. */
  def layer(name: String): LayerStats = {
    val ss = spans.filter(_.name == name)
    val c = new Counters
    ss.foreach(s => c += countersOf(s.id))
    LayerStats(ss.map(_.seconds).sum, ss.map(s => selfSeconds(s.id)).sum, c)
  }

  /** Counters summed over every span plus the unattributed bucket. */
  def total: Counters = synchronized {
    val c = new Counters
    counters.values.foreach(c += _)
    c
  }

  /** One JSON object per span: name, start, end, parent, op, counters. */
  def spanLines: Seq[String] = spans.toSeq.map { s =>
    val c = countersOf(s.id)
    Json.render(Json.obj(
      "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
      "start_s" -> s.startNs / 1e9, "end_s" -> s.endNs / 1e9,
      "self_s" -> selfSeconds(s.id), "jobs" -> c.jobs, "stages" -> c.stages,
      "tasks" -> c.tasks, "task_s" -> c.taskMs / 1e3,
      "shuffle_read_mb" -> c.shuffleRead / 1e6,
      "shuffle_write_mb" -> c.shuffleWrite / 1e6,
      "input_mb" -> c.input / 1e6, "output_mb" -> c.output / 1e6))
  }
}

object Tracer {
  def gcTotalMs: Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
}

/** JSON through Jackson; objects keep their key order. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def obj(fields: (String, Any)*): ListMap[String, Any] = ListMap(fields: _*)
  def render(v: Any): String = mapper.writeValueAsString(v)
}
