package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer, made from the benchmark's own code. */
final case class Span(id: Int, parent: Int, layer: String, name: String, op: Int,
    startNs: Long, endNs: Long) {
  def ns: Long = endNs - startNs
}

/** Spark work attributed to one span: the innermost span open on the
  * driver thread when the job was submitted. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var cpuNs = 0L
  var runMs = 0L

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    cpuNs += o.cpuNs; runMs += o.runMs
  }
}

/** Records spans around layer calls when enabled, and passes the span id
  * to Spark as a local property so [[SpanListener]] can charge each
  * job's stages and tasks to it. Spans stay in memory until [[spans]]
  * is read at the end of the run. Disabled, [[apply]] only runs the body. */
final class Tracer(sc: SparkContext) {
  private val done = mutable.ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var nextId = 1
  var enabled = false
  /** Id of the current benchmark op; 0 outside the op loop. */
  var op = 0

  def apply[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      sc.setLocalProperty(Tracer.SpanKey, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanKey, stack.headOption.map(_.toString).orNull)
        done += Span(id, parent, layer, name, op, t0, t1)
      }
    }

  def spans: Seq[Span] = done.toSeq
}

object Tracer {
  val SpanKey = "perfbench.span"

  /** Span duration minus the time its direct children cover (children
    * of one span run one after another on the driver thread). */
  def selfNs(spans: Seq[Span]): Map[Int, Long] = {
    val childNs = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ns).sum }
    spans.map(s => s.id -> (s.ns - childNs.getOrElse(s.id, 0L))).toMap
  }

  def toJson(s: Span, c: Option[Counters]): String = {
    val base = s"""{"id":${s.id},"parent":${s.parent},"layer":"${s.layer}","name":"${s.name}",""" +
      s""""op":${s.op},"start_ns":${s.startNs},"end_ns":${s.endNs}"""
    c.fold(base + "}")(k => base + s""","jobs":${k.jobs},"stages":${k.stages},""" +
      s""""shuffle_write_bytes":${k.shuffleWriteBytes},"spill_bytes":${k.spillBytes},""" +
      s""""cpu_ns":${k.cpuNs},"run_ms":${k.runMs}}""")
  }
}

/** Charges jobs, stages, shuffle writes, disk spill and executor CPU and
  * run time to the span whose id the submitting thread carried. Work
  * submitted outside any span lands on span 0. */
final class SpanListener extends SparkListener {
  private val stageSpan = mutable.HashMap[Int, Int]()
  private val bySpan = mutable.HashMap[Int, Counters]()

  private def at(span: Int): Counters = bySpan.getOrElseUpdate(span, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toInt).getOrElse(0)
    at(span).jobs += 1
    e.stageIds.foreach(s => if (!stageSpan.contains(s)) stageSpan(s) = span)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    at(stageSpan.getOrElse(e.stageInfo.stageId, 0)).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val c = at(stageSpan.getOrElse(e.stageId, 0))
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.diskBytesSpilled
      c.cpuNs += m.executorCpuTime
      c.runMs += m.executorRunTime
    }
  }

  /** Counters per span id, once the listener bus has delivered every
    * event posted so far. */
  def snapshot(sc: SparkContext): Map[Int, Counters] = {
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized(bySpan.toMap)
  }
}
