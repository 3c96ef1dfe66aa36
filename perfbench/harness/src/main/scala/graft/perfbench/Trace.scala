package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

import scala.collection.mutable

/** One timed call into a layer: `parent` is the span that was open when it
  * started (-1 at the top), `pass` names the benchmark pass it belongs to.
  */
final case class Span(id: Int, name: String, parent: Int, workload: String,
    pass: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Opens spans around layer calls. The untraced run uses [[NoTrace]], so
  * both runs execute the same code and differ only by the bookkeeping.
  */
trait Trace {
  def span[T](name: String)(body: => T): T
}

object NoTrace extends Trace {
  def span[T](name: String)(body: => T): T = body
}

object Tracer {
  /** Spark local property that carries the open span id into every job. */
  val Prop = "perfbench.span"
}

/** Keeps spans in memory; they are written out once, when the run ends.
  * The open span's id rides on the Spark local property [[Tracer.Prop]], so
  * [[SpanListener]] can charge each job's tasks to it.
  */
final class Tracer(sc: SparkContext, workload: String) extends Trace {
  val spans = mutable.ArrayBuffer[Span]()
  var pass = ""
  private var stack = List.empty[Int]
  private var nextId = 0

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    sc.setLocalProperty(Tracer.Prop, id.toString)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      sc.setLocalProperty(Tracer.Prop, stack.headOption.map(_.toString).orNull)
      spans += Span(id, name, parent, workload, pass, t0, t1)
    }
  }

  /** Span duration minus the part of it covered by its direct children. */
  def selfSeconds: Map[Int, Double] = {
    val childTime = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    spans.map(s => s.id -> (s.seconds - childTime.getOrElse(s.id, 0.0))).toMap
  }
}

/** Task and shuffle counters summed over the tasks of one span's jobs. */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var spillBytes = 0L
  var peakTaskMem = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var shuffleRecords = 0L
  var shuffleWriteNs = 0L

  def +=(o: Counters): Unit = {
    jobs += o.jobs; tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs
    spillBytes += o.spillBytes
    peakTaskMem = math.max(peakTaskMem, o.peakTaskMem)
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    shuffleRecords += o.shuffleRecords; shuffleWriteNs += o.shuffleWriteNs
  }
}

/** Charges jobs and task metrics to the span id found in the job's local
  * properties. Jobs submitted outside any span are not counted.
  */
final class SpanListener extends SparkListener {
  private val stageSpan = mutable.Map[Int, Int]()
  private val bySpan = mutable.Map[Int, Counters]()

  private def counters(span: Int) = bySpan.getOrElseUpdate(span, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Prop)))
    span.map(_.toInt).foreach { s =>
      counters(s).jobs += 1
      e.stageIds.foreach(stageSpan(_) = s)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (s <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
      val c = counters(s)
      c.tasks += 1
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.peakTaskMem = math.max(c.peakTaskMem, m.peakExecutionMemory)
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWriteNs += m.shuffleWriteMetrics.writeTime
    }
  }

  /** Sum of the counters of the given spans. Call after the listener bus
    * has drained (`PerfbenchBus.drain`).
    */
  def sum(spans: Iterable[Int]): Counters = synchronized {
    val total = new Counters
    spans.foreach(s => bySpan.get(s).foreach(total += _))
    total
  }
}
