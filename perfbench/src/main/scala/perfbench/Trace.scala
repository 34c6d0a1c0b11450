package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark work counters: jobs, stages, tasks, task CPU and bytes. */
final class Counts {
  val jobs, stages, tasks, cpuNs, shuffleWrite, input, output, spill =
    new AtomicLong

  def snapshot: Map[String, Long] = Map(
    "jobs" -> jobs.get, "stages" -> stages.get, "tasks" -> tasks.get,
    "cpu_ns" -> cpuNs.get, "shuffle_write" -> shuffleWrite.get,
    "input" -> input.get, "output" -> output.get, "spill" -> spill.get)
}

/** Engine-wide listener. Every job, stage and task counts into [[total]].
  * A job submitted while the thread-local property [[Meter.SpanKey]] holds
  * a span id also counts, with its stages and tasks, into that span. */
final class Meter extends SparkListener {
  val total = new Counts
  private val bySpan = TrieMap.empty[Long, Counts]
  private val stageSpan = TrieMap.empty[Int, Long]

  def forSpan(id: Long): Counts = bySpan.getOrElseUpdate(id, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    total.jobs.incrementAndGet()
    Option(e.properties).flatMap(p => Option(p.getProperty(Meter.SpanKey)))
      .foreach { s =>
        val id = s.toLong
        forSpan(id).jobs.incrementAndGet()
        e.stageIds.foreach(stageSpan.put(_, id))
      }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    total.stages.incrementAndGet()
    stageSpan.get(e.stageInfo.stageId).foreach(forSpan(_).stages
      .incrementAndGet())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val targets = total +: stageSpan.get(e.stageId).map(forSpan).toSeq
    targets.foreach { c =>
      c.tasks.incrementAndGet()
      if (m != null) {
        c.cpuNs.addAndGet(m.executorCpuTime)
        c.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        c.input.addAndGet(m.inputMetrics.bytesRead)
        c.output.addAndGet(m.outputMetrics.bytesWritten)
        c.spill.addAndGet(m.diskBytesSpilled + m.memoryBytesSpilled)
      }
    }
  }
}

object Meter {
  val SpanKey = "perfbench.span"
}

/** One recorded call into a layer. `op` is the benchmark operation (a
  * stream batch, a refresh, a month) the call served. */
final case class Span(id: Long, parent: Long, name: String, fn: String,
    op: Long, startNs: Long, endNs: Long)

/** Span recorder. Spans are kept in memory and written once, when the run
  * ends. Only operations opened with `traced = true` record spans, so one
  * traced run can alternate traced and untraced operations and measure
  * its own overhead. While a span is open, jobs submitted from its thread
  * carry its id (see [[Meter]]). */
final class Tracer(sc: SparkContext, meter: Meter) {
  private val nextId = new AtomicLong(1)
  private val done = ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Tracer.Open]] {
    override def initialValue(): List[Tracer.Open] = Nil
  }

  /** Runs one operation; with `traced`, as a root span named `op`. */
  def op[A](opId: Long, fn: String, traced: Boolean)(body: => A): A =
    if (traced) open("op", fn, opId, parent = 0L)(body) else body

  /** Runs `body` as a child span of the thread's open span, if any. */
  def span[A](name: String, fn: String)(body: => A): A =
    stack.get match {
      case top :: _ => open(name, fn, top.op, top.id)(body)
      case Nil => body
    }

  private def open[A](name: String, fn: String, opId: Long, parent: Long)
      (body: => A): A = {
    val id = nextId.getAndIncrement()
    val prevProp = sc.getLocalProperty(Meter.SpanKey)
    stack.set(Tracer.Open(id, opId) :: stack.get)
    sc.setLocalProperty(Meter.SpanKey, id.toString)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      sc.setLocalProperty(Meter.SpanKey, prevProp)
      stack.set(stack.get.tail)
      done.synchronized(done += Span(id, parent, name, fn, opId, t0, t1))
    }
  }

  def spans: Seq[Span] = done.synchronized(done.toList)

  def spanCounts(id: Long): Map[String, Long] = meter.forSpan(id).snapshot
}

object Tracer {
  private final case class Open(id: Long, op: Long)
}
