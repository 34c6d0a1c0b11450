package graft

import java.util.concurrent.atomic.AtomicLong

import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one metering mechanism of the engine: a task-metrics listener on
  * the session's SparkContext plus a delta API over it. Bench's per-query
  * byte/cpu maps, Scaling's curves and the specs' job/read budgets all
  * read [[Meter.Usage]] deltas from [[run]].
  *
  * Counters are cumulative since registration; a reading is the
  * difference of two snapshots, each taken after a listener-bus drain so
  * events of the measured body are all delivered and those of earlier
  * work are not charged to it. [[close]] unregisters the listener. */
final class Meter private (sc: org.apache.spark.SparkContext)
    extends AutoCloseable {
  // cumulative counters; peakTaskShuffleRecords is the largest
  // shuffle-read record count of one task since run() last reset it
  private val jobs, tasks, shuffleBytes, shuffleRecords, inputBytes,
    inputRecords, cpuNs, peakTaskShuffleRecords = new AtomicLong

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        val sr = m.shuffleReadMetrics
        shuffleBytes.addAndGet(sr.totalBytesRead)
        shuffleRecords.addAndGet(sr.recordsRead)
        peakTaskShuffleRecords.accumulateAndGet(sr.recordsRead, math.max)
        inputBytes.addAndGet(m.inputMetrics.bytesRead)
        inputRecords.addAndGet(m.inputMetrics.recordsRead)
        cpuNs.addAndGet(m.executorCpuTime)
      }
    }
  }
  sc.addSparkListener(listener)

  /** Waits until the listener bus has delivered every posted event. The
    * bus gives up after 10 s behind; that degrades one reading and never
    * aborts the run. */
  private def drain(): Unit =
    try org.apache.spark.sql.graft.ColumnBridge.waitForListeners(sc)
    catch { case NonFatal(e) =>
      System.err.println(s"[meter] listener-bus drain gave up, reading degraded: $e") }

  private def snapshot(): Meter.Usage = Meter.Usage(jobs.get, tasks.get,
    shuffleBytes.get, shuffleRecords.get, inputBytes.get, inputRecords.get,
    cpuNs.get, peakTaskShuffleRecords.get)

  /** Runs `body` between two drains and returns its result with the
    * usage of the Spark work it caused. */
  def run[A](body: => A): (A, Meter.Usage) = {
    drain()
    val before = snapshot()
    peakTaskShuffleRecords.set(0L)
    val out = body
    drain()
    (out, snapshot() since before)
  }

  def close(): Unit = sc.removeSparkListener(listener)
}

object Meter {
  /** Spark work of one metered run. Bytes are serialized and compressed,
    * records are logical rows; `cpuNs` is executor (task) CPU only. */
  final case class Usage(jobs: Long, tasks: Long, shuffleReadBytes: Long,
      shuffleReadRecords: Long, inputBytes: Long, inputRecords: Long,
      cpuNs: Long, peakTaskShuffleRecords: Long) {
    def shuffleMb: Double = shuffleReadBytes / 1e6
    def inputMb: Double = inputBytes / 1e6
    // counters subtract; the peak is already the later run's own
    private[graft] def since(b: Usage): Usage = Usage(jobs - b.jobs,
      tasks - b.tasks, shuffleReadBytes - b.shuffleReadBytes,
      shuffleReadRecords - b.shuffleReadRecords, inputBytes - b.inputBytes,
      inputRecords - b.inputRecords, cpuNs - b.cpuNs, peakTaskShuffleRecords)
  }

  def apply(spark: SparkSession): Meter = new Meter(spark.sparkContext)

  /** Untimed cross-query isolation: dead localCheckpoint/broadcast blocks
    * of earlier queries linger until a GC runs ContextCleaner, and a big
    * heap may never GC, so a later memory-hungry query would measure its
    * neighbours' garbage instead of its plan (4× observed at Scaling's
    * 30× point). Callers keep this out of the timed region. */
  def isolate(): Unit = { System.gc(); Thread.sleep(100) }

  /** Wall seconds of building `df` and materializing its FULL physical
    * plan (projections, sorts, limits): a plain `count()` would let
    * Catalyst prune the very work being timed. */
  def wallOf(df: => DataFrame): Double = {
    val t0 = System.nanoTime()
    df.queryExecution.toRdd.count()
    (System.nanoTime() - t0) / 1e9
  }

  /** [[isolate]], then [[wallOf]]. */
  def timeIsolated(df: => DataFrame): Double = { isolate(); wallOf(df) }
}
