package graft

import scala.util.control.NonFatal

/** Latched N-way pure-CPU host probe, shared by [[Bench]] and the
  * scaling harness (`sbt "scaling/runMain graft.Scaling …"`, whose
  * `scaling/records` carry the probes as `host_probe` cells; r16: the
  * Scaling single-section experiments measured
  * wall swings of 2–3× between byte-identical runs — route-crossover
  * conclusions must carry the run's own capacity evidence, the same
  * requirement the r15 verdict imposed on the bench record).
  *
  * Every thread runs a fixed dependent-LCG chain and all of them start
  * TOGETHER on a latch (without the barrier, spawn staggering alone
  * read parallelism ~18/32 on the first r15 smoke run); wall time
  * inflates in proportion to the parallel capacity the host withholds,
  * which a SCALAR probe cannot see (a single thread gets its timeslice
  * even on a loaded host — the r14 false-calm lesson). Alongside the
  * wall we record the achieved parallelism (Σ thread-CPU-time ÷ wall —
  * ~threads calm, lower under contention) and the /proc/stat steal/idle
  * percentages over the probe window. */
object HostProbe {
  case class Probe(wallSec: Double, parallelism: Double,
      stealPct: Double, idlePct: Double)

  def loadavg(): String =
    try new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/loadavg")), "UTF-8").trim
    catch { case NonFatal(_) => "n/a" }

  private def procStat(): Array[Long] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next().split("\\s+").drop(1).map(_.toLong)
      finally src.close()
    } catch { case NonFatal(_) => Array.empty[Long] }

  /** 150M dependent-LCG steps/thread ≈ 0.2–0.3 s calm — long enough
    * that thread-start skew amortizes, short enough to bracket a run
    * several times. */
  def run(threads: Int, iters: Long = 150000000L): Probe = {
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
    val cpuTimeOk =
      try mx.isThreadCpuTimeSupported && mx.isThreadCpuTimeEnabled
      catch { case NonFatal(_) => false }
    val sink = new java.util.concurrent.atomic.AtomicLong
    val cpuNs = new java.util.concurrent.atomic.AtomicLong
    val gate = new java.util.concurrent.CountDownLatch(1)
    val ts = (1 to threads).map { i =>
      val t = new Thread(() => {
        gate.await()
        val c0 = if (cpuTimeOk) mx.getCurrentThreadCpuTime else 0L
        var x = 0x9E3779B97F4A7C15L * i; var k = 0L
        while (k < iters) {
          x = x * 6364136223846793005L + 1442695040888963407L; k += 1
        }
        sink.addAndGet(x) // defeat DCE
        if (cpuTimeOk) cpuNs.addAndGet(mx.getCurrentThreadCpuTime - c0)
      })
      t.setDaemon(true); t.start(); t
    }
    val s0 = procStat()
    val t0 = System.nanoTime()
    gate.countDown()
    ts.foreach(_.join())
    val wall = (System.nanoTime() - t0) / 1e9
    val s1 = procStat()
    val (steal, idle) =
      if (s0.length >= 8 && s1.length >= 8) {
        val d = s1.zip(s0).map { case (a, b) => a - b }
        val tot = math.max(d.sum.toDouble, 1.0)
        (d(7) / tot * 100, d(3) / tot * 100)
      } else (-1.0, -1.0)
    val par = if (cpuTimeOk && wall > 0) cpuNs.get / 1e9 / wall else -1.0
    Probe(wall, par, steal, idle)
  }
}
