package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.ListenerDrain
import org.apache.spark.sql.SparkSession

/** One benchmark run in a fresh JVM and session:
  * `perfbench.Main --workload W --seed N --seconds S --trace 0|1 --sf DIR
  * --work DIR --cores C --out FILE [--mutate 1]`.
  *
  * Writes raw samples, counters, spans and check results as JSON to
  * `--out`; `run.py` turns them into the reported metrics. */
object Main {
  final case class Config(workload: String, seed: Long, seconds: Double,
      trace: Boolean, sf: String, work: String, cores: Int, out: String,
      mutate: Boolean)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val names = a("workload").split(',').toSeq
    val t0 = System.nanoTime()
    val spark = session(a("cores").toInt, a("work"))
    val sessionS = (System.nanoTime() - t0) / 1e9
    val meter = new Meter
    spark.sparkContext.addSparkListener(meter)
    // several workloads in one JVM only to record a class-data archive;
    // a measured run always names one
    names.foreach { name =>
      val suffix = if (names.size > 1) s"-$name" else ""
      val cfg = Config(name, a("seed").toLong, a("seconds").toDouble,
        a("trace") == "1", a("sf"), a("work") + suffix, a("cores").toInt,
        a("out") + suffix, a.get("mutate").contains("1"))
      val workload = Workloads.byName.getOrElse(name,
        throw new IllegalArgumentException(s"unknown workload $name"))
      val ctx = new Ctx(spark, meter, new Tracer(spark.sparkContext, meter),
        cfg)
      val hostStart = ctx.phase("host_probe")(host(cfg.cores))
      val result = workload.run(ctx)
      val hostEnd = ctx.phase("host_probe")(host(cfg.cores))
      ListenerDrain(spark.sparkContext)
      val spans = ctx.tracer.spans.map { s =>
        Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
          "fn" -> s.fn, "op" -> s.op, "start_ns" -> s.startNs,
          "end_ns" -> s.endNs) ++ ctx.tracer.spanCounts(s.id)
      }
      val record = result ++ Map(
        "workload" -> cfg.workload, "seed" -> cfg.seed, "cores" -> cfg.cores,
        "session_s" -> sessionS, "host_start" -> hostStart,
        "host_end" -> hostEnd, "phases_s" -> ctx.phases, "spans" -> spans)
      Files.writeString(Paths.get(cfg.out), Json(record))
    }
    spark.stop()
  }

  /** The session every engine main builds: local[cores], one shuffle
    * partition per core, the engine's extensions and timestamp pins. */
  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config(graft.Tuning.statusStoreRetention)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Host record: load average and the N-way CPU probe's parallelism
    * (60M steps a thread, about 0.1 s on a calm host). */
  def host(cores: Int): Map[String, Any] = {
    val p = graft.HostProbe.run(cores, iters = 60000000L)
    Map("loadavg" -> graft.HostProbe.loadavg(),
      "probe_parallelism" -> p.parallelism, "probe_wall_s" -> p.wallSec,
      "steal_pct" -> p.stealPct)
  }
}

/** What a workload gets: the session, the engine-wide meter, the tracer
  * and the run's configuration, plus the shared measuring helpers. */
final class Ctx(val spark: SparkSession, val meter: Meter,
    val tracer: Tracer, val cfg: Main.Config) {
  def work(rel: String): String = s"${cfg.work}/$rel"

  /** Wall per phase of the run (set-up, warm-up, measured window, checks),
    * so a run's own record says where its time went. */
  val phases = scala.collection.mutable.LinkedHashMap.empty[String, Double]

  def phase[A](name: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try body
    finally phases(name) = phases.getOrElse(name, 0.0) +
      (System.nanoTime() - t0) / 1e9
  }

  /** Runs `setup` `reps` times (fresh index each time) and returns the
    * walls with the last result: set-up time is reported as a median. */
  def setups[A](reps: Int)(setup: Int => A): (Seq[Double], A) = phase("setup") {
    val runs = (0 until reps).map { i =>
      val t0 = System.nanoTime()
      val r = setup(i)
      ((System.nanoTime() - t0) / 1e9, r)
    }
    (runs.map(_._1), runs.last._2)
  }

  /** Engine-wide counters over `body`, with the listener bus drained on
    * both sides, JVM GC time and the wall. */
  def window[A](body: => A): (A, Map[String, Any]) = phase("window") {
    def gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum
    ListenerDrain(spark.sparkContext)
    val c0 = meter.total.snapshot
    val g0 = gcMs
    val t0 = System.nanoTime()
    val r = body
    val wall = (System.nanoTime() - t0) / 1e9
    ListenerDrain(spark.sparkContext)
    val c1 = meter.total.snapshot
    val engine = c1.map { case (k, v) => k -> (v - c0(k)) } ++ Map(
      "wall_s" -> wall, "gc_s" -> (gcMs - g0) / 1e3)
    (r, engine)
  }

  /** Closed loop, one client: runs `warmOps` warm-up ops (while the JIT
    * catches up with a cold JVM), then measured ops until their walls add
    * up to `cfg.seconds` (at least `minOps` of them). Warm-up ops are
    * recorded with `"warmup" -> true` and checked like the others but left
    * out of the timings. `check(i, result)` runs after each op, outside its
    * wall. In a traced run every other op is traced, so the run also
    * measures its own tracing overhead. */
  def closedLoop[A](name: String, minOps: Int, warmOps: Int = 0)
      (op: Int => A)(check: (Int, A) => Map[String, Any])
      : Seq[Map[String, Any]] = {
    val out = Seq.newBuilder[Map[String, Any]]
    var busy = 0.0
    var i = 0
    while (i < warmOps || busy < cfg.seconds || i < warmOps + minOps) {
      val traced = cfg.trace && i % 2 == 0
      val t0 = System.nanoTime()
      val r = tracer.op(i, name, traced)(op(i))
      val wall = (System.nanoTime() - t0) / 1e9
      if (i >= warmOps) busy += wall
      out += Map("op" -> i, "wall_s" -> wall, "traced" -> traced,
        "warmup" -> (i < warmOps)) ++ check(i, r)
      i += 1
    }
    out.result()
  }
}

/** Minimal JSON writer for the run record. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
