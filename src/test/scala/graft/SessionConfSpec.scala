package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, Executors}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

/** Session conf has one owner, [[GraftSession]]: query code never writes
  * the conf of the session it was given, so queries sharing a session
  * cannot see each other's settings. The source scans below also pin the
  * one owner of the maintenance sinks' rewrite suffixes. */
class SessionConfSpec extends SparkSpec {
  /** The Scala files under `src/main`. */
  private def mainSources(): Seq[Path] =
    Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq

  /** `file:line: text` of each line of `p` that `pattern` matches. */
  private def hits(pattern: scala.util.matching.Regex)(p: Path) =
    Files.readAllLines(p).asScala.zipWithIndex.collect {
      case (line, i) if pattern.findFirstIn(line).isDefined =>
        s"$p:${i + 1}: ${line.trim}"
    }

  test("a graph loop, a stream and a batch entry run concurrently on one " +
    "session: serial rows, and the session's conf never changes") {
    val dir = sf("sf0.001")
    // pinned loop checkpoints (AQE off in their own session), the stream
    // harness (4 shuffle partitions in its own session) joined to a
    // caller-session static frame, and a plain batch aggregate
    val names = Seq("q_pagerank_exact", "q_stream_segment_revenue",
      "q_daily_revenue")
    def rows(name: String) =
      SparkEntry.queries(name)(spark, dir).collect().toSeq
    val serial = names.map(n => n -> rows(n)).toMap

    val before = spark.conf.getAll
    val samples = new ConcurrentLinkedQueue[Map[String, String]]
    @volatile var running = true
    val poller = new Thread(() =>
      while (running) { samples.add(spark.conf.getAll); Thread.sleep(2) })
    val pool = Executors.newFixedThreadPool(names.size)
    val concurrent =
      try {
        poller.start()
        implicit val ec: ExecutionContext =
          ExecutionContext.fromExecutorService(pool)
        Await.result(Future.traverse(names)(n => Future(n -> rows(n))),
          10.minutes).toMap
      } finally {
        running = false
        poller.join()
        pool.shutdown()
      }
    val after = spark.conf.getAll

    assert(concurrent == serial)
    assert(samples.size > 10, s"only ${samples.size} conf samples taken")
    // entries a sample holds that `before` does not: changed or added keys
    val drift = samples.asScala
      .flatMap(c => c.toSet diff before.toSet).toSet
    assert(drift.isEmpty, "conf changed during the run")
    assert(samples.asScala.forall(_.keySet == before.keySet),
      "conf keys changed during the run")
    assert(after == before)
  }

  test("no src/main file but GraftSession.scala writes session conf") {
    val files = mainSources()
    assert(files.exists(_.endsWith("graft/GraftSession.scala")),
      s"scan of src/main found no GraftSession.scala (${files.size} files)")
    val offenders = files
      .filterNot(_.getFileName.toString == "GraftSession.scala")
      .flatMap(hits("""\.conf\.(set|unset)\(""".r))
    assert(offenders.isEmpty,
      "session conf is written outside GraftSession:\n" +
        offenders.mkString("\n"))
  }

  test("the rewrite's tmp/backup suffix pair is spelled only in Sinks.scala") {
    // a string literal naming a sibling dir suffix such as ".x-tmp"
    val suffix = """"\.[A-Za-z]+-(tmp|old)"""".r
    val (sinks, others) =
      mainSources().partition(_.endsWith("graft/sink/Sinks.scala"))
    assert(sinks.size == 1, "scan of src/main found no sink/Sinks.scala")
    // exactly one pair: one tmp suffix and one backup suffix
    val spelled = Files.readAllLines(sinks.head).asScala
      .flatMap(suffix.findAllIn).toSet
    assert(spelled.toSeq.map(_.takeRight(5)).sorted == Seq("-old\"", "-tmp\""),
      s"Sinks.scala spells $spelled")
    val offenders = others.flatMap(hits(suffix))
    assert(offenders.isEmpty,
      "rewrite suffixes are spelled outside Sinks.scala:\n" +
        offenders.mkString("\n"))
  }
}
