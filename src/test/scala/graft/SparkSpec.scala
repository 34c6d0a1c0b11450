package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session; suites run
  * sequentially under sbt's single forked test JVM). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String): String = s"/root/testdata/$dir"

  private val tempDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  /** A fresh temp dir, deleted with everything under it when the suite
    * ends. */
  def tempDir(prefix: String): Path = {
    val dir = Files.createTempDirectory(prefix)
    tempDirs.add(dir)
    dir
  }

  override protected def afterAll(): Unit =
    try super.afterAll()
    finally tempDirs.forEach(dir => Fs.deleteQuietly(dir))

  /** Runs `body` on a per-query session carrying the RocksDB state store
    * ([[Tuning.rocksDbStateStore]]), as the TWS query entry does, and
    * asserts that the shared session still has none of its keys set. */
  def onRocksDb[A](body: SparkSession => A): A = {
    val result = body(GraftSession.derive(spark, Tuning.rocksDbStateStore))
    val leaked = spark.conf.getAll.keySet.intersect(
      Tuning.rocksDbStateStore.keySet)
    assert(leaked.isEmpty, s"the shared session carries $leaked")
    result
  }

  /** Runs `body` with the artifact store rooted in a fresh temp dir,
    * deleted afterwards with everything stored under it. */
  def withArtifactRoot[A](body: => A): A = {
    val tmp = Files.createTempDirectory("graft-artifacts-spec")
    val prev = sys.props.get("graft.artifacts.dir")
    sys.props("graft.artifacts.dir") = tmp.toString
    try body
    finally {
      prev match {
        case Some(v) => sys.props("graft.artifacts.dir") = v
        case None => sys.props -= "graft.artifacts.dir"
      }
      Fs.deleteQuietly(tmp)
    }
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    // outlives every suite, so it goes when the JVM does
    val warehouse = Files.createTempDirectory("graft-wh")
    sys.addShutdownHook(Fs.deleteQuietly(warehouse))
    val s = GraftSession.builder(4)
      .appName("graft-test")
      .config("spark.sql.warehouse.dir", warehouse.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
