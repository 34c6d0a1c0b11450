package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session; suites run
  * sequentially under sbt's single forked test JVM). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String): String = s"/root/testdata/$dir"

  /** Runs `body` with the artifact store rooted in a fresh temp dir,
    * deleted afterwards with everything stored under it. */
  def withArtifactRoot[A](body: => A): A = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-artifacts-spec")
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
    val s = GraftSession.builder(4)
      .appName("graft-test")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
