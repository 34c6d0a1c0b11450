package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Encoders, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The scaling harness's record writer, checked without running the
  * harness itself (that needs a 24 GiB heap). */
class ScalingRecordSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark: SparkSession =
    GraftSession.builder(2).appName("scaling-record-spec").getOrCreate()
  private val tmp = Files.createTempDirectory("graft-scaling-record")

  override protected def afterAll(): Unit =
    try spark.stop() finally Fs.deleteQuietly(tmp)

  test("a section record reads back with spark.read.json field for field") {
    val cells = Seq(
      Scaling.Cell("q_semdedup", "x30", 4.25, 316.6, 1234567L),
      Scaling.Cell("q_bm25_maxscore", "spread", 0.125, queries = Some(1000),
        docs = Some(46875L), rows = Some(3L), parallelism = Some(31.5),
        idlePct = Some(2.0), note = Some("rounds=3 final_b=256 by_bound=true")))
    val dir = tmp.resolve("section").toString
    Scaling.writeRecord(spark, dir, cells)
    import spark.implicits._
    val back = spark.read.schema(Encoders.product[Scaling.Cell].schema)
      .json(dir).as[Scaling.Cell].collect().toSeq
    assert(back.sortBy(_.entry) == cells.sortBy(_.entry))
    // unset options are omitted from the record, not written as nulls
    val lines = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".json"))
      .flatMap(f => Files.readAllLines(f.toPath).asScala)
    assert(lines.length == 2)
    assert(lines.exists(l => l.contains("\"q_semdedup\"") && !l.contains("note")))
  }
}
