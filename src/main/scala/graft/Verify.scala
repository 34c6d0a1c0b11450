package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Renders a name → SQL map as the oracle_sql.json the DuckDB compare
    * consumes (shared with the differential fuzz spec). */
  private[graft] def oracleSqlJson(oracles: Map[String, String]): String =
    oracles.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    // optional third arg: a regex restricting which queries run (dev-only
    // fast iteration — the driver always calls with two args = full run)
    val (sfDir, outDir, nameFilter) = args match {
      case Array(s, o)    => (s, o, ".*")
      case Array(s, o, f) => (s, o, f)
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Schema pin FIRST (the r9 lesson: a driver-side testdata regen can
    // silently retype/rename any column — fail here with a one-line diff
    // per table, not with N downstream AnalysisExceptions). Footer reads
    // only; post-normalization, so known encoding flips still pass.
    val schemaDiffs = graft.model.TestdataContract.check(spark, sfDir)
    if (schemaDiffs.nonEmpty) {
      schemaDiffs.foreach(d => System.err.println(s"[verify] SCHEMA DRIFT $d"))
      System.err.println(
        s"[verify] testdata schema contract violated (${schemaDiffs.size} " +
        "tables) — update graft.model.TestdataContract / the normalizers " +
        "in graft.ingest.Sources before trusting any query output")
      spark.stop()
      sys.exit(2)
    }
    new java.io.File(outDir).mkdirs()
    val failed = collection.mutable.ArrayBuffer[String]()
    SparkEntry.queries
      .filter { case (name, _) => name.matches(nameFilter) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      // Throwable, not NonFatal: a deep Catalyst plan can throw
      // StackOverflowError; one entry must not abort the oracle_sql.json dump
      catch { case e: Throwable =>
        failed += name
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val json = oracleSqlJson(
      SparkEntry.oracleSql.filter { case (k, _) => k.matches(nameFilter) })
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    // Loud summary + non-zero exit on ANY per-query failure, so a round
    // snapshot can never ship a silently broken surface (the r9 lesson:
    // 14 analysis-time failures went out with exit 0). All outputs and
    // oracle_sql.json are already on disk — a downstream oracle compare
    // still sees every query that did run.
    if (failed.nonEmpty) {
      System.err.println(
        s"[verify] ${failed.size} queries failed: ${failed.sorted.mkString(", ")}")
      sys.exit(1)
    } else System.err.println("[verify] all queries dumped ok")
  }
}
