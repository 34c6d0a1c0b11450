package graft.model

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

/** Schema pin for the driver testdata (TESTDATA.md): the EXPECTED
  * post-normalization column layout of every table, asserted at
  * [[graft.Verify]] startup.
  *
  * Why: the driver has regenerated the testdata twice, and each regen
  * flipped the parquet timestamp encoding (`ts` ns-long through r8,
  * µs-NTZ from the r9 regen) — the first flip silently broke 14 queries
  * because nothing checked the read-side schema. The ingest chokepoint
  * ([[graft.ingest.Sources]]) now absorbs every KNOWN encoding; this
  * contract catches the UNKNOWN next one — a renamed column, a retyped
  * column, a dropped table — with a one-line diff per table instead of
  * fourteen downstream AnalysisExceptions.
  *
  * The pin runs on the POST-normalization frame (`Sources.table` /
  * `Sources.events`), so any raw encoding the normalizers accept passes;
  * an encoding they don't yet handle fails here, loudly, naming exactly
  * what changed. Nullability is deliberately ignored (parquet writers
  * flip it freely and no query depends on it). Cost: one parquet footer
  * read per table — no data scan.
  */
object TestdataContract {
  /** Expected (column, type) layout per table, post-normalization. */
  val expected: Map[String, Seq[(String, DataType)]] = Map(
    "events" -> Seq(
      "event_id" -> LongType, "ts" -> TimestampType,
      "user_id" -> LongType, "event_type" -> StringType,
      "value" -> DoubleType, "props" -> StringType),
    "region" -> Seq(
      "r_regionkey" -> IntegerType, "r_name" -> StringType),
    "nation" -> Seq(
      "n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType),
    "customer" -> Seq(
      "c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
      "c_mktsegment" -> StringType),
    "supplier" -> Seq(
      "s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
    "part" -> Seq(
      "p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType,
      "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
    "orders" -> Seq(
      "o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampType, "o_orderpriority" -> StringType),
    "lineitem" -> Seq(
      "l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampType),
    "documents" -> Seq(
      "doc_id" -> LongType, "text" -> StringType,
      "lang" -> StringType, "source" -> StringType,
      "n_chars" -> LongType),
    "embeddings" -> Seq(
      "vec_id" -> LongType, "embedding" -> ArrayType(FloatType),
      "label" -> IntegerType))

  /** Diffs one observed schema against the expectation; empty = match.
    * Array element types compare ignoring containsNull (the writer's
    * choice, semantically irrelevant here). */
  private def diff(table: String, expect: Seq[(String, DataType)],
      got: StructType): Option[String] = {
    def norm(dt: DataType): DataType = dt match {
      case ArrayType(e, _) => ArrayType(norm(e))
      case other => other
    }
    val gotMap = got.fields.map(f => f.name -> norm(f.dataType)).toMap
    val missing = expect.collect {
      case (n, _) if !gotMap.contains(n) => n }
    val retyped = expect.collect {
      case (n, t) if gotMap.contains(n) && gotMap(n) != norm(t) =>
        s"$n: expected ${t.simpleString}, got ${gotMap(n).simpleString}" }
    val extra = got.fields.map(_.name).filterNot(expect.map(_._1).contains)
    if (missing.isEmpty && retyped.isEmpty && extra.isEmpty) None
    else Some(s"$table: " + (
      missing.map(m => s"MISSING $m") ++
      retyped.map(r => s"RETYPED $r") ++
      extra.map(e => s"EXTRA $e")).mkString("; "))
  }

  /** Checks every table under `sfDir` post-normalization; returns one
    * human-readable diff line per mismatched/unreadable table. */
  def check(spark: SparkSession, sfDir: String): Seq[String] =
    expected.toSeq.sortBy(_._1).flatMap { case (name, expect) =>
      val got =
        try Right(
          if (name == "events") graft.ingest.Sources.events(spark, sfDir).schema
          else graft.ingest.Sources.table(spark, sfDir, name).schema)
        catch { case NonFatal(t) =>
          Left(s"$name: UNREADABLE (${t.getClass.getSimpleName}: ${t.getMessage})") }
      got match {
        case Left(err) => Some(err)
        case Right(schema) => diff(name, expect, schema)
      }
    }
}
