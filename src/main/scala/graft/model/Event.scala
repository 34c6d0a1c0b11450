package graft.model

import java.sql.{Date, Timestamp}

import org.apache.spark.sql.types._

/** The canonical 9-column clickstream event of the reference system
  * (see SURVEY.md §1.2; derived from the cast chain at
  * `reference:airflow_docker/dags/ecomm_pipeline/extractor.py:106-114` and
  * the Kafka serializer at `producer.py:24-45`).
  *
  * `brand` / `categoryCode` are genuinely nullable (dashboards bucket them
  * as "(empty)"); `price` is null-imputed to 0.0 at ingest.
  */
case class Event(
    event_time: Timestamp,
    event_date: Date,
    event_type: String,
    product_id: String,
    category_id: String,
    category_code: Option[String],
    brand: Option[String],
    price: Double,
    user_id: String,
    user_session: String)

object Event {
  /** Canonical schema, mirrored from the reference's cast chain. */
  val schema: StructType = StructType(Seq(
    StructField("event_time", TimestampType, nullable = false),
    StructField("event_date", DateType, nullable = false),
    StructField("event_type", StringType, nullable = false),
    StructField("product_id", StringType, nullable = false),
    StructField("category_id", StringType, nullable = false),
    StructField("category_code", StringType, nullable = true),
    StructField("brand", StringType, nullable = true),
    StructField("price", DoubleType, nullable = false),
    StructField("user_id", StringType, nullable = false),
    StructField("user_session", StringType, nullable = false)))

  /** Full event-type domain of the driver testdata. */
  val testdataTypes: Seq[String] =
    Seq("view", "click", "purchase", "signup", "error")
}
