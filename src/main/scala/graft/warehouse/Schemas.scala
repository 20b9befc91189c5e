package graft.warehouse

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Explicit schemas for the jobinsight star schema
  * (`sql/schemas/dwh_schema.sql:47-163`) and the staging input
  * (`sql/schemas/staging_schema.sql:10-36`), with empty-frame constructors
  * for warehouse bootstrap.
  *
  * Type mapping per SURVEY.md §1.3: LongType surrogate keys (headroom at
  * scale), DecimalType(18,2) for salary NUMERIC, native
  * ArrayType(StringType) for the skills JSON array, TimestampType in a UTC
  * session.
  */
object Schemas {

  val dimJob: StructType = StructType(Seq(
    StructField("job_id", StringType, nullable = false),
    StructField("job_sk", LongType),
    StructField("title", StringType),
    StructField("job_url", StringType),
    StructField("skills", ArrayType(StringType)),
    StructField("effective_date", DateType),
    StructField("expiry_date", DateType),
    StructField("is_current", BooleanType, nullable = false)))

  val dimCompany: StructType = StructType(Seq(
    StructField("company_bk_hash", StringType, nullable = false),
    StructField("company_sk", LongType),
    StructField("company_name", StringType),
    StructField("company_url", StringType),
    StructField("logo_url", StringType),
    StructField("verified_employer", BooleanType),
    StructField("effective_date", DateType),
    StructField("expiry_date", DateType),
    StructField("is_current", BooleanType, nullable = false)))

  val dimLocation: StructType = StructType(Seq(
    StructField("location_sk", LongType, nullable = false),
    StructField("city", StringType, nullable = false),
    StructField("country", StringType, nullable = false)))

  /** The generated calendar ([[DimDate.attributes]]). */
  val dimDate: StructType = StructType(Seq(
    StructField("date_id", DateType),
    StructField("day", LongType),
    StructField("month", LongType),
    StructField("quarter", LongType),
    StructField("year", LongType),
    StructField("week_of_year", LongType),
    StructField("day_of_week", LongType),
    StructField("weekday_name", StringType),
    StructField("is_weekend", BooleanType),
    StructField("year_month", StringType),
    StructField("quarter_name", StringType)))

  val factDaily: StructType = StructType(Seq(
    StructField("fact_id", LongType, nullable = false),
    StructField("job_sk", LongType, nullable = false),
    StructField("company_sk", LongType, nullable = false),
    StructField("date_id", DateType, nullable = false),
    StructField("posted_date_id", DateType),
    StructField("due_date_id", DateType),
    StructField("salary_min", DecimalType(18, 2)),
    StructField("salary_max", DecimalType(18, 2)),
    StructField("salary_type", StringType),
    StructField("time_remaining", StringType),
    StructField("posted_time", TimestampType),
    StructField("due_date", TimestampType),
    StructField("crawled_at", TimestampType),
    StructField("load_month", StringType)))

  val bridge: StructType = StructType(Seq(
    StructField("bridge_id", LongType, nullable = false),
    StructField("fact_id", LongType, nullable = false),
    StructField("location_sk", LongType, nullable = false)))

  /** Staging slice consumed by the warehouse job
    * (`staging_schema.sql:10-36`, post-transform columns).
    */
  val staging: StructType = StructType(Seq(
    StructField("job_id", StringType),
    StructField("title_clean", StringType),
    StructField("job_url", StringType),
    StructField("skills", ArrayType(StringType)),
    StructField("company_name_standardized", StringType),
    StructField("company_url", StringType),
    StructField("logo_url", StringType),
    StructField("verified_employer", BooleanType),
    StructField("location", StringType),
    StructField("salary_min", DecimalType(18, 2)),
    StructField("salary_max", DecimalType(18, 2)),
    StructField("salary_type", StringType),
    StructField("time_remaining", StringType),
    StructField("posted_time", TimestampType),
    StructField("due_date", TimestampType),
    StructField("crawled_at", TimestampType)))

  /** An empty frame on a `LocalRelation`, which the optimizer knows to be
    * empty: joins and aggregates over it are pruned, not shuffled. */
  def empty(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)

  /** DimLocation seeded with the Unknown member (`dwh_schema.sql:175-176`). */
  def seedDimLocation(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      java.util.List.of(Row(-1L, "Unknown", "Unknown")), dimLocation)
}
