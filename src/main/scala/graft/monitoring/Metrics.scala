package graft.monitoring

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.storage.Store
import graft.views.View

/** ETL/quality run metrics (monitoring schema) + the 2 monitoring views
  * (A10) and DWH stats (A11).
  *
  * Reference: `sql/schemas/monitoring_schema.sql:8-80`,
  * `src/monitoring/etl_metrics.py:15-38`, `dags/dwh_dag.py:138-201`.
  * Metrics rows append to a date-partitioned parquet table; dashboards
  * read the rollup views. At scale the rollups switch to
  * `approx_count_distinct` freely (monitoring is not a correctness
  * surface — SURVEY.md §2.4).
  */
object Metrics {

  val etlMetricsSchema: StructType = StructType(Seq(
    StructField("dag_id", StringType),
    StructField("task_id", StringType),
    StructField("execution_date", DateType),
    StructField("started_at", TimestampType),
    StructField("finished_at", TimestampType),
    StructField("duration_seconds", DoubleType),
    StructField("rows_in", LongType),
    StructField("rows_out", LongType),
    StructField("status", StringType),
    StructField("error_message", StringType),
    StructField("metadata", MapType(StringType, StringType))))

  val qualityMetricsSchema: StructType = StructType(Seq(
    StructField("validation_type", StringType),
    StructField("execution_date", DateType),
    StructField("recorded_at", TimestampType),
    StructField("total_jobs", LongType),
    StructField("valid_jobs", LongType),
    StructField("valid_rate", DoubleType),
    StructField("duplicate_rate", DoubleType),
    StructField("status", StringType)))

  def metricRow(dagId: String, taskId: String, executionDate: java.sql.Date,
                startedAt: java.sql.Timestamp, finishedAt: java.sql.Timestamp,
                rowsIn: Long, rowsOut: Long, status: String,
                error: Option[String] = None,
                metadata: Map[String, String] = Map.empty): Row =
    Row(dagId, taskId, executionDate, startedAt, finishedAt,
      (finishedAt.getTime - startedAt.getTime) / 1000.0,
      rowsIn, rowsOut, status, error.orNull, metadata)

  /** vw_pipeline_health (monitoring_schema.sql:58-68): per dag/task 7-day
    * rollup — success ratio, avg duration, avg rows, last run.
    */
  def pipelineHealth(etlMetrics: DataFrame, now: Column): View =
    View("vw_pipeline_health", etlMetrics
      .filter(col("started_at") >= date_sub(now.cast("date"), 7))
      .groupBy(col("dag_id"), col("task_id"))
      .agg(
        count(lit(1)).as("run_count"),
        round(count(when(col("status") === "success", 1)).cast("double") /
          count(lit(1)), 4).as("success_rate"),
        round(avg(col("duration_seconds")), 2).as("avg_duration_seconds"),
        round(avg(col("rows_out")), 1).as("avg_rows_out"),
        max(col("started_at")).as("last_run_at")),
      col("dag_id"), col("task_id"))

  /** vw_data_quality_trend (monitoring_schema.sql:70-80): daily quality
    * rates over the last 7 days.
    */
  def dataQualityTrend(qualityMetrics: DataFrame, now: Column): View =
    View("vw_data_quality_trend", qualityMetrics
      .filter(col("recorded_at") >= date_sub(now.cast("date"), 7))
      .groupBy(col("execution_date"), col("validation_type"))
      .agg(
        round(avg(col("valid_rate")), 4).as("avg_valid_rate"),
        round(avg(col("duplicate_rate")), 4).as("avg_duplicate_rate"),
        sum(col("total_jobs")).as("total_jobs"),
        count(when(col("status") === "failed", 1)).as("failed_checks")),
      col("execution_date").desc, col("validation_type"))

  /** DWH stats (A11, dwh_dag.py:138-201): facts per date over the last 7
    * days + per-load-month rollups.
    */
  def dwhStats(fact: DataFrame, runDate: Column): DataFrame =
    fact.filter(col("date_id") >= date_sub(runDate.cast("date"), 7))
      .groupBy(col("date_id"))
      .agg(count(lit(1)).as("fact_count"),
        countDistinct(col("job_sk")).as("job_count"))
      .orderBy(col("date_id").desc)

  def loadMonthStats(fact: DataFrame): DataFrame =
    fact.groupBy(col("load_month"))
      .agg(count(lit(1)).as("fact_count"),
        countDistinct(col("job_sk")).as("job_count"),
        countDistinct(col("date_id")).as("day_count"))
      .orderBy(col("load_month").desc).limit(3)

  // ---- persistence (the reference's monitoring.* tables) ---------------

  /** Append one ETL run row to the `monitoring/etl_metrics` table of the
    * store at `warehouseRoot` — the table [[pipelineHealth]] rolls up and
    * Grafana-parity dashboards read. Tiny appends (one row per task run):
    * the table is a monitoring log, compacted
    * ([[graft.storage.TableStore.compact]]) when it matters. */
  def recordEtl(spark: SparkSession, warehouseRoot: String, row: Row): Unit =
    Store.commit(warehouseRoot, Seq(Store.Append("monitoring/etl_metrics",
      spark.createDataFrame(java.util.Arrays.asList(row), etlMetricsSchema))))

  /** Append one quality row (from a [[graft.quality.Validators]] stats
    * row) to `monitoring/quality_metrics` — what [[dataQualityTrend]]
    * rolls up. */
  def recordQuality(spark: SparkSession, warehouseRoot: String,
                    validationType: String, executionDate: java.sql.Date,
                    recordedAt: java.sql.Timestamp, totalJobs: Long,
                    validJobs: Long, validRate: Double,
                    duplicateRate: Double, status: String): Unit =
    Store.commit(warehouseRoot, Seq(Store.Append("monitoring/quality_metrics",
      spark.createDataFrame(java.util.Arrays.asList(Row(validationType, executionDate,
        recordedAt, totalJobs, validJobs, validRate, duplicateRate, status)),
        qualityMetricsSchema))))

  /** Run `body`, record ONE etl_metrics row (success with its row
    * counts, or failed with the error message), rethrow failures — the
    * per-task instrumentation the reference's DAG callbacks perform
    * (`src/monitoring/etl_metrics.py:15-38`). `body` returns
    * `(result, rowsIn, rowsOut)`. */
  def instrument[T](spark: SparkSession, warehouseRoot: String, dagId: String,
                    taskId: String, runDate: String)
                   (body: => (T, Long, Long)): T = {
    val startedAt = new java.sql.Timestamp(System.currentTimeMillis())
    val execDate = java.sql.Date.valueOf(runDate)
    try {
      val (res, rowsIn, rowsOut) = body
      val fin = new java.sql.Timestamp(System.currentTimeMillis())
      recordEtl(spark, warehouseRoot, metricRow(dagId, taskId, execDate,
        startedAt, fin, rowsIn, rowsOut, "success"))
      res
    } catch {
      case e: Throwable =>
        val fin = new java.sql.Timestamp(System.currentTimeMillis())
        try recordEtl(spark, warehouseRoot, metricRow(dagId, taskId, execDate,
          startedAt, fin, 0L, 0L, "failed",
          Some(Option(e.getMessage).getOrElse(e.getClass.getName).take(500))))
        catch { case _: Throwable => () } // recording must not mask the error
        throw e
    }
  }
}
