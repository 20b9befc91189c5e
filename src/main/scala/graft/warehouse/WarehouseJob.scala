package graft.warehouse

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.views.Star

/** One warehouse day-run (the `jobinsight_dwh` DAG body, SURVEY.md §3.2):
  * staging slice → dimension merges (M1–M4) → fact build (M5+M6) → bridge
  * build (M7). Pure DataFrame-in/DataFrame-out so tests and the storage
  * layer both drive it.
  *
  * Scale: each step shuffles at most |current dims| + |one day of facts|;
  * dim lookups broadcast; fact/bridge history is only unioned, never
  * joined. With the fact table date-partitioned on disk, a day-run reads
  * two partitions (yesterday, today) and writes one.
  */
object WarehouseJob {

  case class State(star: Star)

  def emptyState(spark: SparkSession): State = State(Star(
    dimJob = Schemas.empty(spark, Schemas.dimJob),
    dimCompany = Schemas.empty(spark, Schemas.dimCompany),
    dimLocation = Schemas.seedDimLocation(spark),
    dimDate = Schemas.empty(spark,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("date_id",
          org.apache.spark.sql.types.DateType)))
        .add("day", "long").add("month", "long").add("quarter", "long")
        .add("year", "long").add("week_of_year", "long").add("day_of_week", "long")
        .add("weekday_name", "string").add("is_weekend", "boolean")
        .add("year_month", "string").add("quarter_name", "string")),
    fact = Schemas.empty(spark, Schemas.factDaily),
    bridge = Schemas.empty(spark, Schemas.bridge)))

  /** Run one day: returns the new warehouse state. `staging` must follow
    * [[Schemas.staging]]. Frames are localCheckpoint'd so multi-day runs
    * don't stack lineage (the on-disk table layer plays this role in
    * production).
    *
    * Stages are checkpointed IN DEPENDENCY ORDER and each later stage is
    * built from the already-checkpointed frames, so (a) the dim merges
    * execute once instead of being re-derived inside the fact/bridge
    * plans, and (b) `onStage` receives a per-stage wall time
    * (`scd2_dim_job`, `scd2_dim_company`, `dim_location`, `dim_date`,
    * `fact`, `bridge`) — the instrumentation that localizes a regression
    * inside the otherwise-opaque day-build composite. The checkpoints
    * also let a caller overwrite the very files the input plans read
    * from ([[graft.app.Apps.runWarehouseDay]] does).
    */
  def runDay(spark: SparkSession, state: State, staging: DataFrame,
             runDate: String,
             onStage: (String, Double) => Unit = (_, _) => ()): State = {
    val rd = lit(runDate)
    val today = java.sql.Date.valueOf(runDate)
    val yesterday = java.sql.Date.valueOf(today.toLocalDate.minusDays(1))

    def staged(name: String)(df: => DataFrame): DataFrame = {
      val t0 = System.nanoTime()
      val out = df.localCheckpoint(eager = true)
      onStage(name, (System.nanoTime() - t0) / 1e9)
      out
    }

    val dimJob = staged("scd2_dim_job")(
      Dimensions.mergeDimJob(state.star.dimJob, staging, rd))
    val dimCompany = staged("scd2_dim_company")(
      Dimensions.mergeDimCompany(state.star.dimCompany, staging, rd))
    val dimLocation = staged("dim_location")(
      Dimensions.mergeDimLocation(state.star.dimLocation, staging))
    val dimDate = staged("dim_date")(DimDate.mergeInto(state.star.dimDate,
      staging, Seq(col("posted_time"), col("due_date"), col("crawled_at")), rd))

    val factYesterday = state.star.fact.filter(col("date_id") === lit(yesterday))
    val factOther = state.star.fact.filter(col("date_id") =!= lit(runDate).cast("date"))
    val factTodayExisting = state.star.fact.filter(col("date_id") === lit(runDate).cast("date"))
    val maxFactId = maxOf(state.star.fact, "fact_id")

    val factToday = FactDaily.buildDay(
      factYesterday, factTodayExisting, staging, dimJob, dimCompany,
      runDate = rd, crawledAt = lit(runDate + " 07:00:00"), maxFactId = maxFactId)
    val fact = staged("fact")(factOther.unionByName(factToday))

    val bridge = staged("bridge")(Bridge.buildDay(
      state.star.bridge, factToday, factTodayExisting, factYesterday,
      staging, dimJob, dimLocation,
      maxBridgeId = maxOf(state.star.bridge, "bridge_id")))

    State(Star(dimJob, dimCompany, dimLocation, dimDate, fact, bridge))
  }

  private def maxOf(df: DataFrame, c: String): Long =
    df.agg(coalesce(max(col(c)), lit(0L))).head().getLong(0)
}
