package graft.warehouse

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Concurrent
import graft.operators.Keys
import graft.views.Star

/** One warehouse day-run (the `jobinsight_dwh` DAG body, SURVEY.md §3.2):
  * staging slice → dimension merges (M1–M4) → fact build (M5+M6) → bridge
  * build (M7). Pure DataFrame-in/DataFrame-out so tests and the storage
  * layer both drive it. The four dimension merges run side by side;
  * fact and bridge follow in order (see [[runDay]]).
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
    dimDate = Schemas.empty(spark, Schemas.dimDate),
    fact = Schemas.empty(spark, Schemas.factDaily),
    bridge = Schemas.empty(spark, Schemas.bridge)))

  /** Run one day: returns the new warehouse state. `staging` must follow
    * [[Schemas.staging]]. Frames are localCheckpoint'd so multi-day runs
    * don't stack lineage (the on-disk table layer plays this role in
    * production).
    *
    * Stages are checkpointed IN DEPENDENCY ORDER and each later stage is
    * built from the already-checkpointed frames, so the dim merges
    * execute once instead of being re-derived inside the fact/bridge
    * plans, and the bridge reads today's slice of the checkpointed fact
    * rather than re-running the fact build (and its key minting). The
    * four dimension merges depend only on the previous star and the
    * staging slice, so they run side by side ([[graft.Concurrent.all]]);
    * the fact waits for them, the bridge for the fact.
    *
    * `onStage` receives each stage's wall time (`scd2_dim_job`,
    * `scd2_dim_company`, `dim_location`, `dim_date`, `fact`, `bridge`),
    * always on the calling thread and in that order — the
    * instrumentation that localizes a regression inside the
    * otherwise-opaque day-build composite. The four dimension times
    * overlap, so the stage times no longer sum to the day. The
    * checkpoints also let a caller overwrite the very files the input
    * plans read from ([[graft.app.Apps.runWarehouseDay]] does).
    */
  def runDay(spark: SparkSession, state: State, staging: DataFrame,
             runDate: String,
             onStage: (String, Double) => Unit = (_, _) => ()): State = {
    val rd = lit(runDate)
    val today = java.sql.Date.valueOf(runDate)
    val yesterday = java.sql.Date.valueOf(today.toLocalDate.minusDays(1))

    def timed(df: => DataFrame): (DataFrame, Double) = {
      val t0 = System.nanoTime()
      (df.localCheckpoint(eager = true), (System.nanoTime() - t0) / 1e9)
    }
    def staged(name: String)(df: => DataFrame): DataFrame = {
      val (out, secs) = timed(df)
      onStage(name, secs)
      out
    }

    val dims = Seq[(String, () => (DataFrame, Double))](
      "scd2_dim_job" -> (() => timed(
        Dimensions.mergeDimJob(state.star.dimJob, staging, rd))),
      "scd2_dim_company" -> (() => timed(
        Dimensions.mergeDimCompany(state.star.dimCompany, staging, rd))),
      "dim_location" -> (() => timed(
        Dimensions.mergeDimLocation(state.star.dimLocation, staging))),
      "dim_date" -> (() => timed(DimDate.mergeInto(state.star.dimDate, staging,
        Seq(col("posted_time"), col("due_date"), col("crawled_at")), rd))))
    val merged = Concurrent.all(dims.map(_._2))
    dims.map(_._1).zip(merged).foreach { case (name, (_, secs)) => onStage(name, secs) }
    val Seq(dimJob, dimCompany, dimLocation, dimDate) = merged.map(_._1)

    val factYesterday = state.star.fact.filter(col("date_id") === lit(yesterday))
    val factOther = state.star.fact.filter(col("date_id") =!= lit(runDate).cast("date"))
    val factTodayExisting = state.star.fact.filter(col("date_id") === lit(runDate).cast("date"))
    val maxFactId = Keys.maxKey(state.star.fact, "fact_id")

    val factToday = FactDaily.buildDay(
      factYesterday, factTodayExisting, staging, dimJob, dimCompany,
      runDate = rd, crawledAt = lit(runDate + " 07:00:00"), maxFactId = maxFactId)
    val fact = staged("fact")(factOther.unionByName(factToday))

    val bridge = staged("bridge")(Bridge.buildDay(
      state.star.bridge, fact.filter(col("date_id") === lit(runDate).cast("date")),
      factTodayExisting, factYesterday, staging, dimJob, dimLocation,
      maxBridgeId = Keys.maxKey(state.star.bridge, "bridge_id")))

    State(Star(dimJob, dimCompany, dimLocation, dimDate, fact, bridge))
  }
}
