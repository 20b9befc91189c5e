package graft.warehouse

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.{Keys, Snapshots}

/** FactJobPostingDaily builder (M5 + M6) — pure periodic snapshot with
  * day-over-day carry-forward.
  *
  * Reference: `src/etl/warehouse/facts/daily.py`. The reference's per-row
  * loop becomes three set operations:
  *
  *   1. carry-forward (`:122-181`): yesterday's unexpired rows
  *      (`due_date_id IS NULL OR >= today`) re-stamped to today;
  *   2. staging rows (`:24-119`): SK resolution via broadcast joins against
  *      the current dims (the reference's dict caches, `cache.py:13-36`),
  *      missing SK → skipped, expired (`due_date_id < today`) → skipped;
  *   3. priority dedup: a staging row beats a carried row for the same
  *      `(job_sk, date_id)` — the reference achieves this with DELETE+INSERT
  *      (`:208-231`, SURVEY.md §7.5-4).
  *
  * Scale: inputs are single-day slices of a `date_id`-partitioned fact
  * table; the dedup window shuffles one day's volume on job_sk; dim lookups
  * broadcast. Nothing touches fact history.
  */
object FactDaily {

  /** Build today's fact slice.
    *
    * @param factYesterday yesterday's fact slice (empty frame on day 1)
    * @param factTodayExisting today's already-existing rows (idempotent
    *                          re-runs; usually empty)
    * @param staging today's staging batch (Schemas.staging)
    * @param dimJob / dimCompany post-merge dims (current rows used)
    * @param runDate today
    * @param maxFactId current max fact_id across the fact table
    * @return today's complete fact slice (Schemas.factDaily)
    */
  def buildDay(factYesterday: DataFrame, factTodayExisting: DataFrame,
               staging: DataFrame, dimJob: DataFrame, dimCompany: DataFrame,
               runDate: Column, crawledAt: Column, maxFactId: Long): DataFrame = {
    val today = runDate.cast("date")

    // M5: carried rows, re-stamped (daily.py:138-146); fact_id re-minted below.
    val carried = factYesterday
      .filter(col("due_date_id").isNull || col("due_date_id") >= today)
      .withColumn("date_id", today)
      .withColumn("crawled_at", crawledAt.cast("timestamp"))
      .withColumn("load_month", date_format(today, "yyyy-MM"))
      .withColumn("__priority", lit(2))

    // M6: staging rows with broadcast SK resolution (cache.py:13-36).
    val jobKeys = broadcast(dimJob.filter(col("is_current"))
      .select(col("job_id"), col("job_sk")))
    val companyKeys = broadcast(dimCompany.filter(col("is_current"))
      .select(col("company_bk_hash"), col("company_sk")))
    val fromStaging = staging
      .withColumn("company_bk_hash",
        graft.functions.Hashes.companyHash(col("company_name_standardized")))
      .join(jobKeys, Seq("job_id"))          // miss → skipped (daily.py:68-70)
      .join(companyKeys, Seq("company_bk_hash"))
      .withColumn("posted_date_id", to_date(col("posted_time")))
      .withColumn("due_date_id", to_date(col("due_date")))
      .filter(col("due_date_id").isNull || col("due_date_id") >= today) // expired skip (daily.py:92-94)
      .select(
        col("job_sk"), col("company_sk"),
        today.as("date_id"),
        col("posted_date_id"), col("due_date_id"),
        col("salary_min"), col("salary_max"), col("salary_type"),
        col("time_remaining"), col("posted_time"), col("due_date"),
        crawledAt.cast("timestamp").as("crawled_at"),
        date_format(today, "yyyy-MM").as("load_month"))
      .withColumn("__priority", lit(0))

    val existing = factTodayExisting.withColumn("__priority", lit(1))

    // Priority: staging > existing row > carried. The reference's re-run is
    // DELETE+INSERT (`daily.py:208-231`): a revised staging row OVERWRITES an
    // existing `(job_sk, date_id)` row and mints a fresh fact_id, so staging
    // must outrank existing. A staging row equal to the existing row is no
    // revision: it is dropped and the existing row keeps its fact_id, so a
    // rerun of the day rewrites the same rows. Carried rows drop their old
    // fact_id so every today-row gets a fresh id like the reference's NEXTVAL.
    val compared = fromStaging.columns.toSeq.filter(_ != "__priority")
    val revised = fromStaging.join(
      existing.select(compared.map(c => col(c).as(s"__e_$c")): _*),
      compared.map(c => col(c) <=> col(s"__e_$c")).reduce(_ && _), "left_anti")
    val unioned = existing.unionByName(
      revised.withColumn("fact_id", lit(null).cast("long")), allowMissingColumns = true)
      .unionByName(carried.withColumn("fact_id", lit(null).cast("long")))
    // Through Apps a (job_sk, date_id) key holds at most three rows — one
    // each from staging (read from the job_id-keyed raw table), the
    // existing slice and the carry — so the window has no hot key.
    val deduped = Snapshots.dedupByPriority(unioned, Seq("job_sk", "date_id"),
      col("__priority"), col("fact_id")).drop("__priority")

    // Fresh fact_ids, deterministic by job_sk within the day slice (unique
    // after the (job_sk, date_id) dedup — date_id is constant). Minting is
    // DISTRIBUTED: a whole day's fact volume must never funnel through one
    // window task, so ids come from a range-partitioned sort + per-partition
    // offsets (Keys.assignSorted) — same ids, parallel numbering.
    val keep = deduped.filter(col("fact_id").isNotNull)
    val mint = Keys.assignSorted(deduped.filter(col("fact_id").isNull).drop("fact_id"),
        Seq("job_sk"), "fact_id", offset = maxFactId)
      .select(deduped.columns.toIndexedSeq.map(col): _*)
    keep.unionByName(mint)
  }
}
