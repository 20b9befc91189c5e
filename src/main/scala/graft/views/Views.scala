package graft.views

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The 15 analytic views (`sql/views/base_views.sql`,
  * `sql/views/business_views.sql`) as DataFrame definitions over ONE
  * shared relation, [[Views.current]]: the fact joined once to its current
  * dimensions and its locations. Every view is a filter, explode and
  * aggregate over that relation; none restates the star join.
  *
  * Deviations, both documented in SURVEY.md §7.5:
  *   - `CURRENT_DATE` becomes the explicit `runDate` parameter (§7.5-1);
  *   - STRING_AGG(DISTINCT …) emits in sorted order (§7.5-10, stricter
  *     than DuckDB's unspecified order).
  *
  * Scale: the dims broadcast into the shared relation, which a server
  * materializes once for all views. Used lazily, a `runDate`-anchored
  * view's `date_id` filter still pushes through the left joins onto the
  * fact scan (partition pruning); the grouped views aggregate with
  * partial map-side combine.
  */
case class Star(
  dimJob: DataFrame, dimCompany: DataFrame, dimLocation: DataFrame,
  dimDate: DataFrame, fact: DataFrame, bridge: DataFrame)

/** A named view split at its final global ORDER BY: `rows` is the
  * definition below it, `order` the sort on top (empty when the
  * definition has none). A server materializes `rows` and keeps the sort
  * lazy, so a row-limited query over the view stays one top-k job.
  * `rows` is built (and analyzed) on first use, so a server that
  * materializes many views builds them on its worker threads too.
  */
final class View(val name: String, build: => DataFrame, val order: Column*) {
  lazy val rows: DataFrame = build
  /** The definition itself: `rows` in `order`. */
  def df: DataFrame = if (order.isEmpty) rows else rows.orderBy(order: _*)
}

object View {
  def apply(name: String, rows: => DataFrame, order: Column*): View =
    new View(name, rows, order: _*)
}

object Views {

  /** The current star, one row per fact row: the fact's own columns; the
    * current DimJob (`job_id`, `title`, `job_url`, `skills`) and DimCompany
    * (`company_name`, `company_url`, `verified_employer`) attributes, null
    * when the fact's key has no current version, flagged by `has_job` /
    * `has_company`; and `locations`, the fact's bridge rows left-joined to
    * DimLocation as an array of `(location_sk, city, country)` (null when
    * the fact has no bridge row; `location_sk` null when a bridge row
    * names no DimLocation row). Every join is a LEFT join, so an
    * SCD2-carried fact on a stale key stays, for the views that count it.
    */
  def current(s: Star): DataFrame = {
    val job = s.dimJob.filter(col("is_current")).select(col("job_sk"),
      col("job_id"), col("title"), col("job_url"), col("skills"),
      lit(true).as("has_job"))
    val company = s.dimCompany.filter(col("is_current")).select(col("company_sk"),
      col("company_name"), col("company_url"), col("verified_employer"),
      lit(true).as("has_company"))
    val locations = s.bridge.as("b")
      .join(broadcast(s.dimLocation).as("l"),
        col("b.location_sk") === col("l.location_sk"), "left")
      .groupBy(col("b.fact_id"))
      .agg(collect_list(struct(col("l.location_sk"), col("l.city"),
        col("l.country"))).as("locations"))
    s.fact
      .join(broadcast(job), Seq("job_sk"), "left")
      .join(broadcast(company), Seq("company_sk"), "left")
      .join(locations, Seq("fact_id"), "left")
      .na.fill(false, Seq("has_job", "has_company"))
  }

  private val hasJob = col("has_job")
  private val hasCompany = col("has_company")
  private def today(runDate: Column) = col("date_id") === runDate.cast("date")

  /** A row per location of `cur`'s rows that names a DimLocation row, as
    * struct `l` (fact ⋈ bridge ⋈ DimLocation). */
  private def located(cur: DataFrame): DataFrame =
    cur.withColumn("l", explode(col("locations"))).filter(col("l.location_sk").isNotNull)

  /** A row per bridge row of `cur`'s rows, or one with a null `l` for a
    * row without any (fact ⟕ bridge ⟕ DimLocation). */
  private def anyLocated(cur: DataFrame): DataFrame =
    cur.withColumn("l", explode_outer(col("locations")))

  private val rnd1 = (x: Column) => round(x, 1)
  private val rnd2 = (x: Column) => round(x, 2)

  /** Hard bound on the A6 STRING_AGG city list — a bound on the OUTPUT
    * (row width, driver transfer on collect), not on the aggregation
    * buffer: `collect_set` dedupes in-buffer, so the buffer is already
    * bounded by the DISTINCT-city domain of the group (a dimension
    * attribute — thousands, policed by the DimLocation quality gates;
    * a million-distinct-"city" corruption is caught there, upstream of
    * this view). Sorted BEFORE slicing, so a capped list is the
    * deterministic alphabetical prefix, not an arbitrary subset
    * (SCALE.md "what breaks first" #2).
    */
  private val MaxCitiesPerGroup = 1000
  private def cityAgg: Column =
    array_join(slice(sort_array(collect_set(col("l.city"))),
      1, MaxCitiesPerGroup), ", ")

  /** vw_current_jobs (base_views.sql:10-33). */
  def currentJobs(cur: DataFrame): View = View("vw_current_jobs",
    cur.filter(hasJob && hasCompany).select(
      col("job_sk"), col("job_id"), col("title"), col("job_url"),
      col("skills"), col("company_sk"), col("company_name"),
      col("company_url"), col("verified_employer"), col("date_id"),
      col("salary_min"), col("salary_max"), col("salary_type"),
      col("due_date"), col("time_remaining"), col("posted_time"),
      col("crawled_at")))

  /** vw_job_locations (base_views.sql:41-55). */
  def jobLocations(cur: DataFrame): View = View("vw_job_locations",
    located(cur.filter(hasJob))
      .select(col("fact_id"), col("job_sk"), col("job_id"), col("title"),
        col("date_id"), col("l.location_sk"), col("l.city"), col("l.country")))

  /** vw_monthly_stats (base_views.sql:63-74). */
  def monthlyStats(cur: DataFrame): View = View("vw_monthly_stats",
    cur.filter(hasCompany)
      .groupBy(col("load_month"))
      .agg(
        countDistinct(col("job_sk")).as("job_count"),
        countDistinct(col("company_sk")).as("company_count"),
        rnd2(avg(col("salary_min"))).as("avg_salary_min"),
        rnd2(avg(col("salary_max"))).as("avg_salary_max"),
        countDistinct(when(col("verified_employer"), col("job_sk"))).as("verified_jobs")),
    col("load_month").desc)

  /** vw_top_companies (base_views.sql:82-96) — SURVEY §7.3's slice. */
  def topCompanies(cur: DataFrame): View = View("vw_top_companies",
    cur.filter(hasCompany)
      .groupBy(col("company_sk"), col("company_name"), col("company_url"),
        col("verified_employer"))
      .agg(
        countDistinct(col("job_sk")).as("job_count"),
        rnd2(avg(col("salary_min"))).as("avg_salary_min"),
        rnd2(avg(col("salary_max"))).as("avg_salary_max"),
        max(col("date_id")).as("last_posting_date")),
    col("job_count").desc)

  /** vw_top_locations (base_views.sql:104-116). */
  def topLocations(cur: DataFrame): View = View("vw_top_locations",
    located(cur)
      .groupBy(col("l.location_sk"), col("l.city"), col("l.country"))
      .agg(
        countDistinct(col("job_sk")).as("job_count"),
        rnd2(avg(col("salary_min"))).as("avg_salary_min"),
        rnd2(avg(col("salary_max"))).as("avg_salary_max")),
    col("job_count").desc)

  /** vw_job_full_details (base_views.sql:124-151). */
  def jobFullDetails(cur: DataFrame): View = View("vw_job_full_details",
    anyLocated(cur.filter(hasJob && hasCompany))
      .groupBy(col("job_id"), col("title"), col("company_name"),
        col("verified_employer"), col("date_id"), col("salary_min"),
        col("salary_max"), col("salary_type"), col("due_date"),
        col("time_remaining"), col("posted_time"), col("skills"),
        col("job_url"), col("company_url"), col("load_month"))
      .agg(cityAgg.as("locations"))
      .select(col("job_id"), col("title"), col("company_name"),
        col("verified_employer"), col("date_id"), col("salary_min"),
        col("salary_max"), col("salary_type"), col("due_date"),
        col("time_remaining"), col("posted_time"), col("locations"),
        col("skills"), col("job_url"), col("company_url"), col("load_month")))

  /** vw_jobs_today (business_views.sql:10-34). */
  def jobsToday(cur: DataFrame, runDate: Column): View = View("vw_jobs_today",
    anyLocated(cur.filter(today(runDate) && hasJob && hasCompany))
      .groupBy(col("job_id"), col("title"), col("company_name"),
        col("verified_employer"), col("salary_min"), col("salary_max"),
        col("salary_type"), col("due_date"), col("time_remaining"),
        col("skills"), col("job_url"), col("posted_time"))
      .agg(cityAgg.as("locations")),
    col("due_date").asc_nulls_last)

  private def cityFiltered(name: String, cur: DataFrame, runDate: Column,
                           cityPred: Column): View = View(name,
    located(cur.filter(today(runDate) && hasJob && hasCompany))
      .filter(cityPred)
      .select(col("job_id"), col("title"), col("company_name"),
        col("verified_employer"), col("salary_min"), col("salary_max"),
        col("due_date"), col("time_remaining"), col("skills"), col("job_url")),
    col("due_date").asc_nulls_last)

  /** vw_jobs_hanoi (business_views.sql:42-61); ILIKE → lower-contains. */
  def jobsHanoi(cur: DataFrame, runDate: Column): View =
    cityFiltered("vw_jobs_hanoi", cur, runDate,
      lower(col("l.city")).contains("hà nội") || lower(col("l.city")).contains("hanoi"))

  /** vw_jobs_hcm (business_views.sql:69-88). */
  def jobsHcm(cur: DataFrame, runDate: Column): View =
    cityFiltered("vw_jobs_hcm", cur, runDate,
      lower(col("l.city")).contains("hồ chí minh") ||
        lower(col("l.city")).contains("hcm") ||
        lower(col("l.city")).contains("sài gòn"))

  /** vw_jobs_expiring_soon (business_views.sql:96-119). */
  def jobsExpiringSoon(cur: DataFrame, runDate: Column): View = {
    val day = runDate.cast("date")
    View("vw_jobs_expiring_soon",
      anyLocated(cur.filter(today(runDate) && col("due_date") >= day &&
          col("due_date") <= date_add(day, 7) && hasJob && hasCompany))
        .groupBy(col("job_id"), col("title"), col("company_name"),
          col("verified_employer"), col("salary_min"), col("salary_max"),
          col("due_date"), col("time_remaining"), col("job_url"))
        .agg(cityAgg.as("locations"))
        .withColumn("days_left", datediff(to_date(col("due_date")), day)),
      col("due_date").asc_nulls_last)
  }

  /** vw_salary_distribution (business_views.sql:127-154). NOTE the
    * reference quirk kept verbatim: buckets compare raw `salary_max`
    * against 10..50 as if in millions (SURVEY.md §7.5-5).
    */
  def salaryDistribution(cur: DataFrame, runDate: Column): View = {
    val bucket = when(col("salary_max").isNull, "Thỏa thuận")
      .when(col("salary_max") <= 10, "Dưới 10M")
      .when(col("salary_max") <= 15, "10M - 15M")
      .when(col("salary_max") <= 20, "15M - 20M")
      .when(col("salary_max") <= 30, "20M - 30M")
      .when(col("salary_max") <= 50, "30M - 50M")
      .otherwise("Trên 50M")
    val sortKey = when(col("salary_range") === "Thỏa thuận", 0)
      .when(col("salary_range") === "Dưới 10M", 1)
      .when(col("salary_range") === "10M - 15M", 2)
      .when(col("salary_range") === "15M - 20M", 3)
      .when(col("salary_range") === "20M - 30M", 4)
      .when(col("salary_range") === "30M - 50M", 5)
      .otherwise(6)
    View("vw_salary_distribution", cur.filter(today(runDate))
      .groupBy(bucket.as("salary_range"))
      .agg(
        countDistinct(col("job_sk")).as("job_count"),
        countDistinct(col("company_sk")).as("company_count"),
        rnd1(avg(col("salary_min"))).as("avg_min"),
        rnd1(avg(col("salary_max"))).as("avg_max")),
      sortKey)
  }

  /** vw_verified_employers (business_views.sql:162-180). */
  def verifiedEmployers(cur: DataFrame, runDate: Column): View =
    View("vw_verified_employers",
      anyLocated(cur.filter(today(runDate) && hasJob && hasCompany && col("verified_employer")))
        .groupBy(col("job_id"), col("title"), col("company_name"),
          col("salary_min"), col("salary_max"), col("due_date"), col("job_url"))
        .agg(cityAgg.as("locations")),
      col("due_date").asc_nulls_last)

  /** vw_location_stats (business_views.sql:188-203). */
  def locationStats(cur: DataFrame, runDate: Column): View =
    View("vw_location_stats",
      located(cur.filter(today(runDate) && hasCompany))
        .filter(col("l.city") =!= "Unknown")
        .groupBy(col("l.city"))
        .agg(
          countDistinct(col("job_sk")).as("job_count"),
          countDistinct(col("company_sk")).as("company_count"),
          rnd1(avg(col("salary_min"))).as("avg_salary_min"),
          rnd1(avg(col("salary_max"))).as("avg_salary_max"),
          countDistinct(when(col("verified_employer"), col("job_sk"))).as("verified_jobs")),
      col("job_count").desc)

  /** vw_company_stats (business_views.sql:211-224). */
  def companyStats(cur: DataFrame, runDate: Column): View =
    View("vw_company_stats",
      cur.filter(today(runDate) && hasCompany)
        .groupBy(col("company_name"), col("verified_employer"))
        .agg(
          countDistinct(col("job_sk")).as("active_jobs"),
          rnd1(avg(col("salary_min"))).as("avg_salary_min"),
          rnd1(avg(col("salary_max"))).as("avg_salary_max"),
          min(col("due_date")).as("earliest_deadline")),
      col("active_jobs").desc)

  /** vw_daily_summary (business_views.sql:232-244); not served. */
  def dailySummary(cur: DataFrame): View = View("vw_daily_summary",
    cur.filter(hasCompany)
      .groupBy(col("date_id"))
      .agg(
        countDistinct(col("job_sk")).as("total_jobs"),
        countDistinct(col("company_sk")).as("total_companies"),
        countDistinct(when(col("verified_employer"), col("company_sk"))).as("verified_companies"),
        rnd1(avg(col("salary_min"))).as("avg_salary_min"),
        rnd1(avg(col("salary_max"))).as("avg_salary_max"),
        countDistinct(when(col("salary_min").isNotNull, col("job_sk"))).as("jobs_with_salary")),
    col("date_id").desc)

  /** vw_skills_demand (business_views.sql:252-266): explode the native
    * skills array; top-50 plans as TakeOrderedAndProject (true top-k),
    * whose rows already come out in order, so the view has no separate
    * ORDER BY.
    */
  def skillsDemand(cur: DataFrame, runDate: Column): View = View("vw_skills_demand",
    cur.filter(today(runDate) && hasJob)
      .select(col("salary_min"), col("salary_max"), explode(col("skills")).as("skill"))
      .filter(col("skill").isNotNull && col("skill") =!= "")
      .groupBy(col("skill"))
      .agg(count(lit(1)).as("job_count"),
        rnd1(avg(col("salary_min"))).as("avg_salary_min"),
        rnd1(avg(col("salary_max"))).as("avg_salary_max"))
      .orderBy(col("job_count").desc, col("skill"))
      .limit(50))

  /** The 15 served analytic views over `cur` ([[current]]), anchored at
    * `runDate`. */
  def all(cur: DataFrame, runDate: Column): Seq[View] = Seq(
    currentJobs(cur), jobLocations(cur), monthlyStats(cur), topCompanies(cur),
    topLocations(cur), jobFullDetails(cur), jobsToday(cur, runDate),
    jobsHanoi(cur, runDate), jobsHcm(cur, runDate), jobsExpiringSoon(cur, runDate),
    salaryDistribution(cur, runDate), verifiedEmployers(cur, runDate),
    locationStats(cur, runDate), companyStats(cur, runDate),
    skillsDemand(cur, runDate))
}
