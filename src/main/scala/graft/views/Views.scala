package graft.views

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The 15 analytic views (`sql/views/base_views.sql`,
  * `sql/views/business_views.sql`) as DataFrame definitions over the star
  * schema, plus SQL-surface registration.
  *
  * Deviations, both documented in SURVEY.md §7.5:
  *   - `CURRENT_DATE` becomes the explicit `runDate` parameter (§7.5-1);
  *   - STRING_AGG(DISTINCT …) emits in sorted order (§7.5-10, stricter
  *     than DuckDB's unspecified order).
  *
  * Scale: every view is a star join — dims broadcast, the fact side stays
  * partition-pruned on `date_id` for the `runDate`-anchored views; the
  * grouped views aggregate with partial map-side combine.
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

  private def j(s: Star) = broadcast(s.dimJob.filter(col("is_current")))
  private def c(s: Star) = broadcast(s.dimCompany.filter(col("is_current")))
  private def l(s: Star) = broadcast(s.dimLocation)
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
  def currentJobs(s: Star): DataFrame =
    s.fact.as("f")
      .join(j(s).as("j"), col("f.job_sk") === col("j.job_sk"))
      .join(c(s).as("c"), col("f.company_sk") === col("c.company_sk"))
      .select(
        col("j.job_sk"), col("j.job_id"), col("j.title"), col("j.job_url"),
        col("j.skills"), col("c.company_sk"), col("c.company_name"),
        col("c.company_url"), col("c.verified_employer"), col("f.date_id"),
        col("f.salary_min"), col("f.salary_max"), col("f.salary_type"),
        col("f.due_date"), col("f.time_remaining"), col("f.posted_time"),
        col("f.crawled_at"))

  /** vw_job_locations (base_views.sql:41-55). */
  def jobLocations(s: Star): DataFrame =
    s.fact.as("f")
      .join(j(s).as("j"), col("f.job_sk") === col("j.job_sk"))
      .join(s.bridge.as("b"), col("f.fact_id") === col("b.fact_id"))
      .join(l(s).as("l"), col("b.location_sk") === col("l.location_sk"))
      .select(col("f.fact_id"), col("f.job_sk"), col("j.job_id"), col("j.title"),
        col("f.date_id"), col("l.location_sk"), col("l.city"), col("l.country"))

  /** vw_monthly_stats (base_views.sql:63-74). */
  def monthlyStats(s: Star): DataFrame = monthlyStatsView(s).df
  private def monthlyStatsView(s: Star): View = View("vw_monthly_stats",
    s.fact.as("f")
      .join(c(s).as("c"), col("f.company_sk") === col("c.company_sk"))
      .groupBy(col("f.load_month"))
      .agg(
        countDistinct(col("f.job_sk")).as("job_count"),
        countDistinct(col("f.company_sk")).as("company_count"),
        rnd2(avg(col("f.salary_min"))).as("avg_salary_min"),
        rnd2(avg(col("f.salary_max"))).as("avg_salary_max"),
        countDistinct(when(col("c.verified_employer"), col("f.job_sk"))).as("verified_jobs")),
      col("load_month").desc)

  /** vw_top_companies (base_views.sql:82-96) — SURVEY §7.3's slice. */
  def topCompanies(s: Star): DataFrame = topCompaniesView(s).df
  private def topCompaniesView(s: Star): View = View("vw_top_companies",
    c(s).as("c")
      .join(s.fact.as("f"), col("c.company_sk") === col("f.company_sk"))
      .groupBy(col("c.company_sk"), col("c.company_name"), col("c.company_url"),
        col("c.verified_employer"))
      .agg(
        countDistinct(col("f.job_sk")).as("job_count"),
        rnd2(avg(col("f.salary_min"))).as("avg_salary_min"),
        rnd2(avg(col("f.salary_max"))).as("avg_salary_max"),
        max(col("f.date_id")).as("last_posting_date")),
      col("job_count").desc)

  /** vw_top_locations (base_views.sql:104-116). */
  def topLocations(s: Star): DataFrame = topLocationsView(s).df
  private def topLocationsView(s: Star): View = View("vw_top_locations",
    l(s).as("l")
      .join(s.bridge.as("b"), col("l.location_sk") === col("b.location_sk"))
      .join(s.fact.as("f"), col("b.fact_id") === col("f.fact_id"))
      .groupBy(col("l.location_sk"), col("l.city"), col("l.country"))
      .agg(
        countDistinct(col("f.job_sk")).as("job_count"),
        rnd2(avg(col("f.salary_min"))).as("avg_salary_min"),
        rnd2(avg(col("f.salary_max"))).as("avg_salary_max")),
      col("job_count").desc)

  /** vw_job_full_details (base_views.sql:124-151). */
  def jobFullDetails(s: Star): DataFrame =
    s.fact.as("f")
      .join(j(s).as("j"), col("f.job_sk") === col("j.job_sk"))
      .join(c(s).as("c"), col("f.company_sk") === col("c.company_sk"))
      .join(s.bridge.as("b"), col("f.fact_id") === col("b.fact_id"), "left")
      .join(l(s).as("l"), col("b.location_sk") === col("l.location_sk"), "left")
      .groupBy(col("j.job_id"), col("j.title"), col("c.company_name"),
        col("c.verified_employer"), col("f.date_id"), col("f.salary_min"),
        col("f.salary_max"), col("f.salary_type"), col("f.due_date"),
        col("f.time_remaining"), col("f.posted_time"), col("j.skills"),
        col("j.job_url"), col("c.company_url"), col("f.load_month"))
      .agg(cityAgg.as("locations"))
      .select(col("job_id"), col("title"), col("company_name"),
        col("verified_employer"), col("date_id"), col("salary_min"),
        col("salary_max"), col("salary_type"), col("due_date"),
        col("time_remaining"), col("posted_time"), col("locations"),
        col("skills"), col("job_url"), col("company_url"), col("load_month"))

  /** vw_jobs_today (business_views.sql:10-34). */
  def jobsToday(s: Star, runDate: Column): DataFrame =
    jobsTodayView(s, runDate).df
  private def jobsTodayView(s: Star, runDate: Column): View =
    View("vw_jobs_today",
    s.fact.filter(col("date_id") === runDate.cast("date")).as("f")
      .join(j(s).as("j"), col("f.job_sk") === col("j.job_sk"))
      .join(c(s).as("c"), col("f.company_sk") === col("c.company_sk"))
      .join(s.bridge.as("b"), col("f.fact_id") === col("b.fact_id"), "left")
      .join(l(s).as("l"), col("b.location_sk") === col("l.location_sk"), "left")
      .groupBy(col("j.job_id"), col("j.title"), col("c.company_name"),
        col("c.verified_employer"), col("f.salary_min"), col("f.salary_max"),
        col("f.salary_type"), col("f.due_date"), col("f.time_remaining"),
        col("j.skills"), col("j.job_url"), col("f.posted_time"))
      .agg(cityAgg.as("locations")),
      col("due_date").asc_nulls_last)

  private def cityFiltered(name: String, s: Star, runDate: Column,
                           cityPred: Column): View = View(name,
    s.fact.filter(col("date_id") === runDate.cast("date")).as("f")
      .join(j(s).as("j"), col("f.job_sk") === col("j.job_sk"))
      .join(c(s).as("c"), col("f.company_sk") === col("c.company_sk"))
      .join(s.bridge.as("b"), col("f.fact_id") === col("b.fact_id"))
      .join(l(s).as("l"), col("b.location_sk") === col("l.location_sk"))
      .filter(cityPred)
      .select(col("j.job_id"), col("j.title"), col("c.company_name"),
        col("c.verified_employer"), col("f.salary_min"), col("f.salary_max"),
        col("f.due_date"), col("f.time_remaining"), col("j.skills"), col("j.job_url")),
    col("due_date").asc_nulls_last)

  /** vw_jobs_hanoi (business_views.sql:42-61); ILIKE → lower-contains. */
  def jobsHanoi(s: Star, runDate: Column): DataFrame = jobsHanoiView(s, runDate).df
  private def jobsHanoiView(s: Star, runDate: Column): View =
    cityFiltered("vw_jobs_hanoi", s, runDate,
      lower(col("l.city")).contains("hà nội") || lower(col("l.city")).contains("hanoi"))

  /** vw_jobs_hcm (business_views.sql:69-88). */
  def jobsHcm(s: Star, runDate: Column): DataFrame = jobsHcmView(s, runDate).df
  private def jobsHcmView(s: Star, runDate: Column): View =
    cityFiltered("vw_jobs_hcm", s, runDate,
      lower(col("l.city")).contains("hồ chí minh") ||
        lower(col("l.city")).contains("hcm") ||
        lower(col("l.city")).contains("sài gòn"))

  /** vw_jobs_expiring_soon (business_views.sql:96-119). */
  def jobsExpiringSoon(s: Star, runDate: Column): DataFrame =
    jobsExpiringSoonView(s, runDate).df
  private def jobsExpiringSoonView(s: Star, runDate: Column): View = {
    val today = runDate.cast("date")
    View("vw_jobs_expiring_soon", s.fact.filter(col("date_id") === today &&
        col("due_date") >= today && col("due_date") <= date_add(today, 7)).as("f")
      .join(j(s).as("j"), col("f.job_sk") === col("j.job_sk"))
      .join(c(s).as("c"), col("f.company_sk") === col("c.company_sk"))
      .join(s.bridge.as("b"), col("f.fact_id") === col("b.fact_id"), "left")
      .join(l(s).as("l"), col("b.location_sk") === col("l.location_sk"), "left")
      .groupBy(col("j.job_id"), col("j.title"), col("c.company_name"),
        col("c.verified_employer"), col("f.salary_min"), col("f.salary_max"),
        col("f.due_date"), col("f.time_remaining"), col("j.job_url"))
      .agg(cityAgg.as("locations"))
      .withColumn("days_left", datediff(to_date(col("due_date")), today)),
      col("due_date").asc_nulls_last)
  }

  /** vw_salary_distribution (business_views.sql:127-154). NOTE the
    * reference quirk kept verbatim: buckets compare raw `salary_max`
    * against 10..50 as if in millions (SURVEY.md §7.5-5).
    */
  def salaryDistribution(s: Star, runDate: Column): DataFrame =
    salaryDistributionView(s, runDate).df
  private def salaryDistributionView(s: Star, runDate: Column): View = {
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
    View("vw_salary_distribution", s.fact.filter(col("date_id") === runDate.cast("date"))
      .groupBy(bucket.as("salary_range"))
      .agg(
        countDistinct(col("job_sk")).as("job_count"),
        countDistinct(col("company_sk")).as("company_count"),
        rnd1(avg(col("salary_min"))).as("avg_min"),
        rnd1(avg(col("salary_max"))).as("avg_max")),
      sortKey)
  }

  /** vw_verified_employers (business_views.sql:162-180). */
  def verifiedEmployers(s: Star, runDate: Column): DataFrame =
    verifiedEmployersView(s, runDate).df
  private def verifiedEmployersView(s: Star, runDate: Column): View =
    View("vw_verified_employers",
    s.fact.filter(col("date_id") === runDate.cast("date")).as("f")
      .join(j(s).as("j"), col("f.job_sk") === col("j.job_sk"))
      .join(c(s).as("c"),
        col("f.company_sk") === col("c.company_sk") && col("c.verified_employer"))
      .join(s.bridge.as("b"), col("f.fact_id") === col("b.fact_id"), "left")
      .join(l(s).as("l"), col("b.location_sk") === col("l.location_sk"), "left")
      .groupBy(col("j.job_id"), col("j.title"), col("c.company_name"),
        col("f.salary_min"), col("f.salary_max"), col("f.due_date"), col("j.job_url"))
      .agg(cityAgg.as("locations")),
      col("due_date").asc_nulls_last)

  /** vw_location_stats (business_views.sql:188-203). */
  def locationStats(s: Star, runDate: Column): DataFrame =
    locationStatsView(s, runDate).df
  private def locationStatsView(s: Star, runDate: Column): View =
    View("vw_location_stats",
    l(s).as("l")
      .join(s.bridge.as("b"), col("l.location_sk") === col("b.location_sk"))
      .join(s.fact.filter(col("date_id") === runDate.cast("date")).as("f"),
        col("b.fact_id") === col("f.fact_id"))
      .join(c(s).as("c"), col("f.company_sk") === col("c.company_sk"))
      .filter(col("l.city") =!= "Unknown")
      .groupBy(col("l.city"))
      .agg(
        countDistinct(col("f.job_sk")).as("job_count"),
        countDistinct(col("f.company_sk")).as("company_count"),
        rnd1(avg(col("f.salary_min"))).as("avg_salary_min"),
        rnd1(avg(col("f.salary_max"))).as("avg_salary_max"),
        countDistinct(when(col("c.verified_employer"), col("f.job_sk"))).as("verified_jobs")),
      col("job_count").desc)

  /** vw_company_stats (business_views.sql:211-224). */
  def companyStats(s: Star, runDate: Column): DataFrame =
    companyStatsView(s, runDate).df
  private def companyStatsView(s: Star, runDate: Column): View =
    View("vw_company_stats",
    c(s).as("c")
      .join(s.fact.filter(col("date_id") === runDate.cast("date")).as("f"),
        col("c.company_sk") === col("f.company_sk"))
      .groupBy(col("c.company_name"), col("c.verified_employer"))
      .agg(
        countDistinct(col("f.job_sk")).as("active_jobs"),
        rnd1(avg(col("f.salary_min"))).as("avg_salary_min"),
        rnd1(avg(col("f.salary_max"))).as("avg_salary_max"),
        min(col("f.due_date")).as("earliest_deadline")),
      col("active_jobs").desc)

  /** vw_daily_summary (business_views.sql:232-244). */
  def dailySummary(s: Star): DataFrame =
    s.fact.as("f")
      .join(c(s).as("c"), col("f.company_sk") === col("c.company_sk"))
      .groupBy(col("f.date_id"))
      .agg(
        countDistinct(col("f.job_sk")).as("total_jobs"),
        countDistinct(col("f.company_sk")).as("total_companies"),
        countDistinct(when(col("c.verified_employer"), col("f.company_sk"))).as("verified_companies"),
        rnd1(avg(col("f.salary_min"))).as("avg_salary_min"),
        rnd1(avg(col("f.salary_max"))).as("avg_salary_max"),
        countDistinct(when(col("f.salary_min").isNotNull, col("f.job_sk"))).as("jobs_with_salary"))
      .orderBy(col("date_id").desc)

  /** vw_skills_demand (business_views.sql:252-266): explode the native
    * skills array; top-50 plans as TakeOrderedAndProject (true top-k).
    */
  def skillsDemand(s: Star, runDate: Column): DataFrame =
    s.fact.filter(col("date_id") === runDate.cast("date")).as("f")
      .join(j(s).as("j"), col("f.job_sk") === col("j.job_sk"))
      .select(col("f.salary_min"), col("f.salary_max"),
        explode(col("j.skills")).as("skill"))
      .filter(col("skill").isNotNull && col("skill") =!= "")
      .groupBy(col("skill"))
      .agg(count(lit(1)).as("job_count"),
        rnd1(avg(col("salary_min"))).as("avg_salary_min"),
        rnd1(avg(col("salary_max"))).as("avg_salary_max"))
      .orderBy(col("job_count").desc, col("skill"))
      .limit(50)

  /** The 15 analytic views over `s`, anchored at `runDate`. `vw_skills_demand`
    * is a top-50: its rows are the top-k itself, which already comes out in
    * order, so it has no separate ORDER BY.
    */
  def all(s: Star, runDate: Column): Seq[View] = Seq(
    View("vw_current_jobs", currentJobs(s)),
    View("vw_job_locations", jobLocations(s)),
    monthlyStatsView(s),
    topCompaniesView(s),
    topLocationsView(s),
    View("vw_job_full_details", jobFullDetails(s)),
    jobsTodayView(s, runDate),
    jobsHanoiView(s, runDate),
    jobsHcmView(s, runDate),
    jobsExpiringSoonView(s, runDate),
    salaryDistributionView(s, runDate),
    verifiedEmployersView(s, runDate),
    locationStatsView(s, runDate),
    companyStatsView(s, runDate),
    View("vw_skills_demand", skillsDemand(s, runDate)))

  /** Register every view on the SQL surface (`createOrReplaceTempView`),
    * mirroring the reference's Superset-facing catalog (§3.3).
    */
  def registerAll(spark: SparkSession, s: Star, runDate: Column): Unit =
    all(s, runDate).foreach(v => v.df.createOrReplaceTempView(v.name))
}
