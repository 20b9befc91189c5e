package graft.gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.views.{Star, Views}
import graft.warehouse.Schemas

/** Gates that run the REAL `Views` functions (not pattern analogues) over
  * a star schema synthesized deterministically from the testdata:
  * part ⇒ DimJob, supplier ⇒ DimCompany, nation ⇒ DimLocation,
  * orders ⇒ FactJobPostingDaily + bridge. The oracle reconstructs the same
  * star as CTEs and states each view's reference SQL over it.
  *
  * ALL 16 view functions are gated this way (the 15 registered views +
  * dailySummary). The rounded-AVG views compare exactly because the
  * oracle emulates Spark's decimal AVG semantics — exact quotient,
  * HALF_UP to scale 6 (Average's `DecimalType(p+4, s+4)` result type),
  * then HALF_UP to the view's scale — in HUGEINT integer arithmetic
  * ([[avgSql]]), rather than going through DuckDB's float AVG.
  */
object ViewRealGates {

  /** DuckDB text for `round(avg($x), k)` over a DECIMAL(18,2) column with
    * Spark's exact decimal semantics: v6 = HALF_UP(sum·10⁴ / n) at scale
    * 6, then vk = HALF_UP(v6 / 10^(6-k)) at scale k, as a DOUBLE.
    * Positive-values-only arithmetic (HALF_UP == half-away-from-zero).
    */
  private def avgSql(x: String, k: Int): String = {
    val step = math.pow(10, 6 - k).toLong
    val denom = math.pow(10, k).toLong
    s"(CASE WHEN COUNT($x) = 0 THEN NULL ELSE " +
      s"CAST((2 * ((2 * CAST(SUM($x) * 1000000 AS HUGEINT) + COUNT($x)) // (2 * COUNT($x))) + $step) // (2 * $step) AS DOUBLE) / $denom END)"
  }

  /** The busiest order date — a guaranteed-populated anchor for the
    * runDate-parameterized views at ANY scale factor (a fixed literal
    * date is vacuously empty at sf0.001). Deterministic: max count,
    * smallest date on ties; the oracle computes the same date in the
    * `anchor` CTE.
    */
  private val anchorCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def anchorDate(s: SparkSession, dir: String): String =
    // cached per dir for the JVM lifetime: ~9 anchored gates would
    // otherwise each run the orders aggregation at DataFrame-construction
    // time. ASSUMES the parquet under a dir is never rewritten within one
    // session (true for the read-only /root/testdata dirs this harness
    // reads) — a harness regenerating data in place would need to key
    // this on a file fingerprint instead.
    anchorCache.computeIfAbsent(dir, _ =>
      Tables(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("d")).count()
        .orderBy(col("count").desc, col("d")).head().getDate(0).toString)

  private val anchorCte: String =
    """anchor AS (
      |  SELECT CAST(o_orderdate AS DATE) AS ad FROM orders
      |  GROUP BY ad ORDER BY count(*) DESC, ad LIMIT 1)""".stripMargin

  /** The shared star construction. */
  def star(s: SparkSession, dir: String): Star = {
    val part = Tables(s, dir, "part")
    val supplier = Tables(s, dir, "supplier")
    val nation = Tables(s, dir, "nation")
    val orders = Tables(s, dir, "orders")

    val dimJob = part.select(
      col("p_partkey").cast("string").as("job_id"),
      col("p_partkey").as("job_sk"),
      col("p_name").as("title"),
      concat(lit("https://x/"), col("p_partkey")).as("job_url"),
      split(col("p_type"), " ").as("skills"),
      lit("2026-01-01").cast("date").as("effective_date"),
      lit(null).cast("date").as("expiry_date"),
      (col("p_partkey") % 7 =!= 0).as("is_current"))

    val dimCompany = supplier.select(
      md5(col("s_name")).as("company_bk_hash"),
      col("s_suppkey").as("company_sk"),
      col("s_name").as("company_name"),
      concat(lit("https://c/"), col("s_suppkey")).as("company_url"),
      lit(null).cast("string").as("logo_url"),
      (col("s_acctbal") > 0).as("verified_employer"),
      lit("2026-01-01").cast("date").as("effective_date"),
      lit(null).cast("date").as("expiry_date"),
      (col("s_suppkey") % 10 =!= 0).as("is_current"))

    val dimLocation = nation.select(
      col("n_nationkey").cast("long").as("location_sk"),
      when(col("n_nationkey") % 3 === 0, concat(lit("Hà Nội "), col("n_nationkey")))
        .when(col("n_nationkey") % 3 === 1, concat(lit("HCM "), col("n_nationkey")))
        .otherwise(concat(lit("City "), col("n_nationkey"))).as("city"),
      lit("Vietnam").as("country"))

    val fact = orders.select(
      col("o_orderkey").as("fact_id"),
      col("o_custkey").as("job_sk"),
      (col("o_custkey") % 100).as("company_sk"),
      to_date(col("o_orderdate")).as("date_id"),
      to_date(col("o_orderdate")).as("posted_date_id"),
      date_add(to_date(col("o_orderdate")),
        (col("o_orderkey") % 21).cast("int")).as("due_date_id"),
      col("o_totalprice").cast("decimal(18,2)").as("salary_min"),
      (col("o_totalprice") * 2).cast("decimal(18,2)").as("salary_max"),
      lit("range").as("salary_type"),
      lit(null).cast("string").as("time_remaining"),
      col("o_orderdate").cast("timestamp").as("posted_time"),
      // 0..20 days out, so the expiring-soon 7-day window is populated
      (col("o_orderdate").cast("timestamp").cast("long") +
        (col("o_orderkey") % 21) * 86400L)
        .cast("timestamp").as("due_date"),
      lit("2026-01-01 07:00:00").cast("timestamp").as("crawled_at"),
      date_format(col("o_orderdate"), "yyyy-MM").as("load_month"))

    val bridge = orders.select(col("o_orderkey").as("fact_id"),
        explode(array_distinct(array(
          col("o_orderkey") % 25,
          when(col("o_orderkey") % 4 === 0, (col("o_orderkey") + 7) % 25)
            .otherwise(col("o_orderkey") % 25)))).as("location_sk"))
      .select((col("fact_id") * 100 + col("location_sk")).as("bridge_id"),
        col("fact_id"), col("location_sk").cast("long").as("location_sk"))

    Star(dimJob, dimCompany, dimLocation, Schemas.empty(s, Schemas.dimDate),
      fact, bridge)
  }

  /** [[Views.current]] over the synthesized star: what every view gate reads. */
  private def current(s: SparkSession, dir: String): DataFrame = Views.current(star(s, dir))

  /** The same star as DuckDB CTE text. */
  val starSql: String =
    """dim_job AS (
      |  SELECT CAST(p_partkey AS VARCHAR) AS job_id, p_partkey AS job_sk,
      |         p_name AS title, 'https://x/' || CAST(p_partkey AS VARCHAR) AS job_url,
      |         string_split(p_type, ' ') AS skills,
      |         (p_partkey % 7 <> 0) AS is_current
      |  FROM part),
      |dim_company AS (
      |  SELECT s_suppkey AS company_sk, s_name AS company_name,
      |         'https://c/' || CAST(s_suppkey AS VARCHAR) AS company_url,
      |         (s_acctbal > 0) AS verified_employer,
      |         (s_suppkey % 10 <> 0) AS is_current
      |  FROM supplier),
      |dim_location AS (
      |  SELECT CAST(n_nationkey AS BIGINT) AS location_sk,
      |         CASE WHEN n_nationkey % 3 = 0 THEN 'Hà Nội ' || CAST(n_nationkey AS VARCHAR)
      |              WHEN n_nationkey % 3 = 1 THEN 'HCM ' || CAST(n_nationkey AS VARCHAR)
      |              ELSE 'City ' || CAST(n_nationkey AS VARCHAR) END AS city,
      |         'Vietnam' AS country
      |  FROM nation),
      |fact AS (
      |  SELECT o_orderkey AS fact_id, o_custkey AS job_sk,
      |         o_custkey % 100 AS company_sk,
      |         CAST(o_orderdate AS DATE) AS date_id,
      |         CAST(o_totalprice AS DECIMAL(18,2)) AS salary_min,
      |         CAST(o_totalprice * 2 AS DECIMAL(18,2)) AS salary_max,
      |         'range' AS salary_type,
      |         CAST(NULL AS VARCHAR) AS time_remaining,
      |         o_orderdate AS posted_time,
      |         o_orderdate + INTERVAL 1 DAY * (o_orderkey % 21) AS due_date,
      |         TIMESTAMP '2026-01-01 07:00:00' AS crawled_at,
      |         strftime(o_orderdate, '%Y-%m') AS load_month
      |  FROM orders),
      |bridge AS (
      |  SELECT DISTINCT o_orderkey AS fact_id,
      |         CAST(loc AS BIGINT) AS location_sk
      |  FROM (SELECT o_orderkey, unnest([o_orderkey % 25,
      |          CASE WHEN o_orderkey % 4 = 0 THEN (o_orderkey + 7) % 25
      |               ELSE o_orderkey % 25 END]) AS loc
      |        FROM orders))""".stripMargin

  /** vw_current_jobs over the synthesized star. */
  def realCurrentJobs(s: SparkSession, dir: String): DataFrame =
    Views.currentJobs(current(s, dir)).df
      .select(col("job_sk"), col("job_id"), col("title"), col("company_sk"),
        col("company_name"), col("verified_employer"), col("date_id"),
        col("salary_min").cast("double").as("salary_min"),
        col("salary_max").cast("double").as("salary_max"), col("salary_type"))
      .orderBy("job_sk", "date_id", "salary_min")

  val realCurrentJobsSql: String =
    s"""WITH $starSql
       |SELECT j.job_sk, j.job_id, j.title, c.company_sk, c.company_name,
       |       c.verified_employer, f.date_id,
       |       CAST(f.salary_min AS DOUBLE) AS salary_min,
       |       CAST(f.salary_max AS DOUBLE) AS salary_max, f.salary_type
       |FROM dim_job j
       |JOIN fact f ON j.job_sk = f.job_sk
       |JOIN dim_company c ON f.company_sk = c.company_sk
       |WHERE j.is_current = TRUE AND c.is_current = TRUE
       |ORDER BY j.job_sk, f.date_id, CAST(f.salary_min AS DOUBLE)""".stripMargin

  /** vw_job_locations over the synthesized star. */
  def realJobLocations(s: SparkSession, dir: String): DataFrame =
    Views.jobLocations(current(s, dir)).df
      .orderBy("fact_id", "location_sk")

  val realJobLocationsSql: String =
    s"""WITH $starSql
       |SELECT f.fact_id, f.job_sk, j.job_id, j.title, f.date_id,
       |       l.location_sk, l.city, l.country
       |FROM fact f
       |JOIN dim_job j ON f.job_sk = j.job_sk
       |JOIN bridge b ON f.fact_id = b.fact_id
       |JOIN dim_location l ON b.location_sk = l.location_sk
       |WHERE j.is_current = TRUE
       |ORDER BY f.fact_id, l.location_sk""".stripMargin

  /** vw_jobs_hanoi over the synthesized star, anchored to a populated
    * date. */
  def realJobsHanoi(s: SparkSession, dir: String): DataFrame =
    Views.jobsHanoi(current(s, dir), lit(anchorDate(s, dir))).df
      .withColumn("salary_min", col("salary_min").cast("double"))
      .withColumn("salary_max", col("salary_max").cast("double"))
      .drop("skills", "due_date", "time_remaining")
      .orderBy("job_id", "salary_min")

  val realJobsHanoiSql: String =
    s"""WITH $starSql, $anchorCte
       |SELECT j.job_id, j.title, c.company_name, c.verified_employer,
       |       CAST(f.salary_min AS DOUBLE) AS salary_min,
       |       CAST(f.salary_max AS DOUBLE) AS salary_max,
       |       j.job_url
       |FROM anchor, fact f
       |JOIN dim_job j ON f.job_sk = j.job_sk AND j.is_current = TRUE
       |JOIN dim_company c ON f.company_sk = c.company_sk AND c.is_current = TRUE
       |JOIN bridge b ON f.fact_id = b.fact_id
       |JOIN dim_location l ON b.location_sk = l.location_sk
       |WHERE f.date_id = ad
       |  AND (lower(l.city) LIKE '%hà nội%' OR lower(l.city) LIKE '%hanoi%')
       |ORDER BY job_id, salary_min""".stripMargin

  /** vw_verified_employers (sorted STRING_AGG of cities, no averages)
    * over the synthesized star. */
  def realVerified(s: SparkSession, dir: String): DataFrame =
    Views.verifiedEmployers(current(s, dir), lit(anchorDate(s, dir))).df
      .withColumn("salary_min", col("salary_min").cast("double"))
      .withColumn("salary_max", col("salary_max").cast("double"))
      .drop("due_date")
      .orderBy("job_id", "salary_min")

  val realVerifiedSql: String =
    s"""WITH $starSql, $anchorCte
       |SELECT j.job_id, j.title, c.company_name,
       |       CAST(f.salary_min AS DOUBLE) AS salary_min,
       |       CAST(f.salary_max AS DOUBLE) AS salary_max,
       |       j.job_url,
       |       string_agg(DISTINCT l.city, ', ' ORDER BY l.city) AS locations
       |FROM anchor, fact f
       |JOIN dim_job j ON f.job_sk = j.job_sk AND j.is_current = TRUE
       |JOIN dim_company c ON f.company_sk = c.company_sk AND c.is_current = TRUE
       |LEFT JOIN bridge b ON f.fact_id = b.fact_id
       |LEFT JOIN dim_location l ON b.location_sk = l.location_sk
       |WHERE f.date_id = ad AND c.verified_employer = TRUE
       |GROUP BY j.job_id, j.title, c.company_name, f.salary_min, f.salary_max,
       |         f.due_date, j.job_url
       |ORDER BY job_id, salary_min""".stripMargin


  /** vw_monthly_stats over the synthesized star (decimal-exact AVG). */
  def realMonthlyStats(s: SparkSession, dir: String): DataFrame =
    Views.monthlyStats(current(s, dir)).df
      .withColumn("avg_salary_min", col("avg_salary_min").cast("double"))
      .withColumn("avg_salary_max", col("avg_salary_max").cast("double"))
      .orderBy(col("load_month").desc)

  val realMonthlyStatsSql: String =
    s"""WITH $starSql
       |SELECT f.load_month,
       |  COUNT(DISTINCT f.job_sk) AS job_count,
       |  COUNT(DISTINCT f.company_sk) AS company_count,
       |  ${avgSql("f.salary_min", 2)} AS avg_salary_min,
       |  ${avgSql("f.salary_max", 2)} AS avg_salary_max,
       |  COUNT(DISTINCT CASE WHEN c.verified_employer THEN f.job_sk END) AS verified_jobs
       |FROM fact f
       |JOIN dim_company c ON f.company_sk = c.company_sk AND c.is_current = TRUE
       |GROUP BY f.load_month ORDER BY f.load_month DESC""".stripMargin

  /** vw_top_companies over the synthesized star. */
  def realTopCompanies(s: SparkSession, dir: String): DataFrame =
    Views.topCompanies(current(s, dir)).df
      .withColumn("avg_salary_min", col("avg_salary_min").cast("double"))
      .withColumn("avg_salary_max", col("avg_salary_max").cast("double"))
      .orderBy("company_sk")

  val realTopCompaniesSql: String =
    s"""WITH $starSql
       |SELECT c.company_sk, c.company_name, c.company_url, c.verified_employer,
       |  COUNT(DISTINCT f.job_sk) AS job_count,
       |  ${avgSql("f.salary_min", 2)} AS avg_salary_min,
       |  ${avgSql("f.salary_max", 2)} AS avg_salary_max,
       |  MAX(f.date_id) AS last_posting_date
       |FROM dim_company c
       |JOIN fact f ON c.company_sk = f.company_sk
       |WHERE c.is_current = TRUE
       |GROUP BY c.company_sk, c.company_name, c.company_url, c.verified_employer
       |ORDER BY c.company_sk""".stripMargin

  /** vw_top_locations over the synthesized star. */
  def realTopLocations(s: SparkSession, dir: String): DataFrame =
    Views.topLocations(current(s, dir)).df
      .withColumn("avg_salary_min", col("avg_salary_min").cast("double"))
      .withColumn("avg_salary_max", col("avg_salary_max").cast("double"))
      .orderBy("location_sk")

  val realTopLocationsSql: String =
    s"""WITH $starSql
       |SELECT l.location_sk, l.city, l.country,
       |  COUNT(DISTINCT f.job_sk) AS job_count,
       |  ${avgSql("f.salary_min", 2)} AS avg_salary_min,
       |  ${avgSql("f.salary_max", 2)} AS avg_salary_max
       |FROM dim_location l
       |JOIN bridge b ON l.location_sk = b.location_sk
       |JOIN fact f ON b.fact_id = f.fact_id
       |GROUP BY l.location_sk, l.city, l.country
       |ORDER BY l.location_sk""".stripMargin

  /** vw_job_full_details over the synthesized star (skills dropped: the
    * array column is determined by job_id, and scalar compare is
    * engine-portable).
    */
  def realFullDetails(s: SparkSession, dir: String): DataFrame =
    Views.jobFullDetails(current(s, dir)).df
      .drop("skills")
      .withColumn("salary_min", col("salary_min").cast("double"))
      .withColumn("salary_max", col("salary_max").cast("double"))
      .orderBy("job_id", "date_id", "salary_min")

  val realFullDetailsSql: String =
    s"""WITH $starSql
       |SELECT j.job_id, j.title, c.company_name, c.verified_employer, f.date_id,
       |  CAST(f.salary_min AS DOUBLE) AS salary_min,
       |  CAST(f.salary_max AS DOUBLE) AS salary_max,
       |  f.salary_type, f.due_date, f.time_remaining, f.posted_time,
       |  coalesce(string_agg(DISTINCT l.city, ', ' ORDER BY l.city), '') AS locations,
       |  j.job_url, c.company_url, f.load_month
       |FROM fact f
       |JOIN dim_job j ON f.job_sk = j.job_sk AND j.is_current = TRUE
       |JOIN dim_company c ON f.company_sk = c.company_sk AND c.is_current = TRUE
       |LEFT JOIN bridge b ON f.fact_id = b.fact_id
       |LEFT JOIN dim_location l ON b.location_sk = l.location_sk
       |GROUP BY j.job_id, j.title, c.company_name, c.verified_employer, f.date_id,
       |  f.salary_min, f.salary_max, f.salary_type, f.due_date, f.time_remaining,
       |  f.posted_time, j.job_url, c.company_url, f.load_month
       |ORDER BY j.job_id, f.date_id, CAST(f.salary_min AS DOUBLE)""".stripMargin

  /** vw_jobs_today over the synthesized star, anchored. */
  def realJobsToday(s: SparkSession, dir: String): DataFrame =
    Views.jobsToday(current(s, dir), lit(anchorDate(s, dir))).df
      .drop("skills")
      .withColumn("salary_min", col("salary_min").cast("double"))
      .withColumn("salary_max", col("salary_max").cast("double"))
      .orderBy("job_id", "salary_min", "posted_time")

  val realJobsTodaySql: String =
    s"""WITH $starSql, $anchorCte
       |SELECT j.job_id, j.title, c.company_name, c.verified_employer,
       |  CAST(f.salary_min AS DOUBLE) AS salary_min,
       |  CAST(f.salary_max AS DOUBLE) AS salary_max,
       |  f.salary_type, f.due_date, f.time_remaining, j.job_url, f.posted_time,
       |  coalesce(string_agg(DISTINCT l.city, ', ' ORDER BY l.city), '') AS locations
       |FROM anchor, fact f
       |JOIN dim_job j ON f.job_sk = j.job_sk AND j.is_current = TRUE
       |JOIN dim_company c ON f.company_sk = c.company_sk AND c.is_current = TRUE
       |LEFT JOIN bridge b ON f.fact_id = b.fact_id
       |LEFT JOIN dim_location l ON b.location_sk = l.location_sk
       |WHERE f.date_id = ad
       |GROUP BY j.job_id, j.title, c.company_name, c.verified_employer,
       |  f.salary_min, f.salary_max, f.salary_type, f.due_date, f.time_remaining,
       |  j.job_url, f.posted_time
       |ORDER BY j.job_id, CAST(f.salary_min AS DOUBLE), f.posted_time""".stripMargin

  /** vw_jobs_hcm over the synthesized star, anchored. */
  def realJobsHcm(s: SparkSession, dir: String): DataFrame =
    Views.jobsHcm(current(s, dir), lit(anchorDate(s, dir))).df
      .withColumn("salary_min", col("salary_min").cast("double"))
      .withColumn("salary_max", col("salary_max").cast("double"))
      .drop("skills", "due_date", "time_remaining")
      .orderBy("job_id", "salary_min")

  val realJobsHcmSql: String =
    s"""WITH $starSql, $anchorCte
       |SELECT j.job_id, j.title, c.company_name, c.verified_employer,
       |       CAST(f.salary_min AS DOUBLE) AS salary_min,
       |       CAST(f.salary_max AS DOUBLE) AS salary_max,
       |       j.job_url
       |FROM anchor, fact f
       |JOIN dim_job j ON f.job_sk = j.job_sk AND j.is_current = TRUE
       |JOIN dim_company c ON f.company_sk = c.company_sk AND c.is_current = TRUE
       |JOIN bridge b ON f.fact_id = b.fact_id
       |JOIN dim_location l ON b.location_sk = l.location_sk
       |WHERE f.date_id = ad
       |  AND (lower(l.city) LIKE '%hồ chí minh%' OR lower(l.city) LIKE '%hcm%'
       |       OR lower(l.city) LIKE '%sài gòn%')
       |ORDER BY job_id, salary_min""".stripMargin

  /** vw_jobs_expiring_soon over the synthesized star, anchored (the star's
    * due_date varies 0..20 days so the 7-day window is populated).
    */
  def realExpiringSoon(s: SparkSession, dir: String): DataFrame =
    Views.jobsExpiringSoon(current(s, dir), lit(anchorDate(s, dir))).df
      .withColumn("salary_min", col("salary_min").cast("double"))
      .withColumn("salary_max", col("salary_max").cast("double"))
      .orderBy("job_id", "salary_min", "due_date")

  val realExpiringSoonSql: String =
    s"""WITH $starSql, $anchorCte
       |SELECT j.job_id, j.title, c.company_name, c.verified_employer,
       |  CAST(f.salary_min AS DOUBLE) AS salary_min,
       |  CAST(f.salary_max AS DOUBLE) AS salary_max,
       |  f.due_date, f.time_remaining, j.job_url,
       |  coalesce(string_agg(DISTINCT l.city, ', ' ORDER BY l.city), '') AS locations,
       |  CAST(datediff('day', ad, CAST(f.due_date AS DATE)) AS INT) AS days_left
       |FROM anchor, fact f
       |JOIN dim_job j ON f.job_sk = j.job_sk AND j.is_current = TRUE
       |JOIN dim_company c ON f.company_sk = c.company_sk AND c.is_current = TRUE
       |LEFT JOIN bridge b ON f.fact_id = b.fact_id
       |LEFT JOIN dim_location l ON b.location_sk = l.location_sk
       |WHERE f.date_id = ad
       |  AND f.due_date >= ad
       |  AND f.due_date <= ad + INTERVAL 7 DAY
       |GROUP BY j.job_id, j.title, c.company_name, c.verified_employer,
       |  f.salary_min, f.salary_max, f.due_date, f.time_remaining, j.job_url, ad
       |ORDER BY j.job_id, CAST(f.salary_min AS DOUBLE), f.due_date""".stripMargin

  /** vw_salary_distribution over the synthesized star, anchored; ordered
    * on the bucket label (engine-portable) rather than the CASE sort key.
    */
  def realSalaryDist(s: SparkSession, dir: String): DataFrame =
    Views.salaryDistribution(current(s, dir), lit(anchorDate(s, dir))).df
      .withColumn("avg_min", col("avg_min").cast("double"))
      .withColumn("avg_max", col("avg_max").cast("double"))
      .orderBy("salary_range")

  val realSalaryDistSql: String =
    s"""WITH $starSql, $anchorCte,
       |bucketed AS (
       |  SELECT CASE WHEN salary_max IS NULL THEN 'Thỏa thuận'
       |    WHEN salary_max <= 10 THEN 'Dưới 10M'
       |    WHEN salary_max <= 15 THEN '10M - 15M'
       |    WHEN salary_max <= 20 THEN '15M - 20M'
       |    WHEN salary_max <= 30 THEN '20M - 30M'
       |    WHEN salary_max <= 50 THEN '30M - 50M'
       |    ELSE 'Trên 50M' END AS salary_range,
       |    job_sk, company_sk, salary_min, salary_max
       |  FROM fact, anchor WHERE date_id = ad)
       |SELECT salary_range,
       |  COUNT(DISTINCT job_sk) AS job_count,
       |  COUNT(DISTINCT company_sk) AS company_count,
       |  ${avgSql("salary_min", 1)} AS avg_min,
       |  ${avgSql("salary_max", 1)} AS avg_max
       |FROM bucketed GROUP BY salary_range ORDER BY salary_range""".stripMargin

  /** vw_location_stats over the synthesized star, anchored. */
  def realLocationStats(s: SparkSession, dir: String): DataFrame =
    Views.locationStats(current(s, dir), lit(anchorDate(s, dir))).df
      .withColumn("avg_salary_min", col("avg_salary_min").cast("double"))
      .withColumn("avg_salary_max", col("avg_salary_max").cast("double"))
      .orderBy("city")

  val realLocationStatsSql: String =
    s"""WITH $starSql, $anchorCte
       |SELECT l.city,
       |  COUNT(DISTINCT f.job_sk) AS job_count,
       |  COUNT(DISTINCT f.company_sk) AS company_count,
       |  ${avgSql("f.salary_min", 1)} AS avg_salary_min,
       |  ${avgSql("f.salary_max", 1)} AS avg_salary_max,
       |  COUNT(DISTINCT CASE WHEN c.verified_employer THEN f.job_sk END) AS verified_jobs
       |FROM anchor, dim_location l
       |JOIN bridge b ON l.location_sk = b.location_sk
       |JOIN fact f ON b.fact_id = f.fact_id AND f.date_id = ad
       |JOIN dim_company c ON f.company_sk = c.company_sk AND c.is_current = TRUE
       |WHERE l.city <> 'Unknown'
       |GROUP BY l.city ORDER BY l.city""".stripMargin

  /** vw_company_stats over the synthesized star, anchored. */
  def realCompanyStats(s: SparkSession, dir: String): DataFrame =
    Views.companyStats(current(s, dir), lit(anchorDate(s, dir))).df
      .withColumn("avg_salary_min", col("avg_salary_min").cast("double"))
      .withColumn("avg_salary_max", col("avg_salary_max").cast("double"))
      .orderBy("company_name")

  val realCompanyStatsSql: String =
    s"""WITH $starSql, $anchorCte
       |SELECT c.company_name, c.verified_employer,
       |  COUNT(DISTINCT f.job_sk) AS active_jobs,
       |  ${avgSql("f.salary_min", 1)} AS avg_salary_min,
       |  ${avgSql("f.salary_max", 1)} AS avg_salary_max,
       |  MIN(f.due_date) AS earliest_deadline
       |FROM anchor, dim_company c
       |JOIN fact f ON c.company_sk = f.company_sk AND f.date_id = ad
       |WHERE c.is_current = TRUE
       |GROUP BY c.company_name, c.verified_employer
       |ORDER BY c.company_name""".stripMargin

  /** vw_daily_summary over the synthesized star. */
  def realDailySummary(s: SparkSession, dir: String): DataFrame =
    Views.dailySummary(current(s, dir)).df
      .withColumn("avg_salary_min", col("avg_salary_min").cast("double"))
      .withColumn("avg_salary_max", col("avg_salary_max").cast("double"))
      .orderBy(col("date_id").desc)

  val realDailySummarySql: String =
    s"""WITH $starSql
       |SELECT f.date_id,
       |  COUNT(DISTINCT f.job_sk) AS total_jobs,
       |  COUNT(DISTINCT f.company_sk) AS total_companies,
       |  COUNT(DISTINCT CASE WHEN c.verified_employer THEN f.company_sk END) AS verified_companies,
       |  ${avgSql("f.salary_min", 1)} AS avg_salary_min,
       |  ${avgSql("f.salary_max", 1)} AS avg_salary_max,
       |  COUNT(DISTINCT CASE WHEN f.salary_min IS NOT NULL THEN f.job_sk END) AS jobs_with_salary
       |FROM fact f
       |JOIN dim_company c ON f.company_sk = c.company_sk AND c.is_current = TRUE
       |GROUP BY f.date_id ORDER BY f.date_id DESC""".stripMargin

  /** vw_skills_demand over the synthesized star, anchored (true top-50). */
  def realSkillsDemand(s: SparkSession, dir: String): DataFrame =
    Views.skillsDemand(current(s, dir), lit(anchorDate(s, dir))).df
      .withColumn("avg_salary_min", col("avg_salary_min").cast("double"))
      .withColumn("avg_salary_max", col("avg_salary_max").cast("double"))
      .orderBy(col("job_count").desc, col("skill"))

  val realSkillsDemandSql: String =
    s"""WITH $starSql, $anchorCte,
       |exploded AS (
       |  SELECT f.salary_min, f.salary_max, unnest(j.skills) AS skill
       |  FROM anchor, fact f
       |  JOIN dim_job j ON f.job_sk = j.job_sk AND j.is_current = TRUE
       |  WHERE f.date_id = ad)
       |SELECT skill, COUNT(*) AS job_count,
       |  ${avgSql("salary_min", 1)} AS avg_salary_min,
       |  ${avgSql("salary_max", 1)} AS avg_salary_max
       |FROM exploded
       |WHERE skill IS NOT NULL AND skill <> ''
       |GROUP BY skill
       |ORDER BY job_count DESC, skill LIMIT 50""".stripMargin

  /** The denormalized-export enrichment join (J11), via the REAL
    * [[graft.app.Apps.denormalized]] over the synthesized star.
    */
  def exportDenorm(s: SparkSession, dir: String): DataFrame =
    graft.app.Apps.denormalized(star(s, dir))
      .drop("skills")
      .withColumn("salary_min", col("salary_min").cast("double"))
      .withColumn("salary_max", col("salary_max").cast("double"))
      .orderBy("fact_id")

  val exportDenormSql: String =
    s"""WITH $starSql
       |SELECT f.fact_id, j.job_id, j.title, c.company_name,
       |  c.verified_employer, f.date_id,
       |  CAST(f.salary_min AS DOUBLE) AS salary_min,
       |  CAST(f.salary_max AS DOUBLE) AS salary_max,
       |  f.salary_type, f.due_date, f.posted_time, j.job_url, f.load_month
       |FROM fact f
       |JOIN dim_job j ON f.job_sk = j.job_sk AND j.is_current = TRUE
       |JOIN dim_company c ON f.company_sk = c.company_sk AND c.is_current = TRUE
       |ORDER BY f.fact_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "export_denorm"       -> (exportDenorm _),
    "real_current_jobs"   -> (realCurrentJobs _),
    "real_job_locations"  -> (realJobLocations _),
    "real_jobs_hanoi"     -> (realJobsHanoi _),
    "real_verified"       -> (realVerified _),
    "real_monthly_stats"  -> (realMonthlyStats _),
    "real_top_companies"  -> (realTopCompanies _),
    "real_top_locations"  -> (realTopLocations _),
    "real_full_details"   -> (realFullDetails _),
    "real_jobs_today"     -> (realJobsToday _),
    "real_jobs_hcm"       -> (realJobsHcm _),
    "real_expiring_soon"  -> (realExpiringSoon _),
    "real_salary_dist"    -> (realSalaryDist _),
    "real_location_stats" -> (realLocationStats _),
    "real_company_stats"  -> (realCompanyStats _),
    "real_daily_summary"  -> (realDailySummary _),
    "real_skills_demand"  -> (realSkillsDemand _))

  val oracleSql: Map[String, String] = Map(
    "export_denorm"       -> exportDenormSql,
    "real_current_jobs"   -> realCurrentJobsSql,
    "real_job_locations"  -> realJobLocationsSql,
    "real_jobs_hanoi"     -> realJobsHanoiSql,
    "real_verified"       -> realVerifiedSql,
    "real_monthly_stats"  -> realMonthlyStatsSql,
    "real_top_companies"  -> realTopCompaniesSql,
    "real_top_locations"  -> realTopLocationsSql,
    "real_full_details"   -> realFullDetailsSql,
    "real_jobs_today"     -> realJobsTodaySql,
    "real_jobs_hcm"       -> realJobsHcmSql,
    "real_expiring_soon"  -> realExpiringSoonSql,
    "real_salary_dist"    -> realSalaryDistSql,
    "real_location_stats" -> realLocationStatsSql,
    "real_company_stats"  -> realCompanyStatsSql,
    "real_daily_summary"  -> realDailySummarySql,
    "real_skills_demand"  -> realSkillsDemandSql)
}
