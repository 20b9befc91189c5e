package graft.gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.monitoring.Metrics
import graft.operators.Merge
import graft.quality.Validators
import graft.warehouse.DimDate

/** Correctness gates for the quality/monitoring/retention operators
  * (A8–A12, S11) over synthesized reference-shaped inputs, each with a
  * full DuckDB oracle.
  */
object QualityGates {

  /** A8: crawl validation one-pass agg over job rows synthesized from
    * customer (nulls, non-numeric ids, blank titles, missing companies).
    */
  def qualityCrawl(s: SparkSession, dir: String): DataFrame = {
    val c = Tables(s, dir, "customer")
    val jobs = c.select(
      when(col("c_custkey") % 10 === 0, lit(null).cast("string"))
        .when(col("c_custkey") % 10 === 1, concat(lit("x"), col("c_custkey")))
        .otherwise(col("c_custkey").cast("string")).as("job_id"),
      when(col("c_custkey") % 7 === 0, lit(""))
        .otherwise(concat(lit("Title "), col("c_custkey"))).as("title"),
      when(col("c_custkey") % 5 === 0, lit(null).cast("string"))
        .otherwise(col("c_name")).as("company_name"))
    Validators.crawlStats(jobs)
  }

  val qualityCrawlSql: String =
    """WITH jobs AS (
      |  SELECT CASE WHEN c_custkey % 10 = 0 THEN NULL
      |              WHEN c_custkey % 10 = 1 THEN 'x' || CAST(c_custkey AS VARCHAR)
      |              ELSE CAST(c_custkey AS VARCHAR) END AS job_id,
      |         CASE WHEN c_custkey % 7 = 0 THEN ''
      |              ELSE 'Title ' || CAST(c_custkey AS VARCHAR) END AS title,
      |         CASE WHEN c_custkey % 5 = 0 THEN NULL ELSE c_name END AS company_name
      |  FROM customer),
      |f AS (SELECT *,
      |        (job_id IS NOT NULL AND regexp_full_match(job_id, '\d+')) AS id_ok,
      |        (title IS NOT NULL AND trim(title) <> '') AS title_ok,
      |        (company_name IS NOT NULL) AS company_ok
      |      FROM jobs)
      |SELECT COUNT(*) AS total_jobs,
      |  COUNT(DISTINCT job_id) AS unique_jobs,
      |  round(CAST(COUNT(*) - COUNT(DISTINCT job_id) AS DOUBLE) / COUNT(*), 6) AS duplicate_rate,
      |  COUNT(CASE WHEN id_ok AND title_ok AND company_ok THEN 1 END) AS valid_jobs,
      |  round(CAST(COUNT(CASE WHEN id_ok AND title_ok AND company_ok THEN 1 END) AS DOUBLE)
      |        / COUNT(*), 6) AS valid_rate,
      |  round(CAST(COUNT(CASE WHEN NOT id_ok THEN 1 END) AS DOUBLE) / COUNT(*), 6) AS missing_job_id_rate,
      |  round(CAST(COUNT(CASE WHEN NOT title_ok THEN 1 END) AS DOUBLE) / COUNT(*), 6) AS missing_title_rate,
      |  round(CAST(COUNT(CASE WHEN NOT company_ok THEN 1 END) AS DOUBLE) / COUNT(*), 6) AS missing_company_rate
      |FROM f""".stripMargin

  /** A9: the 9 business-rule violation counters over rows synthesized
    * from orders (anchored runDate 1996-06-01 so past/warn/hard deadline
    * bands all populate).
    */
  def qualityRules(s: SparkSession, dir: String): DataFrame = {
    val o = Tables(s, dir, "orders")
    val jobs = o.select(
      when(col("o_orderkey") % 13 === 0, lit(-5).cast("decimal(18,2)"))
        .otherwise(col("o_totalprice").cast("decimal(18,2)")).as("salary_min"),
      when(col("o_orderkey") % 17 === 0, lit(600000000L).cast("decimal(18,2)"))
        .when(col("o_orderkey") % 19 === 0, lit(300000000L).cast("decimal(18,2)"))
        .otherwise((col("o_totalprice") * 2).cast("decimal(18,2)")).as("salary_max"),
      to_date(col("o_orderdate")).as("deadline"),
      when(col("o_orderkey") % 7 === 0, lit("Dev"))
        .otherwise(concat(lit("Title "), col("o_orderkey"))).as("title"),
      when(col("o_orderkey") % 11 === 0, lit("AB"))
        .otherwise(lit("ACME Corp")).as("company_name"),
      when(col("o_orderkey") % 23 === 0, lit("n/a"))
        .otherwise(lit("Hà Nội")).as("location"))
    Validators.businessRuleStats(jobs, lit("1996-06-01"))
  }

  val qualityRulesSql: String =
    """WITH jobs AS (
      |  SELECT CASE WHEN o_orderkey % 13 = 0 THEN -5 ELSE o_totalprice END AS salary_min,
      |         CASE WHEN o_orderkey % 17 = 0 THEN 600000000
      |              WHEN o_orderkey % 19 = 0 THEN 300000000
      |              ELSE o_totalprice * 2 END AS salary_max,
      |         CAST(o_orderdate AS DATE) AS deadline,
      |         CASE WHEN o_orderkey % 7 = 0 THEN 'Dev'
      |              ELSE 'Title ' || CAST(o_orderkey AS VARCHAR) END AS title,
      |         CASE WHEN o_orderkey % 11 = 0 THEN 'AB' ELSE 'ACME Corp' END AS company_name,
      |         CASE WHEN o_orderkey % 23 = 0 THEN 'n/a' ELSE 'Hà Nội' END AS location
      |  FROM orders),
      |f AS (SELECT *,
      |  (salary_min IS NOT NULL AND salary_max IS NOT NULL AND
      |    (salary_min < 0 OR salary_max < salary_min)) AS v_inv,
      |  date_diff('day', DATE '1996-06-01', deadline) AS days_until
      |  FROM jobs),
      |g AS (SELECT *,
      |  (NOT v_inv AND salary_max > 500000000) AS v_susp,
      |  (NOT v_inv AND salary_max > 200000000 AND salary_max <= 500000000) AS v_high,
      |  (days_until < 0) AS v_past,
      |  (days_until > 180) AS v_far,
      |  (days_until > 90 AND days_until <= 180) AS v_dsusp,
      |  (length(trim(title)) < 5) AS v_title,
      |  (length(trim(company_name)) < 3) AS v_comp,
      |  (trim(lower(location)) IN ('', 'n/a', 'na', 'none')) AS v_loc
      |  FROM f)
      |SELECT COUNT(*) AS total_jobs,
      |  COUNT(CASE WHEN v_inv THEN 1 END) AS salary_invalid,
      |  COUNT(CASE WHEN v_high THEN 1 END) AS salary_too_high,
      |  COUNT(CASE WHEN v_susp THEN 1 END) AS salary_suspicious,
      |  COUNT(CASE WHEN v_past THEN 1 END) AS deadline_past,
      |  COUNT(CASE WHEN v_far THEN 1 END) AS deadline_too_far,
      |  COUNT(CASE WHEN v_dsusp THEN 1 END) AS deadline_suspicious,
      |  COUNT(CASE WHEN v_title THEN 1 END) AS title_too_short,
      |  COUNT(CASE WHEN v_comp THEN 1 END) AS company_too_short,
      |  COUNT(CASE WHEN v_loc THEN 1 END) AS location_invalid,
      |  -- reference sums the counters, so a multi-violation row counts
      |  -- once per rule and the rate can exceed 1 (validators.py:263-271)
      |  round(CAST(COUNT(CASE WHEN v_inv THEN 1 END) + COUNT(CASE WHEN v_high THEN 1 END)
      |      + COUNT(CASE WHEN v_past THEN 1 END) + COUNT(CASE WHEN v_far THEN 1 END)
      |      + COUNT(CASE WHEN v_title THEN 1 END) + COUNT(CASE WHEN v_comp THEN 1 END)
      |      + COUNT(CASE WHEN v_loc THEN 1 END) AS DOUBLE) / COUNT(*), 6)
      |    AS violation_rate,
      |  CASE WHEN CAST(COUNT(CASE WHEN v_inv THEN 1 END) + COUNT(CASE WHEN v_high THEN 1 END)
      |          + COUNT(CASE WHEN v_past THEN 1 END) + COUNT(CASE WHEN v_far THEN 1 END)
      |          + COUNT(CASE WHEN v_title THEN 1 END) + COUNT(CASE WHEN v_comp THEN 1 END)
      |          + COUNT(CASE WHEN v_loc THEN 1 END) AS DOUBLE) / COUNT(*) > 0.10
      |       THEN 'unhealthy'
      |       WHEN CAST(COUNT(CASE WHEN v_inv THEN 1 END) + COUNT(CASE WHEN v_high THEN 1 END)
      |          + COUNT(CASE WHEN v_past THEN 1 END) + COUNT(CASE WHEN v_far THEN 1 END)
      |          + COUNT(CASE WHEN v_title THEN 1 END) + COUNT(CASE WHEN v_comp THEN 1 END)
      |          + COUNT(CASE WHEN v_loc THEN 1 END) AS DOUBLE) / COUNT(*) > 0.05
      |            OR CAST(COUNT(CASE WHEN v_susp THEN 1 END)
      |                  + COUNT(CASE WHEN v_dsusp THEN 1 END) AS DOUBLE)
      |               > COUNT(*) * 0.10
      |       THEN 'degraded' ELSE 'healthy' END AS status
      |FROM g""".stripMargin

  /** A10: pipeline-health 7-day rollup over metrics synthesized from the
    * events stream table.
    */
  def monitorHealth(s: SparkSession, dir: String): DataFrame = {
    // events.ts is parquet timestamp[us] (no tz) → TIMESTAMP_NTZ; cast
    // to the session-tz (UTC) instant type the metrics pipeline uses.
    val e = Tables(s, dir, "events")
    val metrics = e.select(
      col("event_type").as("dag_id"),
      concat(lit("task_"), (col("event_id") % 3)).as("task_id"),
      col("ts").cast("timestamp").as("started_at"),
      col("value").as("duration_seconds"),
      col("user_id").as("rows_out"),
      when(col("value") > 1.0, "success").otherwise("failed").as("status"))
    Metrics.pipelineHealth(metrics, lit("2024-01-31")).df
      .withColumn("last_run_at",
        date_format(col("last_run_at"), "yyyy-MM-dd HH:mm:ss.SSSSSS"))
  }

  val monitorHealthSql: String =
    """WITH m AS (
      |  SELECT event_type AS dag_id,
      |         'task_' || CAST(event_id % 3 AS VARCHAR) AS task_id,
      |         ts AS started_at, value AS duration_seconds, user_id AS rows_out,
      |         CASE WHEN value > 1.0 THEN 'success' ELSE 'failed' END AS status
      |  FROM events)
      |SELECT dag_id, task_id,
      |  COUNT(*) AS run_count,
      |  round(CAST(COUNT(CASE WHEN status = 'success' THEN 1 END) AS DOUBLE)
      |        / COUNT(*), 4) AS success_rate,
      |  round(AVG(duration_seconds), 2) AS avg_duration_seconds,
      |  round(AVG(rows_out), 1) AS avg_rows_out,
      |  strftime(MAX(started_at), '%Y-%m-%d %H:%M:%S.%f') AS last_run_at
      |FROM m WHERE started_at >= DATE '2024-01-31' - INTERVAL 7 DAY
      |GROUP BY dag_id, task_id ORDER BY dag_id, task_id""".stripMargin

  /** A11: per-load-month fact rollups (top 3 months) over a fact slice
    * synthesized from orders.
    */
  def dwhStats(s: SparkSession, dir: String): DataFrame = {
    val fact = Tables(s, dir, "orders").select(
      col("o_orderkey").as("fact_id"), col("o_custkey").as("job_sk"),
      to_date(col("o_orderdate")).as("date_id"),
      date_format(col("o_orderdate"), "yyyy-MM").as("load_month"))
    Metrics.loadMonthStats(fact)
  }

  val dwhStatsSql: String =
    """SELECT strftime(o_orderdate, '%Y-%m') AS load_month,
      |  COUNT(*) AS fact_count,
      |  COUNT(DISTINCT o_custkey) AS job_count,
      |  COUNT(DISTINCT CAST(o_orderdate AS DATE)) AS day_count
      |FROM orders GROUP BY 1 ORDER BY load_month DESC LIMIT 3""".stripMargin

  /** A12 + M4 complete-range semantics: observed span over two date
    * columns with the today+5d projection extension.
    */
  def dateSpanMulti(s: SparkSession, dir: String): DataFrame = {
    val o = Tables(s, dir, "orders")
      .select(col("o_orderdate").as("d1"), date_add(to_date(col("o_orderdate")), 40).as("d2"))
    DimDate.forObserved(o, Seq(col("d1"), col("d2")), lit("2001-11-01"))
      .orderBy("date_id")
  }

  val dateSpanMultiSql: String =
    """WITH span AS (
      |  SELECT LEAST(MIN(CAST(o_orderdate AS DATE)),
      |               MIN(CAST(o_orderdate AS DATE) + 40)) AS lo,
      |         GREATEST(MAX(CAST(o_orderdate AS DATE)),
      |                  MAX(CAST(o_orderdate AS DATE) + 40),
      |                  DATE '2001-11-06') AS hi
      |  FROM orders),
      |d AS (SELECT CAST(unnest(generate_series(CAST(lo AS TIMESTAMP),
      |                                         CAST(hi AS TIMESTAMP),
      |                                         INTERVAL 1 DAY)) AS DATE) AS date_id
      |      FROM span)
      |SELECT date_id,
      |       CAST(day(date_id) AS BIGINT) AS day,
      |       CAST(month(date_id) AS BIGINT) AS month,
      |       CAST(quarter(date_id) AS BIGINT) AS quarter,
      |       CAST(year(date_id) AS BIGINT) AS year,
      |       CAST(weekofyear(date_id) AS BIGINT) AS week_of_year,
      |       CAST(isodow(date_id) AS BIGINT) AS day_of_week,
      |       dayname(date_id) AS weekday_name,
      |       isodow(date_id) >= 6 AS is_weekend,
      |       strftime(date_id, '%Y-%m') AS year_month,
      |       'Q' || CAST(quarter(date_id) AS VARCHAR) AS quarter_name
      |FROM d ORDER BY date_id""".stripMargin

  /** S11/P9: retention delete — table minus archived keys (age filter),
    * via the null-safe anti-join.
    */
  def retentionDelete(s: SparkSession, dir: String): DataFrame = {
    val o = Tables(s, dir, "orders")
    val archivedKeys = o.filter(to_date(col("o_orderdate")) < lit("1996-01-01"))
      .select(col("o_orderkey"))
    Merge.deleteByKeys(o, archivedKeys, Seq("o_orderkey"))
      .orderBy("o_orderkey")
  }

  val retentionDeleteSql: String =
    """SELECT * FROM orders
      |WHERE o_orderkey NOT IN (
      |  SELECT o_orderkey FROM orders WHERE CAST(o_orderdate AS DATE) < DATE '1996-01-01')
      |ORDER BY o_orderkey""".stripMargin

  /** §2.10 streaming: the watermarked window rollup run in BATCH mode
    * (the transform is input-agnostic); oracle via time_bucket. The
    * approx-distinct column is excluded (engine-specific sketches).
    */
  def streamWindow(s: SparkSession, dir: String): DataFrame = {
    val events = Tables(s, dir, "events").select(
      col("ts").cast("timestamp").as("ts"),
      col("user_id"), col("event_type"),
      col("value").cast("decimal(18,2)").as("value"))
    graft.streaming.StreamingJobs.windowedEventStats(events, "10 minutes", "1 hour")
      .select(
        date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("event_count"),
        col("total_value").cast("double").as("total_value"))
      .orderBy("window_start", "event_type")
  }

  val streamWindowSql: String =
    """SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '%Y-%m-%d %H:%M:%S') AS window_start,
      |       event_type,
      |       COUNT(*) AS event_count,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events
      |GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin

  /** Streaming-ingest dedup driven in batch mode: the events table
    * unioned with a deterministic "redelivery" subset (every 7th event
    * arrives twice), deduped by event_id. Duplicate deliveries are
    * exact copies OF UNIQUE-KEYED events, so survivor choice is
    * value-irrelevant and the postcondition — and the oracle — is the
    * original relation. The uniqueness precondition is pinned by a
    * StreamingSpec fixture assertion (a fixture with duplicate
    * event_ids carrying different payloads would make dropDuplicates'
    * arbitrary survivor diverge from the oracle). The watermarked
    * streaming path is exercised in StreamingSpec (state-expiry
    * semantics need micro-batches).
    */
  def streamDedup(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "events").select(
      col("event_id"),
      col("ts").cast("timestamp").as("ts"),
      col("user_id"), col("event_type"), col("value"))
    val atLeastOnce = e.unionByName(e.filter(col("event_id") % 7 === 0))
    graft.streaming.StreamingJobs.dedupStream(atLeastOnce, Seq("event_id"), "ts")
      .orderBy("event_id")
  }

  val streamDedupSql: String =
    """SELECT event_id, ts, user_id, event_type, value
      |FROM events ORDER BY event_id""".stripMargin

  /** §2.10 streaming: the stream-static enrichment join run in BATCH
    * mode (input-agnostic transform) — a two-hop star lookup
    * events → customer → nation, LEFT so unmatched keys flow through
    * with null enrichment. The streaming path (MemoryStream micro-
    * batches, broadcast plan shape) is exercised in StreamingSpec.
    */
  def streamEnrich(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"))
    val withCust = graft.streaming.StreamingJobs.enrichStream(
      e, Tables(s, dir, "customer"), "user_id", "c_custkey",
      Seq("c_name", "c_mktsegment", "c_nationkey"))
    graft.streaming.StreamingJobs.enrichStream(
        withCust, Tables(s, dir, "nation"), "c_nationkey", "n_nationkey",
        Seq("n_name"))
      .select("event_id", "user_id", "event_type", "c_name", "c_mktsegment", "n_name")
      .orderBy("event_id")
  }

  val streamEnrichSql: String =
    """SELECT e.event_id, e.user_id, e.event_type, c.c_name, c.c_mktsegment, n.n_name
      |FROM events e
      |LEFT JOIN customer c ON e.user_id = c.c_custkey
      |LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
      |ORDER BY e.event_id""".stripMargin

  /** Batch gap-sessionization over the events table (30-minute gap),
    * mirrored by a lag + running-sum window in the oracle.
    */
  def sessionizeBatch(s: SparkSession, dir: String): DataFrame = {
    val events = Tables(s, dir, "events").select(
      col("event_id"), col("user_id"),
      col("ts").cast("timestamp").as("ts"),
      col("value"))
    graft.streaming.StreamingJobs.sessionizeBatch(events, gapMinutes = 30)
      .orderBy("user_id", "session_id")
  }

  val sessionizeBatchSql: String =
    """WITH o AS (
      |  SELECT user_id, ts, event_id, value,
      |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      |  FROM events),
      |f AS (
      |  SELECT *, CASE WHEN prev IS NULL
      |      OR floor(epoch(ts)) - floor(epoch(prev)) > 1800 THEN 1 ELSE 0 END AS nw
      |  FROM o),
      |s AS (
      |  SELECT *, sum(nw) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM f)
      |SELECT user_id, CAST(sid AS BIGINT) AS session_id,
      |  min(ts) AS session_start, max(ts) AS session_end,
      |  count(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
      |FROM s GROUP BY user_id, sid ORDER BY user_id, session_id""".stripMargin

  /** [[graft.analytics.Events.dailyAnomaly]] with PLANTED anomalies (the
    * synthetic log is uniform): 'click' volume cratered to ~20% on
    * 2024-01-15 (keep event_id % 5 = 0 only) and 'error' volume tripled
    * on 2024-01-20 (two extra copies unioned) — so low, high, normal and
    * warmup statuses all appear. The oracle restates the planting and
    * the trailing-window classification.
    */
  def eventsAnomaly(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "events").select(
      col("event_id"), col("event_type"),
      col("ts").cast("timestamp").as("ts"))
    val day = col("ts").cast("date")
    val cratered = e.filter(!(col("event_type") === "click" &&
      day === lit("2024-01-15").cast("date") && col("event_id") % 5 =!= 0))
    val spike = e.filter(col("event_type") === "error" &&
      day === lit("2024-01-20").cast("date"))
    graft.analytics.Events.dailyAnomaly(
        cratered.unionByName(spike).unionByName(spike))
      .orderBy("event_type", "day")
  }

  val eventsAnomalySql: String =
    """WITH e AS (
      |  SELECT event_id, event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
      |  FROM events),
      |pe AS (
      |  SELECT event_type, day FROM e
      |  WHERE NOT (event_type = 'click' AND day = DATE '2024-01-15' AND event_id % 5 <> 0)
      |  UNION ALL SELECT event_type, day FROM e
      |  WHERE event_type = 'error' AND day = DATE '2024-01-20'
      |  UNION ALL SELECT event_type, day FROM e
      |  WHERE event_type = 'error' AND day = DATE '2024-01-20'),
      |daily AS (
      |  SELECT event_type, day, CAST(count(*) AS BIGINT) AS n
      |  FROM pe GROUP BY event_type, day),
      |w AS (
      |  SELECT event_type, day, n,
      |    CAST(count(n) OVER win AS BIGINT) AS trailing_days,
      |    CAST(sum(n) OVER win AS BIGINT) AS tsum
      |  FROM daily
      |  WINDOW win AS (PARTITION BY event_type ORDER BY day
      |    ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
      |SELECT event_type, day, n, trailing_days,
      |  CASE WHEN trailing_days >= 3
      |    THEN CAST(tsum AS DOUBLE) / CAST(trailing_days AS DOUBLE) END AS baseline,
      |  CASE WHEN trailing_days < 3 THEN 'warmup'
      |    WHEN CAST(n AS DOUBLE) > 2.0 * (CAST(tsum AS DOUBLE) / CAST(trailing_days AS DOUBLE)) THEN 'high'
      |    WHEN CAST(n AS DOUBLE) * 2.0 < (CAST(tsum AS DOUBLE) / CAST(trailing_days AS DOUBLE)) THEN 'low'
      |    ELSE 'normal' END AS status
      |FROM w ORDER BY event_type, day""".stripMargin

  /** [[graft.analytics.Events.funnel]] view → click → purchase within
    * 72 h of the user's first view; the oracle is the iterative
    * min-after-previous-step chain in CTE form.
    */
  def funnelConversion(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "events").select(
      col("user_id"),
      col("ts").cast("timestamp").as("ts"),
      col("event_type"))
    graft.analytics.Events.funnel(e, "user_id", "ts", "event_type",
      Seq("view", "click", "purchase"), withinHours = 72)
  }

  val funnelConversionSql: String =
    """WITH e AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events),
      |s1 AS (
      |  SELECT user_id, min(ts) AS t1 FROM e
      |  WHERE event_type = 'view' GROUP BY user_id),
      |s2 AS (
      |  SELECT e.user_id, s1.t1, min(e.ts) AS t FROM e JOIN s1 USING (user_id)
      |  WHERE e.event_type = 'click' AND e.ts > s1.t1
      |    AND e.ts <= s1.t1 + INTERVAL 72 HOUR
      |  GROUP BY e.user_id, s1.t1),
      |s3 AS (
      |  SELECT e.user_id, s2.t1, min(e.ts) AS t FROM e JOIN s2 USING (user_id)
      |  WHERE e.event_type = 'purchase' AND e.ts > s2.t
      |    AND e.ts <= s2.t1 + INTERVAL 72 HOUR
      |  GROUP BY e.user_id, s2.t1),
      |c AS (
      |  SELECT 1 AS step_idx, 'view' AS step, CAST(count(*) AS BIGINT) AS n_users FROM s1
      |  UNION ALL SELECT 2, 'click', CAST(count(*) AS BIGINT) FROM s2
      |  UNION ALL SELECT 3, 'purchase', CAST(count(*) AS BIGINT) FROM s3)
      |SELECT step_idx, step, n_users,
      |  CAST(n_users AS DOUBLE) / (SELECT CAST(count(*) AS DOUBLE) FROM s1) AS conversion
      |FROM c ORDER BY step_idx""".stripMargin

  /** [[graft.analytics.Events.cohortRetention]] at weekly buckets over
    * the 30-day event log; the oracle restates the
    * distinct-activity → min-day cohort → bucket → count chain.
    */
  def cohortRetention(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "events").select(
      col("user_id"),
      col("ts").cast("timestamp").as("ts"))
    graft.analytics.Events.cohortRetention(e, "user_id", "ts",
        bucketDays = 7, maxBuckets = 5)
      .orderBy("cohort_day", "bucket")
  }

  val cohortRetentionSql: String =
    """WITH act AS (
      |  SELECT DISTINCT user_id AS u, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
      |  FROM events),
      |coh AS (SELECT u, min(day) AS cohort_day FROM act GROUP BY u),
      |sizes AS (
      |  SELECT cohort_day, CAST(count(*) AS BIGINT) AS cohort_size
      |  FROM coh GROUP BY cohort_day),
      |buck AS (
      |  SELECT DISTINCT c.cohort_day,
      |    CAST(floor(date_diff('day', c.cohort_day, a.day) / 7) AS INT) AS bucket,
      |    a.u
      |  FROM act a JOIN coh c USING (u)
      |  WHERE floor(date_diff('day', c.cohort_day, a.day) / 7) < 5),
      |n AS (
      |  SELECT cohort_day, bucket, CAST(count(*) AS BIGINT) AS n_active
      |  FROM buck GROUP BY cohort_day, bucket)
      |SELECT n.cohort_day, n.bucket, n.n_active, s.cohort_size,
      |  CAST(n.n_active AS DOUBLE) / CAST(s.cohort_size AS DOUBLE) AS retention
      |FROM n JOIN sizes s USING (cohort_day)
      |ORDER BY cohort_day, bucket""".stripMargin

  /** [[graft.operators.AsOf.join]]: each click event looks up the same
    * user's most recent purchase at-or-before it — the point-in-time
    * quote pattern, both sides large. Purchases at identical instants
    * are collapsed to max(value) first, so the operator's uniqueness
    * contract (one right row per (user_id, ts)) holds by construction on
    * any regeneration of the data, and the same collapse appears in the
    * oracle. The oracle is DuckDB's native ASOF LEFT JOIN.
    */
  def asofJoin(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "events").select(
      col("event_id"),
      col("ts").cast("timestamp").as("ts"),
      col("user_id"), col("event_type"), col("value"))
    val clicks = e.filter(col("event_type") === "click")
      .select("event_id", "user_id", "ts", "value")
    val quotes = e.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("value")).as("quote_value"))
    graft.operators.AsOf.join(clicks, quotes, Seq("user_id"), "ts", "ts",
        Seq("quote_value"), matchedTsCol = "quote_ts")
      .orderBy("event_id")
  }

  val asofJoinSql: String =
    """WITH e AS (
      |  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value
      |  FROM events),
      |c AS (SELECT event_id, user_id, ts, value FROM e WHERE event_type = 'click'),
      |q AS (
      |  SELECT user_id, ts AS quote_ts, max(value) AS quote_value
      |  FROM e WHERE event_type = 'purchase' GROUP BY user_id, ts)
      |SELECT c.event_id, c.user_id, c.ts, c.value, q.quote_ts, q.quote_value
      |FROM c ASOF LEFT JOIN q
      |  ON c.user_id = q.user_id AND c.ts >= q.quote_ts
      |ORDER BY c.event_id""".stripMargin

  /** [[graft.streaming.StreamingJobs.joinStreams]] exercised on batch
    * frames: the stream-stream band join is input-agnostic (watermarks
    * no-op on bounded frames), so the SAME code path the MemoryStream
    * specs drive is gated here against the plain BETWEEN theta join the
    * band predicate denotes — views paired with same-user purchases in
    * [view_ts - 1h, view_ts + 4h]. Closes the one §2 family that had
    * only spec coverage with an oracle row.
    */
  def bandJoin(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "events").select(
      col("event_id"), col("ts").cast("timestamp").as("ts"),
      col("user_id"), col("event_type"))
    val views = e.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"),
        col("ts").as("view_ts"))
    val buys = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("buy_id"), col("user_id").as("buyer_id"),
        col("ts").as("buy_ts"))
    graft.streaming.StreamingJobs.joinStreams(views, buys,
        "user_id", "buyer_id", "view_ts", "buy_ts",
        before = "1 hour", after = "4 hours")
      .select("view_id", "user_id", "view_ts", "buy_id", "buy_ts")
      .orderBy("view_id", "buy_id")
  }

  val bandJoinSql: String =
    """WITH e AS (
      |  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type
      |  FROM events),
      |v AS (SELECT event_id AS view_id, user_id, ts AS view_ts
      |      FROM e WHERE event_type = 'view'),
      |b AS (SELECT event_id AS buy_id, user_id AS buyer_id, ts AS buy_ts
      |      FROM e WHERE event_type = 'purchase')
      |SELECT view_id, v.user_id, view_ts, buy_id, buy_ts
      |FROM v JOIN b ON v.user_id = b.buyer_id
      |  AND b.buy_ts >= v.view_ts - INTERVAL 1 HOUR
      |  AND b.buy_ts <= v.view_ts + INTERVAL 4 HOUR
      |ORDER BY view_id, buy_id""".stripMargin

  /** [[graft.operators.RangeJoin.pointInInterval]]: each click event
    * against every same-user 2-hour window opened by a purchase — the
    * binned range join (1-hour buckets ⇒ ≤ 3 replicas per window) with
    * the exact BETWEEN post-filter. The oracle is the naive BETWEEN
    * theta join, so the gate proves the binning loses and invents
    * nothing.
    */
  def rangeJoin(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "events").select(
      col("event_id"), col("ts").cast("timestamp").as("ts"),
      col("user_id"), col("event_type"))
    val clicks = e.filter(col("event_type") === "click")
      .select("event_id", "user_id", "ts")
    val windows = e.filter(col("event_type") === "purchase").select(
      col("event_id").as("window_id"), col("user_id"),
      col("ts").as("w_start"),
      (col("ts") + expr("INTERVAL 2 HOURS")).as("w_end"))
    graft.operators.RangeJoin.pointInInterval(clicks, windows,
        Seq("user_id"), "ts", "w_start", "w_end",
        bucketWidth = 3600L * 1000000L)
      .orderBy("event_id", "window_id")
  }

  val rangeJoinSql: String =
    """WITH e AS (
      |  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type
      |  FROM events),
      |c AS (SELECT event_id, user_id, ts FROM e WHERE event_type = 'click'),
      |w AS (
      |  SELECT event_id AS window_id, user_id, ts AS w_start,
      |         ts + INTERVAL 2 HOUR AS w_end
      |  FROM e WHERE event_type = 'purchase')
      |SELECT c.event_id, c.user_id, c.ts, w.window_id, w.w_start, w.w_end
      |FROM c JOIN w ON c.user_id = w.user_id
      |  AND c.ts BETWEEN w.w_start AND w.w_end
      |ORDER BY c.event_id, w.window_id""".stripMargin

  /** Semi-structured extraction from the events.props JSON column, both
    * ways Spark offers it: path-based `get_json_object` (schemaless,
    * per-field) and schema-based `from_json` (typed struct, the bulk
    * form) — both codegen'd row-local projections, no shuffle. The
    * oracle extracts the same path with DuckDB's JSON operator.
    */
  def jsonExtract(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "events")
    e.select(col("event_id"), col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k_path"),
        from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k LONG"))
          .getField("k").as("k_schema"))
      .orderBy("event_id")
  }

  val jsonExtractSql: String =
    """SELECT event_id, event_type,
      |  CAST(props->>'k' AS BIGINT) AS k_path,
      |  CAST(props->>'k' AS BIGINT) AS k_schema
      |FROM events ORDER BY event_id""".stripMargin

  /** [[graft.analytics.Series.gapFillDaily]]: densify the per-priority
    * daily order series onto each priority's full day spine and
    * forward-fill the day's count/total — gap repair for rolling
    * metrics. The oracle restates the per-key spine and the
    * IGNORE NULLS carry.
    */
  def gapFill(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables(s, dir, "orders")
      .groupBy(col("o_orderpriority").as("prio"),
        to_date(col("o_orderdate")).as("day"))
      .agg(count(lit(1)).as("n"), graft.Exact.dsum(col("o_totalprice")).as("total"))
    graft.analytics.Series.gapFillDaily(daily, Seq("prio"), "day", Seq("n", "total"))
      .orderBy("prio", "day")
  }

  val gapFillSql: String =
    s"""WITH daily AS (
       |  SELECT o_orderpriority AS prio, CAST(o_orderdate AS DATE) AS day,
       |         COUNT(*) AS n, ${graft.Exact.sqlSum("o_totalprice")} AS total
       |  FROM orders GROUP BY 1, 2),
       |b AS (SELECT prio, min(day) AS lo, max(day) AS hi FROM daily GROUP BY prio),
       |spine AS (
       |  SELECT prio, CAST(unnest(generate_series(CAST(lo AS TIMESTAMP),
       |    CAST(hi AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day
       |  FROM b),
       |j AS (
       |  SELECT spine.prio, spine.day, d.n, d.total,
       |         d.n IS NOT NULL AS is_observed
       |  FROM spine LEFT JOIN daily d
       |    ON spine.prio = d.prio AND spine.day = d.day)
       |SELECT prio, day,
       |  last_value(n IGNORE NULLS) OVER w AS n,
       |  last_value(total IGNORE NULLS) OVER w AS total,
       |  is_observed
       |FROM j
       |WINDOW w AS (PARTITION BY prio ORDER BY day
       |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |ORDER BY prio, day""".stripMargin

  /** [[graft.analytics.Events.rollingActivity]] at a 7-day trailing
    * RANGE frame; the oracle's window frames on the same epoch-day
    * integer, so calendar gaps behave identically.
    */
  def rollingActivity(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "events").select(
      col("user_id"),
      col("ts").cast("timestamp").as("ts"))
    graft.analytics.Events.rollingActivity(e, "user_id", "ts", windowDays = 7)
      .orderBy("user_id", "day")
  }

  val rollingActivitySql: String =
    """WITH daily AS (
      |  SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
      |    CAST(count(*) AS BIGINT) AS n_events
      |  FROM events GROUP BY user_id, day),
      |d2 AS (
      |  SELECT user_id, day, n_events,
      |    date_diff('day', DATE '1970-01-01', day) AS di
      |  FROM daily)
      |SELECT user_id, day, n_events,
      |  CAST(sum(n_events) OVER win AS BIGINT) AS window_events,
      |  CAST(count(*) OVER win AS BIGINT) AS window_days
      |FROM d2
      |WINDOW win AS (PARTITION BY user_id ORDER BY di
      |  RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, day""".stripMargin

  /** [[graft.analytics.Events.activeUsers]]: DAU/WAU for every day of
    * the observed span. The operator is the interval-sweep form (the
    * activity set is scanned twice); the oracle is the naive definition
    * itself — a day-spine range join with COUNT(DISTINCT) — so the gate
    * proves the sweep computes exactly the trailing-window semantics.
    */
  def activeUsers(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "events").select(
      col("user_id"),
      col("ts").cast("timestamp").as("ts"))
    graft.analytics.Events.activeUsers(e, "user_id", "ts", windowDays = 7)
      .orderBy("day")
  }

  val activeUsersSql: String =
    """WITH ud AS (
      |  SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
      |  FROM events),
      |b AS (SELECT min(day) AS d0, max(day) AS d1 FROM ud),
      |spine AS (
      |  SELECT CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
      |    CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day FROM b),
      |dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY day),
      |wau AS (
      |  SELECT s.day, CAST(count(DISTINCT u.user_id) AS BIGINT) AS wau
      |  FROM spine s LEFT JOIN ud u
      |    ON u.day <= s.day AND u.day >= s.day - 6
      |  GROUP BY s.day)
      |SELECT s.day, COALESCE(d.dau, 0) AS dau, COALESCE(w.wau, 0) AS wau
      |FROM spine s
      |LEFT JOIN dau d USING (day) LEFT JOIN wau w USING (day)
      |ORDER BY day""".stripMargin

  /** [[graft.analytics.Events.transitions]] with event_id as the
    * same-timestamp tiebreak; the oracle restates the lead window,
    * pair counts, and the per-from_type share division.
    */
  def eventTransitions(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "events").select(
      col("event_id"),
      col("ts").cast("timestamp").as("ts"),
      col("user_id"), col("event_type"))
    graft.analytics.Events.transitions(e, "user_id", "ts", "event_type",
        tieCols = Seq("event_id"))
      .orderBy("from_type", "to_type")
  }

  val eventTransitionsSql: String =
    """WITH e AS (
      |  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type
      |  FROM events),
      |nx AS (
      |  SELECT event_type AS from_type,
      |    lead(event_type) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS to_type
      |  FROM e),
      |c AS (
      |  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
      |  FROM nx WHERE to_type IS NOT NULL GROUP BY from_type, to_type)
      |SELECT from_type, to_type, n,
      |  CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY from_type) AS DOUBLE) AS p
      |FROM c ORDER BY from_type, to_type""".stripMargin

  /** [[graft.operators.RangeJoin.intervalOverlap]]: every view's 2-hour
    * attention window × every same-user purchase's ±1-hour window that
    * overlaps it — interval × interval, where [[rangeJoin]] is point ×
    * interval. The oracle is the naive overlap theta join, so the gate
    * proves the max-start meeting-bucket dedup keeps each true pair
    * exactly once.
    */
  def intervalJoin(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "events").select(
      col("event_id"), col("ts").cast("timestamp").as("ts"),
      col("user_id"), col("event_type"))
    val views = e.filter(col("event_type") === "view").select(
      col("event_id").as("view_id"), col("user_id"),
      col("ts").as("v_start"),
      (col("ts") + expr("INTERVAL 2 HOURS")).as("v_end"))
    val buys = e.filter(col("event_type") === "purchase").select(
      col("event_id").as("buy_id"), col("user_id"),
      (col("ts") - expr("INTERVAL 1 HOURS")).as("b_start"),
      (col("ts") + expr("INTERVAL 1 HOURS")).as("b_end"))
    graft.operators.RangeJoin.intervalOverlap(views, buys, Seq("user_id"),
        "v_start", "v_end", "b_start", "b_end",
        bucketWidth = 3600L * 1000000L)
      .select("view_id", "user_id", "buy_id", "v_start", "b_start")
      .orderBy("view_id", "buy_id")
  }

  val intervalJoinSql: String =
    """WITH e AS (
      |  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type
      |  FROM events),
      |v AS (SELECT event_id AS view_id, user_id, ts AS v_start,
      |             ts + INTERVAL 2 HOUR AS v_end
      |      FROM e WHERE event_type = 'view'),
      |b AS (SELECT event_id AS buy_id, user_id AS b_user,
      |             ts - INTERVAL 1 HOUR AS b_start,
      |             ts + INTERVAL 1 HOUR AS b_end
      |      FROM e WHERE event_type = 'purchase')
      |SELECT view_id, user_id, buy_id, v_start, b_start
      |FROM v JOIN b ON v.user_id = b.b_user
      |  AND v_start <= b_end AND b_start <= v_end
      |ORDER BY view_id, buy_id""".stripMargin

  /** [[graft.analytics.Assoc.associationRules]] with users as baskets
    * and event types as items, minCount 5 — the full support /
    * directional confidence / lift surface restated as one presence
    * CTE, a keyed self-join, and the marginal joins; every division
    * identical on both engines.
    */
  def assocRules(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "events")
    graft.analytics.Assoc.associationRules(e, "user_id", "event_type",
        minCount = 5L)
      .orderBy("item_a", "item_b")
  }

  val assocRulesSql: String =
    """WITH items AS (SELECT DISTINCT user_id, event_type FROM events
      |               WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
      |nb AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_baskets
      |       FROM items),
      |ic AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_item
      |       FROM items GROUP BY event_type),
      |pc AS (
      |  SELECT a.event_type AS item_a, b.event_type AS item_b,
      |         CAST(count(*) AS BIGINT) AS n_ab
      |  FROM items a JOIN items b
      |    ON a.user_id = b.user_id AND a.event_type < b.event_type
      |  GROUP BY 1, 2)
      |SELECT item_a, item_b, ia.n_item AS n_a, ib.n_item AS n_b, n_ab,
      |  n_baskets,
      |  CAST(n_ab AS DOUBLE) / CAST(n_baskets AS DOUBLE) AS support,
      |  CAST(n_ab AS DOUBLE) / CAST(ia.n_item AS DOUBLE) AS conf_a_to_b,
      |  CAST(n_ab AS DOUBLE) / CAST(ib.n_item AS DOUBLE) AS conf_b_to_a,
      |  CAST(n_ab * n_baskets AS DOUBLE) /
      |    CAST(ia.n_item * ib.n_item AS DOUBLE) AS lift
      |FROM pc
      |JOIN ic ia ON pc.item_a = ia.event_type
      |JOIN ic ib ON pc.item_b = ib.event_type
      |CROSS JOIN nb
      |WHERE n_ab >= 5
      |ORDER BY item_a, item_b""".stripMargin

  /** [[graft.analytics.Events.stationaryDistribution]]: 3 power
    * iterations over the [[eventTransitions]] matrix from a uniform
    * start — the oracle unrolls the same three join+sum steps with the
    * decimal(28,15) term quantization and publishes each mass through
    * the VARCHAR double conversion (wide-decimal cast convention).
    */
  def markovStationary(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "events").select(
      col("event_id"), col("ts").cast("timestamp").as("ts"),
      col("user_id"), col("event_type"))
    val trans = graft.analytics.Events.transitions(e, "user_id", "ts",
      "event_type", tieCols = Seq("event_id"))
    graft.analytics.Events.stationaryDistribution(trans,
        "from_type", "to_type", "p", iterations = 3)
      .orderBy("state")
  }

  val markovStationarySql: String =
    """WITH e AS (
      |  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type
      |  FROM events),
      |nx AS (
      |  SELECT event_type AS from_type,
      |    lead(event_type) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS to_type
      |  FROM e),
      |c AS (
      |  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
      |  FROM nx WHERE to_type IS NOT NULL GROUP BY from_type, to_type),
      |t AS (
      |  SELECT from_type, to_type,
      |    CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY from_type)
      |      AS DOUBLE) AS p
      |  FROM c),
      |st AS (SELECT from_type AS state FROM t
      |       UNION SELECT to_type FROM t),
      |nstat AS (SELECT CAST(count(*) AS BIGINT) AS n_states FROM st),
      |v0 AS (SELECT state,
      |         CAST(1 AS DOUBLE) / CAST(n_states AS DOUBLE) AS p
      |       FROM st, nstat),
      |v1 AS (SELECT t.to_type AS state,
      |         CAST(CAST(sum(CAST(t.p * v.p AS DECIMAL(28,15))) AS VARCHAR)
      |           AS DOUBLE) AS p
      |       FROM t JOIN v0 v ON t.from_type = v.state GROUP BY t.to_type),
      |v2 AS (SELECT t.to_type AS state,
      |         CAST(CAST(sum(CAST(t.p * v.p AS DECIMAL(28,15))) AS VARCHAR)
      |           AS DOUBLE) AS p
      |       FROM t JOIN v1 v ON t.from_type = v.state GROUP BY t.to_type),
      |v3 AS (SELECT t.to_type AS state,
      |         CAST(CAST(sum(CAST(t.p * v.p AS DECIMAL(28,15))) AS VARCHAR)
      |           AS DOUBLE) AS p
      |       FROM t JOIN v2 v ON t.from_type = v.state GROUP BY t.to_type)
      |SELECT state, p FROM v3 ORDER BY state""".stripMargin

  /** [[graft.analytics.Events.decayedCounts]] per event type at a
    * 7-day half-life: the exact power-of-two weight sum restated with
    * DuckDB's shift/floor-div operators; `sum` pinned to BIGINT, the
    * published `score` is the one division of that exact integer.
    */
  def decayedCounts(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "events")
      .select(col("event_type"), col("ts").cast("timestamp").as("ts"))
    graft.analytics.Events.decayedCounts(e, Seq("event_type"), "ts",
        halfLifeDays = 7)
      .orderBy("event_type")
  }

  val decayedCountsSql: String =
    """WITH e AS (SELECT event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
      |mx AS (SELECT CAST(max(ts) AS DATE) AS as_of FROM e),
      |w AS (
      |  SELECT event_type,
      |    (CAST(1 AS BIGINT) << CAST(30 - least(
      |       greatest(date_diff('day', CAST(ts AS DATE), as_of), 0) // 7,
      |       30) AS INTEGER)) AS w
      |  FROM e, mx)
      |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(sum(w) AS BIGINT) AS score_scaled,
      |  CAST(CAST(sum(w) AS BIGINT) AS DOUBLE) / CAST(1073741824 AS DOUBLE)
      |    AS score
      |FROM w GROUP BY event_type ORDER BY event_type""".stripMargin

  /** [[graft.operators.Fuzzy.editJoin]]: every synthesized "dirty" part
    * name (one deterministic char deletion / substitution keyed off
    * p_partkey) matched against the canonical distinct-name catalog at
    * Levenshtein ≤ 2 — the record-linkage shape behind fuzzy
    * company-name resolution. The oracle is the brute-force all-pairs
    * levenshtein scan, so the gate proves the symmetric-delete
    * candidate scheme loses nothing.
    */
  def fuzzyJoin(s: SparkSession, dir: String): DataFrame = {
    val p = Tables(s, dir, "part")
    val canon = p.groupBy(col("p_name"))
      .agg(min(col("p_partkey")).as("name_id"))
    val pos = ((col("p_partkey") % length(col("p_name"))) + 1).cast("int")
    val head = col("p_name").substr(lit(1), pos - 1)
    val tail = col("p_name").substr(pos + 1, length(col("p_name")))
    val dirty = p.select(col("p_partkey").as("dirty_id"),
      when(col("p_partkey") % 3 === 0, concat(head, tail))
        .when(col("p_partkey") % 3 === 1, concat(head, lit("x"), tail))
        .otherwise(col("p_name")).as("dirty_name"))
    graft.operators.Fuzzy.editJoin(dirty, "dirty_id", "dirty_name",
        canon, "name_id", "p_name", d = 2)
      .orderBy("dirty_id", "name_id")
  }

  val fuzzyJoinSql: String =
    """WITH canon AS (
      |  SELECT p_name, CAST(min(p_partkey) AS BIGINT) AS name_id
      |  FROM part GROUP BY p_name),
      |pp AS (
      |  SELECT p_partkey, p_name,
      |    CAST(p_partkey % length(p_name) AS INTEGER) + 1 AS pos
      |  FROM part),
      |dirty AS (
      |  SELECT CAST(p_partkey AS BIGINT) AS dirty_id,
      |    CASE WHEN p_partkey % 3 = 0 THEN
      |           substr(p_name, 1, pos - 1) ||
      |           substr(p_name, pos + 1, length(p_name))
      |         WHEN p_partkey % 3 = 1 THEN
      |           substr(p_name, 1, pos - 1) || 'x' ||
      |           substr(p_name, pos + 1, length(p_name))
      |         ELSE p_name END AS dirty_name
      |  FROM pp)
      |SELECT dirty_id, dirty_name, name_id, p_name,
      |  CAST(levenshtein(dirty_name, p_name) AS INTEGER) AS dist
      |FROM dirty JOIN canon
      |  ON abs(length(dirty_name) - length(p_name)) <= 2
      | AND levenshtein(dirty_name, p_name) <= 2
      |ORDER BY dirty_id, name_id""".stripMargin

  /** [[graft.operators.Linkage.linkageJoin]]: self-linkage of the part
    * catalog — block on the uppercased 3-char prefix, score every
    * in-block pair with the native [[graft.expressions.JaroWinkler]]
    * expression, keep pairs ≥ 0.88, smaller id first. The oracle is
    * DuckDB's OWN `jaro_winkler_similarity` over the same blocked
    * triangle, so the gate proves the codegen'd kernel matches an
    * independent engine's implementation bit-for-bit (at the 6-dp
    * render) across every scored pair.
    */
  def linkageJoin(s: SparkSession, dir: String): DataFrame = {
    val p = Tables(s, dir, "part")
    val a = p.select(col("p_partkey").as("a_key"), col("p_name").as("a_name"))
    val b = p.select(col("p_partkey").as("b_key"), col("p_name").as("b_name"))
    graft.operators.Linkage.linkageJoin(a, "a_key", "a_name",
        b, "b_key", "b_name", threshold = 0.88,
        blocker = graft.operators.Linkage.prefixBlock(3), selfPairs = true)
      .orderBy("a_key", "b_key")
  }

  val linkageJoinSql: String =
    """WITH p AS (
      |  SELECT CAST(p_partkey AS BIGINT) AS id, p_name AS name,
      |         upper(substring(p_name, 1, 3)) AS blk
      |  FROM part WHERE p_name IS NOT NULL)
      |SELECT l.id AS a_key, l.name AS a_name,
      |       r.id AS b_key, r.name AS b_name,
      |  round(jaro_winkler_similarity(l.name, r.name), 6) AS sim
      |FROM p l JOIN p r ON l.blk = r.blk AND l.id < r.id
      |WHERE round(jaro_winkler_similarity(l.name, r.name), 6) >= 0.88
      |ORDER BY a_key, b_key""".stripMargin

  /** [[graft.operators.Linkage.goldenRecord]]: consolidate the fuzzy
    * part catalog — per record a deterministically-dirtied name (the
    * `fuzzy_join` scheme: 1-in-3 clean, else one deletion/insertion
    * keyed off the id) plus a nullable container — grouped by exact
    * p_name clusters (canonical = min id per name; the cluster
    * DERIVATION has its own gates, this one tests the survivor
    * policy): modal non-null value per field, ties to the smallest
    * value, all-null fields stay null. The oracle restates the melt,
    * the (count desc, value asc) winner window and the pivot.
    */
  def goldenRecord(s: SparkSession, dir: String): DataFrame = {
    val p = Tables(s, dir, "part")
    val pos = ((col("p_partkey") % length(col("p_name"))) + 1).cast("int")
    val head = col("p_name").substr(lit(1), pos - 1)
    val tail = col("p_name").substr(pos + 1, length(col("p_name")))
    val records = p.select(col("p_partkey").as("rec_id"),
      when(col("p_partkey") % 3 === 0, concat(head, tail))
        .when(col("p_partkey") % 3 === 1, concat(head, lit("x"), tail))
        .otherwise(col("p_name")).as("name"),
      col("p_brand").as("brand"),
      when(col("p_partkey") % 7 === 0, lit(null).cast("string"))
        .otherwise(col("p_type")).as("container"))
    val clusters = p.select(col("p_partkey").as("rec_id"), col("p_name"))
      .withColumn("canonical_id",
        min(col("rec_id")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("p_name"))))
      .select(col("rec_id"), col("canonical_id"))
    graft.operators.Linkage.goldenRecord(records, "rec_id", clusters,
        Seq("name", "brand", "container"))
      .orderBy("canonical_id")
  }

  val goldenRecordSql: String =
    """WITH clus AS (
      |  SELECT p_partkey AS rec_id,
      |    CAST(min(p_partkey) OVER (PARTITION BY p_name) AS BIGINT)
      |      AS canonical_id
      |  FROM part),
      |pp AS (
      |  SELECT p_partkey, p_name, p_brand, p_type,
      |    CAST(p_partkey % length(p_name) AS INTEGER) + 1 AS pos
      |  FROM part),
      |rec AS (
      |  SELECT CAST(p_partkey AS BIGINT) AS rec_id,
      |    CASE WHEN p_partkey % 3 = 0 THEN
      |           substr(p_name, 1, pos - 1) ||
      |           substr(p_name, pos + 1, length(p_name))
      |         WHEN p_partkey % 3 = 1 THEN
      |           substr(p_name, 1, pos - 1) || 'x' ||
      |           substr(p_name, pos + 1, length(p_name))
      |         ELSE p_name END AS name,
      |    p_brand AS brand,
      |    CASE WHEN p_partkey % 7 = 0 THEN NULL
      |         ELSE p_type END AS container
      |  FROM pp),
      |joined AS (SELECT c.canonical_id, r.name, r.brand, r.container
      |           FROM rec r JOIN clus c USING (rec_id)),
      |members AS (SELECT canonical_id, CAST(count(*) AS BIGINT) AS n_members
      |            FROM joined GROUP BY canonical_id),
      |melted AS (
      |  SELECT canonical_id, 'name' AS f, name AS v FROM joined
      |    WHERE name IS NOT NULL
      |  UNION ALL
      |  SELECT canonical_id, 'brand', brand FROM joined
      |    WHERE brand IS NOT NULL
      |  UNION ALL
      |  SELECT canonical_id, 'container', container FROM joined
      |    WHERE container IS NOT NULL),
      |counts AS (SELECT canonical_id, f, v, count(*) AS c
      |           FROM melted GROUP BY canonical_id, f, v),
      |winners AS (
      |  SELECT canonical_id, f, v FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY canonical_id, f
      |      ORDER BY c DESC, v ASC) AS rn FROM counts) WHERE rn = 1),
      |golden AS (
      |  SELECT canonical_id,
      |    max(CASE WHEN f = 'name' THEN v END) AS name,
      |    max(CASE WHEN f = 'brand' THEN v END) AS brand,
      |    max(CASE WHEN f = 'container' THEN v END) AS container
      |  FROM winners GROUP BY canonical_id)
      |SELECT m.canonical_id, m.n_members, g.name, g.brand, g.container
      |FROM members m LEFT JOIN golden g USING (canonical_id)
      |ORDER BY canonical_id""".stripMargin

  /** [[graft.operators.Linkage.resolveEntities]] — the FULL
    * entity-resolution chain (blocked Jaro-Winkler linkage → connected
    * components → golden record) over the dirty part catalog, verified
    * against ONE chained oracle: the linkage id-pair triangle, the
    * recursive-CTE transitive closure with min-id canonicals, and the
    * modal-survivor pivot. The end-to-end proof that the three gated
    * pieces compose.
    */
  def entityResolution(s: SparkSession, dir: String): DataFrame = {
    val p = Tables(s, dir, "part")
    val pos = ((col("p_partkey") % length(col("p_name"))) + 1).cast("int")
    val head = col("p_name").substr(lit(1), pos - 1)
    val tail = col("p_name").substr(pos + 1, length(col("p_name")))
    val records = p.select(col("p_partkey").as("rec_id"),
      when(col("p_partkey") % 3 === 0, concat(head, tail))
        .when(col("p_partkey") % 3 === 1, concat(head, lit("x"), tail))
        .otherwise(col("p_name")).as("name"),
      col("p_brand").as("brand"),
      when(col("p_partkey") % 7 === 0, lit(null).cast("string"))
        .otherwise(col("p_type")).as("container"))
    graft.operators.Linkage.resolveEntities(records, "rec_id", "name",
        Seq("name", "brand", "container"), threshold = 0.88,
        blocker = graft.operators.Linkage.prefixBlock(3))
      .orderBy("canonical_id")
  }

  val entityResolutionSql: String =
    """WITH RECURSIVE pp AS (
      |  SELECT p_partkey, p_name, p_brand, p_type,
      |    CAST(p_partkey % length(p_name) AS INTEGER) + 1 AS pos
      |  FROM part),
      |rec AS (
      |  SELECT CAST(p_partkey AS BIGINT) AS rec_id,
      |    CASE WHEN p_partkey % 3 = 0 THEN
      |           substr(p_name, 1, pos - 1) ||
      |           substr(p_name, pos + 1, length(p_name))
      |         WHEN p_partkey % 3 = 1 THEN
      |           substr(p_name, 1, pos - 1) || 'x' ||
      |           substr(p_name, pos + 1, length(p_name))
      |         ELSE p_name END AS name,
      |    p_brand AS brand,
      |    CASE WHEN p_partkey % 7 = 0 THEN NULL
      |         ELSE p_type END AS container
      |  FROM pp),
      |bl AS (SELECT rec_id, name, upper(substring(name, 1, 3)) AS blk
      |       FROM rec WHERE name IS NOT NULL),
      |pairs AS (
      |  SELECT l.rec_id AS id_a, r.rec_id AS id_b
      |  FROM bl l JOIN bl r ON l.blk = r.blk AND l.rec_id < r.rec_id
      |  WHERE round(jaro_winkler_similarity(l.name, r.name), 6) >= 0.88),
      |cedges AS (
      |  SELECT id_a AS s, id_b AS d FROM pairs
      |  UNION SELECT id_b, id_a FROM pairs),
      |reach AS (
      |  SELECT s, d FROM cedges
      |  UNION
      |  SELECT r.s, e.d FROM reach r JOIN cedges e ON r.d = e.s),
      |comp AS (
      |  SELECT s AS id, least(s, min(d)) AS canon FROM reach GROUP BY s),
      |clus AS (
      |  SELECT r.rec_id, coalesce(comp.canon, r.rec_id) AS canonical_id
      |  FROM rec r LEFT JOIN comp ON comp.id = r.rec_id),
      |joined AS (SELECT c.canonical_id, r.name, r.brand, r.container
      |           FROM rec r JOIN clus c USING (rec_id)),
      |members AS (SELECT canonical_id, CAST(count(*) AS BIGINT) AS n_members
      |            FROM joined GROUP BY canonical_id),
      |melted AS (
      |  SELECT canonical_id, 'name' AS f, name AS v FROM joined
      |    WHERE name IS NOT NULL
      |  UNION ALL
      |  SELECT canonical_id, 'brand', brand FROM joined
      |    WHERE brand IS NOT NULL
      |  UNION ALL
      |  SELECT canonical_id, 'container', container FROM joined
      |    WHERE container IS NOT NULL),
      |counts AS (SELECT canonical_id, f, v, count(*) AS c
      |           FROM melted GROUP BY canonical_id, f, v),
      |winners AS (
      |  SELECT canonical_id, f, v FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY canonical_id, f
      |      ORDER BY c DESC, v ASC) AS rn FROM counts) WHERE rn = 1),
      |golden AS (
      |  SELECT canonical_id,
      |    max(CASE WHEN f = 'name' THEN v END) AS name,
      |    max(CASE WHEN f = 'brand' THEN v END) AS brand,
      |    max(CASE WHEN f = 'container' THEN v END) AS container
      |  FROM winners GROUP BY canonical_id)
      |SELECT m.canonical_id, m.n_members, g.name, g.brand, g.container
      |FROM members m LEFT JOIN golden g USING (canonical_id)
      |ORDER BY canonical_id""".stripMargin

  /** [[graft.analytics.Events.userSequences]]: per-user ordered event
    * sequences rendered portably (`type:epoch_micros` joined by `|`).
    * The oracle restates the total order and the string render with
    * `STRING_AGG(... ORDER BY ts, event_id)`.
    */
  def userSequences(s: SparkSession, dir: String): DataFrame =
    graft.analytics.Events.userSequences(
        Tables(s, dir, "events"), "user_id", "ts", "event_id", "event_type")
      .orderBy("user_id")

  val userSequencesSql: String =
    """SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
      |  STRING_AGG(event_type || ':' || CAST(epoch_us(ts) AS VARCHAR),
      |    '|' ORDER BY ts, event_id) AS sequence
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "user_sequences"   -> (userSequences _),
    "fuzzy_join"       -> (fuzzyJoin _),
    "linkage_join"     -> (linkageJoin _),
    "golden_record"    -> (goldenRecord _),
    "entity_resolution" -> (entityResolution _),
    "interval_join"    -> (intervalJoin _),
    "assoc_rules"      -> (assocRules _),
    "markov_stationary" -> (markovStationary _),
    "decayed_counts"   -> (decayedCounts _),
    "event_transitions" -> (eventTransitions _),
    "events_anomaly"   -> (eventsAnomaly _),
    "cohort_retention" -> (cohortRetention _),
    "asof_join"        -> (asofJoin _),
    "band_join"        -> (bandJoin _),
    "range_join"       -> (rangeJoin _),
    "gap_fill"         -> (gapFill _),
    "json_extract"     -> (jsonExtract _),
    "rolling_activity" -> (rollingActivity _),
    "active_users"     -> (activeUsers _),
    "funnel_conversion" -> (funnelConversion _),
    "stream_window"    -> (streamWindow _),
    "stream_dedup"     -> (streamDedup _),
    "stream_enrich"    -> (streamEnrich _),
    "sessionize_batch" -> (sessionizeBatch _),
    "quality_crawl"    -> (qualityCrawl _),
    "quality_rules"    -> (qualityRules _),
    "monitor_health"   -> (monitorHealth _),
    "dwh_stats"        -> (dwhStats _),
    "date_span_multi"  -> (dateSpanMulti _),
    "retention_delete" -> (retentionDelete _))

  val oracleSql: Map[String, String] = Map(
    "user_sequences"   -> userSequencesSql,
    "fuzzy_join"       -> fuzzyJoinSql,
    "linkage_join"     -> linkageJoinSql,
    "golden_record"    -> goldenRecordSql,
    "entity_resolution" -> entityResolutionSql,
    "interval_join"    -> intervalJoinSql,
    "assoc_rules"      -> assocRulesSql,
    "markov_stationary" -> markovStationarySql,
    "decayed_counts"   -> decayedCountsSql,
    "event_transitions" -> eventTransitionsSql,
    "events_anomaly"   -> eventsAnomalySql,
    "cohort_retention" -> cohortRetentionSql,
    "asof_join"        -> asofJoinSql,
    "band_join"        -> bandJoinSql,
    "range_join"       -> rangeJoinSql,
    "gap_fill"         -> gapFillSql,
    "json_extract"     -> jsonExtractSql,
    "rolling_activity" -> rollingActivitySql,
    "active_users"     -> activeUsersSql,
    "funnel_conversion" -> funnelConversionSql,
    "stream_window"    -> streamWindowSql,
    "stream_dedup"     -> streamDedupSql,
    "stream_enrich"    -> streamEnrichSql,
    "sessionize_batch" -> sessionizeBatchSql,
    "quality_crawl"    -> qualityCrawlSql,
    "quality_rules"    -> qualityRulesSql,
    "monitor_health"   -> monitorHealthSql,
    "dwh_stats"        -> dwhStatsSql,
    "date_span_multi"  -> dateSpanMultiSql,
    "retention_delete" -> retentionDeleteSql)
}
