package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.app.{Apps, ServeApp}
import graft.functions.{Cleaners, LastUpdate, Salary}
import graft.ingest.HtmlParser
import graft.operators.Merge
import graft.quality.Validators
import scala.collection.mutable

/** The JobInsight daily cycle: HTML pages land, then ingest → warehouse
  * day → every served view answered once. One cycle is one day.
  *
  * Two scenarios:
  *
  *  - `first_day` (`steady = false`): every measured day is the first day
  *    of a new warehouse root (an initial load). Set-up generates the
  *    measured days' pages and runs one discarded warm-up first day,
  *    views included, into a root of its own.
  *  - `day_steady` (`steady = true`): set-up ingests a history-bootstrap
  *    day (day 0) into one root; every measured day lands on top of it.
  *    Views are first answered in the first measured day.
  *
  * @param backlogCards cards of the history-bootstrap day (`day_steady`)
  * @param cardsPerDay  cards landed by every measured day (and the warm-up)
  */
final class DayWorkload(spark: SparkSession, ctx: RunContext, steady: Boolean,
                        backlogCards: Int, cardsPerDay: Int, days: Int) {
  import DayWorkload._

  private val report = ctx.report
  private val tracer = ctx.tracer
  private val base = java.time.LocalDate.of(2026, 1, 1)
  private def date(d: Int): String = base.plusDays(d).toString

  private val viewMs = mutable.ArrayBuffer.empty[Double]
  private val viewPlanMs = mutable.ArrayBuffer.empty[Double]
  private val viewExecMs = mutable.ArrayBuffer.empty[Double]
  private val perViewMs = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val layer = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private def sample(name: String, v: Double): Unit =
    layer.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  private def htmlDir(name: String, d: Int): Path = ctx.work.resolve(s"html/$name/day=${date(d)}")

  def run(): Unit = {
    val (roots, daySeconds, htmlBytes) = if (steady) runSteady() else runFirstDays()
    report.fact("day_seconds", daySeconds.map(s => f"$s%.2f").mkString(","))
    report.metric("day_s", Stats.median(daySeconds), "s", daySeconds.size)
    report.metric("cycle_s", Stats.median(daySeconds), "s", daySeconds.size)

    val bytesOnDisk = roots.map(r => Disk.walk(r).values.map(_._1).sum).sum
    report.metric("space_amp", bytesOnDisk.toDouble / htmlBytes, "ratio")
    report.metric("storage.bytes_on_disk", bytesOnDisk.toDouble / roots.size, "bytes")
    report.metric("view_ms_p50", Stats.quantile(viewMs.toSeq, 0.5), "ms", viewMs.size)
    report.metric("view_ms_p90", Stats.quantile(viewMs.toSeq, 0.9), "ms", viewMs.size)
    if (tracer.enabled) {
      report.metric("views.plan_ms_p50", Stats.median(viewPlanMs.toSeq), "ms", viewPlanMs.size)
      report.metric("views.exec_ms_p50", Stats.median(viewExecMs.toSeq), "ms", viewExecMs.size)
      perViewMs.foreach { case (v, xs) =>
        report.metric(s"views.${v.stripPrefix("vw_")}_ms_p50", Stats.median(xs.toSeq), "ms", xs.size)
      }
      layer.foreach { case (name, xs) =>
        report.metric(name, Stats.median(xs.toSeq), Report.unitOf(name), xs.size)
      }
    }
    report.fact("warehouse_tables", tableSizes(roots.last))
    report.fact("html_bytes_ingested", htmlBytes)
  }

  /** `day_steady`: bootstrap the history, then land day after day on it.
    * Returns the root, the measured days' seconds and the HTML bytes the
    * root ingested. */
  private def runSteady(): (Seq[Path], Seq[Double], Long) = {
    val root = ctx.work.resolve("warehouse")
    val t0 = System.nanoTime()
    val marks = mutable.ArrayBuffer[Long](t0)
    val gen = new JobGen(ctx.seed, cardsPerDay)
    gen.day(0, htmlDir("steady", 0), backlogCards)
    marks += System.nanoTime()
    report.op(s"ingest ${date(0)}")(
      Apps.runIngestDay(spark, htmlDir("steady", 0).toString, root.toString, date(0)))
    marks += System.nanoTime()
    report.op(s"warehouse ${date(0)}")(Apps.runWarehouseDay(spark, root.toString, date(0)))
    marks += System.nanoTime()
    report.fact("setup_generate_ingest_warehouse_s", marks.sliding(2)
      .map(w => f"${(w(1) - w(0)) / 1e9}%.2f").mkString(","))
    ctx.setupDone((System.nanoTime() - t0) / 1e9)
    report.fact("history_jobs", gen.jobsSeen)

    val daySeconds = (1 to days).map { d =>
      gen.day(d, htmlDir("steady", d))
      cycle(gen, d, htmlDir("steady", d), root, measured = true)
    }
    (Seq(root), daySeconds, gen.htmlBytes)
  }

  /** `first_day`: a discarded warm-up first day, then each measured day
    * into a new, empty root. Returns the measured roots, their seconds
    * and the HTML bytes they ingested. */
  private def runFirstDays(): (Seq[Path], Seq[Double], Long) = {
    val t0 = System.nanoTime()
    val marks = mutable.ArrayBuffer[Long](t0)
    val gens = (1 to days).map { c =>
      val g = new JobGen(ctx.seed * 1000 + c, cardsPerDay)
      g.day(0, htmlDir(s"load-$c", 0)); g
    }
    // the warm-up loads classes and compiles code; its size hardly matters
    val warm = new JobGen(ctx.seed * 1000, cardsPerDay)
    warm.day(0, htmlDir("warmup", 0), math.max(100, cardsPerDay / 10))
    marks += System.nanoTime()
    cycle(warm, 0, htmlDir("warmup", 0), ctx.work.resolve("warehouse-warmup"), measured = false)
    marks += System.nanoTime()
    report.fact("setup_generate_warmup_s", marks.sliding(2)
      .map(w => f"${(w(1) - w(0)) / 1e9}%.2f").mkString(","))
    Seq(viewMs, viewPlanMs, viewExecMs).foreach(_.clear())
    perViewMs.clear(); layer.clear()
    ctx.setupDone((System.nanoTime() - t0) / 1e9)
    report.fact("jobs_per_day", gens.head.jobsSeen)

    val roots = gens.indices.map(c => ctx.work.resolve(s"warehouse-${c + 1}"))
    val daySeconds = gens.zip(roots).zipWithIndex.map { case ((g, root), c) =>
      cycle(g, 0, htmlDir(s"load-${c + 1}", 0), root, measured = true)
    }
    (roots, daySeconds, gens.map(_.htmlBytes).sum)
  }

  /** One day: returns its wall time from HTML landed to every view
    * answered once. The checks run after the clock stops. */
  private def cycle(gen: JobGen, d: Int, dir: Path, root: Path, measured: Boolean): Double = {
    val runDate = date(d)
    val traced = tracer.enabled && measured
    val probed = if (traced) Some(probeLayers(dir, gen, root)) else None
    val before = if (traced) Disk.walk(root) else Map.empty[String, (Long, Long)]

    val stepSeconds = mutable.ArrayBuffer.empty[String]
    /** One app step in its own span; traced runs sample its time. */
    def step[T](name: String, phase: String)(body: => T): T = {
      val (r, secs) = tracer.timed(s"app.$name", Some(phase))(body)
      if (traced) sample(s"app.${name}_s", secs)
      stepSeconds += f"$name=$secs%.2f"
      r
    }
    val t0 = System.nanoTime()
    step("ingest_day", "ingest") {
      report.op(s"ingest $runDate")(Apps.runIngestDay(spark, dir.toString, root.toString, runDate))
    }
    step("warehouse_day", "warehouse") {
      report.op(s"warehouse $runDate")(Apps.runWarehouseDay(spark, root.toString, runDate,
        onStage = (stage, secs) => if (traced) sample(s"warehouse.${stage}_s", secs)))
    }
    val answers = step("view_refresh", "views") {
      report.op(s"register views $runDate")(ServeApp.registerCatalog(spark, root.toString, runDate))
      ServedViews.map(v => v -> answer(v)).toMap
    }
    val seconds = (System.nanoTime() - t0) / 1e9
    if (!measured) report.fact("warmup_steps_s", stepSeconds.mkString(" "))

    if (traced) {
      val after = Disk.walk(root)
      val written = Disk.written(before, after)
      sample("storage.bytes_written", written.values.map(_._1).sum.toDouble)
      sample("storage.files_written", written.values.map(_._2).sum.toDouble)
      Tables.foreach { t =>
        sample(s"storage.bytes_written.$t", written.collect {
          case (p, (b, _)) if Disk.tableOf(p) == t => b }.sum.toDouble)
      }
    }
    checkDay(gen, runDate, root, answers.get("vw_jobs_today").flatten)
    probed.foreach(checkProbe(_, runDate, root))
    seconds
  }

  /** Answer one served view as an analyst would (a row-limited SELECT);
    * returns its rows. */
  private def answer(view: String): Option[Array[Row]] =
    report.op(s"query $view") {
      val t0 = System.nanoTime()
      val df = spark.sql(s"SELECT * FROM $view LIMIT $RowLimit")
      df.queryExecution.executedPlan
      val t1 = System.nanoTime()
      val rows = df.collect()
      val t2 = System.nanoTime()
      viewMs += (t2 - t0) / 1e6
      viewPlanMs += (t1 - t0) / 1e6
      viewExecMs += (t2 - t1) / 1e6
      perViewMs.getOrElseUpdate(view, mutable.ArrayBuffer.empty) += (t2 - t0) / 1e6
      rows
    }

  private def checkDay(gen: JobGen, runDate: String, root: Path,
                       jobsToday: Option[Array[Row]]): Unit = {
    val dimJob = spark.read.parquet(s"$root/dwh/DimJob")
    val counts = dimJob.agg(count(lit(1)), count(when(col("is_current"), 1))).head()
    report.checkEq(s"dimjob_current $runDate", gen.expectedDimJobCurrent, counts.getLong(1))
    report.checkEq(s"dimjob_versions $runDate", gen.expectedDimJobVersions, counts.getLong(0))
    val factToday = spark.read.parquet(s"$root/dwh/FactJobPostingDaily")
      .filter(col("date_id") === lit(runDate).cast("date")).count()
    report.checkEq(s"fact_today $runDate", gen.expectedFactToday, factToday)
    // the answer is row-limited; the workload keeps the view below the limit
    require(gen.expectedJobsToday < RowLimit, "vw_jobs_today would exceed the row limit")
    report.checkEq(s"vw_jobs_today $runDate", gen.expectedJobsToday,
      jobsToday.fold(-1L)(_.length.toLong))
    val notOnce = Checks.notListedOnce(gen.crawledToday.map(_.toString),
      jobsToday.getOrElse(Array.empty[Row]).toSeq.map(_.getAs[Any]("job_id").toString))
    report.check(s"vw_jobs_today one row per job crawled $runDate", jobsToday.isDefined &&
      notOnce == 0, s"$notOnce of ${gen.crawledToday.size} crawled jobs not listed exactly once")
  }

  /** The probes re-create the app's staging projection by hand; check that
    * they still stage what the app staged, so their timings stay the
    * program's. */
  private def checkProbe(staged: DataFrame, runDate: String, root: Path): Unit = {
    val app = spark.read.parquet(s"$root/staging_jobs").filter(col("crawl_date") === runDate)
      .select(staged.columns.toIndexedSeq.map(col): _*)
    val differ = staged.exceptAll(app).count() + app.exceptAll(staged).count()
    report.check(s"layer probes stage what the app staged $runDate", differ == 0,
      s"$differ rows differ")
  }

  /** Traced runs only: time each layer's public functions on this day's
    * input, materialized, before the app itself runs the same work.
    * Returns the probe's staging projection. */
  private def probeLayers(dir: Path, gen: JobGen, root: Path): DataFrame = {
    def probe[T](name: String)(body: => T): (T, Double) = tracer.timed(name, Some("probe"))(body)
    val crawledAt = lit(date(gen.lastDay) + " 06:00:00").cast("timestamp")
    val pages = spark.read.option("wholetext", "true").text(dir.toString)
      .withColumnRenamed("value", "html")
    val (parsed, parseS) = probe("ingest.parse")(
      HtmlParser.parseJobs(pages).localCheckpoint(eager = true))
    sample("ingest.parse_s", parseS)
    sample("ingest.cards_per_s", gen.lastDayCards / parseS)
    sample("ingest.cards_dropped_frac", 1.0 - parsed.count().toDouble / gen.lastDayCards)

    val jobs = parsed.dropDuplicates("job_id")
    sample("quality.crawl_stats_s", probe("quality.crawl_stats")(Validators.crawlStats(jobs).head())._2)

    val incoming = jobs.withColumn("crawled_at", crawledAt)
    val rawPath = root.resolve("raw_jobs")
    // a first day merges into an empty raw table, as the app does
    val existing = if (Files.exists(rawPath)) spark.read.parquet(rawPath.toString)
      else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], incoming.schema)
    val (merged, mergeS) = probe("operators.raw_merge")(Merge.upsert(
      existing, incoming,
      key = Seq("job_id"), tracked = Seq("title", "company_name", "salary", "location",
        "deadline", "verified_employer")).localCheckpoint(eager = true))
    sample("operators.raw_merge_s", mergeS)
    val classes = merged.groupBy(Merge.ClassCol).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap.withDefaultValue(0L)
    sample("operators.raw_merge_changed_frac", (classes("inserted") + classes("updated")).toDouble /
      math.max(1L, classes("inserted") + classes("updated") + classes("unchanged")))

    val sal = Salary.normalizeSalary(col("salary"))
    val due = Salary.dueDate(crawledAt, col("deadline"))
    val (staging, projS) = probe("functions.staging_project")(merged.select(
      col("job_id"), Cleaners.cleanTitle(col("title")).as("title_clean"),
      Cleaners.cleanCompanyName(col("company_name")).as("company_name_standardized"),
      sal.getField("salary_min").as("salary_min"), sal.getField("salary_max").as("salary_max"),
      sal.getField("salary_type").as("salary_type"),
      Salary.timeRemaining(due, crawledAt).as("time_remaining"),
      LastUpdate.postedTime(col("last_update"), crawledAt).as("posted_time"),
      due.as("due_date")).localCheckpoint(eager = true))
    sample("functions.staging_project_s", projS)
    sample("quality.staging_stats_s",
      probe("quality.staging_stats")(Validators.stagingStats(staging).head())._2)
    staging
  }

  private def tableSizes(root: Path): String = {
    val sizes = Disk.walk(root).groupBy { case (p, _) => Disk.tableOf(p) }
      .map { case (t, fs) => t -> fs.values.map(_._1).sum }
    Tables.map(t => s"$t=${sizes.getOrElse(t, 0L)}B").mkString(" ")
  }
}

object DayWorkload {
  /** The served catalog: the 15 analytic views and the 2 monitoring rollups. */
  val ServedViews: Seq[String] = Seq(
    "vw_current_jobs", "vw_job_locations", "vw_monthly_stats", "vw_top_companies",
    "vw_top_locations", "vw_job_full_details", "vw_jobs_today", "vw_jobs_hanoi",
    "vw_jobs_hcm", "vw_jobs_expiring_soon", "vw_salary_distribution",
    "vw_verified_employers", "vw_location_stats", "vw_company_stats",
    "vw_skills_demand", "vw_pipeline_health", "vw_data_quality_trend")

  /** Rows an analyst's query fetches (a dashboard table's row limit). */
  val RowLimit = 10000

  val Tables: Seq[String] = Seq("raw_jobs", "staging_jobs", "DimJob", "DimCompany",
    "FactJobPostingDaily", "FactJobLocationBridge", "monitoring")
}

/** File walk of a directory tree: relative path → (bytes, mtime ms). */
object Disk {
  import scala.jdk.CollectionConverters._

  def walk(root: Path): Map[String, (Long, Long)] = {
    if (!Files.exists(root)) return Map.empty
    val s = Files.walk(root)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
      root.relativize(p).toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)
    }.toMap
    finally s.close()
  }

  /** Files new or changed between two walks: path → (bytes, 1). */
  def written(before: Map[String, (Long, Long)],
              after: Map[String, (Long, Long)]): Map[String, (Long, Long)] =
    after.collect { case (p, (b, m)) if !before.get(p).contains((b, m)) => p -> (b, 1L) }

  /** Table a warehouse-relative path belongs to. */
  def tableOf(rel: String): String = {
    val parts = rel.split("/")
    if (parts.head == "dwh" && parts.length > 1) parts(1) else parts.head
  }
}
