package graft.app

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}
import graft.functions.{Cleaners, Hashes, Salary}
import graft.ingest.HtmlParser
import graft.monitoring.Metrics
import graft.operators.Merge
import graft.quality.{QualityGate, Validators}
import graft.storage.{Store, TableStore}
import graft.views.{Star, Views}
import graft.warehouse.{Schemas, WarehouseJob}

/** DAG-equivalent entry points (SURVEY.md §3): each app is the Spark
  * counterpart of one reference Airflow DAG. A warehouse root is one
  * [[Store]]: every table below is committed through its `_head`, a day's
  * tables in one commit, and a table directory holds exactly its live
  * files once a commit returns.
  *
  * {{{
  *   <root>/_head                the live files of every table
  *   <root>/raw_jobs/            (full snapshot)
  *   <root>/staging_jobs/        crawl_date=YYYY-MM-DD/   (partitioned)
  *   <root>/dwh/<DimX|Fact...>/  facts partitioned by date_id
  *   <root>/monitoring/          etl_metrics/  quality_metrics/  (appends)
  *   <root>/archive/raw_jobs/    year=YYYY/month=MM/
  *   <root>/_pins/day=<D>/       the star as of day D (hard links)
  * }}}
  */
object Apps {

  /** `jobinsight_pipeline` (§3.1): HTML batch → parse → validate+gate →
    * raw merge → staging transform → validate+gate. Returns the staging
    * slice it wrote: the merged raw rows of the jobs crawled today, as
    * the reference stages only the day's crawl (a job absent from
    * today's pages keeps its earlier staging partitions and is not
    * restaged with a due date recomputed from today). Each run appends
    * one `etl_metrics` row and one `quality_metrics` row under
    * `<root>/monitoring/` (success OR failure — the reference's
    * DAG-callback instrumentation), which the served
    * `vw_pipeline_health` / `vw_data_quality_trend` roll up.
    */
  def runIngestDay(spark: SparkSession, htmlDir: String, warehouseRoot: String,
                   runDate: String): DataFrame =
    Metrics.instrument(spark, warehouseRoot, "jobinsight_pipeline",
      "ingest_transform", runDate) {
      ingestDayBody(spark, htmlDir, warehouseRoot, runDate)
    }

  private def ingestDayBody(spark: SparkSession, htmlDir: String,
                            warehouseRoot: String,
                            runDate: String): (DataFrame, Long, Long) = {
    val pages = spark.read.option("wholetext", "true").text(htmlDir)
      .withColumnRenamed("value", "html")
    // materialized once: crawl stats, the raw merge and the staging
    // filter all read the batch, and each would otherwise re-parse the HTML
    val jobs = HtmlParser.parseJobs(pages)
      .dropDuplicates("job_id") // DAG-level re-dedup (pipeline_dag.py:113-114)
      .localCheckpoint(true)

    val crawlStats = Validators.crawlStats(jobs).head()
    Metrics.recordQuality(spark, warehouseRoot, "crawl",
      java.sql.Date.valueOf(runDate),
      new java.sql.Timestamp(System.currentTimeMillis()),
      crawlStats.getAs[Long]("total_jobs"), crawlStats.getAs[Long]("valid_jobs"),
      crawlStats.getAs[Double]("valid_rate"),
      crawlStats.getAs[Double]("duplicate_rate"),
      if (crawlStats.getAs[Double]("valid_rate") >= 0.9) "passed" else "failed")
    QualityGate.evaluate(crawlStats, QualityGate.crawlConfig)

    // Raw merge (S5/M8) over the snapshot table, materialized once: the
    // raw snapshot and the staging partition are written side by side
    // from it, and each would otherwise rerun the merge's shuffles.
    val crawledAt = lit(runDate + " 06:00:00").cast("timestamp")
    val incoming = jobs.withColumn("crawled_at", crawledAt)
    val merged = Merge.upsert(
      Store.read(spark, warehouseRoot, "raw_jobs", incoming.schema), incoming,
      key = Seq("job_id"),
      tracked = Seq("title", "company_name", "salary", "location", "deadline",
        "verified_employer"))
      .localCheckpoint(true)

    // Staging transform (F1–F8 projection, staging_procedures.sql) of the
    // merged rows of the jobs crawled today.
    val sal = Salary.normalizeSalary(col("salary"))
    val due = Salary.dueDate(crawledAt, col("deadline"))
    val staging = merged.filter(col(Merge.ClassCol) =!= "untouched").select(
      col("job_id"),
      Cleaners.cleanTitle(col("title")).as("title_clean"),
      col("job_url"),
      col("skills"),
      Cleaners.cleanCompanyName(col("company_name")).as("company_name_standardized"),
      col("company_url"),
      col("logo_url"),
      col("verified_employer"),
      col("location"),
      sal.getField("salary_min").as("salary_min"),
      sal.getField("salary_max").as("salary_max"),
      sal.getField("salary_type").as("salary_type"),
      Salary.timeRemaining(due, crawledAt).as("time_remaining"),
      graft.functions.LastUpdate.postedTime(col("last_update"), crawledAt).as("posted_time"),
      due.as("due_date"),
      crawledAt.as("crawled_at"))
      .withColumn("crawl_date", lit(runDate))
    Store.commit(warehouseRoot, Seq(
      Store.Snapshot("raw_jobs", merged.drop(Merge.ClassCol)),
      Store.Partitions("staging_jobs", staging, Seq("crawl_date"))))

    val staged = readStaging(spark, warehouseRoot, runDate)
    val stagingStats = Validators.stagingStats(staged).head()
    QualityGate.evaluate(stagingStats, QualityGate.stagingConfig)
    (staged,
      crawlStats.getAs[Long]("total_jobs"),
      stagingStats.getAs[Long]("total_jobs"))
  }

  /** The `crawl_date = runDate` partition of `staging_jobs`, partition
    * column dropped. */
  private def readStaging(spark: SparkSession, warehouseRoot: String,
                          runDate: String): DataFrame =
    Store.read(spark, warehouseRoot, "staging_jobs",
        Schemas.staging.add("crawl_date", StringType))
      .filter(col("crawl_date") === runDate)   // partition pruning, S4/P10
      .drop("crawl_date")

  /** `jobinsight_dwh` (§3.2): read today's staging partition
    * (partition-pruned, S4), run the warehouse day and commit the six star
    * tables in ONE store commit — dims and bridge as snapshots, today's
    * fact partition as a partition change — so a crash leaves the star of
    * the previous day or of this one, never a mix. `onStage` receives the
    * per-stage wall times from [[WarehouseJob.runDay]] plus a final
    * `writes` stage timing the commit — the composite's regression
    * localizer.
    */
  def runWarehouseDay(spark: SparkSession, warehouseRoot: String,
                      runDate: String,
                      onStage: (String, Double) => Unit = (_, _) => (),
                      pin: Boolean = false): Unit = {
    Metrics.instrument(spark, warehouseRoot, "jobinsight_dwh", "load_dwh",
      runDate) {
      val staging = readStaging(spark, warehouseRoot, runDate)
      val state = WarehouseJob.State(readStar(spark, warehouseRoot))
      // runDay materializes its results BEFORE the commit below deletes
      // the very files their plans read from.
      val next = WarehouseJob.runDay(spark, state, staging, runDate,
        onStage = onStage)

      val tWrites = System.nanoTime()
      // Day-run rewrites only today's date_id partition.
      val todaysFact = next.star.fact
        .filter(col("date_id") === lit(runDate).cast("date"))
      Store.commit(warehouseRoot, starChanges(next.star,
        Store.Partitions(Fact, todaysFact, Seq("date_id"))))
      onStage("writes", (System.nanoTime() - tWrites) / 1e9)
      // counts on checkpointed frames — no plan re-execution
      ((), staging.count(), todaysFact.count())
    }
    if (pin) pinWarehouse(warehouseRoot, runDate)
  }

  // ---- Late-data correction: pinned snapshots + bounded replay ---------

  private val Fact = "dwh/FactJobPostingDaily"

  private[app] val StarTables = Seq("dwh/DimJob", "dwh/DimCompany", "dwh/DimLocation",
    "dwh/DimDate", Fact, "dwh/FactJobLocationBridge")

  /** The commit of `star`'s dims and bridge as snapshots, beside `fact`. */
  private def starChanges(star: Star, fact: Store.Change): Seq[Store.Change] =
    StarTables.zip(Seq(star.dimJob, star.dimCompany, star.dimLocation, star.dimDate,
      star.fact, star.bridge)).map {
      case (Fact, _) => fact
      case (t, df) => Store.Snapshot(t, df)
    }

  /** Commit the empty star of [[WarehouseJob.emptyState]]: the warehouse
    * before its first day. */
  private[graft] def resetStar(spark: SparkSession, warehouseRoot: String): Unit = {
    val empty = WarehouseJob.emptyState(spark).star
    Store.commit(warehouseRoot,
      starChanges(empty, Store.Snapshot(Fact, empty.fact, Seq("date_id"))))
  }

  /** Pin the star as it stands at the end of `runDate`: the pin
    * `day=<runDate>` hard-links the six tables' live files
    * ([[Store.pin]]), copying no data. Pins are what turn a late-arriving
    * row for a CLOSED day from "rebuild the warehouse from day zero" into
    * the bounded [[rebuildFromDay]] replay.
    */
  def pinWarehouse(warehouseRoot: String, runDate: String): Unit =
    Store.pin(warehouseRoot, s"day=$runDate", StarTables)

  /** Pinned days (ascending ISO dates — lexicographic = temporal). A pin
    * is published by its own `_head`, so a pin a crash interrupted is not
    * listed. */
  def pinnedDays(warehouseRoot: String): Seq[String] =
    Store.pins(warehouseRoot).collect {
      case n if n.startsWith("day=") => n.stripPrefix("day=") }

  /** Staged days (`crawl_date=` partitions of `staging_jobs`, ascending). */
  def stagedDays(warehouseRoot: String): Seq[String] =
    Store.head(warehouseRoot).of("staging_jobs")
      .map(_.split('/')(1).stripPrefix("crawl_date=")).distinct.sorted

  /** LATE-DATA CORRECTION (§2.10's "late rows for a closed day =
    * snapshot rebuild", now an operator): after staging partitions ≤
    * some already-run `fromDay` changed, restore the newest pin
    * STRICTLY BEFORE `fromDay` (one commit of its links) and replay every
    * staged day after that pin through the REAL [[runWarehouseDay]] — the
    * rebuilt warehouse equals the from-scratch run over the corrected
    * staging (RebuildSpec pins the equality). With no eligible pin, the
    * star resets to empty and the whole timeline replays (the documented
    * unbounded fallback). Returns the replayed days.
    *
    * Scale bound: cost = (#days after the newest pin < fromDay) ×
    * one day-run — pin cadence directly caps the replay window, so a
    * daily-pinned warehouse corrects any single late day in ≤ 2
    * day-runs. Each replayed day re-appends its monitoring rows (a
    * rerun IS a run; the health views see the correction).
    */
  def rebuildFromDay(spark: SparkSession, warehouseRoot: String,
                     fromDay: String,
                     pin: Boolean = false): Seq[String] = {
    val base = pinnedDays(warehouseRoot).filter(_ < fromDay).lastOption
    base match {
      case Some(d) => Store.restore(warehouseRoot, s"day=$d", StarTables)
      case None => resetStar(spark, warehouseRoot)
    }
    val replay = stagedDays(warehouseRoot)
      .filter(d => base.forall(_ < d))
    replay.foreach(d => runWarehouseDay(spark, warehouseRoot, d, pin = pin))
    replay
  }

  /** Read the star schema back from disk (empty frames before day 1).
    * Each table is read with its declared [[Schemas]] schema, so a read
    * runs no Spark job to infer one, and a table without files is an
    * empty local frame the optimizer prunes joins over.
    */
  def readStar(spark: SparkSession, warehouseRoot: String): Star = {
    def dwh(table: String, schema: StructType): DataFrame =
      Store.read(spark, warehouseRoot, s"dwh/$table", schema)
    Star(
      dwh("DimJob", Schemas.dimJob),
      dwh("DimCompany", Schemas.dimCompany),
      if (Store.head(warehouseRoot).of("dwh/DimLocation").isEmpty)
        Schemas.seedDimLocation(spark)
      else dwh("DimLocation", Schemas.dimLocation),
      dwh("DimDate", Schemas.dimDate),
      dwh("FactJobPostingDaily", Schemas.factDaily),
      dwh("FactJobLocationBridge", Schemas.bridge))
  }

  /** `jobinsight_archive` + maintenance (§3 secondary): archive old raw
    * rows (oldest-first export, O5) then retention-delete them.
    */
  def runArchive(spark: SparkSession, warehouseRoot: String, runDate: String,
                 retentionDays: Int = 30): Long = {
    if (Store.head(warehouseRoot).of("raw_jobs").isEmpty) return 0L
    Metrics.instrument(spark, warehouseRoot, "jobinsight_archive",
      "archive_delete", runDate) {
      val raw = Store.read(spark, warehouseRoot, "raw_jobs")
      val cutoff = date_sub(lit(runDate).cast("date"), retentionDays).cast("timestamp")
      val archived = TableStore.archiveOlderThan(
        raw.orderBy(col("crawled_at").asc), col("crawled_at"), cutoff,
        warehouseRoot, "archive/raw_jobs")
      val n = archived.count()
      if (n > 0) {
        val expected = Store.read(spark, warehouseRoot, "archive/raw_jobs")
          .filter(col("crawled_at") < cutoff).count()
        require(expected >= n, s"archive verify failed: $expected < $n") // S7
        TableStore.retentionDelete(spark, warehouseRoot, "raw_jobs",
          archived.select("job_id"), Seq("job_id"))
      }
      (n, n, n)
    }
  }

  /** Denormalized fact export (J11 + S6: `minio.py:231-237` enrichment
    * join, `:253-308` load_month-partitioned layout): fact ⋈ DimJob ⋈
    * DimCompany, snappy parquet under `parquet/load_month=YYYY-MM/`.
    */
  def exportDenormalized(spark: SparkSession, warehouseRoot: String): Unit =
    Store.commit(warehouseRoot, Seq(Store.Partitions("parquet/job_postings",
      denormalized(readStar(spark, warehouseRoot)), Seq("load_month"))))

  /** The export's enrichment join, star in → denormalized rows out: the
    * facts with a current job and company in [[Views.current]] —
    * shared by [[exportDenormalized]] and the `export_denorm` gate so the
    * oracle verifies the REAL export plan, not an analogue.
    */
  def denormalized(star: Star): DataFrame =
    Views.current(star).filter(col("has_job") && col("has_company"))
      .select(col("fact_id"), col("job_id"), col("title"),
        col("company_name"), col("verified_employer"), col("date_id"),
        col("salary_min"), col("salary_max"), col("salary_type"),
        col("due_date"), col("posted_time"), col("skills"),
        col("job_url"), col("load_month"))
}
