package graft.app

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Disk-backed end-to-end: HTML → ingest (raw + staging parquet) →
  * warehouse day-run (partitioned fact) → views → archive/retention.
  * Also asserts the partition-pruning physical plan the storage layout
  * exists to provide.
  */
class AppsE2ESpec extends SparkSpec {

  private def card(id: String, title: String, salary: String, loc: String,
                   deadline: String): String =
    s"""<div class="job-item-2" data-job-id="$id">
       |  <h3 class="title"><a href="/viec-lam/x-$id.html"><span data-original-title="$title">t</span></a></h3>
       |  <a class="company" href="/cong-ty/acme">ACME Software</a>
       |  <label class="address">$loc</label>
       |  <label class="title-salary">$salary</label>
       |  <div class="skills"><label class="item">Python</label></div>
       |  <label class="time"><strong>$deadline</strong></label>
       |  <label class="deadline">Cập nhật 1 giờ trước</label>
       |</div>""".stripMargin

  private lazy val root = Files.createTempDirectory("graft_e2e").toString

  private lazy val ran: Unit = {
    val htmlDir = s"$root/html"
    Files.createDirectories(java.nio.file.Paths.get(htmlDir))
    // 60 jobs (gate needs ≥50), varied salaries/locations/deadlines
    val cards = (1 to 60).map { i =>
      card(s"100$i", s"Engineer Role $i - Thu Nhập Upto 40 Triệu",
        if (i % 3 == 0) "Thỏa thuận" else s"${10 + i % 20} - ${30 + i % 20} triệu",
        if (i % 2 == 0) "Hà Nội" else "Hồ Chí Minh & Hà Nội",
        s"${5 + i % 10}")
    }.mkString("\n")
    Files.writeString(java.nio.file.Paths.get(s"$htmlDir/page1.html"), cards)
    Apps.runIngestDay(spark, htmlDir, root, "2026-02-01")
    Apps.runWarehouseDay(spark, root, "2026-02-01")
  }

  test("ingest writes raw snapshot and crawl_date-partitioned staging") {
    ran
    assert(spark.read.parquet(s"$root/raw_jobs").count() == 60)
    val staging = spark.read.parquet(s"$root/staging_jobs")
    assert(staging.filter(col("crawl_date") === "2026-02-01").count() == 60)
    // F1 applied: salary suffix stripped
    assert(staging.filter(col("title_clean").contains("Thu Nhập")).count() == 0)
  }

  test("a later day stages only that day's crawl, not the whole raw snapshot") {
    import spark.implicits._
    val r = Files.createTempDirectory("graft_e2e_days").toString
    def crawl(day: String, ids: Seq[Int]): Unit = {
      val dir = s"$r/html_$day"
      Files.createDirectories(java.nio.file.Paths.get(dir))
      Files.writeString(java.nio.file.Paths.get(s"$dir/page1.html"),
        ids.map(i => card(s"100$i", s"Engineer Role $i", s"${10 + i % 20} - 40 triệu",
          "Hà Nội", s"${5 + i % 10}")).mkString("\n"))
      Apps.runIngestDay(spark, dir, r, day)
    }
    crawl("2026-02-01", 1 to 60)
    val day2 = (1 to 60).filter(_ % 7 != 0) // 52 of day 1's 60 jobs
    crawl("2026-02-02", day2)
    val staged = spark.read.parquet(s"$r/staging_jobs")
      .filter(col("crawl_date") === "2026-02-02")
      .select("job_id").as[String].collect().sorted.toSeq
    assert(staged == day2.map(i => s"100$i").sorted)
    // the raw snapshot still holds every job ever crawled
    assert(spark.read.parquet(s"$r/raw_jobs").count() == 60)
  }

  test("staging read prunes to one crawl_date partition") {
    ran
    val pruned = spark.read.parquet(s"$root/staging_jobs")
      .filter(col("crawl_date") === "2026-02-01")
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [isnotnull(crawl_date"), scan.take(600))
  }

  test("warehouse day-run builds a queryable star on disk") {
    ran
    val star = Apps.readStar(spark, root)
    assert(star.dimJob.filter(col("is_current")).count() == 60)
    assert(star.dimCompany.filter(col("is_current")).count() == 1)
    assert(star.fact.count() == 60)
    assert(star.bridge.count() > 60) // multi-location jobs fan out
    // fact table on disk is date_id-partitioned
    val factScan = spark.read.parquet(s"$root/dwh/FactJobPostingDaily")
      .filter(col("date_id") === "2026-02-01")
      .queryExecution.executedPlan.toString
    assert(factScan.contains("PartitionFilters: [isnotnull(date_id"), factScan.take(600))
  }

  test("views answer over the on-disk star") {
    ran
    ServeApp.registerCatalog(spark, root, "2026-02-01")
    val top = spark.sql("SELECT company_name, job_count FROM vw_top_companies").head()
    assert(top.getString(0) == "Acme Software") // F2 recapitalization
    assert(top.getLong(1) == 60)
    assert(spark.sql("SELECT * FROM vw_jobs_hanoi").count() == 60)
    assert(spark.sql("SELECT * FROM vw_skills_demand").head().getString(0) == "Python")
  }

  test("rerunning a day's ingest and warehouse leaves all eight tables identical") {
    val r = Files.createTempDirectory("graft_e2e_rerun").toString
    val dir = s"$r/html"
    Files.createDirectories(java.nio.file.Paths.get(dir))
    Files.writeString(java.nio.file.Paths.get(s"$dir/page1.html"), (1 to 60).map(i =>
      card(s"100$i", s"Engineer Role $i", s"${10 + i % 20} - 40 triệu",
        if (i % 2 == 0) "Hà Nội" else "Hồ Chí Minh & Hà Nội", s"${5 + i % 10}")).mkString("\n"))
    def run(): Unit = {
      Apps.runIngestDay(spark, dir, r, "2026-02-01")
      Apps.runWarehouseDay(spark, r, "2026-02-01")
    }
    val tables = Seq("raw_jobs", "staging_jobs", "dwh/DimJob", "dwh/DimCompany",
      "dwh/DimLocation", "dwh/DimDate", "dwh/FactJobPostingDaily",
      "dwh/FactJobLocationBridge")
    def read(t: String) = graft.storage.Store.read(spark, r, t)
    run()
    // the rerun deletes the files the first run's frames read: keep their rows
    val first = tables.map(t => t -> read(t).localCheckpoint(eager = true)).toMap
    run()
    for (t <- tables) {
      val again = read(t)
      assert(again.schema == first(t).schema, t)
      assert(first(t).count() > 0, t)
      assert(again.exceptAll(first(t)).isEmpty && first(t).exceptAll(again).isEmpty, t)
    }
  }

  test("denormalized export lands in load_month partitions") {
    ran
    Apps.exportDenormalized(spark, root)
    val exp = spark.read.parquet(s"$root/parquet/job_postings")
    assert(exp.count() == 60)
    assert(exp.select("load_month").distinct().head().getString(0) == "2026-02")
    assert(exp.filter(col("company_name").isNull).count() == 0) // enriched
  }

  test("html blob sink and warehouse backup snapshot") {
    ran
    graft.storage.TableStore.writeBlob(root, "it_p1_20260201.html", "<html>x</html>")
    assert(Files.readString(java.nio.file.Paths.get(s"$root/html/it_p1_20260201.html"))
      == "<html>x</html>")
    graft.storage.TableStore.backupDir(s"$root/dwh", s"$root/backup/dwh")
    assert(spark.read.parquet(s"$root/backup/dwh/DimJob").count() ==
      spark.read.parquet(s"$root/dwh/DimJob").count())
  }

  test("archive + retention delete old raw rows") {
    ran
    // cutoff 0 days after runDate+1 → everything archived
    val n = Apps.runArchive(spark, root, "2026-03-10", retentionDays = 30)
    assert(n == 60)
    assert(spark.read.parquet(s"$root/archive/raw_jobs").count() == 60)
    assert(spark.read.parquet(s"$root/raw_jobs").count() == 0)
  }

  test("every app run records monitoring metrics rows") {
    ran
    val etl = spark.read.parquet(s"$root/monitoring/etl_metrics")
    val byDag = etl.groupBy("dag_id").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byDag.getOrElse("jobinsight_pipeline", 0L) >= 1L)
    assert(byDag.getOrElse("jobinsight_dwh", 0L) >= 1L)
    assert(etl.filter(col("status") =!= "success").count() == 0)
    assert(etl.filter(col("dag_id") === "jobinsight_pipeline")
      .head().getAs[Long]("rows_out") == 60L)
    val q = spark.read.parquet(s"$root/monitoring/quality_metrics")
    val row = q.filter(col("validation_type") === "crawl").head()
    assert(row.getAs[Long]("total_jobs") == 60L)
    assert(row.getAs[String]("status") == "passed")
    // the served monitoring rollup answers over the recorded rows
    val health = graft.monitoring.Metrics.pipelineHealth(
      etl, org.apache.spark.sql.functions.lit(
        java.time.LocalDate.now(java.time.ZoneOffset.UTC).toString)).df
      .filter(col("dag_id") === "jobinsight_dwh").head()
    assert(health.getAs[Double]("success_rate") == 1.0)
  }
}
