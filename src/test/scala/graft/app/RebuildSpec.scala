package graft.app

import graft.SparkSpec
import graft.storage.Store
import graft.warehouse.Schemas
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import java.nio.file.Files
import java.sql.Timestamp

/** Late-data correction: [[Apps.rebuildFromDay]] restores the newest
  * pinned snapshot before the corrected day and replays the staged
  * days after it through the REAL [[Apps.runWarehouseDay]] — asserting
  * the rebuilt warehouse equals a from-scratch run over the corrected
  * staging, on business content (the MaintainedWarehouseSpec
  * convention: surrogate keys are minted in arrival order and may
  * legitimately differ between load schedules).
  */
class RebuildSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  private def stagingDf(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(
      new java.util.ArrayList[Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      Schemas.staging)

  private def row(jobId: String, title: String, skills: Seq[String],
                  company: String, verified: Boolean, location: String,
                  salMin: Option[Long], salMax: Option[Long], salType: String,
                  due: Option[String], crawled: String): Row =
    Row(jobId, title, s"https://topcv.vn/$jobId", skills, company,
      s"https://topcv.vn/c/$company", null, verified, location,
      salMin.map(v => new java.math.BigDecimal(v).setScale(2)).orNull,
      salMax.map(v => new java.math.BigDecimal(v).setScale(2)).orNull,
      salType, null, ts(crawled), due.map(ts).orNull, ts(crawled))

  private val day1 = Seq(
    row("A", "Python Dev", Seq("Python", "SQL"), "Công Ty X", verified = true,
      "Hà Nội", Some(25000000L), Some(40000000L), "range",
      Some("2026-01-05 00:00:00"), "2026-01-01 06:00:00"),
    row("B", "Java Dev", Seq("Java"), "Công Ty X", verified = true,
      "Hồ Chí Minh & Hà Nội", None, None, "negotiable",
      Some("2026-01-04 00:00:00"), "2026-01-01 06:00:00"))

  private val day2 = Seq(
    row("A", "Senior Python Dev", Seq("Python", "SQL"), "Công Ty X",
      verified = true, "Hà Nội", Some(30000000L), Some(45000000L), "range",
      Some("2026-01-05 00:00:00"), "2026-01-02 06:00:00"),
    row("C", "Data Engineer", Seq("Spark"), "Công Ty Y", verified = false,
      "Singapore", None, Some(50000000L), "upto",
      Some("2026-01-10 00:00:00"), "2026-01-02 06:00:00"))

  // the LATE row for day 2 (N−1 once day 3 has run): a job the crawler
  // missed, at a brand-new company — dims, fact, and bridge all shift
  private val lateDay2 = row("E", "DevOps", Seq("K8s"), "Công Ty Z",
    verified = false, "Đà Nẵng", None, None, "negotiable",
    Some("2026-01-08 00:00:00"), "2026-01-02 07:00:00")

  private val day3 = Seq(
    row("D", "ML Engineer", Seq("Python"), "Công Ty Y", verified = true,
      "Hồ Chí Minh", Some(20000000L), None, "from",
      Some("2026-01-09 00:00:00"), "2026-01-03 06:00:00"))

  private def writeStaging(root: String, day: String, rows: Seq[Row]): Unit =
    Store.commit(root, Seq(Store.Partitions("staging_jobs",
      stagingDf(rows).withColumn("crawl_date", lit(day)), Seq("crawl_date"))))

  private def readT(root: String, t: String): DataFrame =
    spark.read.parquet(s"$root/dwh/$t")

  /** Surrogate-key-free business projections of the star (the
    * MaintainedWarehouseSpec comparison).
    */
  private def business(root: String): Map[String, DataFrame] = {
    val dj = readT(root, "DimJob")
    val dc = readT(root, "DimCompany")
    val fact = readT(root, "FactJobPostingDaily")
    val jKey = dj.select(col("job_sk"), col("job_id").as("f_job_id"),
      col("effective_date").as("job_eff"))
    val cKey = dc.select(col("company_sk"),
      col("company_bk_hash").as("f_company"),
      col("effective_date").as("comp_eff"))
    val factBiz = fact.join(jKey, "job_sk").join(cKey, "company_sk")
      .drop("fact_id", "job_sk", "company_sk")
    val bridgeBiz = readT(root, "FactJobLocationBridge")
      .join(fact.select(col("fact_id"), col("job_sk"), col("date_id")), "fact_id")
      .join(jKey, "job_sk")
      .join(readT(root, "DimLocation"), "location_sk")
      .select("f_job_id", "job_eff", "date_id", "city", "country")
    Map(
      "DimJob" -> dj.drop("job_sk"),
      "DimCompany" -> dc.drop("company_sk"),
      "DimLocation" -> readT(root, "DimLocation").select("city", "country"),
      "DimDate" -> readT(root, "DimDate"),
      "Fact" -> factBiz,
      "Bridge" -> bridgeBiz)
  }

  private def assertSame(a: Map[String, DataFrame],
                         b: Map[String, DataFrame], when: String): Unit =
    a.keys.foreach { t =>
      val extra = a(t).exceptAll(b(t)).count()
      val missing = b(t).exceptAll(a(t)).count()
      assert(extra == 0 && missing == 0,
        s"$when/$t: rebuilt has $extra extra, $missing missing rows")
    }

  test("late row for a closed day: pinned rebuild equals the from-scratch run") {
    val rootA = Files.createTempDirectory("rebuild_pinned").toString
    val rootB = Files.createTempDirectory("rebuild_scratch").toString

    // live timeline on A: days 1..3 run in order, pinned daily
    writeStaging(rootA, "2026-01-01", day1)
    Apps.runWarehouseDay(spark, rootA, "2026-01-01", pin = true)
    writeStaging(rootA, "2026-01-02", day2)
    Apps.runWarehouseDay(spark, rootA, "2026-01-02", pin = true)
    writeStaging(rootA, "2026-01-03", day3)
    Apps.runWarehouseDay(spark, rootA, "2026-01-03", pin = true)
    assert(Apps.pinnedDays(rootA) ===
      Seq("2026-01-01", "2026-01-02", "2026-01-03"))

    // the late row lands: day 2's staging partition is corrected
    writeStaging(rootA, "2026-01-02", day2 :+ lateDay2)
    val replayed = Apps.rebuildFromDay(spark, rootA, "2026-01-02")
    // bounded replay: ONLY the days after the day-1 pin, not day 1
    assert(replayed === Seq("2026-01-02", "2026-01-03"))

    // from-scratch reference on B over the corrected staging
    writeStaging(rootB, "2026-01-01", day1)
    writeStaging(rootB, "2026-01-02", day2 :+ lateDay2)
    writeStaging(rootB, "2026-01-03", day3)
    Seq("2026-01-01", "2026-01-02", "2026-01-03")
      .foreach(d => Apps.runWarehouseDay(spark, rootB, d))

    assertSame(business(rootA), business(rootB), "pinned-rebuild")
    // the late job is really there, on its original day
    assert(readT(rootA, "DimJob").filter(col("job_id") === "E").count() === 1)
    // day-2 fact: staged A/C/E + carried B + carried pre-revision A
    // (the SCD2 change mints a new job_sk, so the carried old version
    // coexists — the from-scratch reference agrees row for row)
    val day2A = readT(rootA, "FactJobPostingDaily")
      .filter(col("date_id") === "2026-01-02").count()
    val day2B = readT(rootB, "FactJobPostingDaily")
      .filter(col("date_id") === "2026-01-02").count()
    assert(day2A === day2B)
    assert(day2A === 5)
  }

  test("no eligible pin: rebuildFromDay falls back to a full replay") {
    val rootA = Files.createTempDirectory("rebuild_nopin").toString
    val rootB = Files.createTempDirectory("rebuild_nopin_ref").toString

    writeStaging(rootA, "2026-01-01", day1)
    Apps.runWarehouseDay(spark, rootA, "2026-01-01")  // no pins anywhere
    writeStaging(rootA, "2026-01-02", day2)
    Apps.runWarehouseDay(spark, rootA, "2026-01-02")

    writeStaging(rootA, "2026-01-01", day1.init)      // correction: B retracted
    val replayed = Apps.rebuildFromDay(spark, rootA, "2026-01-01")
    assert(replayed === Seq("2026-01-01", "2026-01-02"))

    writeStaging(rootB, "2026-01-01", day1.init)
    writeStaging(rootB, "2026-01-02", day2)
    Seq("2026-01-01", "2026-01-02")
      .foreach(d => Apps.runWarehouseDay(spark, rootB, d))

    assertSame(business(rootA), business(rootB), "full-replay")
    // B is gone everywhere: its only staging row was the retracted one
    assert(readT(rootA, "DimJob").filter(col("job_id") === "B").count() === 0)
    assert(readT(rootA, "FactJobPostingDaily")
      .filter(col("date_id") === "2026-01-02").count() ===
      readT(rootB, "FactJobPostingDaily")
        .filter(col("date_id") === "2026-01-02").count())
  }

  test("a pin links the head's files and runs no Spark job") {
    val root = Files.createTempDirectory("rebuild_pin").toString
    writeStaging(root, "2026-01-01", day1)
    Apps.runWarehouseDay(spark, root, "2026-01-01")
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val marker = new java.util.concurrent.CountDownLatch(1)
    val group = "graft-pin"
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
          if (Option(e.properties.getProperty("spark.job.description")).contains("marker"))
            marker.countDown()
          else jobs.incrementAndGet()
        }
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "pin")
    try {
      Apps.pinWarehouse(root, "2026-01-01")
      sc.setJobDescription("marker")
      sc.parallelize(Seq(1)).count() // the listener has seen every earlier job once it sees this
      assert(marker.await(10, java.util.concurrent.TimeUnit.SECONDS))
    } finally { sc.clearJobGroup(); sc.setJobDescription(null); sc.removeSparkListener(listener) }
    assert(jobs.get() == 0)
    val head = Store.head(root)
    val pinned = Store.head(Store.pinRoot(root, "day=2026-01-01"))
    val tables = Seq("DimJob", "DimCompany", "DimLocation", "DimDate",
      "FactJobPostingDaily", "FactJobLocationBridge").map("dwh/" + _)
    for (t <- tables) {
      assert(pinned.of(t).nonEmpty && pinned.of(t) == head.of(t), t)
      pinned.of(t).foreach(f => assert(Files.isSameFile(
        java.nio.file.Paths.get(Store.pinRoot(root, "day=2026-01-01"), f),
        java.nio.file.Paths.get(root, f)), f))
    }
  }
}
