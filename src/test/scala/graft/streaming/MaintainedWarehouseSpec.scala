package graft.streaming

import graft.SparkSpec
import graft.app.Apps
import graft.storage.Store
import graft.warehouse.Schemas
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import java.io.File
import java.nio.file.{Files, Paths}
import java.sql.Timestamp

/** Streaming ingest → warehouse capstone (SURVEY §2.10 extension; the
  * reference's README future-work item): a landing-dir file stream of
  * staging-shaped JSONL, a streaming transform deriving the
  * `crawl_date` partition key, and a foreachBatch sink that appends to
  * the partitioned staging table exactly once (a store `Append` commit
  * carrying the batch id as its txn, as [[graft.storage.IdempotentSink]]
  * commits) and runs the REAL day-merge
  * ([[Apps.runWarehouseDay]]: SCD2 dims, fact carry-forward+upsert,
  * bridge, partitioned writes) for each day the batch touches. After
  * EVERY micro-batch the streamed warehouse must equal the batch
  * `runWarehouseDay` of all data seen so far, rebuilt from scratch —
  * compared on BUSINESS content (surrogate keys are minted in arrival
  * order by construction, so an sk-level diff is meaningless across
  * load schedules; version identity is `(business key,
  * effective_date)`).
  *
  * Covered regimes: intra-day incremental loads (a second batch of the
  * same day re-runs the day-merge as an upsert — including an exact
  * re-crawl of an already-loaded job, the idempotence case), the
  * day-1 → day-2 transition (carry-forward + SCD2 revision), and a
  * staged revision REPLACING a previously carried-forward fact row.
  * Arrival is in day order: SCD2 merges are chronological by design,
  * so late rows for a CLOSED day are a correction path (rebuild from a
  * pinned star, [[Apps.rebuildFromDay]]), not an in-place merge —
  * same as the reference's daily DAG.
  */
class MaintainedWarehouseSpec extends SparkSpec {

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

  // Four arrival batches over two days.
  private val batch1 = Seq( // day 1, first crawl wave
    row("A", "Python Dev", Seq("Python", "SQL"), "Công Ty X", verified = true,
      "Hà Nội", Some(25000000L), Some(40000000L), "range",
      Some("2026-01-05 00:00:00"), "2026-01-01 06:00:00"),
    row("B", "Java Dev", Seq("Java"), "Công Ty X", verified = true,
      "Hồ Chí Minh & Hà Nội", None, None, "negotiable",
      Some("2026-01-02 00:00:00"), "2026-01-01 06:00:00"))
  private val batch2 = Seq( // day 1, second wave: new job + exact re-crawl
    row("C", "Data Engineer", Seq("Spark"), "Công Ty Y", verified = false,
      "Singapore", None, Some(50000000L), "upto",
      Some("2026-01-10 00:00:00"), "2026-01-01 06:00:00"),
    row("A", "Python Dev", Seq("Python", "SQL"), "Công Ty X", verified = true,
      "Hà Nội", Some(25000000L), Some(40000000L), "range",
      Some("2026-01-05 00:00:00"), "2026-01-01 06:00:00"))
  private val batch3 = Seq( // day 2: A revised (SCD2), D new; B, C carry
    row("A", "Senior Python Dev", Seq("Python", "SQL"), "Công Ty X",
      verified = true, "Hà Nội", Some(30000000L), Some(45000000L), "range",
      Some("2026-01-05 00:00:00"), "2026-01-02 06:00:00"),
    row("D", "ML Engineer", Seq("Python"), "Công Ty Z", verified = true,
      "Đà Nẵng", Some(20000000L), None, "from",
      Some("2026-01-09 00:00:00"), "2026-01-02 06:00:00"))
  private val batch4 = Seq( // day 2, late wave: E new, C's revision
    row("E", "DevOps", Seq("K8s"), "Công Ty Y", verified = false,
      "Hồ Chí Minh", None, None, "negotiable",
      Some("2026-01-08 00:00:00"), "2026-01-02 07:00:00"),
    row("C", "Senior Data Engineer", Seq("Spark", "SQL"), "Công Ty Y",
      verified = false, "Singapore", None, Some(55000000L), "upto",
      Some("2026-01-10 00:00:00"), "2026-01-02 07:00:00"))

  private def readT(root: String, t: String): DataFrame =
    spark.read.parquet(s"$root/dwh/$t")

  /** Business-content projections — surrogate-key-free views of all six
    * star tables; fact/bridge rows re-keyed to `(business key,
    * effective_date)` version identities through their dims.
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
        s"$when/$t: stream has $extra extra, $missing missing rows")
    }

  test("file-streamed staging maintains the warehouse equal to the batch day-run after every micro-batch") {
    val base = Files.createTempDirectory("maintained_wh").toString
    val landing = s"$base/landing"
    val streamRoot = s"$base/stream_wh"
    new File(landing).mkdirs()

    def land(rows: Seq[Row], name: String): Unit = {
      val tmp = s"$base/tmp_$name"
      stagingDf(rows).coalesce(1).write.mode("overwrite").json(tmp)
      val part = new File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".json"))
        .getOrElse(fail(s"no part file under $tmp"))
      Files.move(part.toPath, Paths.get(s"$landing/$name.json"))
    }

    // landing stream + the staging transform (partition-key derivation)
    val staged = spark.readStream.schema(Schemas.staging).json(landing)
      .withColumn("crawl_date", date_format(col("crawled_at"), "yyyy-MM-dd"))

    val query = staged.writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val days = batch.select("crawl_date").distinct()
          .collect().map(_.getString(0)).sorted
        if (days.nonEmpty) {
          // exactly once: a replayed batch id is not appended again (the
          // sink's txn rule), and rerunning its days is idempotent
          Store.commit(streamRoot,
            Seq(Store.Append("staging_jobs", batch, Seq("crawl_date"))), Some(batchId))
          days.foreach(d => Apps.runWarehouseDay(spark, streamRoot, d))
        }
        ()
      }.start()

    val seen = scala.collection.mutable.ArrayBuffer.empty[Row]
    try {
      Seq(batch1, batch2, batch3, batch4).zipWithIndex.foreach {
        case (b, i) =>
          land(b, s"batch$i")
          query.processAllAvailable()
          seen ++= b

          // from-scratch batch reference over everything seen so far
          val refRoot = s"$base/ref_$i"
          val refStaging = stagingDf(seen.toSeq)
            .withColumn("crawl_date", date_format(col("crawled_at"), "yyyy-MM-dd"))
          Store.commit(refRoot, Seq(Store.Snapshot("staging_jobs", refStaging,
            Seq("crawl_date"))))
          refStaging.select("crawl_date").distinct()
            .collect().map(_.getString(0)).sorted
            .foreach(d => Apps.runWarehouseDay(spark, refRoot, d))

          assertSame(business(streamRoot), business(refRoot), s"batch$i")
      }
    } finally query.stop()

    // the streamed warehouse also holds the SCD2 invariant directly
    val badJ = readT(streamRoot, "DimJob").filter(col("is_current"))
      .groupBy("job_id").count().filter(col("count") =!= 1).count()
    assert(badJ == 0)
    // day 2 landed C's staged revision OVER its carried-forward row:
    // exactly one day-2 fact row for C's current version
    val dj = readT(streamRoot, "DimJob")
      .filter(col("job_id") === "C" && col("is_current"))
      .select("job_sk").collect().map(_.getLong(0))
    val cFacts = readT(streamRoot, "FactJobPostingDaily")
      .filter(col("date_id") === "2026-01-02" && col("job_sk").isin(dj: _*))
      .collect()
    assert(cFacts.length == 1)
    assert(cFacts.head.getAs[java.math.BigDecimal]("salary_max")
      .longValueExact == 55000000L)
  }
}
