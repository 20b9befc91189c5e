package graft.warehouse

import graft.SparkSpec
import graft.views.Views
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Multi-day end-to-end warehouse simulation: new / changed / expired /
  * multi-location jobs across three days, asserting the reference's SCD2
  * and snapshot invariants (dwh_schema.sql partial unique indexes;
  * facts/daily.py carry-forward; facts/bridge.py inheritance) and view
  * sanity.
  */
class WarehouseE2ESpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  private def stagingDf(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
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

  // Day 1: A (Hà Nội, due day 5), B (HCM & Hà Nội, due day 2), same company X.
  private val day1 = Seq(
    row("A", "Python Dev", Seq("Python", "SQL"), "Công Ty X", verified = true,
      "Hà Nội", Some(25000000L), Some(40000000L), "range",
      Some("2026-01-05 00:00:00"), "2026-01-01 06:00:00"),
    row("B", "Java Dev", Seq("Java"), "Công Ty X", verified = true,
      "Hồ Chí Minh & Hà Nội", None, None, "negotiable",
      Some("2026-01-02 00:00:00"), "2026-01-01 06:00:00"))

  // Day 2: A retitled (SCD2 change), C new at company Y (Singapore).
  private val day2 = Seq(
    row("A", "Senior Python Dev", Seq("Python", "SQL"), "Công Ty X", verified = true,
      "Hà Nội", Some(30000000L), Some(45000000L), "range",
      Some("2026-01-05 00:00:00"), "2026-01-02 06:00:00"),
    row("C", "Data Engineer", Seq("Spark"), "Công Ty Y", verified = false,
      "Singapore", None, Some(50000000L), "upto",
      Some("2026-01-10 00:00:00"), "2026-01-02 06:00:00"))

  // Day 3: no staging at all — pure carry-forward day.
  private val day3 = Seq.empty[Row]

  private lazy val states: Seq[WarehouseJob.State] = {
    val s0 = WarehouseJob.emptyState(spark)
    val s1 = WarehouseJob.runDay(spark, s0, stagingDf(day1), "2026-01-01")
    val s2 = WarehouseJob.runDay(spark, s1, stagingDf(day2), "2026-01-02")
    val s3 = WarehouseJob.runDay(spark, s2, stagingDf(day3), "2026-01-03")
    Seq(s1, s2, s3)
  }

  test("SCD2: exactly one is_current row per business key, always") {
    for (st <- states) {
      val bad = st.star.dimJob.filter(col("is_current"))
        .groupBy("job_id").count().filter(col("count") =!= 1).count()
      assert(bad == 0)
      val badC = st.star.dimCompany.filter(col("is_current"))
        .groupBy("company_bk_hash").count().filter(col("count") =!= 1).count()
      assert(badC == 0)
    }
  }

  test("SCD2: A's retitle expires the old version and inserts a new one") {
    val dj = states(1).star.dimJob.filter(col("job_id") === "A")
      .orderBy("effective_date", "is_current").collect()
    assert(dj.length == 2)
    val (old, cur) = (dj(0), dj(1))
    assert(!old.getAs[Boolean]("is_current") &&
      old.getAs[java.sql.Date]("expiry_date").toString == "2026-01-02")
    assert(cur.getAs[Boolean]("is_current") &&
      cur.getAs[String]("title") == "Senior Python Dev" &&
      cur.getAs[java.sql.Date]("effective_date").toString == "2026-01-02")
    assert(old.getAs[Long]("job_sk") != cur.getAs[Long]("job_sk"))
  }

  test("fact day 1: one row per job") {
    val f1 = states(0).star.fact.filter(col("date_id") === "2026-01-01")
    assert(f1.count() == 2)
    assert(f1.select("load_month").distinct().head().getString(0) == "2026-01")
  }

  test("fact day 2: A staged under new sk + carried under old sk (reference parity), B carried, C new") {
    val f2 = states(1).star.fact.filter(col("date_id") === "2026-01-02")
    // Reference behavior (facts/daily.py:122-181 runs before staging
    // upserts): A's day-1 fact carries forward under the now-expired
    // job_sk AND the staged row inserts under the new SCD2 job_sk — both
    // rows exist; views hide the stale one via is_current. Plus B
    // (due_date_id 01-02 >= today → carried) and C (staged) = 4 rows.
    assert(f2.count() == 4)
    // A's fact carries the staged (not carried) salary.
    val aSalary = f2.as("f")
      .join(states(1).star.dimJob.filter(col("is_current") && col("job_id") === "A"),
        Seq("job_sk"))
      .select("salary_min").head().getDecimal(0)
    assert(aSalary == new java.math.BigDecimal("30000000.00"))
  }

  test("fact day 3: B finally expired; A and C carried forward") {
    val f3 = states(2).star.fact.filter(col("date_id") === "2026-01-03")
    val jobs = f3.join(states(2).star.dimJob.filter(col("is_current")), Seq("job_sk"))
      .select("job_id").collect().map(_.getString(0)).sorted
    assert(jobs.toSeq == Seq("A", "C"))
    // Carried rows carry measures forward.
    assert(f3.filter(col("salary_max") === new java.math.BigDecimal("45000000.00")).count() == 1)
  }

  test("intra-day re-run with revised staging overwrites the existing row (DELETE+INSERT parity)") {
    // Reference _upsert_fact (daily.py:208-231) DELETE+INSERTs: re-running a
    // day with REVISED staging must replace the existing (job_sk, date_id)
    // row with the revised values and a fresh fact_id.
    val s1 = states(0)
    val aFactBefore = s1.star.fact.as("f")
      .join(s1.star.dimJob.filter(col("job_id") === "A"), Seq("job_sk"))
      .select("fact_id", "salary_min").head()
    val day1Revised = Seq(
      row("A", "Python Dev", Seq("Python", "SQL"), "Công Ty X", verified = true,
        "Hà Nội", Some(27000000L), Some(42000000L), "range",
        Some("2026-01-05 00:00:00"), "2026-01-01 09:00:00"),
      row("B", "Java Dev", Seq("Java"), "Công Ty X", verified = true,
        "Hồ Chí Minh & Hà Nội", None, None, "negotiable",
        Some("2026-01-02 00:00:00"), "2026-01-01 09:00:00"))
    val s1b = WarehouseJob.runDay(spark, s1, stagingDf(day1Revised), "2026-01-01")
    val f1b = s1b.star.fact.filter(col("date_id") === "2026-01-01")
    assert(f1b.count() == 2)                                     // still one row per job
    val aAfter = f1b.as("f")
      .join(s1b.star.dimJob.filter(col("is_current") && col("job_id") === "A"), Seq("job_sk"))
      .select("fact_id", "salary_min").head()
    assert(aAfter.getDecimal(1) == new java.math.BigDecimal("27000000.00")) // revised value wins
    assert(aAfter.getLong(0) != aFactBefore.getLong(0))          // fresh fact_id (NEXTVAL parity)
  }

  test("snapshot invariant: no duplicate (job_sk, date_id)") {
    for (st <- states) {
      val dups = st.star.fact.groupBy("job_sk", "date_id").count()
        .filter(col("count") > 1).count()
      assert(dups == 0)
    }
  }

  test("fact_ids unique across the whole table") {
    for (st <- states) {
      assert(st.star.fact.select("fact_id").distinct().count() == st.star.fact.count())
    }
  }

  test("dimensions: location parse fan-out and Unknown seed") {
    val dl = states(1).star.dimLocation.collect()
      .map(r => (r.getAs[String]("city"), r.getAs[String]("country"))).toSet
    assert(dl.contains(("Unknown", "Unknown")))      // seed
    assert(dl.contains(("Hà Nội", "Vietnam")))
    assert(dl.contains(("Hồ Chí Minh (mới)", "Vietnam"))) // merged-province suffix
    assert(dl.contains(("Unknown", "Singapore")))    // foreign
  }

  test("bridge: B has two location bridges on day 1; carried facts inherit bridges") {
    val s1 = states(0)
    val bFact = s1.star.fact.as("f")
      .join(s1.star.dimJob.filter(col("job_id") === "B"), Seq("job_sk"))
      .select("fact_id").head().getLong(0)
    assert(s1.star.bridge.filter(col("fact_id") === bFact).count() == 2)

    // Day 3: A's carried fact inherits yesterday's single Hà Nội bridge.
    val s3 = states(2)
    val aFact3 = s3.star.fact.filter(col("date_id") === "2026-01-03").as("f")
      .join(s3.star.dimJob.filter(col("is_current") && col("job_id") === "A"), Seq("job_sk"))
      .select("fact_id").head().getLong(0)
    val aLocs = s3.star.bridge.filter(col("fact_id") === aFact3)
      .join(s3.star.dimLocation, Seq("location_sk"))
      .select("city").collect().map(_.getString(0)).toSeq
    assert(aLocs == Seq("Hà Nội"))
  }

  test("bridge invariant: no orphans, no duplicates") {
    for (st <- states) {
      val orphans = st.star.bridge.join(st.star.fact, Seq("fact_id"), "left_anti").count()
      assert(orphans == 0)
      val dups = st.star.bridge.groupBy("fact_id", "location_sk").count()
        .filter(col("count") > 1).count()
      assert(dups == 0)
    }
  }

  test("dim_date spans observed dates plus projection") {
    val dd = states(0).star.dimDate
    assert(dd.filter(col("date_id") === "2026-01-01").count() == 1)
    assert(dd.filter(col("date_id") === "2026-01-10").count() == 0) // day-1 span ends 01-06
    assert(states(1).star.dimDate.filter(col("date_id") === "2026-01-10").count() == 1) // C's due date
  }

  test("views: top_companies, salary_distribution, skills_demand over day 2") {
    val st = states(1)
    val cur = Views.current(st.star)
    val top = Views.topCompanies(cur).df.collect()
    assert(top.nonEmpty)
    val x = top.find(_.getAs[String]("company_name") == "Công Ty X").get
    assert(x.getAs[Long]("job_count") >= 2)

    val dist = Views.salaryDistribution(cur, lit("2026-01-02")).df.collect()
    // 4 snapshot rows on day 2 (incl. A's stale-sk carried row — the view
    // has no dim join so the raw snapshot count shows); raw-VND quirk puts
    // every priced job in 'Trên 50M'.
    assert(dist.map(_.getAs[Long]("job_count")).sum == 4)

    val skills = Views.skillsDemand(cur, lit("2026-01-02")).df
      .select("skill", "job_count").collect()
    // B's carried day-2 fact keeps Java in demand alongside A's and C's skills.
    assert(skills.map(_.getString(0)).toSet == Set("Python", "SQL", "Spark", "Java"))
  }

  test("views: jobs_hanoi finds A, jobs_hcm finds B on day 1") {
    val st = states(0)
    val cur = Views.current(st.star)
    val hanoi = Views.jobsHanoi(cur, lit("2026-01-01")).df
      .select("job_id").collect().map(_.getString(0)).toSet
    assert(hanoi == Set("A", "B")) // B is HCM & Hà Nội
    val hcm = Views.jobsHcm(cur, lit("2026-01-01")).df
      .select("job_id").collect().map(_.getString(0)).toSet
    assert(hcm == Set("B"))
  }

  test("runDay reports its six stages once each, in order, on the calling thread") {
    val caller = Thread.currentThread().getId
    val seen = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    WarehouseJob.runDay(spark, WarehouseJob.emptyState(spark), stagingDf(day1),
      "2026-01-01", onStage = (stage, _) => seen += ((stage, Thread.currentThread().getId)))
    assert(seen.map(_._1) == Seq("scd2_dim_job", "scd2_dim_company", "dim_location",
      "dim_date", "fact", "bridge"))
    assert(seen.forall(_._2 == caller))
  }
}
