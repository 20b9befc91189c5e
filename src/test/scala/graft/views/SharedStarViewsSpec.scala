package graft.views

import graft.SparkSpec
import graft.warehouse.Schemas
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import java.sql.{Date, Timestamp}

/** The 16 view definitions over the shared current-star relation
  * ([[Views.current]]) against the star-join definitions they replaced
  * (kept below as [[SharedStarViewsSpec.Reference]]): same column names,
  * types and rows, over a hand-built star with every edge the oracle's
  * star lacks, and over generated small stars.
  */
class SharedStarViewsSpec extends SparkSpec {
  import SharedStarViewsSpec._

  private val runDate = "2026-03-02"
  private val day = Date.valueOf(runDate)
  private val yesterday = Date.valueOf("2026-03-01")

  private def frame(schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(
      scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava, schema)

  private def dec(v: Long) = new java.math.BigDecimal(v).setScale(2)
  private def at(d: Date, hours: Long): Timestamp =
    new Timestamp(d.getTime + hours * 3600L * 1000L)

  private def jobRow(sk: Long, id: String, title: String, skills: Seq[String],
                     current: Boolean): Row =
    Row(id, sk, title, s"https://x/$id", skills, day, null, current)

  private def companyRow(sk: Long, name: String, verified: java.lang.Boolean,
                         current: Boolean): Row =
    Row(s"h$name", sk, name, s"https://c/$name", null, verified, day, null, current)

  private def factRow(id: Long, jobSk: Long, companySk: Long, date: Date,
                      salary: Option[(Long, Long)], dueHours: Option[Long]): Row =
    Row(id, jobSk, companySk, date, date, null,
      salary.map(s => dec(s._1)).orNull, salary.map(s => dec(s._2)).orNull,
      salary.fold("negotiable")(_ => "range"), s"${id}d",
      at(date, 1), dueHours.map(at(date, _)).orNull, at(date, 6),
      date.toString.take(7))

  private def star(jobs: Seq[Row], companies: Seq[Row], locations: Seq[Row],
                   facts: Seq[Row], bridge: Seq[(Long, Long)]): Star =
    Star(frame(Schemas.dimJob, jobs), frame(Schemas.dimCompany, companies),
      frame(Schemas.dimLocation, locations), frame(Schemas.dimDate, Nil),
      frame(Schemas.factDaily, facts),
      frame(Schemas.bridge, bridge.zipWithIndex.map { case ((f, l), i) =>
        Row(i.toLong, f, l) }))

  private val locations = Seq(Row(-1L, "Unknown", "Unknown"),
    Row(1L, "Hà Nội", "Vietnam"), Row(2L, "Hồ Chí Minh", "Vietnam"),
    Row(3L, "Đà Nẵng", "Vietnam"), Row(4L, "Sài Gòn", "Vietnam"))

  /** Every edge the oracle's synthesized star lacks. */
  private lazy val handBuilt: Star = star(
    jobs = Seq(
      jobRow(1, "J1", "Data Engineer", Seq("Python", "SQL"), current = true),
      jobRow(2, "J2", "Old Title", Seq("Java"), current = false),
      jobRow(3, "J2", "New Title", Seq("Java", "Spark"), current = true),
      jobRow(4, "J3", "Analyst", Seq("SQL", "", null), current = true),
      jobRow(5, "J4", "Tester", null, current = true)),
    companies = Seq(
      companyRow(10, "Acme", true, current = true),
      companyRow(11, "Beta Old", false, current = false),
      companyRow(12, "Beta", false, current = true),
      companyRow(13, "Gamma", null, current = true)),
    locations = locations,
    facts = Seq(
      // two bridge rows; due exactly on the 7-day edge
      factRow(1, 1, 10, day, Some((10, 20)), Some(7 * 24)),
      // SCD2-carried: keeps the non-current DimJob version; null salary
      factRow(2, 2, 12, day, None, Some(3 * 24)),
      // on a non-current company version
      factRow(3, 3, 11, day, Some((5, 8)), Some(10 * 24)),
      // no bridge row; null verified_employer; due just past the edge
      factRow(4, 4, 13, day, Some((12, 18)), Some(7 * 24 + 1)),
      // a bridge row to an absent location and one to Unknown
      factRow(5, 5, 12, day, Some((30, 60)), Some(24)),
      factRow(6, 1, 10, yesterday, Some((10, 20)), Some(5 * 24)),
      factRow(7, 3, 13, Date.valueOf("2026-02-27"), Some((40, 55)), None),
      // keys with no dimension row at all
      factRow(8, 99, 99, day, Some((1, 2)), Some(2 * 24))),
    bridge = Seq(1L -> 1L, 1L -> 2L, 2L -> 1L, 3L -> 2L, 5L -> 99L,
      5L -> -1L, 6L -> 3L, 7L -> 4L, 8L -> 3L))

  /** Each view over [[Views.current]] has its reference's column names,
    * types and rows; `nonEmpty` also requires every view to hold rows. */
  private def assertSame(s: Star, nonEmpty: Boolean): Unit = {
    val d = lit(runDate)
    val cur = Views.current(s)
    val shared = (Views.all(cur, d) :+ Views.dailySummary(cur)).map(v => v.name -> v.df)
    assert(shared.map(_._1) == Reference.views.map(_._1))
    shared.zip(Reference.views).foreach { case ((name, got), (_, reference)) =>
      val want = reference(s, d)
      assert(got.schema.map(f => f.name -> f.dataType) ==
        want.schema.map(f => f.name -> f.dataType), name)
      val rows = want.collect().map(_.toString).sorted.toSeq
      assert(got.collect().map(_.toString).sorted.toSeq == rows, name)
      if (nonEmpty) assert(rows.nonEmpty, name)
    }
  }

  test("every view over the shared relation equals its star join on the edge cases") {
    assertSame(handBuilt, nonEmpty = true)
  }

  test("the shared relation has one row per fact row") {
    val cur = Views.current(handBuilt)
    assert(cur.count() == handBuilt.fact.count())
    val byFact = cur.select("fact_id", "has_job", "has_company").collect()
      .map(r => r.getLong(0) -> (r.getBoolean(1), r.getBoolean(2))).toMap
    assert(byFact(2) == (false, true) && byFact(3) == (true, false) &&
      byFact(8) == (false, false) && byFact(1) == (true, true))
  }

  /** A small star: 1–4 jobs and companies of 1–2 versions each (the last
    * one current, or none), locations with and without a DimLocation row,
    * 0–12 facts on any key (a version, a stale one or none), 0–3 bridge
    * rows each. */
  private val starGen: Gen[Star] = for {
    nJobs <- Gen.choose(1, 4)
    jobVersions <- Gen.listOfN(nJobs, Gen.choose(1, 2))
    jobCurrent <- Gen.listOfN(nJobs, Gen.frequency(4 -> true, 1 -> false))
    skills <- Gen.listOfN(nJobs * 2, Gen.option(Gen.someOf("Python", "SQL", "", "Java")))
    nCompanies <- Gen.choose(1, 3)
    companyVersions <- Gen.listOfN(nCompanies, Gen.choose(1, 2))
    verified <- Gen.listOfN(nCompanies * 2, Gen.oneOf(Some(true), Some(false), None))
    locs <- Gen.someOf(locations)
    nFacts <- Gen.choose(0, 12)
    facts <- Gen.listOfN(nFacts, for {
      job <- Gen.choose(1L, jobVersions.sum + 1L)
      company <- Gen.choose(1L, companyVersions.sum + 1L)
      date <- Gen.oneOf(day, yesterday)
      salary <- Gen.option(Gen.choose(1L, 60L).map(v => (v, v + 5)))
      due <- Gen.option(Gen.oneOf(0L, 23L, 7L * 24, 7L * 24 + 1, 9L * 24))
      where <- Gen.choose(0, 3).flatMap(Gen.listOfN(_, Gen.oneOf(-1L, 1L, 2L, 3L, 4L, 9L)))
    } yield (job, company, date, salary, due, where))
  } yield {
    def versions(counts: Seq[Int]) = counts.zipWithIndex.flatMap { case (n, k) =>
      (1 to n).map(v => (k, v == n)) }.zipWithIndex.map { case ((k, last), i) =>
        (i + 1L, k, last) }
    val jobs = versions(jobVersions).map { case (sk, k, last) =>
      jobRow(sk, s"J$k", s"Title $sk", skills(sk.toInt - 1).map(_.toSeq).orNull,
        last && jobCurrent(k)) }
    val companies = versions(companyVersions).map { case (sk, k, last) =>
      companyRow(sk, s"Company $k", verified(sk.toInt - 1).map(Boolean.box).orNull, last) }
    val factRows = facts.zipWithIndex.map { case ((j, c, date, sal, due, _), i) =>
      factRow(i + 1L, j, c, date, sal, due) }
    val bridge = facts.zipWithIndex.flatMap { case (f, i) => f._6.map(i + 1L -> _) }
    star(jobs, companies, locs.toSeq, factRows, bridge)
  }

  test("every view over the shared relation equals its star join on generated stars") {
    (1 to 10).foreach { i =>
      assertSame(starGen.pureApply(Gen.Parameters.default, Seed(i.toLong)), nonEmpty = false)
    }
  }
}

object SharedStarViewsSpec {

  /** The star-join view definitions the shared relation replaced, verbatim
    * but for the signatures: every view joins the fact to the current
    * dims, the bridge and DimLocation itself. */
  object Reference {
    private def j(s: Star) = broadcast(s.dimJob.filter(col("is_current")))
    private def c(s: Star) = broadcast(s.dimCompany.filter(col("is_current")))
    private def l(s: Star) = broadcast(s.dimLocation)
    private val rnd1 = (x: Column) => round(x, 1)
    private val rnd2 = (x: Column) => round(x, 2)
    private def cityAgg: Column =
      array_join(slice(sort_array(collect_set(col("l.city"))), 1, 1000), ", ")

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

    def jobLocations(s: Star): DataFrame =
      s.fact.as("f")
        .join(j(s).as("j"), col("f.job_sk") === col("j.job_sk"))
        .join(s.bridge.as("b"), col("f.fact_id") === col("b.fact_id"))
        .join(l(s).as("l"), col("b.location_sk") === col("l.location_sk"))
        .select(col("f.fact_id"), col("f.job_sk"), col("j.job_id"), col("j.title"),
          col("f.date_id"), col("l.location_sk"), col("l.city"), col("l.country"))

    def monthlyStats(s: Star): DataFrame =
      s.fact.as("f")
        .join(c(s).as("c"), col("f.company_sk") === col("c.company_sk"))
        .groupBy(col("f.load_month"))
        .agg(
          countDistinct(col("f.job_sk")).as("job_count"),
          countDistinct(col("f.company_sk")).as("company_count"),
          rnd2(avg(col("f.salary_min"))).as("avg_salary_min"),
          rnd2(avg(col("f.salary_max"))).as("avg_salary_max"),
          countDistinct(when(col("c.verified_employer"), col("f.job_sk"))).as("verified_jobs"))

    def topCompanies(s: Star): DataFrame =
      c(s).as("c")
        .join(s.fact.as("f"), col("c.company_sk") === col("f.company_sk"))
        .groupBy(col("c.company_sk"), col("c.company_name"), col("c.company_url"),
          col("c.verified_employer"))
        .agg(
          countDistinct(col("f.job_sk")).as("job_count"),
          rnd2(avg(col("f.salary_min"))).as("avg_salary_min"),
          rnd2(avg(col("f.salary_max"))).as("avg_salary_max"),
          max(col("f.date_id")).as("last_posting_date"))

    def topLocations(s: Star): DataFrame =
      l(s).as("l")
        .join(s.bridge.as("b"), col("l.location_sk") === col("b.location_sk"))
        .join(s.fact.as("f"), col("b.fact_id") === col("f.fact_id"))
        .groupBy(col("l.location_sk"), col("l.city"), col("l.country"))
        .agg(
          countDistinct(col("f.job_sk")).as("job_count"),
          rnd2(avg(col("f.salary_min"))).as("avg_salary_min"),
          rnd2(avg(col("f.salary_max"))).as("avg_salary_max"))

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

    def jobsToday(s: Star, runDate: Column): DataFrame =
      s.fact.filter(col("date_id") === runDate.cast("date")).as("f")
        .join(j(s).as("j"), col("f.job_sk") === col("j.job_sk"))
        .join(c(s).as("c"), col("f.company_sk") === col("c.company_sk"))
        .join(s.bridge.as("b"), col("f.fact_id") === col("b.fact_id"), "left")
        .join(l(s).as("l"), col("b.location_sk") === col("l.location_sk"), "left")
        .groupBy(col("j.job_id"), col("j.title"), col("c.company_name"),
          col("c.verified_employer"), col("f.salary_min"), col("f.salary_max"),
          col("f.salary_type"), col("f.due_date"), col("f.time_remaining"),
          col("j.skills"), col("j.job_url"), col("f.posted_time"))
        .agg(cityAgg.as("locations"))

    private def cityFiltered(s: Star, runDate: Column, cityPred: Column): DataFrame =
      s.fact.filter(col("date_id") === runDate.cast("date")).as("f")
        .join(j(s).as("j"), col("f.job_sk") === col("j.job_sk"))
        .join(c(s).as("c"), col("f.company_sk") === col("c.company_sk"))
        .join(s.bridge.as("b"), col("f.fact_id") === col("b.fact_id"))
        .join(l(s).as("l"), col("b.location_sk") === col("l.location_sk"))
        .filter(cityPred)
        .select(col("j.job_id"), col("j.title"), col("c.company_name"),
          col("c.verified_employer"), col("f.salary_min"), col("f.salary_max"),
          col("f.due_date"), col("f.time_remaining"), col("j.skills"), col("j.job_url"))

    def jobsHanoi(s: Star, runDate: Column): DataFrame =
      cityFiltered(s, runDate,
        lower(col("l.city")).contains("hà nội") || lower(col("l.city")).contains("hanoi"))

    def jobsHcm(s: Star, runDate: Column): DataFrame =
      cityFiltered(s, runDate,
        lower(col("l.city")).contains("hồ chí minh") ||
          lower(col("l.city")).contains("hcm") ||
          lower(col("l.city")).contains("sài gòn"))

    def jobsExpiringSoon(s: Star, runDate: Column): DataFrame = {
      val today = runDate.cast("date")
      s.fact.filter(col("date_id") === today &&
          col("due_date") >= today && col("due_date") <= date_add(today, 7)).as("f")
        .join(j(s).as("j"), col("f.job_sk") === col("j.job_sk"))
        .join(c(s).as("c"), col("f.company_sk") === col("c.company_sk"))
        .join(s.bridge.as("b"), col("f.fact_id") === col("b.fact_id"), "left")
        .join(l(s).as("l"), col("b.location_sk") === col("l.location_sk"), "left")
        .groupBy(col("j.job_id"), col("j.title"), col("c.company_name"),
          col("c.verified_employer"), col("f.salary_min"), col("f.salary_max"),
          col("f.due_date"), col("f.time_remaining"), col("j.job_url"))
        .agg(cityAgg.as("locations"))
        .withColumn("days_left", datediff(to_date(col("due_date")), today))
    }

    def salaryDistribution(s: Star, runDate: Column): DataFrame = {
      val bucket = when(col("salary_max").isNull, "Thỏa thuận")
        .when(col("salary_max") <= 10, "Dưới 10M")
        .when(col("salary_max") <= 15, "10M - 15M")
        .when(col("salary_max") <= 20, "15M - 20M")
        .when(col("salary_max") <= 30, "20M - 30M")
        .when(col("salary_max") <= 50, "30M - 50M")
        .otherwise("Trên 50M")
      s.fact.filter(col("date_id") === runDate.cast("date"))
        .groupBy(bucket.as("salary_range"))
        .agg(
          countDistinct(col("job_sk")).as("job_count"),
          countDistinct(col("company_sk")).as("company_count"),
          rnd1(avg(col("salary_min"))).as("avg_min"),
          rnd1(avg(col("salary_max"))).as("avg_max"))
    }

    def verifiedEmployers(s: Star, runDate: Column): DataFrame =
      s.fact.filter(col("date_id") === runDate.cast("date")).as("f")
        .join(j(s).as("j"), col("f.job_sk") === col("j.job_sk"))
        .join(c(s).as("c"),
          col("f.company_sk") === col("c.company_sk") && col("c.verified_employer"))
        .join(s.bridge.as("b"), col("f.fact_id") === col("b.fact_id"), "left")
        .join(l(s).as("l"), col("b.location_sk") === col("l.location_sk"), "left")
        .groupBy(col("j.job_id"), col("j.title"), col("c.company_name"),
          col("f.salary_min"), col("f.salary_max"), col("f.due_date"), col("j.job_url"))
        .agg(cityAgg.as("locations"))

    def locationStats(s: Star, runDate: Column): DataFrame =
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
          countDistinct(when(col("c.verified_employer"), col("f.job_sk"))).as("verified_jobs"))

    def companyStats(s: Star, runDate: Column): DataFrame =
      c(s).as("c")
        .join(s.fact.filter(col("date_id") === runDate.cast("date")).as("f"),
          col("c.company_sk") === col("f.company_sk"))
        .groupBy(col("c.company_name"), col("c.verified_employer"))
        .agg(
          countDistinct(col("f.job_sk")).as("active_jobs"),
          rnd1(avg(col("f.salary_min"))).as("avg_salary_min"),
          rnd1(avg(col("f.salary_max"))).as("avg_salary_max"),
          min(col("f.due_date")).as("earliest_deadline"))

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

    /** The 15 served views in [[Views.all]]'s order, then vw_daily_summary. */
    val views: Seq[(String, (Star, Column) => DataFrame)] = Seq(
      "vw_current_jobs" -> ((s: Star, _: Column) => currentJobs(s)),
      "vw_job_locations" -> ((s: Star, _: Column) => jobLocations(s)),
      "vw_monthly_stats" -> ((s: Star, _: Column) => monthlyStats(s)),
      "vw_top_companies" -> ((s: Star, _: Column) => topCompanies(s)),
      "vw_top_locations" -> ((s: Star, _: Column) => topLocations(s)),
      "vw_job_full_details" -> ((s: Star, _: Column) => jobFullDetails(s)),
      "vw_jobs_today" -> (jobsToday _),
      "vw_jobs_hanoi" -> (jobsHanoi _),
      "vw_jobs_hcm" -> (jobsHcm _),
      "vw_jobs_expiring_soon" -> (jobsExpiringSoon _),
      "vw_salary_distribution" -> (salaryDistribution _),
      "vw_verified_employers" -> (verifiedEmployers _),
      "vw_location_stats" -> (locationStats _),
      "vw_company_stats" -> (companyStats _),
      "vw_skills_demand" -> (skillsDemand _),
      "vw_daily_summary" -> ((s: Star, _: Column) => dailySummary(s)))
  }
}
