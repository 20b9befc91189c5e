package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.collection.mutable

/** Seeded generator of TopCV-style HTML listing pages, plus the ground
  * truth the warehouse must reproduce.
  *
  * Every day lands `cardsPerDay` job cards, 25 per page. Of the cards,
  * 20% are jobs never seen before, 5% are re-crawled jobs with one
  * tracked change (title, salary or the company logo), and the rest are
  * unchanged re-crawls of live jobs. A
  * job stops being listed once its deadline passes. A few cards per day
  * are deliberately broken (no title) and must be dropped by the parser,
  * and a few are listed twice.
  *
  * The card fields cover every `normalize_salary` branch, every location
  * form (single city, merged province, multi-city `&`, `nơi khác`,
  * foreign country, empty), title tails `clean_title` strips, digit and
  * non-digit deadlines, the `Cập nhật N <unit> trước` forms and the
  * verified badge.
  *
  * The ground truth simulates the reference's day-run rules over the
  * generated plan, never the program: a day stages only the jobs crawled
  * that day, each due on its own deadline; today's fact slice holds those
  * jobs plus yesterday's rows carried forward while their due date is not
  * past; a title revision adds a job version (the superseded one is carried
  * until it expires); `DimJob` never closes a job that is merely absent.
  */
final class JobGen(seed: Long, cardsPerDay: Int) {
  import JobGen._

  private val rnd = new scala.util.Random(seed)

  final class Company(val id: Int) {
    val name: String = s"Công ty TNHH ${pick(CompanyWords)} ${pick(CompanyWords)} $id"
    val url: String = s"https://www.topcv.vn/cong-ty/cty-$id/$id.html"
    var logoVersion = 0
    val verified: Boolean = rnd.nextDouble() < 0.3
    def logo: String = s"https://cdn.topcv.vn/logo/c$id-v$logoVersion.png"
  }

  final class Job(val id: Long, val company: Company, val due: Option[Int]) {
    val role: String = pick(Roles)
    /** Salary or city tail the title cleaner strips; after the version
      * marker, so a revision survives cleaning. */
    val titleTail: String = pick(TitleTails)
    var titleVersion = 0
    var salary: String = pick(Salaries)
    val skills: Seq[String] = rnd.shuffle(Skills).take(1 + rnd.nextInt(4))
    val location: String = pick(LocationForms)
    val lastUpdate: String = pick(UpdateForms)
    def title: String =
      (if (titleVersion == 0) role else s"$role (Đợt ${titleVersion + 1})") + titleTail
    def live(day: Int): Boolean = due.forall(_ >= day)
  }

  private def pick[T](xs: IndexedSeq[T]): T = xs(rnd.nextInt(xs.length))

  private val companies = mutable.ArrayBuffer.empty[Company]
  private val jobs = mutable.ArrayBuffer.empty[Job]
  private var nextJobId = 1000000L

  /** One row of the simulated fact slice: a job version, staged under the
    * company version its card showed. */
  private final case class FactRow(job: Job, titleVersion: Int, logoVersion: Int) {
    /** Listed by the views, which join the current dimension rows only. */
    def current: Boolean =
      job.titleVersion == titleVersion && job.company.logoVersion == logoVersion
  }

  /** Today's simulated fact slice, keyed by job version. */
  private var factSlice = Map.empty[(Long, Int), FactRow]

  // ---- ground truth, as of the last generated day ----
  var jobsSeen = 0L
  var titleRevisions = 0L
  var htmlBytes = 0L
  var lastDayCards = 0L
  var lastDay = -1

  def expectedDimJobCurrent: Long = jobsSeen
  def expectedDimJobVersions: Long = jobsSeen + titleRevisions
  def expectedFactToday: Long = factSlice.size
  def expectedJobsToday: Long = factSlice.values.count(_.current).toLong
  /** Distinct jobs on the last day's cards. */
  var crawledToday = Set.empty[Long]

  private def newCompany(): Company = {
    val c = new Company(companies.size + 1); companies += c; c
  }

  private def newJob(day: Int): Job = {
    if (companies.isEmpty || rnd.nextDouble() < 0.12) newCompany()
    val c = companies(rnd.nextInt(companies.size))
    // 3% of jobs show a non-numeric deadline and never expire
    val due = if (rnd.nextDouble() < 0.03) None else Some(day + 3 + rnd.nextInt(40))
    val j = new Job(nextJobId, c, due)
    nextJobId += 1 + rnd.nextInt(3)
    jobs += j
    j
  }

  /** Generate day `day` (days must be generated in increasing order,
    * starting at 0) with `cards` cards into `dir`.
    */
  def day(day: Int, dir: Path, cards: Int = cardsPerDay): Unit = {
    require(day > lastDay, s"day $day generated out of order")
    val live = jobs.filter(_.live(day))
    val nNew = if (jobs.isEmpty) cards else math.round(cards * NewFrac).toInt
    val nRevised = math.min(math.round(cards * RevisedFrac).toInt, live.size)
    val nRecrawl = math.min(cards - nNew, live.size)
    val recrawl = rnd.shuffle(live.toIndexedSeq).take(nRecrawl)
    val fresh = IndexedSeq.fill(cards - recrawl.size)(newJob(day))

    // revisions land on re-crawled jobs
    recrawl.take(nRevised).zipWithIndex.foreach { case (j, i) =>
      i % 3 match {
        case 0 => j.titleVersion += 1; titleRevisions += 1
        case 1 => j.salary = pick(Salaries.filter(_ != j.salary))
        case _ => j.company.logoVersion += 1
      }
    }
    jobsSeen += fresh.size

    val crawled = rnd.shuffle(recrawl ++ fresh)
    crawledToday = crawled.map(_.id).toSet
    // carry forward the unexpired rows, then stage today's crawl over them
    factSlice = factSlice.filter { case (_, r) => r.job.live(day) } ++
      crawled.map(j => (j.id, j.titleVersion) -> FactRow(j, j.titleVersion, j.company.logoVersion))
    val cardsHtml = mutable.ArrayBuffer.empty[String]
    crawled.foreach(j => cardsHtml += card(j, day))
    // ~1% listed twice, ~0.5% broken cards the parser must drop
    crawled.take(math.max(1, cards / 100)).foreach(j => cardsHtml += card(j, day))
    val nBroken = math.max(1, cards / 200)
    (0 until nBroken).foreach(i => cardsHtml += brokenCard(nextJobId + 1000000 + i))
    val shuffled = rnd.shuffle(cardsHtml.toIndexedSeq)

    Files.createDirectories(dir)
    var bytes = 0L
    shuffled.grouped(CardsPerPage).zipWithIndex.foreach { case (page, p) =>
      val html = PageHead + page.mkString("\n") + PageTail
      val b = html.getBytes(UTF_8)
      Files.write(dir.resolve(f"page-$p%05d.html"), b)
      bytes += b.length
    }
    lastDayCards = shuffled.size
    htmlBytes += bytes
    lastDay = day
  }

  private def card(j: Job, day: Int): String = {
    val c = j.company
    val deadline = j.due match {
      case Some(d) => (d - day).toString
      case None => "Không thời hạn"
    }
    val badge = if (c.verified) """<span class="vip-badge">Pro</span>""" else ""
    val skills = j.skills.map(s => s"""<label class="item">$s</label>""").mkString
    s"""<div class="job-item-2 job-ta" data-job-id="${j.id}">
       |<div class="avatar"><a href="${c.url}"><img src="${c.logo}" alt="logo"></a></div>
       |<div class="body"><h3 class="title"><a href="/viec-lam/${slug(j.role)}-${j.id}.html"><span data-original-title="${escape(j.title)}">${escape(j.title)}</span></a></h3>
       |<a class="company" href="${c.url}">${escape(c.name)}</a>$badge
       |<label class="title-salary">${escape(j.salary)}</label>
       |<label class="address">${escape(j.location)}</label>
       |<label class="time">Còn <strong>$deadline</strong> ngày để ứng tuyển</label>
       |<label class="deadline">${j.lastUpdate}</label>
       |<div class="skills">$skills</div></div></div>""".stripMargin
  }

  private def brokenCard(id: Long): String =
    s"""<div class="job-item-2" data-job-id="$id"><div class="body"><h3 class="title"><a href="/viec-lam/x-$id.html"></a></h3></div></div>"""
}

object JobGen {
  val CardsPerPage = 25
  private val NewFrac = 0.20
  private val RevisedFrac = 0.05

  private def escape(s: String): String = s.replace("&", "&amp;")
  private def slug(s: String): String =
    s.toLowerCase.replaceAll("[^a-z0-9]+", "-").stripPrefix("-").stripSuffix("-")

  private val PageHead =
    """<!DOCTYPE html><html lang="vi"><head><meta charset="utf-8"><title>Tuyển dụng IT - TopCV</title>
      |<link rel="stylesheet" href="/static/css/main.css"></head><body><div class="container">
      |<nav class="menu"><a href="/viec-lam">Việc làm</a> <a href="/cong-ty">Công ty</a> <a href="/cv">Tạo CV</a></nav>
      |<div class="job-list-search-result">
      |""".stripMargin
  private val PageTail =
    """</div><footer>© TopCV - Nền tảng tuyển dụng. Hotline: 1900 000 000.</footer></div></body></html>
      |""".stripMargin

  /** One string per `normalize_salary` branch (FIXTURES.md §3). */
  val Salaries: IndexedSeq[String] = IndexedSeq(
    "Thỏa thuận", "", "Lương cạnh tranh", "0.0 - 0.0 triệu",
    "1,000 - 2,000 USD", "15 - 25 triệu", "Tới 1,500 USD", "Tới 30 triệu",
    "Từ 20 triệu", "2,000 USD", "12,5 triệu", "abc", "10 - 18 triệu",
    "Tới 45 triệu", "800 - 1,200 USD", "Từ 8 triệu")

  /** Every location form (FIXTURES.md §4). */
  val LocationForms: IndexedSeq[String] = IndexedSeq(
    "Hà Nội", "Hồ Chí Minh", "Hà Nội & Đà Nẵng", "Hà Nội & 2 nơi khác nữa",
    "Nhật Bản", "", "Hồ Chí Minh & Hà Nội", "Đà Nẵng", "Cần Thơ & Huế",
    "Singapore", "Hải Phòng & 3 nơi khác nữa", "Hà Nội", "Hồ Chí Minh")

  /** Title tails of the forms `clean_title` removes (half the titles have none). */
  val TitleTails: IndexedSeq[String] = IndexedSeq(
    "", "", "", "", " - Thu Nhập Upto 30 Triệu", " [Hà Nội]", " - Lương 15-20M",
    " - Tại Hồ Chí Minh")

  val UpdateForms: IndexedSeq[String] = IndexedSeq(
    "Cập nhật 3 ngày trước", "Cập nhật 2 giờ trước", "Cập nhật 15 phút trước",
    "Cập nhật 1 tuần trước", "Cập nhật 1 tháng trước", "Cập nhật 45 giây trước",
    "Cập nhật hôm nay")

  val Roles: IndexedSeq[String] = IndexedSeq(
    "Lập Trình Viên Java", "Kỹ Sư Phần Mềm Python", "Chuyên Viên Phân Tích Dữ Liệu",
    "Nhân Viên Kinh Doanh", "Kế Toán Tổng Hợp", "Frontend Developer ReactJS",
    "Backend Developer NodeJS", "Kỹ Sư DevOps AWS", "Tester QA Manual",
    "Trưởng Nhóm Marketing", "Data Engineer Spark", "Thiết Kế UI/UX",
    "Chuyên Viên Tuyển Dụng HR", "Kỹ Sư Cầu Nối BrSE", "Mobile Developer Flutter",
    "Quản Lý Dự Án IT", "Chuyên Viên Hỗ Trợ Kỹ Thuật", "Golang Developer")

  val Skills: IndexedSeq[String] = IndexedSeq(
    "Java", "Python", "SQL", "Spark", "AWS", "Docker", "Kubernetes",
    "ReactJS", "NodeJS", "Tiếng Anh", "Tiếng Nhật", "Excel", "Git",
    "Go", "Flutter", "Kế toán", "Bán hàng", "Giao tiếp")

  val CompanyWords: IndexedSeq[String] = IndexedSeq(
    "Công Nghệ", "Giải Pháp", "Phần Mềm", "Thương Mại", "Dịch Vụ",
    "Đầu Tư", "Sao Việt", "Bình Minh", "Hoàng Long", "Ánh Dương", "Tri Thức",
    "Kết Nối", "Số Hóa", "Toàn Cầu")
}
