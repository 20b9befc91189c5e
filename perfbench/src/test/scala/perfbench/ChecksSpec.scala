package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** Every ground-truth check must hold on the true expectation and fire
  * when that expectation is perturbed — a check that can never fail
  * proves nothing. The generators are checked for what they promise to
  * plant. No Spark here: the checks and generators are plain Scala.
  */
class ChecksSpec extends AnyFunSuite {

  /** Run `body` in a fresh temporary directory, removed afterwards. */
  private def inTempDir[T](body: java.nio.file.Path => T): T = {
    val dir = java.nio.file.Files.createTempDirectory("jobgen")
    try body(dir)
    finally {
      val s = java.nio.file.Files.walk(dir)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => java.nio.file.Files.delete(p))
      finally s.close()
    }
  }

  test("equality checks fire on a perturbed expected count") {
    val r = new Report
    assert(r.checkEq("rows", 42, 42))
    assert(!r.checkEq("rows", 43, 42))
    assert(!r.checkEq("rows", 41, 42))
    assert(r.attempted == 3 && r.failed == 2)
    assert(r.json.startsWith("""{"correct":false,"attempted":3,"failed":2"""))
  }

  test("a failed operation counts as failed, a passing one does not") {
    val r = new Report
    assert(r.op("ok")(1).contains(1))
    assert(r.op("boom")(throw new IllegalStateException("x")).isEmpty)
    assert(r.attempted == 2 && r.failed == 1 && r.errorRate == 0.5)
  }

  test("removed-exactly check fires on a missed copy or a lost original") {
    val input = (1L to 12L).toSet
    val planted = Set(11L, 12L)
    assert(Checks.removedExactly(planted, input, input -- planted))
    assert(!Checks.removedExactly(Set(11L), input, input -- planted))        // perturbed expectation
    assert(!Checks.removedExactly(planted, input, input -- planted + 12L))   // copy survived
    assert(!Checks.removedExactly(planted, input, input -- planted - 3L))    // original lost
  }

  test("listed-once check fires on a missing, a repeated or an unexpected job") {
    val crawled = Set("1", "2", "3")
    assert(Checks.notListedOnce(crawled, Seq("3", "1", "2", "9")) == 0)  // carried job 9 allowed
    assert(Checks.notListedOnce(crawled, Seq("1", "2")) == 1)             // job 3 missing
    assert(Checks.notListedOnce(crawled, Seq("1", "2", "3", "2")) == 1)   // job 2 twice
    assert(Checks.notListedOnce(crawled + "4", Seq("1", "2", "3")) == 1)  // perturbed expectation
  }

  test("recall falls below the floor when a planted copy is missed") {
    val planted = (100L until 110L).toSet
    assert(Checks.recall(planted, planted) == 1.0)
    assert(Checks.recall(planted, planted - 100L) == 0.9)
    assert(Checks.recall(planted + 999L, planted) < 1.0)                     // perturbed expectation
    assert(Checks.recall(planted, planted - 100L - 101L) < CorpusWorkload.RecallFloor)
  }

  test("job generator ground truth moves with the planted day")(inTempDir { dir =>
    val g = new JobGen(7L, cardsPerDay = 200)
    g.day(0, dir.resolve("d0"), 1000)
    assert(g.expectedDimJobCurrent == 1000 && g.expectedDimJobVersions == 1000)
    assert(g.expectedFactToday == 1000 && g.expectedJobsToday == 1000)
    g.day(1, dir.resolve("d1"))
    // 20% new jobs; a third of the 5% revisions are title changes
    assert(g.expectedDimJobCurrent == 1040)
    assert(g.titleRevisions == 4 && g.expectedDimJobVersions == 1044)
    assert(g.crawledToday.size == 200)
    // no day-0 job is due yet: all carried, plus the new jobs and title versions
    assert(g.expectedFactToday == 1044)
    // carried jobs of a company whose logo changed drop out of the views
    assert(g.expectedJobsToday >= g.crawledToday.size && g.expectedJobsToday < 1040)
    assert(g.lastDayCards > 200)                // duplicate and broken cards on top
    (2 to 50).foreach(d => g.day(d, dir.resolve(s"d$d"), 20))
    // every day-0 deadline (3 to 42 days) has passed: expired rows left the slice
    assert(g.expectedFactToday < 500 && g.expectedFactToday < g.expectedDimJobVersions)
    assert(g.expectedJobsToday >= g.crawledToday.size)
  })

  test("job generator is deterministic per seed and covers every card form") {
    def pages(seed: Long): Seq[String] = inTempDir { dir =>
      new JobGen(seed, 100).day(0, dir, 400)
      Disk.walk(dir).keys.toSeq.sorted.map(f => java.nio.file.Files.readString(dir.resolve(f)))
    }
    assert(pages(3L) == pages(3L))
    assert(pages(3L) != pages(4L))
    val html = pages(5L).mkString
    Seq("Thỏa thuận", "Lương cạnh tranh", "0.0 - 0.0 triệu", "1,000 - 2,000 USD",
      "15 - 25 triệu", "Tới 1,500 USD", "Tới 30 triệu", "Từ 20 triệu", "2,000 USD",
      "12,5 triệu", "abc", "&amp;", "nơi khác", "Nhật Bản", "vip-badge", "Cập nhật",
      "Không thời hạn", """<label class="address"></label>""", "Thu Nhập Upto", "[Hà Nội]")
      .foreach(f => assert(html.contains(f), s"no card carries '$f'"))
  }

  test("corpus generator plants the stated duplicate fractions") {
    val g = new CorpusGen(11L, 1000)
    assert(g.exactCopies.size == 30 && g.nearCopies.size == 100)
    assert(g.shuffledCopies.size == 20 && g.junk.size == 20)
    assert(g.all.size == 1170 && g.all.map(_.id).distinct.size == 1170)
    val byId = g.originals.map(d => d.id -> d.text).toMap
    def norm(s: String) = s.trim.toLowerCase.replaceAll("\\s+", " ")
    g.exactCopies.foreach { case (o, d) => assert(norm(d.text) == byId(o) && d.text != byId(o)) }
    g.nearCopies.foreach { case (o, d) =>
      val a = byId(o).split(" "); val b = d.text.split(" ")
      assert(a.length == b.length && a.zip(b).count { case (x, y) => x != y } <= a.length / 20 + 1)
    }
    g.shuffledCopies.foreach { case (o, d) =>
      assert(d.text.split(" ").sorted.sameElements(byId(o).split(" ").sorted))
    }
    assert(new CorpusGen(11L, 50).all == new CorpusGen(11L, 50).all)
  }
}
