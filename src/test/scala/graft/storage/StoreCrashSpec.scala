package graft.storage

import graft.SparkSpec
import graft.app.Apps
import graft.storage.StoreFixture._
import java.nio.file.{Files, Path, Paths}

/** Crash states of the store commit, for an ingest day and a warehouse
  * day on top of a one-day warehouse. A commit's on-disk state is fully
  * described by which new data files exist, which `_head` is live and
  * which superseded files remain, so every state a crash can leave is
  * built here from the files and heads of a recorded uncrashed run:
  *
  *   - one changed table's new files present, the others absent, the old
  *     head live (one per changed table);
  *   - all new files present, the old head live;
  *   - the same with a torn `_head.tmp`;
  *   - the new head live with the superseded files still on disk.
  *
  * In each state the eight tables read as the day before or the day
  * itself, never a mix, and rerunning the day leaves them row-identical
  * to the uncrashed run. Two real faults — a table write that fails and a
  * head that cannot be moved into place once written — show the same in
  * the running code: the first catches a head moved before every write
  * finished, the second files deleted before the head moved.
  */
class StoreCrashSpec extends SparkSpec {

  private val Day1 = "2026-06-01"
  private val Day2 = "2026-06-02"

  private lazy val base = Files.createTempDirectory("store_crash")
  private lazy val html1 = crawl(base.resolve("html1"), 1 to 60)
  private lazy val html2 = crawl(base.resolve("html2"), 11 to 70, rev = 1)

  private def ingest(root: Path): Unit = Apps.runIngestDay(spark, html2, root.toString, Day2)
  private def warehouse(root: Path): Unit = Apps.runWarehouseDay(spark, root.toString, Day2)

  /** The eight tables as sorted row strings. */
  private def tables(root: Path): Map[String, Seq[String]] =
    DayTables.map(t => t -> Store.read(spark, root.toString, t).collect()
      .map(_.toString).toSeq.sorted).toMap

  /** The uncrashed run: the root before the day, after it, and both
    * states' rows. */
  private case class Run(before: Path, after: Path, rowsBefore: Map[String, Seq[String]],
                         rowsAfter: Map[String, Seq[String]])

  private lazy val day1 = {
    val r = Files.createTempDirectory("store_crash_day1")
    Apps.runIngestDay(spark, html1, r.toString, Day1)
    Apps.runWarehouseDay(spark, r.toString, Day1)
    r
  }
  private lazy val ingestRun = record(day1, ingest)
  private lazy val warehouseRun = record(ingestRun.after, warehouse)

  private def record(before: Path, day: Path => Unit): Run = {
    val after = cloneRoot(before, "store_crash_after")
    day(after)
    Run(before, after, tables(before), tables(after))
  }

  /** The crash states of `run`'s commits over the `changed` tables: name,
    * root, and whether the new head is live. */
  private def states(run: Run, changed: Seq[String]): Seq[(String, Path, Boolean)] = {
    val old = files(run.before)
    val added = files(run.after) -- old - "_head"
    def state(name: String, extra: Set[String], newHead: Boolean): (String, Path, Boolean) = {
      val root = cloneRoot(run.before, "store_crash_state")
      copy(run.after, root, extra ++ (if (newHead) Set("_head") else Set.empty))
      (name, root, newHead)
    }
    val single = changed.map { t =>
      val own = added.filter(_.startsWith(t + "/"))
      assert(own.nonEmpty, s"the day writes no new files for $t")
      state(s"only $t written", own, newHead = false)
    }
    val torn = state("torn _head.tmp", added, newHead = false)
    val head = Files.readString(run.after.resolve("_head"))
    Files.writeString(torn._2.resolve("_head.tmp"), head.take(head.length / 2))
    single ++ Seq(state("all written", added, newHead = false), torn,
      state("new head, superseded files left", added, newHead = true))
  }

  private def check(run: Run, changed: Seq[String], rerun: Path => Unit): Unit = {
    assert(run.rowsBefore != run.rowsAfter, "the day changes no table")
    for ((name, root, newHead) <- states(run, changed)) {
      val seen = tables(root)
      assert(seen == (if (newHead) run.rowsAfter else run.rowsBefore), s"$name: a mix of two days")
      rerun(root)
      assert(tables(root) == run.rowsAfter, s"$name: rerun differs from the uncrashed run")
      assert(plainReadMismatches(spark, root.toString).isEmpty, name)
    }
  }

  test("an ingest day crashed in any commit state reads as one day and reruns to the uncrashed run") {
    check(ingestRun, Seq("raw_jobs", "staging_jobs"), ingest)
  }

  test("a warehouse day crashed in any commit state reads as one day and reruns to the uncrashed run") {
    check(warehouseRun, DayTables.drop(2), warehouse)
  }

  /** Run `day` on a copy of `run.before` with `obstacle` placed in it: the
    * day must fail with the previous day's tables intact, and rerun to the
    * uncrashed run once the obstacle is gone. */
  private def faulted(run: Run, day: Path => Unit, obstacle: Path => Path): Unit = {
    val root = cloneRoot(run.before, "store_crash_fault")
    val o = obstacle(root)
    intercept[Exception](day(root))
    assert(tables(root) == run.rowsBefore, "a failed day changed the tables")
    TableStore.deleteRecursively(o)
    day(root)
    assert(tables(root) == run.rowsAfter)
    assert(plainReadMismatches(spark, root.toString).isEmpty)
  }

  /** A regular file where a writer needs its `_temporary` directory: that
    * table's write fails while the others' land. */
  private def failWrite(table: String)(root: Path): Path =
    Files.writeString(root.resolve(table).resolve("_temporary"), "")

  test("a table write that fails publishes none of the day's tables") {
    faulted(ingestRun, ingest, failWrite("staging_jobs"))
    faulted(warehouseRun, warehouse, failWrite("dwh/FactJobLocationBridge"))
  }

  test("a head that cannot move deletes nothing the live head lists") {
    // The commit's own write turns the live head into a non-empty
    // directory after the commit has read it: the new head is written in
    // full but cannot be moved over it.
    import spark.implicits._
    val root = cloneRoot(ingestRun.before, "store_crash_fault")
    val head = root.resolve("_head").toString
    val saved = root.resolve("_head.saved").toString
    val blocking = spark.range(0, 1, 1, 1).map { i =>
      Files.move(Paths.get(head), Paths.get(saved))
      Files.createDirectories(Paths.get(head, "blocked"))
      i
    }.toDF("id")
    intercept[Exception](Store.commit(root.toString, Seq(Store.Snapshot("raw_jobs", blocking))))
    TableStore.deleteRecursively(Paths.get(head))
    Files.move(Paths.get(saved), Paths.get(head))
    assert(tables(root) == ingestRun.rowsBefore, "a head that did not move lost files it lists")
    ingest(root)
    assert(tables(root) == ingestRun.rowsAfter)
    assert(plainReadMismatches(spark, root.toString).isEmpty)
  }
}
