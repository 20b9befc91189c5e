package graft.storage

import graft.SparkSpec
import graft.app.Apps
import graft.storage.StoreFixture._
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The store commit: what each change kind keeps and removes, the batch
  * id rule, and the rule that keeps plain-directory readers correct —
  * after every commit a table directory holds exactly its head files. */
class StoreSpec extends SparkSpec {
  import spark.implicits._

  private def ids(root: String, table: String): Seq[Long] =
    Store.read(spark, root, table).select("id").as[Long].collect().toSeq.sorted

  test("snapshot replaces, partitions replace what they write, append adds") {
    val root = Files.createTempDirectory("store_kinds").toString
    Store.commit(root, Seq(
      Store.Snapshot("s", Seq(1L, 2L).toDF("id")),
      Store.Partitions("p", Seq((1L, "a"), (2L, "b")).toDF("id", "k"), Seq("k")),
      Store.Append("a", Seq(1L).toDF("id"))))
    Store.commit(root, Seq(
      Store.Snapshot("s", Seq(3L).toDF("id")),
      Store.Partitions("p", Seq((3L, "b"), (4L, "c")).toDF("id", "k"), Seq("k")),
      Store.Append("a", Seq(2L).toDF("id"))))
    assert(ids(root, "s") == Seq(3L))
    assert(ids(root, "p") == Seq(1L, 3L, 4L))
    assert(ids(root, "a") == Seq(1L, 2L))
    // a declared schema comes back in its order, partition column included
    val schema = Seq(("x", 1L)).toDF("k", "id").schema
    assert(Store.read(spark, root, "p", schema).columns.toSeq == Seq("k", "id"))
    assert(Store.read(spark, root, "none", schema).isEmpty)
    plainReadsMatch(root)
  }

  test("a batch id at or below the head's txn is skipped") {
    val root = Files.createTempDirectory("store_txn").toString
    assert(Store.commit(root, Seq(Store.Append("a", Seq(1L).toDF("id"))), Some(5L)))
    assert(!Store.commit(root, Seq(Store.Append("a", Seq(9L).toDF("id"))), Some(5L)))
    assert(!Store.commit(root, Seq(Store.Append("a", Seq(9L).toDF("id"))), Some(4L)))
    // a commit without a batch id keeps the head's
    Store.commit(root, Seq(Store.Snapshot("b", Seq(1L).toDF("id"))))
    assert(Store.head(root).txn.contains(5L))
    assert(Store.commit(root, Seq(Store.Append("a", Seq(6L).toDF("id"))), Some(6L)))
    assert(ids(root, "a") == Seq(1L, 6L))
  }

  private def plainReadsMatch(root: String): Unit =
    assert(plainReadMismatches(spark, root).isEmpty)

  test("after every app commit a plain directory read equals the head read") {
    val root = Files.createTempDirectory("store_plain").toString
    val base = Files.createTempDirectory("store_plain_html")
    def day(d: String, html: String): Unit = {
      Apps.runIngestDay(spark, html, root, d); plainReadsMatch(root)
      Apps.runWarehouseDay(spark, root, d); plainReadsMatch(root)
    }
    day("2026-06-01", crawl(base.resolve("1"), 1 to 60))
    Apps.pinWarehouse(root, "2026-06-01")
    plainReadsMatch(root)
    plainReadsMatch(Store.pinRoot(root, "day=2026-06-01"))
    day("2026-06-02", crawl(base.resolve("2"), 11 to 70, rev = 1))
    // restore: the rebuild commits the day-1 pin back, then replays day 2
    Store.restore(root, "day=2026-06-01", DayTables.drop(2))
    plainReadsMatch(root)
    assert(Store.read(spark, root, "dwh/FactJobPostingDaily")
      .filter(col("date_id") === "2026-06-02").isEmpty)
    assert(Apps.rebuildFromDay(spark, root, "2026-06-02") == Seq("2026-06-02"))
    plainReadsMatch(root)
    // retention, then compaction of the monitoring log
    assert(Apps.runArchive(spark, root, "2026-06-20", retentionDays = 0) == 70L)
    plainReadsMatch(root)
    assert(Store.head(root).of("monitoring/etl_metrics").size > 1)
    TableStore.compact(spark, root, "monitoring/etl_metrics")
    assert(Store.head(root).of("monitoring/etl_metrics").size == 1)
    plainReadsMatch(root)
  }
}
