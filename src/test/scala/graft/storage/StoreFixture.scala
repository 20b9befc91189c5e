package graft.storage

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Warehouse-root helpers the store specs share: a day's HTML crawl, the
  * eight tables a day writes, and copies of a root. */
object StoreFixture {

  /** The tables an ingest day and a warehouse day commit. */
  val DayTables: Seq[String] = Seq("raw_jobs", "staging_jobs") ++
    Seq("DimJob", "DimCompany", "DimLocation", "DimDate", "FactJobPostingDaily",
      "FactJobLocationBridge").map("dwh/" + _)

  /** Land one page of job cards `ids` under `dir`; returns `dir`. Day
    * `rev` retitles and reprices the jobs, so a later day revises them. */
  def crawl(dir: Path, ids: Seq[Int], rev: Int = 0): String = {
    Files.createDirectories(dir)
    Files.writeString(dir.resolve("page1.html"), ids.map { i =>
      s"""<div class="job-item-2" data-job-id="400$i">
         |  <h3 class="title"><a href="/viec-lam/x-400$i.html"><span data-original-title="Role $i v${if (i % 3 == 0) rev else 0}">t</span></a></h3>
         |  <a class="company" href="/cong-ty/c${i % 4}">Company ${i % 4}</a>
         |  <label class="address">${if (i % 2 == 0) "Hà Nội" else "Hồ Chí Minh & Hà Nội"}</label>
         |  <label class="title-salary">${if (i % 5 == 0) "Thỏa thuận" else s"${10 + i % 20 + (if (i % 3 == 0) rev else 0)} - 40 triệu"}</label>
         |  <div class="skills"><label class="item">Python</label><label class="item">S${i % 3}</label></div>
         |  <label class="time"><strong>${3 + i % 10}</strong></label>
         |  <label class="deadline">Cập nhật 1 giờ trước</label>
         |</div>""".stripMargin
    }.mkString("\n"))
    dir.toString
  }

  /** Every regular file under `root`, root-relative. */
  def files(root: Path): Set[String] = {
    val s = Files.walk(root)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString).toSet
    finally s.close()
  }

  /** Copy the root-relative `rel` files of `from` into `to`. */
  def copy(from: Path, to: Path, rel: Iterable[String]): Unit = rel.foreach { f =>
    val t = to.resolve(f)
    Files.createDirectories(t.getParent)
    Files.copy(from.resolve(f), t, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** A full copy of `from` at a new temporary root. */
  def cloneRoot(from: Path, prefix: String): Path = {
    val to = Files.createTempDirectory(prefix)
    copy(from, to, files(from))
    to
  }

  /** The tables of `root`'s head whose plain directory read differs from
    * the head read, or whose directory holds other data files than the
    * head lists. */
  def plainReadMismatches(spark: SparkSession, root: String): Seq[String] = {
    val head = Store.head(root)
    def rows(df: DataFrame) = df.collect().map(_.toString).toSeq.sorted
    head.files.keys.toSeq.filter { t =>
      val onDisk = files(Paths.get(root, t)).map(f => s"$t/$f")
        .filterNot(_.split('/').exists(p => p.startsWith(".") || p.startsWith("_")))
      onDisk != head.of(t).toSet ||
        rows(spark.read.parquet(s"$root/$t")) != rows(Store.read(spark, root, t))
    }
  }
}
