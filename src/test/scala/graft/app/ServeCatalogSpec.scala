package graft.app

import graft.SparkSpec
import graft.monitoring.Metrics
import graft.views.Views
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Sort, SubqueryAlias,
  View => CatalystView}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions.lit
import java.nio.file.{Files, Paths}

/** The served catalog in process: every served view is materialized at
  * registration, holds exactly the rows of its lazy definition, and the
  * next registration serves the next day and frees the previous blocks.
  */
class ServeCatalogSpec extends SparkSpec {

  private lazy val root = Files.createTempDirectory("graft_catalog").toString

  private def card(i: Int): String =
    s"""<div class="job-item-2" data-job-id="200$i">
       |  <h3 class="title"><a href="/viec-lam/x-200$i.html"><span data-original-title="Data Role $i">t</span></a></h3>
       |  <a class="company" href="/cong-ty/c${i % 7}">Company ${i % 7}</a>${if (i % 7 < 3) "<span class=\"vip-badge\">Pro</span>" else ""}
       |  <label class="address">${if (i % 2 == 0) "Hà Nội" else "Hồ Chí Minh & Hà Nội"}</label>
       |  <label class="title-salary">${if (i % 3 == 0) "Thỏa thuận" else s"${10 + i % 20} - ${30 + i % 20} triệu"}</label>
       |  <div class="skills"><label class="item">Python</label><label class="item">S${i % 4}</label></div>
       |  <label class="time"><strong>${3 + i % 10}</strong></label>
       |  <label class="deadline">Cập nhật 1 giờ trước</label>
       |</div>""".stripMargin

  /** Ingest and load one day of cards `ids`. */
  private def day(runDate: String, ids: Range): Unit = {
    val html = Paths.get(s"$root/html/$runDate")
    Files.createDirectories(html)
    Files.writeString(html.resolve("page.html"), ids.map(card).mkString("\n"))
    Apps.runIngestDay(spark, html.toString, root, runDate)
    Apps.runWarehouseDay(spark, root, runDate)
  }

  /** The 17 served names and their lazy definitions over the on-disk star. */
  private def definitions(runDate: String): Map[String, DataFrame] = {
    val d = lit(runDate)
    def monitoring(t: String) = spark.read.parquet(s"$root/monitoring/$t")
    (Views.all(Views.current(Apps.readStar(spark, root)), d) ++ Seq(
      Metrics.pipelineHealth(monitoring("etl_metrics"), d),
      Metrics.dataQualityTrend(monitoring("quality_metrics"), d)))
      .map(v => v.name -> v.df).toMap
  }

  /** Whether the plan's last operator, under aliases and projections, is a sort. */
  private def endsInSort(plan: LogicalPlan): Boolean = plan match {
    case _: Sort => true
    case p @ (_: SubqueryAlias | _: CatalystView | _: Project) => endsInSort(p.children.head)
    case _ => false
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** Every served view (temp and global) equals its definition's rows and
    * reads only materialized rows, never the star files. */
  private def assertServes(runDate: String): Unit =
    definitions(runDate).foreach { case (name, lazyDef) =>
      val expected = rows(lazyDef)
      assert(expected.nonEmpty, name)
      for (served <- Seq(spark.table(name), spark.table(s"global_temp.$name"))) {
        assert(served.columns.toSeq == lazyDef.columns.toSeq, name)
        assert(rows(served) == expected, name)
        val plan = served.queryExecution.analyzed
        assert(plan.collect { case r: LogicalRDD => r }.nonEmpty, name)
        assert(plan.collect { case r: LogicalRelation => r }.isEmpty, name)
        // a definition's final ORDER BY stays on top, lazily
        assert(endsInSort(plan) == endsInSort(lazyDef.queryExecution.analyzed), name)
      }
    }

  /** Ids of the RDDs the current catalog's views are materialized in. */
  private def servedRddIds(): Set[Int] = definitions("2026-04-01").keySet.flatMap { v =>
    spark.table(v).queryExecution.analyzed.collect { case r: LogicalRDD => r.rdd.id }
  }

  /** Register the catalog for `runDate` and check that the persistent
    * RDDs the registration added are exactly the served views' own: the
    * shared current-star relation it materialized first is released. */
  private def register(runDate: String): Unit = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    ServeApp.registerCatalog(spark, root, runDate)
    assert(sc.getPersistentRDDs.keySet -- before == servedRddIds())
  }

  test("every served name holds the rows of its lazy definition") {
    day("2026-04-01", 1 to 60)
    register("2026-04-01")
    assertServes("2026-04-01")
  }

  test("the next registration serves the next day and frees the previous blocks") {
    val first = servedRddIds()
    assert(first.size == 17)
    day("2026-04-02", 21 to 80)
    val sc = spark.sparkContext
    val persistedBefore = sc.getPersistentRDDs.size
    register("2026-04-02")
    assertServes("2026-04-02")
    assert(sc.getPersistentRDDs.size <= persistedBefore)
    assert(sc.getPersistentRDDs.keySet.intersect(first).isEmpty)
    assert(sc.getRDDStorageInfo.map(_.id).toSet.intersect(first).isEmpty)
    assert(servedRddIds().intersect(first).isEmpty)
  }
}
