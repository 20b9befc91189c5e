package graft.app

import graft.SparkSpec
import graft.monitoring.Metrics
import graft.warehouse.Schemas
import org.apache.spark.sql.types.StructType
import java.nio.file.{Files, Paths}

/** The app layer reads the star and the monitoring tables with their
  * declared schemas instead of inferring them, so a writer whose output
  * drifts from its declared schema must fail here.
  */
class DeclaredSchemaSpec extends SparkSpec {

  private lazy val root = {
    val r = Files.createTempDirectory("graft_schemas").toString
    val html = Paths.get(s"$r/html")
    Files.createDirectories(html)
    Files.writeString(html.resolve("page.html"), (1 to 60).map { i =>
      s"""<div class="job-item-2" data-job-id="300$i">
         |  <h3 class="title"><a href="/viec-lam/x-300$i.html"><span data-original-title="Role $i">t</span></a></h3>
         |  <a class="company" href="/cong-ty/c${i % 5}">Company ${i % 5}</a>
         |  <label class="address">${if (i % 2 == 0) "Hà Nội" else "Hồ Chí Minh & Hà Nội"}</label>
         |  <label class="title-salary">${if (i % 3 == 0) "Thỏa thuận" else s"${10 + i % 20} - 40 triệu"}</label>
         |  <div class="skills"><label class="item">Python</label></div>
         |  <label class="time"><strong>${3 + i % 10}</strong></label>
         |  <label class="deadline">Cập nhật 1 giờ trước</label>
         |</div>""".stripMargin
    }.mkString("\n"))
    Apps.runIngestDay(spark, html.toString, r, "2026-05-01")
    Apps.runWarehouseDay(spark, r, "2026-05-01")
    r
  }

  /** Names and types in order, nullability ignored. */
  private def shape(s: StructType): Seq[(String, String)] =
    s.fields.toSeq.map(f => f.name -> f.dataType.catalogString)

  test("every table the apps read with a declared schema was written with it") {
    val tables = Seq(
      "dwh/DimJob" -> Schemas.dimJob,
      "dwh/DimCompany" -> Schemas.dimCompany,
      "dwh/DimLocation" -> Schemas.dimLocation,
      "dwh/DimDate" -> Schemas.dimDate,
      "dwh/FactJobLocationBridge" -> Schemas.bridge,
      "monitoring/etl_metrics" -> Metrics.etlMetricsSchema,
      "monitoring/quality_metrics" -> Metrics.qualityMetricsSchema)
    for ((table, declared) <- tables)
      assert(shape(spark.read.parquet(s"$root/$table").schema) == shape(declared), table)
    // the partition column reads back last
    val (partition, data) = Schemas.factDaily.fields.partition(_.name == "date_id")
    assert(shape(spark.read.parquet(s"$root/dwh/FactJobPostingDaily").schema) ==
      shape(StructType(data ++ partition)))
  }

  test("reading the star runs no Spark job") {
    val sc = spark.sparkContext
    val group = "graft-read-star"
    sc.setJobGroup(group, "readStar")
    try {
      val star = Apps.readStar(spark, root)
      assert(star.fact.columns.toSeq == Schemas.factDaily.fieldNames.toSeq)
      sc.parallelize(Seq(1)).count() // a marker: its job is the group's last
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (sc.statusTracker.getJobIdsForGroup(group).isEmpty && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(sc.statusTracker.getJobIdsForGroup(group).length == 1)
    } finally sc.clearJobGroup()
  }
}
