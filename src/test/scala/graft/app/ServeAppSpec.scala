package graft.app

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files
import java.sql.DriverManager

/** Entry point 3 end-to-end: warehouse on disk → ServeApp Thrift
  * endpoint → an EXTERNAL JDBC client (hive-jdbc over a real localhost
  * socket, not a Spark API) queries the registered views. This is the
  * Superset-parity path the reference serves from postgres.
  */
class ServeAppSpec extends SparkSpec {

  private lazy val root = Files.createTempDirectory("graft_serve").toString

  private def staging() = {
    import spark.implicits._
    (1 to 40).map { i =>
      (s"job-$i", s"Data Engineer $i", s"https://jobs.example/$i",
       Seq("Python", "Spark"), s"Company ${i % 5}",
       null: String, null: String, i % 2 == 0,
       if (i % 2 == 0) "Hà Nội" else "Hồ Chí Minh",
       BigDecimal(10 + i), BigDecimal(20 + i), "range", "30 days left")
    }.toDF("job_id", "title_clean", "job_url", "skills",
        "company_name_standardized", "company_url", "logo_url",
        "verified_employer", "location", "salary_min", "salary_max",
        "salary_type", "time_remaining")
      .withColumn("salary_min", col("salary_min").cast("decimal(18,2)"))
      .withColumn("salary_max", col("salary_max").cast("decimal(18,2)"))
      .withColumn("posted_time", lit("2026-03-01 06:00:00").cast("timestamp"))
      .withColumn("due_date", lit("2026-04-01 00:00:00").cast("timestamp"))
      .withColumn("crawled_at", lit("2026-03-01 06:00:00").cast("timestamp"))
      .withColumn("crawl_date", lit("2026-03-01"))
  }

  private lazy val server = {
    graft.storage.Store.commit(root, Seq(graft.storage.Store.Partitions(
      "staging_jobs", staging(), Seq("crawl_date"))))
    Apps.runWarehouseDay(spark, root, "2026-03-01")
    val port = { val s = new java.net.ServerSocket(0)
                 try s.getLocalPort finally s.close() }
    (ServeApp.start(spark, root, "2026-03-01", port), port)
  }

  override def afterAll(): Unit = {
    try server._1.stop() catch { case _: Throwable => () }
    super.afterAll()
  }

  private def connect(port: Int): java.sql.Connection = {
    Class.forName("org.apache.hive.jdbc.HiveDriver")
    // the server binds asynchronously after start() returns — retry
    var last: Throwable = null
    for (_ <- 1 to 60) {
      try return DriverManager.getConnection(
        s"jdbc:hive2://localhost:$port/default", "graft", "")
      catch { case e: Throwable => last = e; Thread.sleep(500) }
    }
    throw last
  }

  test("external JDBC client reads the view catalog over the socket") {
    val (_, port) = server
    val conn = connect(port)
    try {
      val st = conn.createStatement()
      val rs = st.executeQuery(
        "SELECT COUNT(*) AS n FROM global_temp.vw_current_jobs")
      assert(rs.next() && rs.getLong("n") == 40L)
      // a business view with real shape: grouped counts, ordered
      val rs2 = st.executeQuery(
        "SELECT city, job_count FROM global_temp.vw_location_stats ORDER BY job_count DESC, city")
      val rows = Iterator.continually(rs2)
        .takeWhile(_.next()).map(r => (r.getString(1), r.getLong(2))).toList
      assert(rows.map(_._2).sum == 40L)
      // parse_location renders the merged-province form "… (mới)"
      assert(rows.map(_._1).toSet == Set("Hà Nội", "Hồ Chí Minh (mới)"))
      // star base tables are served alongside the views
      val rs3 = st.executeQuery(
        "SELECT COUNT(*) AS n FROM global_temp.DimJob WHERE is_current")
      assert(rs3.next() && rs3.getLong("n") == 40L)
    } finally conn.close()
  }

  test("second connection sees the same global catalog") {
    val (_, port) = server
    val conn = connect(port)
    try {
      val rs = conn.createStatement().executeQuery(
        "SELECT COUNT(*) AS n FROM global_temp.vw_salary_distribution")
      assert(rs.next() && rs.getLong("n") >= 1L)
    } finally conn.close()
  }

  test("monitoring views are served from the recorded run metrics") {
    val (_, port) = server
    val conn = connect(port)
    try {
      // runWarehouseDay (the fixture) recorded one etl_metrics row
      val rs = conn.createStatement().executeQuery(
        "SELECT dag_id, run_count, success_rate " +
          "FROM global_temp.vw_pipeline_health WHERE dag_id = 'jobinsight_dwh'")
      assert(rs.next())
      assert(rs.getLong("run_count") >= 1L && rs.getDouble("success_rate") == 1.0)
    } finally conn.close()
  }

  test("serving connections do not mutate the host session") {
    val (_, port) = server
    // the Thrift session manager flips datetime.java8API on every
    // session it OPENS — which must be the per-connection fork, never
    // the session the server was started from (a shared-session server
    // would poison every in-process Timestamp read)
    val conn = connect(port)
    conn.createStatement()
      .executeQuery("SELECT COUNT(*) AS n FROM global_temp.DimDate").next()
    conn.close()
    assert(spark.conf.get("spark.sql.datetime.java8API.enabled") == "false")
    import spark.implicits._
    val t = Seq("2026-03-01 00:00:00").toDF("s")
      .select(col("s").cast("timestamp")).head().get(0)
    assert(t.isInstanceOf[java.sql.Timestamp])
  }

  test("extension functions are callable through the endpoint") {
    val (_, port) = server
    val conn = connect(port)
    try {
      val rs = conn.createStatement().executeQuery(
        "SELECT strip_accents('Hà Nội') AS t")
      assert(rs.next() && rs.getString("t") == "Ha Noi")
    } finally conn.close()
  }
}
