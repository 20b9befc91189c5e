package graft.app

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.hive.thriftserver.HiveThriftServer2
import org.apache.hive.service.server.HiveServer2
import graft.Concurrent
import graft.monitoring.Metrics
import graft.storage.Store
import graft.views.{View, Views}

/** Entry point 3 — the BI serving endpoint (SURVEY §3.3).
  *
  * The reference's analytics surface is Superset speaking SQL to the
  * warehouse over a socket (reference `docker-compose.yml` wires
  * superset → postgres; the views it queries are
  * `sql/views/base_views.sql:11`, `business_views.sql:14`). The Spark
  * counterpart is the HiveServer2 Thrift protocol: any hive-jdbc /
  * pyhive / Superset / Tableau client connects to
  * `jdbc:hive2://host:port/default` and queries the 15-view catalog
  * plus the star-schema base tables under the `global_temp` schema
  * (`SELECT … FROM global_temp.vw_current_jobs`).
  *
  * The catalog is registered as GLOBAL temp views (queryable as
  * `global_temp.vw_…`), so every JDBC connection — each of which forks
  * its own session — sees the same catalog while staying isolated: a
  * client's `SET x=y` (and the conf the Thrift session manager itself
  * flips at open, `spark.sql.datetime.java8API.enabled`) lands on that
  * client's forked session, never on the session the server was
  * started from. (The `singleSession=true` alternative shares the
  * parent session and with it every such mutation.)
  *
  * The views are materialized in memory when the catalog is registered,
  * over one shared current-star relation that is materialized first and
  * released once the views exist, and refreshed by the next registration
  * (see [[registerCatalog]]).
  */
object ServeApp {

  /** Names under which the star base tables are served, Superset-parity
    * with the reference's `jobinsight` warehouse schema (`dwh` tables).
    */
  private val starTables = Apps.StarTables.map(_.stripPrefix("dwh/"))

  /** Register the serving catalog: the 15 analytic views and the 2
    * monitoring rollups, each as a session temp view and as a GLOBAL temp
    * view (visible to every session forked from `spark`'s context under
    * the `global_temp` database), plus the six star base tables under
    * `global_temp`.
    *
    * The views are MATERIALIZED here. First the shared current-star
    * relation ([[graft.views.Views.current]]) is `localCheckpoint`ed, so
    * the star is read and the dims broadcast once; then all views at once
    * over it ([[graft.Concurrent.all]]): each view's rows below its final
    * ORDER BY are `localCheckpoint`ed and the sort stays lazy on top
    * ([[graft.views.View]]), so a served `SELECT … LIMIT n` is one top-k
    * job over in-memory rows instead of a re-run of the star joins. The
    * shared relation's blocks are released as soon as the views exist.
    * The catalog therefore shows the warehouse as of this call; the next
    * `registerCatalog` refreshes it and releases this one's blocks (a
    * frame taken from the old catalog stops working then).
    * `localCheckpoint` keeps no lineage: a lost executor loses its view
    * blocks, and the remedy is to register again — a deliberate trade of
    * fault tolerance for a serving catalog that costs no re-computation.
    * The monitoring rollups roll up the run metrics the apps record under
    * `<root>/monitoring/`, and are empty before the first run (Grafana
    * parity: reference `monitoring_schema.sql:58-80`).
    */
  def registerCatalog(spark: SparkSession, warehouseRoot: String,
                      runDate: String): Unit = {
    val star = Apps.readStar(spark, warehouseRoot)
    Seq(star.dimJob, star.dimCompany, star.dimLocation, star.dimDate,
      star.fact, star.bridge).zip(starTables).foreach {
      case (df, name) => df.createOrReplaceGlobalTempView(name)
    }
    def monitoring(table: String, schema: StructType) =
      Store.read(spark, warehouseRoot, s"monitoring/$table", schema)
    val rollups = Seq(
      Metrics.pipelineHealth(monitoring("etl_metrics", Metrics.etlMetricsSchema), lit(runDate)),
      Metrics.dataQualityTrend(
        monitoring("quality_metrics", Metrics.qualityMetricsSchema), lit(runDate)))
    val current = Views.current(star).localCheckpoint(eager = true)
    val views = Views.all(current, lit(runDate)) ++ rollups
    val rows =
      try Concurrent.all(views.map(v => () => v.rows.localCheckpoint(eager = true)))
      finally release(current)
    views.zip(rows).foreach { case (v, r) =>
      val served = View(v.name, r, v.order: _*).df
      served.createOrReplaceTempView(v.name)
      served.createOrReplaceGlobalTempView(v.name)
    }
    val previous = synchronized { val p = materialized; materialized = rows; p }
    previous.foreach(release)
  }

  /** The materialized view rows of the last [[registerCatalog]]. */
  private var materialized = Seq.empty[DataFrame]

  /** Drop the blocks of a `localCheckpoint`ed frame. */
  private def release(checkpointed: DataFrame): Unit =
    checkpointed.queryExecution.logical.collect { case r: LogicalRDD => r.rdd }
      .foreach(_.unpersist(blocking = false))

  /** Register the catalog and start the Thrift endpoint on `port`
    * (localhost bind; pass `bindHost` to expose it). Returns the server
    * handle — callers own its lifecycle (`stop()`). Typed as the public
    * `HiveServer2` supertype: Spark's `HiveThriftServer2` class itself
    * is `private[hive]`.
    */
  def start(spark: SparkSession, warehouseRoot: String, runDate: String,
            port: Int, bindHost: String = "localhost"): HiveServer2 = {
    registerCatalog(spark, warehouseRoot, runDate)
    // Session-conf entries flow into the HiveConf the server snapshots
    // at init (sessionState.newHadoopConf copies SQL conf settings).
    spark.sqlContext.setConf("hive.server2.thrift.port", port.toString)
    spark.sqlContext.setConf("hive.server2.thrift.bind.host", bindHost)
    HiveThriftServer2.startWithSparkSession(spark, exitOnError = false)
  }

  /** `ServeApp <warehouseRoot> <runDate> [port] [bindHost]` — serves the
    * catalog until killed.
    */
  def main(args: Array[String]): Unit = {
    val root = args.lift(0).getOrElse("warehouse")
    val runDate = args.lift(1).getOrElse(
      java.time.LocalDate.now(java.time.ZoneOffset.UTC).toString)
    val port = args.lift(2).map(_.toInt).getOrElse(10000)
    val bindHost = args.lift(3).getOrElse("localhost")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .config("spark.sql.extensions", "graft.expressions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .appName("graft-serve")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    start(spark, root, runDate, port, bindHost)
    val nViews = spark.catalog.listTables("global_temp")
      .filter(col("name").startsWith("vw_")).count()
    println(s"""{"endpoint":"jdbc:hive2://$bindHost:$port/default","views":$nViews,"tables":${starTables.size}}""")
    Thread.currentThread().join() // serve until the process is killed
  }
}
