package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** What a workload needs from the run: seed, scratch space, the report,
  * the tracer and the set-up clock. */
final class RunContext(val seed: Long, val work: Path, val cpus: Int,
                       val report: Report, val tracer: Tracer) {
  private val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  var sessionSeconds = 0.0
  def sessionReady(): Unit = sessionSeconds = (System.currentTimeMillis() - jvmStartMs) / 1e3

  /** Set-up time = JVM + session start plus the workload's data set-up
    * (generate inputs, bootstrap). Tracing starts here: only the measured
    * cycles are traced. */
  def setupDone(dataSeconds: Double): Unit = {
    report.metric("setup_s", sessionSeconds + dataSeconds, "s")
    report.fact("session_start_s", f"$sessionSeconds%.2f")
    tracer.active = true
  }
}

/** Workload sizes; `tiny` is for the harness's own tests. */
final case class Sizes(firstDayCards: Int, backlogCards: Int, cardsPerDay: Int, corpusDocs: Int)

object Sizes {
  val full = Sizes(firstDayCards = 3000, backlogCards = 1500, cardsPerDay = 300, corpusDocs = 250)
  val tiny = Sizes(firstDayCards = 100, backlogCards = 200, cardsPerDay = 100, corpusDocs = 200)
}

/** `perfbench.Main --workload W --seed N --seconds S --trace 0|1 --work DIR
  * [--size full|tiny]`: runs one workload in one local[nproc] session,
  * prints its facts and metrics, and ends with one JSON result line.
  */
object Main {
  /** `day_steady` is not in BENCHMARK.json: the program fails its ground
    * truth (see perfbench/README.md, "Known program defect"). */
  val Workloads = Seq("first_day", "corpus_curation", "day_steady")

  /** Nominal seconds of one measured cycle (a day, or a curation pass) on
    * a 4-core box: the number of cycles a run measures is fixed by
    * `--seconds`, not by how fast this machine is, so the work per run is
    * the same everywhere. */
  private val NominalCycleSeconds = 30.0

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts.getOrElse("workload", "")
    require(Workloads.contains(workload), s"unknown workload '$workload'")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val sizes = if (opts.get("size").contains("tiny")) Sizes.tiny else Sizes.full
    val cycles = math.max(1, math.round(seconds / NominalCycleSeconds).toInt)
    val cpus = Runtime.getRuntime.availableProcessors()

    val report = new Report
    val loadStart = Host.loadavg()
    report.fact("workload", workload)
    report.fact("seed", seed)
    report.fact("held_out_seed", Host.HeldOutSeed)
    report.fact("cycles", cycles)
    Host.stamp(report, cpus, loadStart)

    Files.createDirectories(work)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val listener = new PhaseListener
    if (traced) spark.sparkContext.addSparkListener(listener)
    val tracer = new Tracer(traced, spark.sparkContext, s"$workload-$seed")
    val ctx = new RunContext(seed, work, cpus, report, tracer)
    ctx.sessionReady()

    try {
      workload match {
        case "first_day" => new DayWorkload(spark, ctx, steady = false, backlogCards = 0,
          cardsPerDay = sizes.firstDayCards, days = cycles).run()
        case "day_steady" => new DayWorkload(spark, ctx, steady = true,
          backlogCards = sizes.backlogCards, cardsPerDay = sizes.cardsPerDay, days = cycles).run()
        case "corpus_curation" => new CorpusWorkload(spark, ctx, nOriginal = sizes.corpusDocs,
          passes = cycles).run()
      }
      if (traced) sparkMetrics(listener, tracer, report, cycles)
    } catch {
      case scala.util.control.NonFatal(e) =>
        report.attempted += 1; report.failed += 1
        System.err.println(s"workload failed: $e")
        e.printStackTrace()
    }
    report.metric("peak_rss_mb", Host.peakRssMb(), "MB")
    Host.stampEnd(report)
    if (traced) opts.get("spans").foreach(p => tracer.writeJson(Paths.get(p)))
    spark.stop()
    report.printHuman()
    println(report.json)
  }

  /** Per-phase and per-cycle Spark accounting from the listener. The
    * driver gap is span time with no job (of any phase) running. */
  private def sparkMetrics(listener: PhaseListener, tracer: Tracer, report: Report,
                           cycles: Int): Unit = {
    listener.settle()
    report.metrics.get("cycle_s").foreach(m => report.metric("trace.cycle_s", m.value, "s", m.samples))
    val spans = tracer.all.filter(_.phase.isDefined)
    val phases = listener.phases.filter { case (p, _) => spans.exists(_.phase.contains(p)) }
    val jobs = phases.values.toSeq.flatMap(_.jobIntervals)
    def gap(ss: Seq[Span]) = ss.map(s => Intervals.uncovered(s.windowMs, jobs)).sum / 1e3 / cycles
    phases.toSeq.sortBy(_._1).foreach { case (p, a) =>
      report.metric(s"spark.$p.jobs", a.jobs.toDouble / cycles, "count")
      report.metric(s"spark.$p.tasks", a.tasks.toDouble / cycles, "count")
      report.metric(s"spark.$p.task_busy_s", a.busyNs / 1e9 / cycles, "s")
      report.metric(s"spark.$p.driver_gap_s", gap(spans.filter(_.phase.contains(p))), "s")
      report.metric(s"spark.$p.shuffle_bytes", a.shuffleBytes.toDouble / cycles, "bytes")
      report.metric(s"spark.$p.spill_bytes", a.spillBytes.toDouble / cycles, "bytes")
    }
    // the cycle's own work: traced-only layer probes are not part of it
    val cycle = phases.filter(_._1 != "probe").values.toSeq
    report.metric("spark.jobs", cycle.map(_.jobs).sum.toDouble / cycles, "count")
    report.metric("spark.tasks", cycle.map(_.tasks).sum.toDouble / cycles, "count")
    report.metric("spark.task_busy_s", cycle.map(_.busyNs).sum / 1e9 / cycles, "s")
    report.metric("spark.driver_gap_s",
      gap(spans.filter(s => s.parent == -1 && !s.phase.contains("probe"))), "s")
    report.metric("spark.shuffle_bytes", cycle.map(_.shuffleBytes).sum.toDouble / cycles, "bytes")
    report.metric("spark.spill_bytes", cycle.map(_.spillBytes).sum.toDouble / cycles, "bytes")
  }
}

/** Host stamp: the facts that make a number comparable, and the
  * contamination rule of `graft.Bench` (start load over a threshold). */
object Host {
  /** Seed held out from tuning, for validating later claims. */
  val HeldOutSeed = 20261017L

  def loadavg(): Seq[Double] =
    try Files.readString(Paths.get("/proc/loadavg")).split("\\s+").take(3).toSeq.map(_.toDouble)
    catch { case scala.util.control.NonFatal(_) => Seq(-1.0, -1.0, -1.0) }

  def stamp(report: Report, cpus: Int, loadStart: Seq[Double]): Unit = {
    val threshold = sys.env.getOrElse("SPARK_GRAFT_LOAD_THRESHOLD", "2.0").toDouble
    report.fact("nproc", cpus)
    report.fact("spark_graft_cpus", sys.env.getOrElse("SPARK_GRAFT_CPUS", "unset"))
    report.fact("heap_max_mb", Runtime.getRuntime.maxMemory() / (1 << 20))
    report.fact("jvm", s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}")
    report.fact("loadavg_start", loadStart.mkString(" "))
    report.fact("contaminated", loadStart.head > threshold)
  }

  def stampEnd(report: Report): Unit =
    report.fact("loadavg_end", loadavg().mkString(" "))

  /** Process high-water resident set size (VmHWM), MB. */
  def peakRssMb(): Double =
    try {
      val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray.map(_.toString)
        .find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case scala.util.control.NonFatal(_) => -1.0 }
}
