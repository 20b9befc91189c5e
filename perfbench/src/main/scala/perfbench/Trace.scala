package perfbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed region of a run. `parent` is -1 for a root span. */
final case class Span(id: Int, parent: Int, name: String, phase: Option[String],
                      startMs: Long, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
  /** Wall-clock window in epoch milliseconds, comparable to listener times. */
  def windowMs: (Long, Long) = (startMs, startMs + (endNs - startNs) / 1000000L)
}

/** Span recorder. Spans nest through a stack (the harness is single
  * threaded), are kept in memory and written out once at the end. Each
  * span also tags the Spark jobs started inside it with its phase, so
  * [[PhaseListener]] can attribute jobs, tasks and bytes to it.
  * A disabled tracer, or one not yet `active` (set-up is not traced),
  * times nothing and tags nothing.
  */
final class Tracer(val enabled: Boolean, sc: SparkContext, runId: String) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  var active = false

  def span[T](name: String, phase: Option[String] = None)(body: => T): T = {
    if (!enabled || !active) return body
    val id = nextId()
    val parent = stack.headOption.getOrElse(-1)
    val prevPhase = sc.getLocalProperty(PhaseListener.PhaseKey)
    phase.foreach(sc.setLocalProperty(PhaseListener.PhaseKey, _))
    stack = id :: stack
    val ms = System.currentTimeMillis(); val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      if (phase.isDefined) sc.setLocalProperty(PhaseListener.PhaseKey, prevPhase)
      spans += Span(id, parent, name, phase, ms, t0, t1)
    }
  }

  /** [[span]] that also returns the body's wall seconds, measured whether
    * or not tracing is on. */
  def timed[T](name: String, phase: Option[String] = None)(body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = span(name, phase)(body)
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private var counter = 0
  private def nextId(): Int = { counter += 1; counter }

  def all: Seq[Span] = spans.toSeq.sortBy(_.startNs)

  /** Span duration minus the time covered by its direct children. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.toSeq.filter(_.parent == s.id).map(k => (k.startNs, k.endNs))
    (s.endNs - s.startNs - Intervals.covered(kids)) / 1e9
  }

  def writeJson(path: java.nio.file.Path): Unit = {
    val lines = all.map { s =>
      f"""{"run":"$runId","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        f""""start_ms":${s.startMs},"seconds":${s.seconds}%.6f,"self_seconds":${selfSeconds(s)}%.6f}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

/** Per-phase Spark accounting: jobs, tasks, task busy time, shuffle and
  * spill bytes, and the wall time of each job (for the driver gap — span
  * time during which no job of the phase was running).
  */
final class PhaseListener extends SparkListener {
  import PhaseListener._

  final class Acc {
    var jobs = 0L; var tasks = 0L; var busyNs = 0L
    var shuffleBytes = 0L; var spillBytes = 0L
    val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  private val byPhase = new ConcurrentHashMap[String, Acc]()
  private val stagePhase = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, (String, Long)]()
  @volatile private var lastEvent = System.nanoTime()

  private def acc(p: String): Acc = byPhase.computeIfAbsent(p, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties).flatMap(ps => Option(ps.getProperty(PhaseKey)))
      .getOrElse("other")
    e.stageIds.foreach(stagePhase.put(_, p))
    jobStart.put(e.jobId, (p, e.time))
    acc(p).synchronized { acc(p).jobs += 1 }
    lastEvent = System.nanoTime()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobStart.remove(e.jobId)).foreach { case (p, t0) =>
      val a = acc(p); a.synchronized { a.jobIntervals += ((t0, e.time)) }
    }
    lastEvent = System.nanoTime()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val p = Option(stagePhase.get(e.stageId)).getOrElse("other")
    val m = e.taskMetrics
    val a = acc(p)
    a.synchronized {
      a.tasks += 1
      if (m != null) {
        a.busyNs += m.executorRunTime * 1000000L
        a.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
    lastEvent = System.nanoTime()
  }

  /** Wait (up to 5 s) until no event has arrived for 300 ms: the listener
    * bus is asynchronous, so late task-end events must land first. */
  def settle(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    while (System.nanoTime() - lastEvent < 300000000L && System.nanoTime() < deadline)
      Thread.sleep(50)
  }

  def phases: Map[String, Acc] = byPhase.asScala.toMap
}

object PhaseListener {
  val PhaseKey = "perfbench.phase"
}

object Intervals {
  /** Total length of the union of `intervals` (start, end). */
  def covered(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L; var cs = 0L; var ce = Long.MinValue
    intervals.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > ce) { if (ce > cs) total += ce - cs; cs = a; ce = b }
      else ce = math.max(ce, b)
    }
    if (ce > cs) total += ce - cs
    total
  }

  /** Length of `window` not covered by any of `intervals`. */
  def uncovered(window: (Long, Long), intervals: Seq[(Long, Long)]): Long = {
    val (ws, we) = window
    (we - ws) - covered(intervals.map { case (a, b) => (math.max(a, ws), math.min(b, we)) })
  }
}
