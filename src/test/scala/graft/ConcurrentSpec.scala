package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import scala.collection.concurrent.TrieMap

class ConcurrentSpec extends SparkSpec {

  test("results come back in input order, whatever order the thunks end in") {
    val out = Concurrent.all((0 until 6).map { i =>
      () => { Thread.sleep(20L * (6 - i)); i * 10 }
    })
    assert(out == Seq(0, 10, 20, 30, 40, 50))
    assert(Concurrent.all(Seq.empty[() => Int]).isEmpty)
  }

  test("a failure surfaces unwrapped, and only after every other thunk ended") {
    val ended = new AtomicInteger()
    val thunks: Seq[() => Int] = Seq(
      () => { Thread.sleep(200); ended.incrementAndGet() },
      () => throw new IllegalStateException("first"),
      () => { Thread.sleep(300); ended.incrementAndGet() },
      // fails sooner in time, but later in input order
      () => throw new IllegalArgumentException("second"))
    val e = intercept[IllegalStateException](Concurrent.all(thunks))
    assert(e.getMessage == "first")
    assert(ended.get() == 2)
  }

  test("jobs started inside the pool carry the caller's job-local properties") {
    val sc = spark.sparkContext
    val key = "graft.concurrent.spec.phase"
    val seen = TrieMap.empty[String, String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = e.properties
        Option(p.getProperty("spark.job.description")).filter(_.startsWith("concurrent-"))
          .foreach(d => seen.put(d, String.valueOf(p.getProperty(key))))
      }
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(key, "views")
    try {
      val counts = Concurrent.all((1 to 3).map { i =>
        () => {
          sc.setJobDescription(s"concurrent-$i")
          spark.range(i * 10).count()
        }
      })
      assert(counts == Seq(10L, 20L, 30L))
      val deadline = System.nanoTime() + 10000000000L
      while (seen.size < 3 && System.nanoTime() < deadline) Thread.sleep(20)
      assert(seen.keySet == Set("concurrent-1", "concurrent-2", "concurrent-3"))
      assert(seen.values.toSet == Set("views"))
      // the pool threads' own settings stay theirs
      assert(sc.getLocalProperty("spark.job.description") == null)
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
  }
}
