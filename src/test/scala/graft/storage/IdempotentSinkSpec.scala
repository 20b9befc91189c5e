package graft.storage

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

class IdempotentSinkSpec extends SparkSpec {
  import spark.implicits._

  test("replayed batch ids are skipped; the store never duplicates") {
    val path = Files.createTempDirectory("idem_sink").resolve("t").toString
    val b0 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    assert(IdempotentSink.writeBatch(b0, path, 0L))
    // at-least-once replay of batch 0 — with DIFFERENT (stale) content;
    // the commit marker wins, nothing is rewritten
    assert(!IdempotentSink.writeBatch(b0.limit(1), path, 0L))
    assert(IdempotentSink.writeBatch(Seq((3L, "c")).toDF("id", "v"), path, 1L))
    val back = IdempotentSink.readCommitted(spark, path, b0.schema)
    assert(back.count() == 3L)
    assert(back.agg(sum("id")).head().getLong(0) == 6L)
  }

  test("a torn write (no marker) is invisible and replay repairs it") {
    val path = Files.createTempDirectory("idem_torn").resolve("t").toString
    val df = Seq((1L, "a")).toDF("id", "v")
    // simulate a crash after files landed but before the head moved
    df.write.parquet(s"$path/batches")
    assert(!IdempotentSink.alreadyCommitted(path, 0L))
    assert(IdempotentSink.readCommitted(spark, path, df.schema).count() == 0L)
    // the replay commits cleanly and its commit sweeps the torn files
    assert(IdempotentSink.writeBatch(df, path, 0L))
    assert(IdempotentSink.readCommitted(spark, path, df.schema).count() == 1L)
    assert(spark.read.parquet(s"$path/batches").count() == 1L)
  }

  test("end-to-end: foreachBatch through the sink is exactly-once") {
    implicit val sqlCtx = spark.sqlContext
    val path = Files.createTempDirectory("idem_e2e").resolve("t").toString
    val input = MemoryStream[(Long, Double)]
    val q = input.toDF().toDF("id", "x").writeStream
      .outputMode("append").foreachBatch(IdempotentSink.sink(path)).start()
    try {
      input.addData((1L, 1.5), (2L, 2.5)); q.processAllAvailable()
      input.addData((3L, 3.5)); q.processAllAvailable()
      val schema = Seq((1L, 1.0)).toDF("id", "x").schema
      val back = IdempotentSink.readCommitted(spark, path, schema)
      assert(back.count() == 3L)
      assert(Files.list(Paths.get(path)).count() >= 2)
      assert(Store.head(path).txn.contains(1L)) // two batches, ids 0 and 1
    } finally q.stop()
  }
}
