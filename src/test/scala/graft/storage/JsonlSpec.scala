package graft.storage

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

class JsonlSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "plain text", "en"),
    (2L, "quotes \" and \\ slashes\tand tabs", "en"),
    (3L, "unicode: Hà Nội — ✓", "vi"))
    .toDF("doc_id", "text", "lang")

  test("write/read round-trips every byte, strict mode") {
    val path = Files.createTempDirectory("jsonl_spec").resolve("d.jsonl").toString
    Jsonl.write(docs, path)
    val back = Jsonl.read(spark, path, docs.schema)
    assert(back.orderBy("doc_id").collect().toSeq ==
      docs.orderBy("doc_id").collect().toSeq)
    // overwrite is atomic-ish: second write replaces, not appends
    Jsonl.write(docs.limit(1), path)
    assert(Jsonl.read(spark, path, docs.schema).count() == 1L)
  }

  test("swap keeps no residue and a crashed swap is recoverable") {
    val path = Files.createTempDirectory("jsonl_swap").resolve("d.jsonl").toString
    Jsonl.write(docs, path)
    Jsonl.write(docs.limit(2), path)
    // the move-aside copy is cleaned up after a completed swap
    assert(!Files.exists(java.nio.file.Paths.get(path + ".__old")))
    assert(Jsonl.read(spark, path, docs.schema).count() == 2L)
    // simulate a crash between the two renames: old parked, target gone
    Files.move(java.nio.file.Paths.get(path),
      java.nio.file.Paths.get(path + ".__old"))
    assert(TableStore.restoreParked(path))
    assert(Jsonl.read(spark, path, docs.schema).count() == 2L)
    // a live target is never clobbered by recover
    assert(!TableStore.restoreParked(path))
    // and the next write after a crashed swap replaces cleanly
    Files.move(java.nio.file.Paths.get(path),
      java.nio.file.Paths.get(path + ".__old"))
    Jsonl.write(docs, path)
    assert(Jsonl.read(spark, path, docs.schema).count() == 3L)
    assert(!Files.exists(java.nio.file.Paths.get(path + ".__old")))
  }

  test("readStream ingests a landing dir incrementally, file by file") {
    val dir = Files.createTempDirectory("jsonl_stream")
    Files.writeString(dir.resolve("f1.jsonl"),
      """{"doc_id": 1, "text": "first", "lang": "en"}""" + "\n")
    val q = Jsonl.readStream(spark, dir.toString, docs.schema,
        maxFilesPerTrigger = 1)
      .writeStream.format("memory").queryName("jsonl_in")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("jsonl_in").count() == 1L)
      // a file landing later becomes a later micro-batch
      Files.writeString(dir.resolve("f2.jsonl"),
        """{"doc_id": 2, "text": "second", "lang": "vi"}""" + "\n" +
          """{"doc_id": 3, "text": "third", "lang": "en"}""" + "\n")
      q.processAllAvailable()
      assert(spark.table("jsonl_in").orderBy("doc_id")
        .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("quarantine read separates malformed lines and loses nothing") {
    val dir = Files.createTempDirectory("jsonl_spec_q")
    val f = dir.resolve("feed.jsonl")
    val goodLines = Seq(
      """{"doc_id": 1, "text": "ok", "lang": "en"}""",
      """{"doc_id": 2, "text": "also ok", "lang": "en"}""")
    val badLines = Seq("""{"doc_id": 3, "text": unquoted}""", """not json""")
    Files.write(f, String.join("\n",
      (goodLines ++ badLines): _*).getBytes("UTF-8"))
    val (good, corrupt) = Jsonl.readWithQuarantine(spark, f.toString, docs.schema)
    assert(good.count() == 2L)
    assert(good.agg(sum("doc_id")).head().getLong(0) == 3L)
    assert(corrupt.count() == 2L)
    assert(corrupt.as[String].collect().toSet == badLines.toSet)
    good.unpersist()
  }
}
