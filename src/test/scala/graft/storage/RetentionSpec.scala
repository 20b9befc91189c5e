package graft.storage

import graft.SparkSpec
import java.nio.file.Files

class RetentionSpec extends SparkSpec {
  import spark.implicits._

  test("retentionDelete counts the removed rows and leaves only the rewritten table") {
    val dir = Files.createTempDirectory("retention")
    val path = dir.resolve("t").toString
    Store.commit(dir.toString, Seq(Store.Snapshot("t",
      (1 to 100).map(i => (i.toLong, s"row$i")).toDF("id", "s"))))
    val archived = (1 to 30).map(_.toLong).toDF("id")
    assert(TableStore.retentionDelete(spark, dir.toString, "t", archived, Seq("id")) == 30L)
    val back = spark.read.parquet(path)
    assert(back.count() == 70L && back.where($"id" <= 30L).isEmpty)
    // published by one store commit: the table and its head, nothing else
    assert(Files.list(dir).toArray.map(_.toString).toSeq.sorted ==
      Seq(dir.resolve("_head").toString, path))
    // and the table directory holds exactly the head's files
    val live = Store.head(dir.toString).of("t").map(f => dir.resolve(f).toString)
    assert(Files.list(dir.resolve("t")).toArray.map(_.toString)
      .filterNot(_.endsWith(".crc")).toSeq.sorted == live.sorted)
  }
}
