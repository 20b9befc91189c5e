package graft.storage

import graft.SparkSpec
import java.nio.file.Files

class RetentionSpec extends SparkSpec {
  import spark.implicits._

  test("retentionDelete counts the removed rows and leaves only the rewritten table") {
    val dir = Files.createTempDirectory("retention")
    val path = dir.resolve("t").toString
    (1 to 100).map(i => (i.toLong, s"row$i")).toDF("id", "s").write.parquet(path)
    val archived = (1 to 30).map(_.toLong).toDF("id")
    assert(TableStore.retentionDelete(spark, path, archived, Seq("id")) == 30L)
    val back = spark.read.parquet(path)
    assert(back.count() == 70L && back.where($"id" <= 30L).isEmpty)
    // published through the temp-dir swap: no temp or parked copy remains
    assert(Files.list(dir).toArray.map(_.toString).toSeq == Seq(path))
  }
}
