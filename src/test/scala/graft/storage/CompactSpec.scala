package graft.storage

import graft.SparkSpec
import org.apache.spark.sql.functions._

class CompactSpec extends SparkSpec {
  import spark.implicits._

  test("compact merges a small-file table without changing its content") {
    val root = java.nio.file.Files.createTempDirectory("compact").toString
    val path = root + "/t"
    val df = (1 to 5000).map(i => (i.toLong, s"row$i")).toDF("id", "s")
    Store.commit(root, Seq(Store.Snapshot("t", df.repartition(64))))

    def parquetFiles: Int = {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(p).count(_.getPath.getName.endsWith(".parquet"))
    }
    assert(parquetFiles == 64)

    // ~tens of KB of data against a 1 MiB target → single output file
    val target = TableStore.compact(spark, root, "t", targetFileBytes = 1024 * 1024)
    assert(target == 1L && parquetFiles == 1)

    val back = spark.read.parquet(path)
    assert(back.count() == 5000)
    assert(back.except(df).isEmpty && df.except(back).isEmpty)
    assert(Store.read(spark, root, "t").except(df).isEmpty)
  }

  test("compact splits at the byte target instead of producing one giant file") {
    val root = java.nio.file.Files.createTempDirectory("compact2").toString
    val path = root + "/t"
    Store.commit(root, Seq(Store.Snapshot("t", (1 to 20000).map(i => (i.toLong, "x" * 100))
      .toDF("id", "s").repartition(32))))
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(p).getLength
    val target = TableStore.compact(spark, root, "t", targetFileBytes = bytes / 4)
    assert(target >= 4L && target <= 5L, s"got $target files for $bytes bytes")
    assert(spark.read.parquet(path).count() == 20000)
  }
}
