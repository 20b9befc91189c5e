package graft.storage

import graft.SparkSpec
import java.nio.file.{Files, Paths}

class VersionedSpec extends SparkSpec {
  import spark.implicits._

  test("write/read/time-travel across versions") {
    val root = Files.createTempDirectory("versioned").resolve("t").toString
    val v1 = Versioned.write(Seq((1L, "a")).toDF("id", "v"), root)
    val v2 = Versioned.write(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), root)
    assert((v1, v2) == ((1L, 2L)))
    assert(Versioned.latestVersion(root).contains(2L))
    assert(Versioned.read(spark, root).count() == 2L)       // latest
    assert(Versioned.read(spark, root, 1L).count() == 1L)   // pinned
    assert(Versioned.versions(root) == Seq(1L, 2L))
  }

  test("a torn write above the pointer is invisible and swept") {
    val root = Files.createTempDirectory("versioned_torn").resolve("t").toString
    Versioned.write(Seq((1L, "a")).toDF("id", "v"), root)
    // crash-sim: a snapshot's files landed, no head moved, no pin published
    Seq((9L, "junk")).toDF("id", "v").write.mode("append").parquet(s"$root/data")
    // crash-sim: a snapshot committed, its version pin never published
    Store.commit(root, Seq(Store.Snapshot("data", Seq((8L, "junk")).toDF("id", "v"))))
    Seq((7L, "junk")).toDF("id", "v").write.mode("append").parquet(s"$root/data")
    assert(Versioned.latestVersion(root).contains(1L))
    assert(Versioned.versions(root) == Seq(1L))
    intercept[IllegalArgumentException](Versioned.read(spark, root, 2L))
    assert(Versioned.read(spark, root).collect().map(_.getLong(0)).toSeq == Seq(1L))
    // the next write sweeps the torn files and commits ITS version 2
    Versioned.write(Seq((2L, "real")).toDF("id", "v"), root)
    assert(Versioned.read(spark, root, 2L).collect()
      .map(_.getLong(0)).toSeq == Seq(2L))
    assert(spark.read.parquet(s"$root/data").collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("retain keeps the newest versions and pinned reads fail loudly after") {
    val root = Files.createTempDirectory("versioned_ret").resolve("t").toString
    for (i <- 1 to 4)
      Versioned.write((1 to i).map(j => (j.toLong, s"r$j")).toDF("id", "v"), root)
    assert(Versioned.retain(root, keep = 2) == Seq(1L, 2L))
    assert(Versioned.versions(root) == Seq(3L, 4L))
    assert(Versioned.read(spark, root).count() == 4L)
    val e = intercept[IllegalArgumentException](
      Versioned.read(spark, root, 1L))
    assert(e.getMessage.contains("retained away"))
    assert(!Files.exists(Paths.get(Store.pinRoot(root, "v=1"))))
  }
}
