package graft.expressions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import RollingHashMin.rolling_hash_min

/** Native rolling-hash fingerprint: codegen vs interpreted vs an
  * independent reference, shift tolerance, edge cases, SQL surface
  * (adversarial codegen ≡ interpreted input is a row of KernelCodegenSpec).
  */
class RollingHashSpec extends SparkSpec {
  import spark.implicits._

  private def viaSpark(texts: Seq[String], k: Int, codegen: Boolean): Seq[Any] = {
    val conf = Map(
      "spark.sql.codegen.wholeStage" -> codegen.toString,
      "spark.sql.codegen.factoryMode" -> (if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN"))
    val saved = conf.keys.map(key => key -> spark.conf.getOption(key))
    conf.foreach { case (key, value) => spark.conf.set(key, value) }
    try texts.toDF("t").select(rolling_hash_min(col("t"), k).as("h"))
      .collect().map(r => if (r.isNullAt(0)) null else r.getLong(0)).toSeq
    finally saved.foreach { case (key, value) =>
      value.fold(spark.conf.unset(key))(spark.conf.set(key, _)) }
  }

  /** Min over every k-byte window's polynomial hash, each window hashed
    * from scratch (O(n·k), no rolling update).
    */
  private def reference(s: String, k: Int): Long = {
    val bytes = s.getBytes("UTF-8")
    if (bytes.isEmpty) 0L
    else bytes.sliding(math.min(k, bytes.length))
      .map(_.foldLeft(0L)((h, b) => h * RollingHashMin.B + (b & 0xFF))).min
  }

  private val samples = Seq(
    "the quick brown fox jumps over the lazy dog",
    "short", "", "x",
    "Kỹ Sư Phần Mềm với tiếng Việt",
    "aaaaaaaaaaaaaaaaaaaaaaaaaaaa")

  test("codegen, interpreted and reference implementations agree") {
    val ref = samples.map(s => reference(s, 8))
    assert(viaSpark(samples, 8, codegen = true) == ref)
    assert(viaSpark(samples, 8, codegen = false) == ref)
    assert(samples.map(s => RollingHashMin.hash(UTF8String.fromString(s), 8)) == ref)
  }

  test("shift tolerance: shared region dominates the fingerprint") {
    val a = "PREFIX zzz-common-fingerprint-region-zzz SUFFIX1"
    val b = "different-start zzz-common-fingerprint-region-zzz OTHER"
    val ha = RollingHashMin.hash(UTF8String.fromString(a), 16)
    val hb = RollingHashMin.hash(UTF8String.fromString(b), 16)
    // both minima fall inside the long shared region for these inputs
    assert(ha == hb, s"$ha vs $hb")
  }

  test("texts shorter than k hash their full content; empty is 0") {
    assert(RollingHashMin.hash(UTF8String.fromString("ab"), 16) ==
      RollingHashMin.hash(UTF8String.fromString("ab"), 2))
    assert(RollingHashMin.hash(UTF8String.EMPTY_UTF8, 16) == 0L)
  }

  test("SQL surface: rolling_hash_min and clean_company_name registered") {
    Functions.register(spark)
    Seq("hello world document").toDF("t").createOrReplaceTempView("rh_t")
    val viaSql = spark.sql("SELECT rolling_hash_min(t, 8) FROM rh_t").head().getLong(0)
    assert(viaSql == RollingHashMin.hash(UTF8String.fromString("hello world document"), 8))
    val name = spark.sql("SELECT clean_company_name('công ty tnhh fpt software')")
      .head().getString(0)
    assert(name == "Công Ty TNHH FPT Software")
  }

  test("SQL surface: invalid k fails analysis cleanly, not with a raw CCE") {
    Functions.register(spark)
    Seq("text").toDF("t").createOrReplaceTempView("rh_bad")
    for (bad <- Seq("rolling_hash_min(t, t)",        // non-foldable
                    "rolling_hash_min(t, 'x')",      // non-integral
                    "rolling_hash_min(t, 0)",        // k < 1
                    "rolling_hash_min(t, -3)",
                    "rolling_hash_min(t, 4294967312)")) { // 2^32+16: would wrap to 16

      val e = intercept[org.apache.spark.sql.AnalysisException] {
        spark.sql(s"SELECT $bad FROM rh_bad").collect()
      }
      assert(e.getMessage.contains("rolling_hash_min"), s"$bad → ${e.getMessage}")
    }
    // the expression itself also rejects k < 1
    intercept[IllegalArgumentException] {
      RollingHashMin.rolling_hash_min(col("t"), 0)
    }
  }

  test("null input stays null") {
    val r = Seq(Option.empty[String]).toDF("t")
      .select(rolling_hash_min(col("t"), 8)).head()
    assert(r.isNullAt(0))
  }
}
