package graft.expressions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import UnicodeNormalize.{strip_accents, unicode_nfc}

/** Unicode normalization expression: NFC composition, accent stripping,
  * ASCII fast path, SQL surface (codegen ≡ interpreted is a row of
  * KernelCodegenSpec).
  * Non-ASCII test strings are written with explicit \u escapes so
  * composed vs decomposed forms are unambiguous in source.
  */
class UnicodeNormalizeSpec extends SparkSpec {
  import spark.implicits._

  private val composedE = "é"        // é, precomposed
  private val decomposedE = "é"     // e + combining acute

  private def viaSpark(texts: Seq[String], strip: Boolean,
                       codegen: Boolean): Seq[String] = {
    spark.conf.set("spark.sql.codegen.wholeStage", codegen.toString)
    spark.conf.set("spark.sql.codegen.factoryMode",
      if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN")
    val f = if (strip) strip_accents _ else unicode_nfc _
    try texts.toDF("t").select(f(col("t")).as("s"))
      .collect().map(r => if (r.isNullAt(0)) null else r.getString(0)).toSeq
    finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("NFC composes decomposed input; idempotent on composed") {
    val out = viaSpark(Seq(s"Caf$decomposedE", s"Caf$composedE"),
      strip = false, codegen = true)
    assert(out == Seq(s"Caf$composedE", s"Caf$composedE"))
  }

  test("strip_accents drops combining marks after decomposition") {
    val out = viaSpark(
      Seq(s"Caf$composedE", "naïve", "señor", "ça",
        s"Caf$decomposedE", "tiếng Việt"),
      strip = true, codegen = true)
    assert(out == Seq("Cafe", "naive", "senor", "ca", "Cafe", "tieng Viet"))
  }

  test("non-decomposable letters and ASCII pass through; null is null") {
    val out = viaSpark(Seq("ø đ", "plain"), strip = true,
      codegen = true)
    assert(out == Seq("ø đ", "plain"))
    val n = Seq((1, null: String)).toDF("i", "t")
      .select(strip_accents(col("t"))).head()
    assert(n.isNullAt(0))
  }

  test("ASCII fast path returns the input UTF8String unchanged") {
    import org.apache.spark.unsafe.types.UTF8String
    val u = UTF8String.fromString("ascii only")
    assert(UnicodeNormalize.normalize(u, strip = true) eq u)
    assert(UnicodeNormalize.normalize(u, strip = false) eq u)
  }

  test("SQL surface: unicode_nfc and strip_accents registered") {
    Functions.register(spark)
    val r = spark.sql(
      s"SELECT unicode_nfc('Caf$decomposedE'), " +
        s"strip_accents('Caf$composedE naïve')").head()
    assert(r.getString(0) == s"Caf$composedE")
    assert(r.getString(1) == "Cafe naive")
  }
}
