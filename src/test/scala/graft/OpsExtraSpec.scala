package graft

import graft.operators.Scd2
import graft.functions.Hashes
import org.apache.spark.sql.functions._

/** SCD2 change-detection edge cases + JSON skills codec round-trip. */
class OpsExtraSpec extends SparkSpec {
  import spark.implicits._

  test("SCD2: empty skills array vs null is NOT a change (Python falsy parity)") {
    // reference job.py: str(new_skills) if new_skills else None — [] is falsy,
    // so null→[] must not spawn a phantom version.
    val existing = Seq(("A", Seq.empty[String]))
      .toDF("k", "skills")
      .withColumn("skills", when(lit(false), col("skills"))) // null array, keeps type
      .withColumn("effective_date", lit("2026-01-01").cast("date"))
      .withColumn("expiry_date", lit(null).cast("date"))
      .withColumn("is_current", lit(true))
    val incoming = Seq(("A", Seq.empty[String])).toDF("k", "skills")
    val merged = Scd2.merge(existing, incoming, Seq("k"), Seq("skills"), lit("2026-01-02"))
    assert(merged.count() == 1)                       // no phantom version
    assert(merged.filter(!col("is_current")).count() == 0)
    // but a real skills change still versions
    val incoming2 = Seq(("A", Seq("Python"))).toDF("k", "skills")
    val merged2 = Scd2.merge(existing, incoming2, Seq("k"), Seq("skills"), lit("2026-01-02"))
    assert(merged2.count() == 2)
  }

  test("SCD2: a STRING column literally '[]' is NOT conflated with empty") {
    // the empty-array falsy normalization is gated on ArrayType — a string
    // field changing "[]" → null IS a change and must version
    val existing = Seq(("A", "[]")).toDF("k", "v")
      .withColumn("effective_date", lit("2026-01-01").cast("date"))
      .withColumn("expiry_date", lit(null).cast("date"))
      .withColumn("is_current", lit(true))
    val incoming = Seq(("A", Option.empty[String])).toDF("k", "v")
    val merged = Scd2.merge(existing, incoming, Seq("k"), Seq("v"), lit("2026-01-02"))
    assert(merged.count() == 2) // expired + fresh: "[]"→null versions
  }

  test("skills JSON codec round-trips arrays and unicode") {
    val df = Seq(Seq("Python", "Kỹ Sư", "C++")).toDF("skills")
    val json = df.select(Hashes.skillsToJson(col("skills")).as("j"))
    assert(json.head().getString(0) == """["Python","Kỹ Sư","C++"]""")
    val back = json.select(Hashes.skillsFromJson(col("j")).as("s"))
      .head().getSeq[String](0)
    assert(back == Seq("Python", "Kỹ Sư", "C++"))
  }
}
