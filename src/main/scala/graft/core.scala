package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Table access layer: the driver's synthetic star schema lives as one
  * parquet file per table under an sf dir (see /root/repo/TESTDATA.md).
  *
  * At 100 TB these would be directory-partitioned tables (fact tables
  * partitioned by date, dims unpartitioned); `spark.read.parquet` on a
  * directory is the same call, so nothing here changes at scale.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")
}

/** Exact (engine-portable) numeric aggregation.
  *
  * The correctness gate hash-compares our parquet output against a DuckDB
  * oracle. Floating-point SUM/AVG is order-dependent, and shuffle order is
  * not deterministic across engines — so every aggregated double goes
  * through decimal (exact, order-independent) and only the final value is
  * cast back to double (one deterministic rounding, identical in both
  * engines). Small per-value casts keep decimal precision far from the
  * 38-digit cap so no engine-specific scale-truncation kicks in.
  */
object Exact {
  private val d12_2 = DecimalType(12, 2)

  /** SUM(x) as an exact decimal, returned as double. */
  def dsum(c: Column): Column = sum(c.cast(d12_2)).cast(DoubleType)

  /** Order-independent AVG: exact decimal sum / count, in doubles. */
  def davg(c: Column): Column = dsum(c) / count(c)

  // The same expressions in DuckDB SQL, for oracle text construction.
  def sqlSum(x: String): String =
    s"CAST(SUM(CAST($x AS DECIMAL(12,2))) AS DOUBLE)"
  def sqlAvg(x: String): String = s"${sqlSum(x)} / COUNT($x)"
}

/** One correctness-gate query: a Spark implementation plus (usually) an
  * equivalent DuckDB oracle. Registered in [[SparkEntry]].
  */
trait GateQuery {
  def name: String
  def run(spark: SparkSession, dir: String): DataFrame
  /** ANSI-ish SQL the driver runs in DuckDB over the same parquet tables.
    * None → driver falls back to a rows-only check.
    */
  def oracle: Option[String]
}
