package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Periodic-snapshot fact helpers: carry-forward and priority dedup.
  *
  * The reference's daily fact is a pure periodic snapshot with day-over-day
  * carry-forward (`src/etl/warehouse/facts/daily.py:122-181`): yesterday's
  * unexpired rows are copied into today unless today already has a row for
  * the same key, and a staging-sourced row always beats a carried row for
  * the same `(key, date)` (DELETE+INSERT at `facts/daily.py:213-231`;
  * SURVEY.md §7.5-4).
  *
  * Scale: one anti-join shuffle on the snapshot key; both inputs are
  * single-day slices of a date-partitioned fact, so the shuffle is bounded
  * by a day's volume, not the fact's history. The dedup variant is a
  * window over `(key, date)` — same partitioning as the anti-join, and AQE
  * can reuse the exchange.
  */
object Snapshots {

  /** M5: rows for today = today's own rows ∪ yesterday's not-expired rows
    * whose key is absent today, re-stamped via `restamp`.
    *
    * @param notExpired carry-eligibility predicate over yesterday's rows
    *                   (reference: `due_date_id IS NULL OR due_date_id >= today`,
    *                   `facts/daily.py:145`)
    * @param restamp    columns to overwrite on carried rows (new date_id,
    *                   fresh crawl timestamp, today's load_month, …)
    */
  def carryForward(yesterday: DataFrame, today: DataFrame, key: Seq[String],
                   notExpired: Column, restamp: Seq[(String, Column)]): DataFrame = {
    val carried0 = yesterday.filter(notExpired).join(today, key, "left_anti")
    val carried = restamp.foldLeft(carried0) { case (df, (c, v)) => df.withColumn(c, v) }
    today.unionByName(carried)
  }

  /** M6 priority rule as a set operation: for duplicate `(key, date)` rows,
    * the row with the smallest `priority` value wins (staging=0 < carried=1),
    * ties broken by `tiebreak` ascending. Also covers W1 (duplicate-fact
    * cleanup keeping MIN(fact_id), `facts/daily.py:250-286`) with
    * priority = lit(0) and tiebreak = fact_id.
    */
  def dedupByPriority(df: DataFrame, key: Seq[String],
                      priority: Column, tiebreak: Column*): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(key.map(col): _*)
      .orderBy(priority.asc +: tiebreak.map(_.asc): _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }
}
