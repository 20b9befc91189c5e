package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Generic SCD Type-2 merge.
  *
  * Re-expresses the reference's per-row dimension merge loops
  * (`src/etl/warehouse/dimensions/job.py:16-93` and
  * `dimensions/company.py:23-103` in the reference repo) as ONE set-level
  * full-outer join — the only shuffle in the operator. Semantics preserved
  * exactly:
  *
  *   - change detection compares only `compareCols` (null-safe);
  *   - on change: the current row is expired (`expiry_date = runDate`,
  *     `is_current = false`) AND a new current row is inserted with
  *     `effective_date = runDate` — same-day double-change therefore yields
  *     two rows effective the same day, disambiguated only by `is_current`,
  *     exactly like the reference (SURVEY.md §7.5-3);
  *   - brand-new keys insert a current row;
  *   - unmatched existing rows and all historical (non-current) rows pass
  *     through untouched;
  *   - incoming batch is deduplicated on the key first
  *     (reference `dimensions/job.py:27`).
  *
  * Scale: the join shuffles on the business key; dimensions are orders of
  * magnitude smaller than facts, and history rows are not joined at all
  * (filtered out before the join, unioned back after), so the shuffle is
  * bounded by |current| + |batch|.
  */
object Scd2 {

  val EffectiveCol = "effective_date"
  val ExpiryCol    = "expiry_date"
  val CurrentCol   = "is_current"

  /** Reference change-detection semantics: values are compared STRINGIFIED
    * with null treated as '' (`str(old or '') != str(new or '')`,
    * reference `dimensions/job.py:67-71`) — so a null↔'' flip is NOT a
    * change and does not spawn a phantom SCD2 version. Arrays compare via
    * their stringified form, matching the reference's stringified skills
    * compare; an EMPTY array is falsy in Python (`str([] or '') == ''`), so
    * for ARRAY-typed columns only, the Spark stringification '[]' is
    * normalized to '' and an empty↔null skills flip is likewise not a
    * change. (A STRING column whose literal value is "[]" must NOT be
    * conflated with empty — hence the dataType gate.)
    */
  private def refEquals(a: Column, b: Column, isArray: Boolean): Column = {
    def s(c: Column) =
      if (isArray) coalesce(nullif(c.cast("string"), lit("[]")), lit(""))
      else coalesce(c.cast("string"), lit(""))
    s(a) === s(b)
  }

  private def changedPredicate(compare: Seq[String], arrayCols: Set[String]): Column =
    compare.map(c =>
      !refEquals(col(s"cur.$c"), col(s"inc.$c"), arrayCols.contains(c))).reduce(_ || _)

  private def arrayTyped(df: DataFrame): Set[String] =
    df.schema.fields.collect {
      case f if f.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType] => f.name
    }.toSet

  /** @param existing  full dim content: key ++ attrs ++ effective/expiry/is_current
    * @param incoming  batch: key ++ attrs (attr set must match existing's)
    * @param key       business key column(s)
    * @param compare   change-detection columns (subset of attrs);
    *                  columns NOT listed keep their first-seen value, like
    *                  `company_name` in the reference (SURVEY.md §7.5-9)
    * @param runDate   the merge date (explicit for determinism — SURVEY.md §7.5-1)
    */
  def merge(existing: DataFrame, incoming: DataFrame,
            key: Seq[String], compare: Seq[String], runDate: Column): DataFrame = {
    val attrs  = existing.columns.toSeq.filterNot(
      c => key.contains(c) || Seq(EffectiveCol, ExpiryCol, CurrentCol).contains(c))
    val inc    = incoming.dropDuplicates(key)
    val hist   = existing.filter(!col(CurrentCol))
    val cur    = existing.filter(col(CurrentCol))

    val joined = cur.as("cur").join(
      inc.as("inc"),
      key.map(k => col(s"cur.$k") === col(s"inc.$k")).reduce(_ && _),
      "full_outer")

    val hasCur  = col(s"cur.${key.head}").isNotNull
    val hasInc  = col(s"inc.${key.head}").isNotNull
    val changed = changedPredicate(compare, arrayTyped(existing))

    def curSide: Seq[Column] =
      (key ++ attrs).map(c => col(s"cur.$c").as(c)) :+
        col(s"cur.$EffectiveCol").as(EffectiveCol)
    def incSide: Seq[Column] =
      (key ++ attrs).map(c => col(s"inc.$c").as(c)) :+
        runDate.cast("date").as(EffectiveCol)

    val kept = joined.filter(hasCur && (!hasInc || !changed))
      .select(curSide :+ col(s"cur.$ExpiryCol").as(ExpiryCol) :+ lit(true).as(CurrentCol): _*)
    val expired = joined.filter(hasCur && hasInc && changed)
      .select(curSide :+ runDate.cast("date").as(ExpiryCol) :+ lit(false).as(CurrentCol): _*)
    val fresh = joined.filter(hasInc && (!hasCur || changed))
      .select(incSide :+ lit(null).cast("date").as(ExpiryCol) :+ lit(true).as(CurrentCol): _*)

    val cols = (key ++ attrs) ++ Seq(EffectiveCol, ExpiryCol, CurrentCol)
    Seq(hist.select(cols.map(col): _*), kept, expired, fresh)
      .reduce(_ unionByName _)
  }
}
