package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Business-key hashing (F7) and raw-field cleanup (F12).
  *
  * Reference: `src/etl/warehouse/dimensions/company.py:16-20` —
  * `md5(lower(strip(name)))`, with null/empty name hashing the literal
  * 'unknown'. Case-variant company names collapse to one business key;
  * the display name keeps its first-seen casing (SURVEY.md §7.5-9).
  */
object Hashes {

  /** F7: company business-key hash — native `md5`, codegen'd. */
  def companyHash(name: Column): Column =
    md5(
      when(name.isNull || name.cast("string") === "", lit("unknown"))
        .otherwise(lower(trim(name.cast("string")))))

  /** THE portable 32-bit hash: first 8 md5 hex digits as a u32-ranged
    * long. Every deterministic routing decision in the engine (shard
    * membership, split assignment, minhash base hashes, feature buckets,
    * CMS cells) is this one expression — there is no second, faster
    * family — and every DuckDB oracle re-derives it byte-for-byte. Keep
    * the single definition; a drifted copy would silently re-route one
    * consumer while the rest stay consistent.
    *
    * Since round 15 the value is computed by the
    * [[graft.expressions.Md5U32]] kernel (digest bytes directly — no
    * hex render, substring or base-16 parse, thread-local digest
    * object); bit-identical to `conv(substring(md5(c), 1, 8), 16, 10)`,
    * which every oracle still restates (Md5U32Spec pins equivalence).
    */
  def u32OfMd5(c: Column): Column =
    graft.expressions.Md5U32.md5_u32(c.cast("string"))

  /** F12: ''/'None' → null (`parser.py:273`'s `df.replace`). */
  def nullifyEmpty(c: Column): Column =
    when(c.cast("string").isin("", "None"), lit(null).cast("string"))
      .otherwise(c.cast("string"))

  /** F11 boundary codec: the engine stores skills as a native
    * `array<string>`; the Postgres/raw-compat boundary carries the
    * reference's JSON string (`parser.py:266-269`). */
  def skillsToJson(skills: Column): Column = to_json(skills)
  def skillsFromJson(json: Column): Column =
    from_json(json, org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.StringType))
}
