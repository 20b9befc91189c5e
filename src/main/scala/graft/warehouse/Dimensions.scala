package graft.warehouse

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{Hashes, Locations}
import graft.operators.{Keys, Scd2}

/** The jobinsight dimension processors, instantiating the generic
  * operators over the reference's star schema
  * (`sql/schemas/dwh_schema.sql:47-117`).
  *
  * Empty dimension frames for bootstrap are built with [[Schemas]].
  */
object Dimensions {

  /** DimJob SCD2 merge (M1, `src/etl/warehouse/dimensions/job.py:16-93`).
    *
    * Key `job_id`; compare (title, job_url, skills) stringified with
    * null≡'' (Scd2 implements that semantics); new/changed rows get fresh
    * surrogate keys continuing from the current max.
    *
    * @param staging columns: job_id, title_clean, job_url,
    *                skills (array&lt;string&gt;)
    */
  def mergeDimJob(dim: DataFrame, staging: DataFrame, runDate: Column): DataFrame = {
    val incoming = staging
      .filter(col("job_id").isNotNull && col("job_id").cast("string") =!= "")
      .select(
        col("job_id").cast("string").as("job_id"),
        lit(null).cast("long").as("job_sk"),
        col("title_clean").as("title"),
        col("job_url"),
        col("skills").cast("array<string>").as("skills"))
      .dropDuplicates("job_id")
    val merged = Scd2.merge(dim, incoming,
      key = Seq("job_id"), compare = Seq("title", "job_url", "skills"), runDate)
    assignMissingSks(merged, dim, "job_sk", orderBy = Seq("job_id", "effective_date"))
  }

  /** DimCompany SCD2 merge (M2, `dimensions/company.py:23-103`).
    *
    * Key `company_bk_hash` = md5(lower(trim(name))) (F7); compare
    * (company_url, logo_url, verified_employer) — `company_name` is NOT
    * compared, so a rename with the same hash keeps the first-seen display
    * name (SURVEY.md §7.5-9).
    *
    * @param staging columns: company_name_standardized, company_url,
    *                logo_url, verified_employer
    */
  def mergeDimCompany(dim: DataFrame, staging: DataFrame, runDate: Column): DataFrame = {
    val incoming = staging
      .select(
        Hashes.companyHash(col("company_name_standardized")).as("company_bk_hash"),
        lit(null).cast("long").as("company_sk"),
        col("company_name_standardized").cast("string").as("company_name"),
        col("company_url"), col("logo_url"),
        coalesce(col("verified_employer"), lit(false)).as("verified_employer"))
      .dropDuplicates("company_bk_hash")
    val merged = Scd2.merge(dim, incoming,
      key = Seq("company_bk_hash"),
      compare = Seq("company_url", "logo_url", "verified_employer"), runDate)
    assignMissingSks(merged, dim, "company_sk",
      orderBy = Seq("company_bk_hash", "effective_date"))
  }

  /** DimLocation type-1 insert-if-absent (M3, `dimensions/location.py:90-133`):
    * parse every staging location string, take the distinct (city, country)
    * pairs, append the ones the dim lacks with fresh SKs. Never updates.
    * The dim is pre-seeded with (-1, 'Unknown', 'Unknown')
    * (`dwh_schema.sql:175-176` via [[Schemas.seedDimLocation]]).
    */
  def mergeDimLocation(dim: DataFrame, staging: DataFrame): DataFrame = {
    val pairs = staging
      .select(explode(Locations.parseLocations(col("location"))).as("loc"))
      .select(col("loc.city").as("city"), col("loc.country").as("country"))
      .distinct()
      .join(dim, Seq("city", "country"), "left_anti")
    val withSk = Keys.assignSorted(pairs, Seq("city", "country"), "location_sk",
      offset = Keys.maxKey(dim, "location_sk"))
      .select(col("location_sk"), col("city"), col("country"))
    dim.unionByName(withSk)
  }

  /** Fill null SKs (rows minted by an SCD2 merge): `max(existing) +` a
    * contiguous sequence, deterministic on `orderBy` (unique within a
    * delta: incoming batches are deduped per business key, so one merge
    * mints at most one version per key). Uses the distributed sorted
    * assignment — same ids as a global window, no single-task funnel, and
    * no scale cliff if a backfill ever pushes a "delta" to fact volume.
    *
    * The offset comes from `previous`, the dimension before the merge:
    * every one of its keys survives [[Scd2.merge]] and the merge adds
    * only null ones, so the maximum is the same, and the lookup does not
    * re-run the merge's full outer join.
    */
  private def assignMissingSks(df: DataFrame, previous: DataFrame, skCol: String,
                               orderBy: Seq[String]): DataFrame = {
    val existing = df.filter(col(skCol).isNotNull)
    val missing  = df.filter(col(skCol).isNull).drop(skCol)
    Keys.assignSorted(missing, orderBy, skCol, offset = Keys.maxKey(previous, skCol))
      .select(df.columns.toIndexedSeq.map(col): _*)
      .unionByName(existing)
  }
}
