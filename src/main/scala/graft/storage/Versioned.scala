package graft.storage

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Versioned table with time travel — the reproducibility primitive a
  * training pipeline needs: "the run trained on corpus VERSION 17" must
  * stay answerable after tomorrow's write. A versioned root is a
  * [[Store]] with one table; version N is the pin `v=N`:
  *
  * {{{
  *   <root>/_head  <root>/data/…         the latest snapshot commit
  *   <root>/_pins/v=1/  v=2/  …          immutable versions (hard links)
  * }}}
  *
  * A version becomes real when its pin is published, after the snapshot
  * commit: a crash before that leaves the previous version the latest,
  * and the next [[write]] commits over the unpinned snapshot. Old
  * versions stay readable until [[retain]] unpins them — retention is an
  * explicit policy step, not a side effect of writing.
  */
object Versioned {

  private val Table = "data"

  def latestVersion(root: String): Option[Long] = versions(root).lastOption

  /** All committed versions, ascending. */
  def versions(root: String): Seq[Long] =
    Store.pins(root).collect { case s if s.startsWith("v=") => s.stripPrefix("v=").toLong }
      .sorted

  /** Write the next version; returns its number. */
  def write(df: DataFrame, root: String): Long = {
    val next = latestVersion(root).getOrElse(0L) + 1
    Store.commit(root, Seq(Store.Snapshot(Table, df)))
    Store.pin(root, s"v=$next", Seq(Table))
    next
  }

  /** Read a pinned `version`, or the latest when omitted. Fails loudly
    * on an uncommitted/retained-away version. */
  def read(spark: SparkSession, root: String, version: Long = -1L): DataFrame = {
    val committed = latestVersion(root).getOrElse(
      throw new IllegalArgumentException(s"no committed version under $root"))
    val v = if (version < 0) committed else version
    require(v <= committed, s"version $v is not committed (latest: $committed)")
    require(versions(root).contains(v),
      s"version $v was retained away (available: ${versions(root).mkString(",")})")
    Store.read(spark, Store.pinRoot(root, s"v=$v"), Table)
  }

  /** Keep the newest `keep` versions, unpin the rest; returns the
    * dropped version numbers. */
  def retain(root: String, keep: Int): Seq[Long] = {
    require(keep >= 1, s"keep must be >= 1, got $keep")
    val drop = versions(root).dropRight(keep)
    drop.foreach(v => Store.unpin(root, s"v=$v"))
    drop
  }
}
