package graft.storage

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

/** Parquet table helpers beside the [[Store]] commit protocol:
  * compaction, archive and retention as store commits, bucketed catalog
  * tables, blobs and backups, and the directory swap the text exports
  * publish through.
  *
  * Replaces the reference's MinIO layout (`src/storage/minio.py:253-308`:
  * `parquet/<table>/load_month=YYYY-MM/…`) and archive
  * (`src/storage/archive.py`: `year=YYYY/month=MM/`) with the same paths
  * on a Hadoop-compatible FS. Readers prune on the partition column
  * (`.explain` shows PartitionFilters), which is what makes day-slice
  * reads O(day) not O(history).
  */
object TableStore {

  /** Publish the directory `write` fills at a temporary path as `target`,
    * without ever destroying the previous copy before the replacement
    * lands: the old directory is RENAMED aside (metadata-only, same
    * filesystem), the new one renamed into place, and only then the old
    * copy deleted. A crash
    * between the two renames leaves the prior copy intact at
    * `<target>.__old`, which [[restoreParked]] puts back. Only the text
    * exports (`Jsonl.write`, `Csv.write`, `CorpusExport.export`), which
    * other engines read as plain directories, publish this way; parquet
    * tables commit through [[Store]].
    */
  private[graft] def swapInto(target: String)(write: String => Unit): Unit = {
    val tmp = target.stripSuffix("/") + ".__tmp"
    write(tmp)
    val old = Paths.get(target.stripSuffix("/") + ".__old")
    restoreParked(target)   // a crashed earlier swap: restore, then replace
    deleteRecursively(old)
    val t = Paths.get(target)
    if (Files.exists(t)) Files.move(t, old)
    Files.move(Paths.get(tmp), t)
    deleteRecursively(old)
  }

  /** If a swap crashed between its renames (nothing at `path`, the prior
    * copy parked at `<path>.__old`), put the prior copy back. Returns true
    * when it did.
    */
  private[storage] def restoreParked(path: String): Boolean = {
    val old = Paths.get(path.stripSuffix("/") + ".__old")
    val t = Paths.get(path)
    if (!Files.exists(t) && Files.exists(old)) { Files.move(old, t); true }
    else false
  }

  /** Schema-evolution read: unions the footer schemas of EVERY file so
    * a table whose writer gained columns over time reads as one frame
    * (old files yield null for the new columns). `mergeSchema` costs a
    * footer read per file at planning — fine for a table's worth of
    * files, which is why it is an explicit opt-in here rather than the
    * default on [[read]] (on a 100 TB lake, pay it only on tables that
    * actually evolved). Column RENAMES and type changes are not
    * evolution — those need a rewrite. */
  def readEvolved(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  /** Bucketed + sorted catalog table: both sides of a keyed merge written
    * this way join WITHOUT a shuffle (the SortMergeJoin reads co-located
    * buckets — no Exchange in the plan, asserted in BucketedMergeSpec).
    * This is what makes `Merge.upsert` / carry-forward scale: the big
    * fact/raw tables shuffle once at write time, then every daily merge
    * is exchange-free. Native parquet bucketing — no Hive dependency.
    */
  def writeBucketed(df: DataFrame, table: String, key: Seq[String],
                    buckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, key.head, key.tail: _*)
      .sortBy(key.head, key.tail: _*)
      .format("parquet")
      .saveAsTable(table)

  /** Small-file compaction: rewrite the unpartitioned `table` of the
    * store at `root` into `ceil(bytes / targetFileBytes)` files, as one
    * snapshot commit. Incremental writers — streaming micro-batches,
    * per-run monitoring appends — leave many KB-sized files whose
    * open/footer overhead eventually dominates scan time and floods the
    * driver's file listing; periodic compaction is the standard
    * maintenance pass. Sizing uses the CURRENT on-disk bytes (already
    * compressed), so output files land near the target without a
    * decompression-ratio guess. `coalesce` merges partitions without a
    * shuffle.
    */
  def compact(spark: SparkSession, root: String, table: String,
              targetFileBytes: Long = 128L * 1024 * 1024): Long = {
    val bytes = Store.head(root).of(table).map(f => Files.size(Paths.get(root, f))).sum
    val files = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes)
    Store.commit(root, Seq(Store.Snapshot(table,
      Store.read(spark, root, table).coalesce(files.toInt))))
    files
  }

  /** S8: HTML blob sink — raw page text to `html/<name>` under the store
    * root (`minio.py:75-94`'s `html/it_p{page}_{ts}.html` layout).
    */
  def writeBlob(root: String, name: String, content: String): Unit = {
    val p = Paths.get(root, "html", name)
    Files.createDirectories(p.getParent)
    Files.writeString(p, content)
  }

  /** S10: backup = recursive snapshot copy of a table/warehouse directory
    * (replaces the reference's pg_dump/DuckDB-file shuttle — the parquet
    * tables ARE the database).
    */
  def backupDir(src: String, dst: String): Unit = {
    val s = Paths.get(src); val d = Paths.get(dst)
    Files.walk(s).forEach { p =>
      val t = d.resolve(s.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else { Files.createDirectories(t.getParent); Files.copy(p, t,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING) }
    }
  }

  /** Archive rows older than `cutoff` into the `year=/month=` partitions
    * of `archiveTable` in the store at `root` (`archive.py:32-97`; a
    * partition commit, so a month archived again is replaced), returning
    * the archived frame for the subsequent retention delete.
    */
  def archiveOlderThan(table: DataFrame, tsCol: Column, cutoff: Column,
                       root: String, archiveTable: String): DataFrame = {
    val old = table.filter(tsCol < cutoff)
    Store.commit(root, Seq(Store.Partitions(archiveTable, old
      .withColumn("year", year(tsCol))
      .withColumn("month", date_format(tsCol, "MM")), Seq("year", "month"))))
    old
  }

  /** S11 retention: `table` of the store at `root` minus the archived
    * keys (null-safe anti-join, `archive.py:164-208`), as one snapshot
    * commit. Returns the removed row count.
    */
  def retentionDelete(spark: SparkSession, root: String, table: String,
                      archivedKeys: DataFrame, key: Seq[String]): Long = {
    val before = Store.read(spark, root, table).count()
    Store.commit(root, Seq(Store.Snapshot(table, graft.operators.Merge.deleteByKeys(
      Store.read(spark, root, table), archivedKeys, key))))
    before - Store.read(spark, root, table).count()
  }

  private[graft] def deleteRecursively(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
}
