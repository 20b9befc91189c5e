package graft.storage

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

/** Parquet table layer (S6/S7/S11): snapshot-replace writes, Hive-style
  * partitioning, verify and archive/retention.
  *
  * Replaces the reference's MinIO layout (`src/storage/minio.py:253-308`:
  * `parquet/<table>/load_month=YYYY-MM/…`) and archive
  * (`src/storage/archive.py`: `year=YYYY/month=MM/`) with the same paths
  * on a Hadoop-compatible FS.
  *
  * Scale notes:
  *   - `replacePartitions` uses dynamic partition overwrite — only the
  *     partitions present in the batch are rewritten (a day-run touches
  *     one `date_id`), never the whole table;
  *   - writes are atomic per partition via the parquet committer's
  *     temp-dir + rename, replacing the reference's DELETE+INSERT
  *     transactionality (SURVEY.md §4.2);
  *   - readers prune on the partition column (`.explain` shows
  *     PartitionFilters), which is what makes day-slice reads O(day) not
  *     O(history).
  */
object TableStore {

  /** Full snapshot replace (dims — small, rewritten whole like the
    * reference's dim tables). Writes to a temp dir then swaps, so a plan
    * that lazily READS the current snapshot can safely produce its
    * replacement (plain Overwrite deletes the target before the read
    * executes).
    */
  def writeSnapshot(df: DataFrame, path: String): Unit = {
    val tmp = path.stripSuffix("/") + ".__tmp"
    df.write.mode(SaveMode.Overwrite).parquet(tmp)
    swapInto(tmp, path)
  }

  /** Publish the fully-written `tmp` directory at `target` without ever
    * destroying the previous snapshot before the replacement lands: the
    * old directory is RENAMED aside (metadata-only, same filesystem),
    * `tmp` renamed into place, and only then the old copy deleted. A
    * crash between the two renames leaves the prior snapshot intact at
    * `<target>.__old` — [[recoverSnapshot]] puts it back. (The previous
    * delete-then-move order had a window where neither version existed.)
    */
  private[graft] def swapInto(tmp: String, target: String): Unit = {
    val old = Paths.get(target.stripSuffix("/") + ".__old")
    recoverSnapshot(target)   // a crashed earlier swap: restore, then replace
    deleteRecursively(old)
    val t = Paths.get(target)
    if (Files.exists(t)) Files.move(t, old)
    Files.move(Paths.get(tmp), t)
    deleteRecursively(old)
  }

  /** If a swap crashed between its renames (no live snapshot at `path`,
    * prior one parked at `<path>.__old`), restore the prior snapshot.
    * Returns true when a restore happened.
    */
  def recoverSnapshot(path: String): Boolean = {
    val old = Paths.get(path.stripSuffix("/") + ".__old")
    val t = Paths.get(path)
    if (!Files.exists(t) && Files.exists(old)) { Files.move(old, t); true }
    else false
  }

  /** Partitioned write replacing ONLY the partitions present in `df`. */
  def replacePartitions(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write
      .option("partitionOverwriteMode", "dynamic")
      .mode(SaveMode.Overwrite)
      .partitionBy(partitionCols: _*)
      .parquet(path)

  def read(spark: SparkSession, path: String): DataFrame = spark.read.parquet(path)

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

  /** Small-file compaction: rewrite a parquet table into
    * `ceil(bytes / targetFileBytes)` files (temp-dir + swap, same crash
    * safety as [[writeSnapshot]]). Incremental writers — streaming
    * micro-batches, per-day appends, dynamic partition replaces — leave
    * thousands of KB-sized files whose open/footer overhead eventually
    * dominates scan time and floods the driver's file listing; periodic
    * compaction is the standard maintenance pass. Sizing uses the
    * CURRENT on-disk bytes (already compressed), so output files land
    * near the target without a decompression-ratio guess. `coalesce`
    * merges partitions without a shuffle.
    */
  def compact(spark: SparkSession, path: String,
              targetFileBytes: Long = 128L * 1024 * 1024): Long = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(hPath).getLength
    val files = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes)
    writeSnapshot(spark.read.parquet(path).coalesce(files.toInt), path)
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

  /** Archive rows older than `cutoff` into `year=/month=` partitions
    * (`archive.py:32-97`), returning the archived frame for the
    * subsequent retention delete.
    */
  def archiveOlderThan(table: DataFrame, tsCol: Column, cutoff: Column,
                       archivePath: String): DataFrame = {
    val old = table.filter(tsCol < cutoff)
    old
      .withColumn("year", year(tsCol))
      .withColumn("month", date_format(tsCol, "MM"))
      .write
      .option("partitionOverwriteMode", "dynamic")
      .mode(SaveMode.Overwrite)
      .partitionBy("year", "month")
      .parquet(archivePath)
    old
  }

  /** S11 retention: source minus archived keys (null-safe anti-join,
    * `archive.py:164-208`), published through [[writeSnapshot]] so the
    * source path is never read-while-overwritten and a crash mid-publish
    * leaves the prior snapshot recoverable. Returns the removed row
    * count; the source is counted BEFORE the swap (its file listing is
    * gone after it).
    */
  def retentionDelete(spark: SparkSession, tablePath: String,
                      archivedKeys: DataFrame, key: Seq[String]): Long = {
    val table = spark.read.parquet(tablePath)
    val before = table.count()
    writeSnapshot(graft.operators.Merge.deleteByKeys(table, archivedKeys, key),
      tablePath)
    before - spark.read.parquet(tablePath).count()
  }

  private[graft] def deleteRecursively(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
}
