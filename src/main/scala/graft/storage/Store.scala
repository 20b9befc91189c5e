package graft.storage

import graft.Concurrent
import graft.warehouse.Schemas
import org.apache.spark.sql.{DataFrame, DataFrameReader, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType
import java.nio.file.{Files, Path, Paths}
import java.nio.file.StandardCopyOption.{ATOMIC_MOVE, REPLACE_EXISTING}
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

/** The one publish path for graft's parquet tables: Delta Lake's
  * add/remove-file log (Armbrust et al., VLDB'20) reduced to one manifest
  * per store. A store is a root directory — a warehouse root, a
  * [[Versioned]] root or an [[IdempotentSink]] root:
  *
  * {{{
  *   <root>/_head                 table<TAB>path per live file, txn<TAB>id
  *   <root>/<table>/…             immutable parquet files (tables do not nest)
  *   <root>/_pins/<name>/_head    a pin: a store of hard links to head files
  * }}}
  *
  * [[commit]] writes every change's new files, moves a new `_head` into
  * place (the commit point, one atomic rename) and then deletes what the
  * new head no longer lists. A crash therefore leaves the old head or the
  * new head live, never a mix, and the next commit sweeps the torn files.
  * Once a commit returns, each changed table directory holds exactly its
  * head files, so a plain `spark.read.parquet(dir)` — another engine, a
  * benchmark check — reads the committed table. Commits on one root are
  * serialized within the JVM; writers in other processes are not
  * coordinated.
  */
object Store {

  /** One table's part of a [[commit]]; `cols` partitions its new files. */
  sealed trait Change {
    def table: String; def df: DataFrame; def cols: Seq[String]
  }
  /** Replace the whole table. */
  final case class Snapshot(table: String, df: DataFrame, cols: Seq[String] = Nil)
    extends Change
  /** Replace the partitions `df` writes, keep the others. */
  final case class Partitions(table: String, df: DataFrame, cols: Seq[String])
    extends Change
  /** Add `df`'s rows. */
  final case class Append(table: String, df: DataFrame, cols: Seq[String] = Nil)
    extends Change

  /** A manifest: each table's live files (root-relative) and the last
    * committed batch id. */
  final case class Head(files: Map[String, Seq[String]], txn: Option[Long]) {
    def of(table: String): Seq[String] = files.getOrElse(table, Nil)
  }

  private val HeadName = "_head"
  private val Txn = "txn"
  private val locks = new ConcurrentHashMap[Path, AnyRef]()

  private def locked[T](root: String)(body: => T): T =
    locks.computeIfAbsent(Paths.get(root).toAbsolutePath.normalize,
      _ => new Object).synchronized(body)

  def head(root: String): Head = {
    val p = Paths.get(root, HeadName)
    if (!Files.exists(p)) Head(Map.empty, None)
    else {
      val kv = Files.readAllLines(p).asScala.toSeq.map(_.split("\t", 2))
        .collect { case Array(k, v) => (k, v) }
      Head(kv.filter(_._1 != Txn).groupMap(_._1)(_._2),
        kv.collectFirst { case (Txn, id) => id.toLong })
    }
  }

  /** Commit `changes` as one step: write them side by side, then publish
    * the new head. A [[Snapshot]] removes the table's old files, a
    * [[Partitions]] change the old files under the partitions it wrote.
    * With `txn`, the commit is skipped and returns false when the head
    * already holds that batch id or a later one (Delta's SetTransaction
    * rule), so a replayed batch lands once.
    */
  def commit(root: String, changes: Seq[Change], txn: Option[Long] = None): Boolean =
    locked(root) {
      require(changes.map(_.table).distinct.size == changes.size,
        s"one change per table: ${changes.map(_.table)}")
      val old = head(root)
      if (txn.exists(id => old.txn.exists(id <= _))) false
      else {
        val r = Paths.get(root)
        val added = Concurrent.all(changes.map(c => () => write(r, c)))
        val files = changes.zip(added).foldLeft(old.files) { case (fs, (c, add)) =>
          val kept = c match {
            case _: Snapshot => Nil
            case _: Partitions =>
              val written = add.map(parent).toSet
              old.of(c.table).filterNot(f => written(parent(f)))
            case _: Append => old.of(c.table)
          }
          fs.updated(c.table, kept ++ add)
        }
        install(r, Head(files, txn.orElse(old.txn)), changes.map(_.table))
        true
      }
    }

  /** `table` as of the head, with `schema`'s columns in its order (the
    * partition columns come back from the paths). A table without files
    * reads as [[Schemas.empty]], which the optimizer prunes. */
  def read(spark: SparkSession, root: String, table: String,
           schema: StructType): DataFrame =
    locked(root) {
      val files = head(root).of(table)
      if (files.isEmpty) Schemas.empty(spark, schema)
      else scan(spark.read.schema(schema), root, table, files)
        .select(schema.fieldNames.toIndexedSeq.map(col): _*)
    }

  /** `table` as of the head, its schema inferred from the files. */
  def read(spark: SparkSession, root: String, table: String): DataFrame =
    locked(root) {
      val files = head(root).of(table)
      require(files.nonEmpty, s"table $table under $root has no files")
      scan(spark.read, root, table, files)
    }

  /** The head's `files` of `table`, with the table directory as base path
    * so partition columns come back; torn files beside them are not read. */
  private def scan(reader: DataFrameReader, root: String, table: String,
                   files: Seq[String]): DataFrame =
    reader.option("basePath", Paths.get(root, table).toString)
      .parquet(files.map(f => Paths.get(root, f).toString): _*)

  /** Pin `tables` as they are in the head under `name`: their files are
    * hard-linked into `_pins/<name>/`, which is published by its own
    * `_head`. Copies no data and runs no Spark job. */
  def pin(root: String, name: String, tables: Seq[String]): Unit = locked(root) {
    val h = head(root)
    val p = Paths.get(pinRoot(root, name))
    link(Paths.get(root), p, tables.flatMap(h.of))
    install(p, Head(tables.map(t => t -> h.of(t)).toMap, None), tables)
  }

  /** Commit the pinned `tables` of pin `name` back as the live tables,
    * by linking; a table the pin holds no files for becomes empty. */
  def restore(root: String, name: String, tables: Seq[String]): Unit = locked(root) {
    require(pins(root).contains(name), s"no pin $name under $root")
    val pinned = head(pinRoot(root, name))
    link(Paths.get(pinRoot(root, name)), Paths.get(root), tables.flatMap(pinned.of))
    val old = head(root)
    install(Paths.get(root), Head(old.files ++ tables.map(t => t -> pinned.of(t)), old.txn),
      tables)
  }

  /** Drop pin `name`: its head goes first, so a half-deleted pin is no pin. */
  def unpin(root: String, name: String): Unit = locked(root) {
    val p = Paths.get(pinRoot(root, name))
    Files.deleteIfExists(p.resolve(HeadName))
    TableStore.deleteRecursively(p)
  }

  /** Published pin names, ascending. */
  def pins(root: String): Seq[String] =
    Option(new java.io.File(root, "_pins").listFiles()).toSeq.flatten
      .filter(d => new java.io.File(d, HeadName).exists).map(_.getName).sorted

  /** A pin's root: a store holding the pinned tables. */
  def pinRoot(root: String, name: String): String = s"$root/_pins/$name"

  /** Append the change's rows as new, uniquely named files in its table
    * directory; returns them root-relative. */
  private def write(root: Path, c: Change): Seq[String] = {
    val dir = root.resolve(c.table)
    val before = dataFiles(dir).toSet
    val w = c.df.write.mode(SaveMode.Append)
    (if (c.cols.isEmpty) w else w.partitionBy(c.cols: _*)).parquet(dir.toString)
    dataFiles(dir).filterNot(before).map(f => root.relativize(f).toString)
  }

  /** Publish `next` as the head of `root` (the commit point), then delete
    * from the `tables`' directories every file `next` does not list, with
    * its checksum, and the directories left empty. */
  private def install(root: Path, next: Head, tables: Seq[String]): Unit = {
    Files.createDirectories(root)
    val tmp = root.resolve(HeadName + ".tmp")
    Files.write(tmp, (next.files.toSeq.sortBy(_._1).flatMap { case (t, fs) =>
      fs.map(t + "\t" + _) } ++ next.txn.map(Txn + "\t" + _)).asJava)
    Files.move(tmp, root.resolve(HeadName), ATOMIC_MOVE, REPLACE_EXISTING)
    for (t <- tables; dir = root.resolve(t)) {
      val live = next.of(t).flatMap(f => Seq(f, checksumOf(f))).toSet
      walk(dir).reverse.foreach { p =>   // children before their directory
        if (Files.isDirectory(p)) {
          if (p != dir && walk(p).size == 1) Files.delete(p)
        } else if (!live(root.relativize(p).toString)) Files.delete(p)
      }
    }
  }

  /** Hard-link the root-relative `files` of `from` at the same paths
    * under `to`. */
  private def link(from: Path, to: Path, files: Seq[String]): Unit =
    files.foreach { f =>
      val target = to.resolve(f)   // file names are unique: one there is this one
      if (!Files.exists(target)) {
        Files.createDirectories(target.getParent)
        Files.createLink(target, from.resolve(f))
      }
    }

  /** The data files under `dir`: every file no path part of which is
    * hidden (`_` or `.` first), the rule Spark's own file listing uses. */
  private def dataFiles(dir: Path): Seq[Path] =
    walk(dir).filter(p => Files.isRegularFile(p) &&
      dir.relativize(p).iterator().asScala.forall(n => !"_.".contains(n.toString.head)))

  /** `dir` and everything under it, parents first; nothing when absent. */
  private def walk(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Nil
    else { val s = Files.walk(dir); try s.iterator().asScala.toList finally s.close() }

  private def parent(f: String): String = f.take(f.lastIndexOf('/'))

  /** The Hadoop checksum file beside `f`: `dir/.name.crc`. */
  private def checksumOf(f: String): String = f.replaceFirst("[^/]+$", ".$0.crc")
}
