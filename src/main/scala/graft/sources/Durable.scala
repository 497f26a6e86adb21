package graft.sources

import java.nio.file.{Files, NoSuchFileException, StandardCopyOption, Path => NioPath}

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** The one rule graft follows to replace a file so that a crash at any
  * instant leaves a complete copy behind — every manifest, pointer,
  * model artifact and parquet log goes through here.
  *
  *  - **Small text files** (java.nio): [[write]] writes a sibling temp
  *    file `<name>.tmp-<uuid>` and renames it over the target, so a
  *    reader sees the old body or the new one, never a torn one, and
  *    two concurrent writers never share a temp file; [[read]] is
  *    None for a missing file.
  *  - **Parquet logs** (Hadoop FileSystem): [[Log]] is an append-only
  *    log with a crash-safe write-then-swap rewrite and the recovery
  *    that completes an interrupted swap.
  */
private[graft] object Durable {

  private val TempMark = ".tmp-"

  /** Atomically replace `path` with `body` (creating its directory). */
  def write(path: NioPath, body: String): Unit = {
    Option(path.getParent).foreach(Files.createDirectories(_))
    val tmp = path.resolveSibling(
      s"${path.getFileName}$TempMark${java.util.UUID.randomUUID()}")
    try {
      Files.writeString(tmp, body)
      Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE)
    } finally Files.deleteIfExists(tmp)
    ()
  }

  /** The file's body, or None when it does not exist. */
  def read(path: NioPath): Option[String] =
    try Some(Files.readString(path))
    catch { case _: NoSuchFileException => None }

  /** The target a [[write]] temp file was named after (None for any
    * other name) — what a sweep of crashed writes matches on.
    */
  def tempTarget(name: String): Option[String] = {
    val i = name.lastIndexOf(TempMark)
    if (i > 0) Some(name.substring(0, i)) else None
  }

  /** One monitor per key (a log, index or queue directory), shared across
    * handles, so two handles on one directory still serialize.
    */
  private val locks = scala.collection.concurrent.TrieMap.empty[String, Object]
  def lockFor(key: String): Object = locks.getOrElseUpdate(key, new Object)

  /** Append-only parquet log at `root/name/`, read through a view.
    *
    * [[rewrite]] is crash-safe write-then-swap: the new copy is fully
    * written to `name_compact/` BEFORE `name/` moves aside to
    * `name_old/`, so at every instant at least one complete copy
    * exists, and [[recover]] promotes it. Every read and append runs
    * [[recover]] first — cheap (one existence check when the log is
    * live) and idempotent — so a crash mid-swap never reads as an
    * empty log.
    *
    * The lock serializes the recover/promote rename window in-JVM (a
    * reader racing [[rewrite]] could otherwise see `name/` missing
    * mid-swap and issue a competing promote). The lazy parquet scan
    * [[read]] returns executes UNLOCKED, so a [[rewrite]] must not run
    * while a previously returned frame is still being read — the
    * single-writer contract, in-JVM as across processes.
    */
  final class Log(spark: SparkSession, root: String, name: String,
      schema: StructType) {
    private val dir = s"$root/$name"
    private val compactDir = s"$root/${name}_compact"
    private val backupDir = s"$root/${name}_old"
    private val lock = lockFor(dir)
    private def fs =
      new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    private def exists(d: String) = fs.exists(new Path(d))
    private def move(from: String, to: String): Unit =
      if (!fs.rename(new Path(from), new Path(to)))
        throw new java.io.IOException(s"could not rename $from to $to")

    /** Complete an interrupted [[rewrite]]: with `name/` missing,
      * promote the compacted copy, else the pre-rewrite backup.
      */
    def recover(): Unit = lock.synchronized {
      if (!exists(dir)) {
        if (exists(compactDir)) move(compactDir, dir)
        else if (exists(backupDir)) move(backupDir, dir)
      }
    }

    def append(rows: DataFrame): Unit = {
      recover()
      rows.write.mode(SaveMode.Append).parquet(dir)
    }

    /** `view` of the log, or an empty frame of the log's schema when
      * nothing was ever appended.
      */
    def read(view: DataFrame => DataFrame): DataFrame = {
      recover()
      if (!exists(dir))
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
      else view(spark.read.schema(schema).parquet(dir))
    }

    /** The log's data files (metadata-only: one directory listing). */
    def dataFiles(): Seq[FileStatus] = {
      recover()
      if (!exists(dir)) Nil
      else fs.listStatus(new Path(dir)).toSeq
        .filter(s => s.isFile && !s.getPath.getName.startsWith("_"))
    }

    /** Replace the log with `view` of itself in `files` output files;
      * a no-op on a log that was never appended to.
      */
    def rewrite(files: Int)(view: DataFrame => DataFrame): Unit =
      lock.synchronized {
        recover() // reentrant: same monitor
        if (exists(dir)) {
          fs.delete(new Path(compactDir), true)
          view(spark.read.schema(schema).parquet(dir)).coalesce(files)
            .write.mode(SaveMode.Overwrite).parquet(compactDir)
          fs.delete(new Path(backupDir), true)
          move(dir, backupDir)
          move(compactDir, dir)
          fs.delete(new Path(backupDir), true)
        }
      }
  }
}
