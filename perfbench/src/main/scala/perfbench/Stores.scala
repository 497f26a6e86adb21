package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.SegmentMeta
import graft.sources.{FsCheckpointStore, FsSegmentStore}

/** Parquet files under a directory, path -> length. */
object ParquetFiles {
  def sizes(root: String): Map[String, Long] = {
    def walk(f: File): Seq[(String, Long)] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f.getPath -> f.length)
      else Nil
    walk(new File(root)).toMap
  }
}

/** Store that records a span around every public call. Calls the store
  * makes on itself (compaction listing and writing) dispatch here too, so
  * they show as children of the compaction span. Writes also count the
  * files and bytes they add to the store.
  */
final class TracedSegmentStore(spark: SparkSession, root: String, t: Tracer)
    extends FsSegmentStore(spark, root) {
  @volatile var filesWritten = 0L
  @volatile var bytesWritten = 0L

  private def counted(name: String)(body: => Unit): Unit = {
    val before = ParquetFiles.sizes(root)
    t.span("sources.store", name)(body)
    val added = ParquetFiles.sizes(root).filter { case (p, n) => before.get(p) != Some(n) }
    synchronized { filesWritten += added.size; bytesWritten += added.values.sum }
  }

  override def write(messages: DataFrame, meta: SegmentMeta): Unit =
    counted("write")(super.write(messages, meta))
  override def writePartitioned(labeled: DataFrame, region: String, topic: String): Unit =
    counted("write")(super.writePartitioned(labeled, region, topic))
  override def list(region: String, topic: String): Seq[SegmentMeta] =
    t.span("sources.store", "list")(super.list(region, topic))
  override def listInfo(region: String, topic: String): Seq[FsSegmentStore.SegmentInfo] =
    t.span("sources.store", "list")(super.listInfo(region, topic))
  override def open(region: String, topic: String, segments: Seq[SegmentMeta]): DataFrame =
    t.span("sources.store", "open")(super.open(region, topic, segments))
  override def delete(m: SegmentMeta): Unit =
    t.span("sources.store", "delete")(super.delete(m))
  override def compactLeveled(region: String, topic: String, minLevel: Int,
      maxLevel: Int, minAgeSec: Long, nowEpoch: Long, minSegments: Int,
      maxSegments: Int, minBytes: Long, maxBytes: Long,
      deleteInputs: Boolean): Seq[SegmentMeta] =
    t.span("sources.store", "compactLeveled")(super.compactLeveled(region, topic,
      minLevel, maxLevel, minAgeSec, nowEpoch, minSegments, maxSegments, minBytes,
      maxBytes, deleteInputs))
}

final class TracedCheckpointStore(spark: SparkSession, root: String, t: Tracer)
    extends FsCheckpointStore(spark, root) {
  override def commit(offsets: DataFrame): Unit =
    t.span("sources.ckpt", "commit")(super.commit(offsets))
  override def latest(): DataFrame =
    t.span("sources.ckpt", "latest")(super.latest())
  override def latestMap(): Map[Int, Long] =
    t.span("sources.ckpt", "latest")(super.latestMap())
}
