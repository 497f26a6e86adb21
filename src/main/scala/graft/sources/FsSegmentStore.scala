package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.SegmentMeta
import graft.operators.Compactor

/** Filesystem/object-store segment store
  * (reference: pkg/stores/s3_segment_store.go — key layout
  * `region/topic/partition/level/start-end`; pkg/core/core.go:56
  * SegmentStore interface: Create/Open/ListSegments/Delete).
  *
  * Layout: `root/region=R/topic=T/part=P/level=L/start=S/end=E/part-*.parquet`
  * — one directory per segment, holding that segment's parquet file(s).
  * Every path component is key=value so a `partitionBy` writer can emit
  * MANY segments in one distributed job (compaction, streaming egress)
  * while `list()` stays a driver-side metadata LIST (exactly the
  * reference's S3 LIST). Against S3 the same code runs with
  * `root = s3a://bucket/prefix`.
  *
  * Scale notes (the 100 TB contract):
  *   - [[open]] is ONE multi-path parquet scan for any number of
  *     segments; identity columns are derived from `input_file_name()`
  *     — no per-segment DataFrame, no N-way union, plan size O(1).
  *   - [[compactLeveled]] plans its runs on the driver from the
  *     metadata listing, then runs ONE read + ONE partitioned write
  *     for ALL runs — not a job pair per run, and no planning or
  *     counting job: each output's row count is read from its parquet
  *     footers.
  *   - Writes use dynamic partition overwrite, so a replayed batch or
  *     re-run compaction overwrites its own segment dirs (idempotent
  *     redelivery) without touching sibling segments.
  */
class FsSegmentStore(spark: SparkSession, val root: String) {

  private def fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def segmentPath(m: SegmentMeta): String =
    s"$root/region=${m.region}/topic=${m.topic}/part=${m.partId}/level=${m.level}/start=${m.startOffset}/end=${m.endOffset}"

  /** Write one segment: the message rows as one storage object
    * (coalesce(1)) like the reference's single S3 object per segment.
    * Segment identity lives in the directory key, not in the data.
    */
  def write(messages: DataFrame, meta: SegmentMeta): Unit =
    messages
      .coalesce(1)
      .write.mode(SaveMode.Overwrite)
      .parquet(segmentPath(meta))

  /** Driver-side segment inventory from the directory layout (the S3
    * LIST analogue). Returns a local Seq — segment counts are O(files),
    * metadata-scale, not data-scale.
    */
  def list(region: String, topic: String): Seq[SegmentMeta] = {
    val base = new Path(s"$root/region=$region/topic=$topic")
    if (!fs.exists(base)) return Seq.empty
    val f = fs
    def children(p: Path): Seq[Path] =
      f.listStatus(p).filter(_.isDirectory).map(_.getPath).toSeq
    for {
      partDir <- children(base).toSeq
      levelDir <- children(partDir)
      startDir <- children(levelDir)
      endDir <- children(startDir)
    } yield SegmentMeta(
      region = region, topic = topic,
      partId = partDir.getName.stripPrefix("part=").toInt,
      level = levelDir.getName.stripPrefix("level=").toInt,
      startOffset = startDir.getName.stripPrefix("start=").toLong,
      endOffset = endDir.getName.stripPrefix("end=").toLong,
      messageCount = -1L, sizeBytes = -1L)
  }

  /** Open the listed segments of a (region, topic) as one DataFrame
    * with segment identity columns (`seg_part`, `seg_level`,
    * `start_offset`, `end_offset`) — the relational view downstream
    * operators (replay, compaction) consume.
    *
    * ONE scan node regardless of segment count: all segment dirs go
    * into a single multi-path parquet read and identity is parsed from
    * `input_file_name()`, so the physical plan stays O(1) at 10⁵
    * segments (a per-segment union was a driver/plan-size bottleneck).
    */
  def open(region: String, topic: String, segments: Seq[SegmentMeta]): DataFrame = {
    require(segments.nonEmpty, "no segments to open")
    val paths = segments.map(segmentPath)
    val file = input_file_name()
    spark.read.parquet(paths: _*)
      .withColumn("seg_part", regexp_extract(file, "/part=(\\d+)/", 1).cast("int"))
      .withColumn("seg_level", regexp_extract(file, "/level=(\\d+)/", 1).cast("int"))
      .withColumn("start_offset", regexp_extract(file, "/start=(\\d+)/", 1).cast("long"))
      .withColumn("end_offset", regexp_extract(file, "/end=(\\d+)/", 1).cast("long"))
  }

  /** Inventory with store-side metadata — the reference's SegmentInfo
    * (pkg/formats/s3_parquet.go: Segment + store {timestamp, size}):
    * sizeBytes = sum of the segment dir's file lengths, createdEpoch =
    * newest file mtime in seconds. Still a driver-side metadata LIST.
    */
  def listInfo(region: String, topic: String): Seq[FsSegmentStore.SegmentInfo] = {
    val f = fs
    list(region, topic).map { m =>
      val files = f.listStatus(new Path(segmentPath(m))).filter(_.isFile)
      FsSegmentStore.SegmentInfo(
        m.copy(sizeBytes = files.map(_.getLen).sum),
        createdEpoch = if (files.isEmpty) 0L
          else files.map(_.getModificationTime).max / 1000L)
    }
  }

  def delete(m: SegmentMeta): Unit = {
    fs.delete(new Path(segmentPath(m)), true); ()
  }

  /** Bulk segment write: rows already labeled with their output
    * segment (`part`, `level`, `start`, `end` columns) land in the
    * store layout via ONE dynamic-partition-overwrite job — one file
    * per segment dir (hash-partitioned by segment key). This is the
    * scale path shared by compaction and streaming egress.
    *
    * The shuffle has `defaultParallelism` partitions, a count AQE does
    * not coalesce: a segment write costs per file, not per byte, so a
    * small batch of many segments is written on every core instead of
    * by one task.
    */
  def writePartitioned(labeled: DataFrame, region: String, topic: String): Unit =
    labeled
      .withColumn("region", lit(region))
      .withColumn("topic", lit(topic))
      .repartition(spark.sparkContext.defaultParallelism, col("part"), col("start"))
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("region", "topic", "part", "level", "start", "end")
      .parquet(root)

  /** Row count of a stored segment, summed from its parquet footers on
    * the driver (the reference keeps messageCount in the segment's own
    * footer): one metadata read per file, no Spark job. 0 when the
    * segment directory does not exist.
    */
  private def footerCount(m: SegmentMeta): Long = {
    val f = fs
    val dir = new Path(segmentPath(m))
    if (!f.exists(dir)) 0L
    else f.listStatus(dir).filter(_.getPath.getName.endsWith(".parquet")).map { s =>
      val reader = ParquetFileReader.open(
        HadoopInputFile.fromStatus(s, spark.sparkContext.hadoopConfiguration))
      try reader.getRecordCount finally reader.close()
    }.sum
  }

  /** Merges every output segment's inputs into it with ONE read over
    * all inputs + ONE partitioned write — not a job pair per output.
    * Offsets outside an output's [start, end] are skipped (already
    * compacted past a resume point) and each offset is kept once per
    * output (overlapping inputs from at-least-once rewinds). Returns
    * the outputs with `messageCount` read from the written footers; an
    * output whose rows were all skipped writes no directory and keeps
    * count 0.
    */
  private def merge(region: String, topic: String,
      bins: Seq[(SegmentMeta, Seq[SegmentMeta])]): Seq[SegmentMeta] = {
    val spark0 = spark
    import spark0.implicits._
    // (part, input start, input end) -> output segment key
    val binMap = bins.flatMap { case (out, inputs) =>
      inputs.map(m => (m.partId, m.startOffset, m.endOffset,
        out.startOffset, out.endOffset, out.level))
    }.toDF("seg_part", "start_offset", "end_offset", "out_start", "out_end",
      "out_level")
    writePartitioned(
      open(region, topic, bins.flatMap(_._2))
        .join(broadcast(binMap), Seq("seg_part", "start_offset", "end_offset"))
        .filter(col("msg_offset").between(col("out_start"), col("out_end")))
        .dropDuplicates("seg_part", "out_start", "msg_offset")
        .drop("start_offset", "end_offset", "seg_level")
        .withColumn("part", col("seg_part")).drop("seg_part")
        .withColumnRenamed("out_level", "level")
        .withColumnRenamed("out_start", "start")
        .withColumnRenamed("out_end", "end"),
      region, topic)
    bins.map { case (out, _) => out.copy(messageCount = footerCount(out)) }
  }

  /** Full leveled compaction against the store — the reference's
    * executable compactor (pkg/compaction/compactor.go:114-163:
    * create → copy in offset order skipping compacted offsets → close
    * → delete inputs). Candidate selection is
    * [[Compactor.leveledRun]] on this listing, run on
    * the driver — the same function behind the oracle-gated
    * `Compactor.planLeveled`: level range, MinSegmentAge, resume past
    * higher-level coverage, contained-segment consumption, count/byte
    * caps (inclusive crossing), min-count/min-bytes skip, stop-at-gap.
    * A call with no eligible run starts no Spark job.
    *
    * One merged segment per partition per run at
    * level = max(consumed level) + 1. Execution is ONE read over all
    * consumed inputs + ONE partitioned write (no per-bin jobs);
    * messages at or below a higher-level resume point are skipped
    * (already compacted), duplicates deduped per offset, counts read
    * from the written footers.
    */
  def compactLeveled(region: String, topic: String, minLevel: Int,
      maxLevel: Int, minAgeSec: Long, nowEpoch: Long, minSegments: Int,
      maxSegments: Int, minBytes: Long, maxBytes: Long,
      deleteInputs: Boolean = true): Seq[SegmentMeta] = {
    graft.core.Configs.Compaction(minLevel = minLevel, maxLevel = maxLevel,
      maxSegments = maxSegments, maxBytes = maxBytes,
      minAgeSec = minAgeSec).validated
    val bins = listInfo(region, topic).groupBy(_.meta.partId).toSeq.sortBy(_._1)
      .flatMap { case (_, infos) =>
        Compactor.leveledRun(
          infos.map { i =>
            Compactor.LeveledSegment(i.meta.partId, i.meta.level,
              i.meta.startOffset, i.meta.endOffset, i.meta.sizeBytes,
              i.createdEpoch)
          },
          minLevel, maxLevel, minAgeSec, nowEpoch, minSegments, maxSegments,
          minBytes, maxBytes)
      }
      .map { r =>
        SegmentMeta(region, topic, r.partId, r.level, r.startOffset, r.endOffset,
          messageCount = 0L, sizeBytes = -1L) -> r.consumed.map { s =>
          SegmentMeta(region, topic, s.partId, s.level, s.startOffset,
            s.endOffset, messageCount = -1L, sizeBytes = s.segBytes)
        }
      }
    if (bins.isEmpty) return Seq.empty
    val out = merge(region, topic, bins)
    // reference Config.Delete: keeping inputs is an operator choice
    // (e.g. verify-before-delete deployments)
    if (deleteInputs) bins.flatMap(_._2).foreach(delete)
    out
  }
}

object FsSegmentStore {
  /** Segment + store-side metadata (reference SegmentInfo). */
  case class SegmentInfo(meta: SegmentMeta, createdEpoch: Long)

  def apply(spark: SparkSession, root: String) = new FsSegmentStore(spark, root)
}
