package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

/** Durable checkpoint store — the reference's checkpoint topic
  * (reference: pkg/stores/checkpoint_store.go — a compacted Kafka
  * topic keyed by (region, topic, partition), value = offset; readers
  * take the latest record per key).
  *
  * Re-expression: an append-only parquet log of (part_id, ckpt_offset)
  * commits under `root/commits/` — the same log as [[FsKeyIndex]]
  * ([[Durable.Log]]); [[latest]] is the latest-per-key aggregation
  * (exactly Kafka log-compaction semantics), [[compactLog]] is the
  * compaction itself, crash-safe like every log rewrite. Commits are
  * metadata-scale — one row per partition per micro-batch — so the log
  * grows with batches, not with data volume; compact it on whatever
  * cadence a deployment likes.
  */
class FsCheckpointStore(spark: SparkSession, val root: String) {

  private val log = new Durable.Log(spark, root, "commits", StructType(Seq(
    StructField("part_id", IntegerType),
    StructField("ckpt_offset", LongType))))

  private def maxPerPartition(commits: DataFrame): DataFrame =
    commits.groupBy("part_id").agg(max("ckpt_offset").as("ckpt_offset"))

  /** Append one commit batch: (part_id, ckpt_offset) rows. Later
    * commits for the same partition supersede earlier ones (max wins,
    * like the reference's per-segment checkpoint advancement —
    * pkg/ingress/worker.go:218).
    */
  def commit(offsets: DataFrame): Unit =
    log.append(offsets
      .select(col("part_id").cast("int"), col("ckpt_offset").cast("long"))
      .coalesce(1))

  /** Latest checkpoint per partition (empty result when nothing has
    * ever committed).
    */
  def latest(): DataFrame = log.read(maxPerPartition)

  /** Driver-side snapshot (one row per partition — metadata-scale). */
  def latestMap(): Map[Int, Long] =
    latest().collect()
      .map(r => r.getAs[Int]("part_id") -> r.getAs[Long]("ckpt_offset"))
      .toMap

  /** Log compaction: rewrite the commit log to one record per
    * partition (the compacted-topic cleaner). Safe to run between
    * queries; commits during compaction would be lost, so run it from
    * the same single-writer context that commits.
    */
  def compactLog(): Unit = log.rewrite(1)(maxPerPartition)
}

object FsCheckpointStore {
  def apply(spark: SparkSession, root: String) = new FsCheckpointStore(spark, root)
}
