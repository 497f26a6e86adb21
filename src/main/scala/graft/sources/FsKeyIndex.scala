package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Durable dedup key index — the persisted set of content keys the
  * corpus has already ingested, so each incoming batch dedups against
  * an index scan instead of a corpus rescan (the incremental-ingest
  * shape: new-batch ⋈ key-index, never corpus × corpus).
  *
  * Same log as [[FsCheckpointStore]] ([[Durable.Log]]): an append-only
  * parquet log of 60-bit keys under `root/keys/`; [[keys]] is the
  * distinct view, [[add]] appends a batch's accepted keys, [[compact]]
  * rewrites the log to one row per key. The log grows with ACCEPTED
  * documents (one 8-byte key each), not with corpus bytes, and the
  * distinct() is an aggregation Spark partial-aggregates map-side;
  * compact on whatever cadence a deployment likes.
  */
class FsKeyIndex(spark: SparkSession, val root: String) {

  private val log = new Durable.Log(spark, root, "keys",
    StructType(Seq(StructField("k", LongType))))

  /** Distinct ingested keys (empty when nothing has ever ingested). */
  def keys(): DataFrame = log.read(_.distinct())

  /** Append a batch of accepted keys (column `k`: long). */
  def add(ks: DataFrame): Unit = log.append(ks.select(col("k").cast("long")))

  /** Rewrite the log to one row per key (run between batches from the
    * single-writer context, like [[FsCheckpointStore.compactLog]]),
    * crash-safe via [[Durable.Log.rewrite]].
    *
    * The rewrite is coalesced to `targetFiles` output files
    * (`<= 0` = size the count from the log's own bytes at
    * ~128 MB/file): letting the distinct's shuffle width dictate the
    * file count would leave up to `spark.sql.shuffle.partitions`
    * files, which can sit ABOVE a [[compactIfNeeded]] bound forever —
    * every subsequent batch would then re-trigger a full rewrite that
    * never shrinks the count (correct results, pathological write
    * amplification).
    */
  def compact(targetFiles: Int = 0): Unit =
    log.rewrite(if (targetFiles > 0) targetFiles else sizedFiles())(_.distinct())

  /** ~128 MB/file when sizing a compacted rewrite from log bytes —
    * the distinct output is never larger than the raw log, so the
    * derived count is an upper bound on what the data needs.
    */
  private val TargetFileBytes = 128L * 1024 * 1024

  private def sizedFiles(): Int =
    math.max(1L, (log.dataFiles().map(_.getLen).sum + TargetFileBytes - 1) /
      TargetFileBytes).min(Int.MaxValue).toInt

  /** Data-file count of the append-only log — the read-amplification
    * signal ([[add]] appends one file per written partition per batch,
    * and every [[keys]] scan opens every log file). Metadata-only
    * (one directory listing).
    */
  def logFileCount(): Int = log.dataFiles().size

  /** Codified compaction cadence — the key-index analog of
    * [[graft.streaming.StreamingAnn.compactIfNeeded]]: rewrite the log
    * to one row per key when its data-file count exceeds
    * `maxLogFiles`, so the per-batch `batch ⋈ keys` scan stays bounded
    * under a long-lived ingest instead of opening one more file per
    * batch forever. Same single-writer contract as [[compact]] (run
    * between batches from the owner context). Returns true when a
    * compaction ran.
    */
  def compactIfNeeded(maxLogFiles: Int): Boolean = {
    graft.core.Validation.validate("key-index",
      graft.core.Validation.knob("maxLogFiles", maxLogFiles, minV = 1L))
    if (logFileCount() > maxLogFiles) {
      // cap the rewrite at the bound itself so the post-compaction
      // count can never re-trigger on the very next check; below the
      // cap, size from log bytes so a big index still gets ~128 MB
      // files rather than one giant one
      compact(math.min(maxLogFiles, sizedFiles()))
      val after = logFileCount()
      if (after > maxLogFiles)
        throw new IllegalStateException(
          s"key index at $root still has $after log files after compacting " +
            s"to a $maxLogFiles-file bound — the bound is unreachable; " +
            "raise maxLogFiles")
      true
    } else false
  }
}

object FsKeyIndex {
  def apply(spark: SparkSession, root: String) = new FsKeyIndex(spark, root)
}
