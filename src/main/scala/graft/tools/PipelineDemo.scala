package graft.tools

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.core.LocalSession
import graft.operators.MessageFraming
import graft.sources.{FsCheckpointStore, FsSegmentStore, Tables}
import graft.streaming.{StreamMessage, StreamingEgress, StreamingIngress}

/** Live end-to-end replication topology in one process — the
  * reference's full deployment (egress controller → segment store →
  * compaction → ingress controller → destination) with both streaming
  * legs running concurrently:
  *
  *   events (chunked into a MemoryStream, standing in for the Kafka
  *   consumer) → foreachBatch egress rolls count-bounded segments into
  *   an FsSegmentStore → leveled compaction merges them → a file-source
  *   ingress stream watches the store and replays new segments, ordered
  *   and deduped past the checkpoint, into the destination directory.
  *
  *   java -cp <classes:spark-jars> graft.tools.PipelineDemo <sfDir> <workDir>
  */
object PipelineDemo {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, workDir) = args.take(2)
    val spark = LocalSession(8)
    spark.sparkContext.setLogLevel("ERROR")
    val ok = run(spark, sfDir, workDir)
    spark.stop()
    if (!ok) sys.exit(1)
  }

  /** The full topology; returns whether the end-to-end delivery check
    * held (callable from specs — does not own the session).
    */
  def run(spark: SparkSession, sfDir: String, workDir: String): Boolean = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    // Fresh run each time: the demo's MemoryStream source is not
    // replayable across processes, so a stale streaming WAL checkpoint
    // cannot resume (a real Kafka source WOULD resume from it — that
    // is exactly the at-least-once guarantee the WAL provides).
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(workDir))

    val store = FsSegmentStore(spark, s"$workDir/store")

    // --- source: the events table chunked into a live stream ---
    val all = MessageFraming.messages(Tables.events(spark, sfDir))
      .select("part_id", "msg_offset", "key", "msg_value", "ts", "msg_size")
      .as[(Int, Long, String, String, Timestamp, Long)]
      .collect()
      .map { case (p, o, k, v, t, sz) => StreamMessage(p, o, k, v, t, sz) }
    val source = MemoryStream[StreamMessage]

    // --- egress leg: stream → rolled segments in the store ---
    val egress = StreamingEgress.foreachBatchEgress(
      source.toDS().toDF()
        .withColumnRenamed("partId", "part_id")
        .withColumnRenamed("msgOffset", "msg_offset")
        .withColumnRenamed("sizeBytes", "msg_size"),
      store, "src", "events", maxMessages = 50,
      checkpointDir = s"$workDir/egress-ckpt")

    // feed the stream in three chunks, letting egress drain each
    all.grouped(all.length / 3 + 1).foreach { chunk =>
      source.addData(chunk.toSeq: _*)
      egress.processAllAvailable()
    }
    egress.stop()
    val level0 = store.list("src", "events")
    println(s"[pipeline] egress rolled ${level0.size} level-0 segments from ${all.length} live messages")

    // --- compaction leg (runs against the live store) ---
    val compacted = store.compactLeveled("src", "events", minLevel = 0,
      maxLevel = 0, minAgeSec = 0L, nowEpoch = System.currentTimeMillis() / 1000L,
      minSegments = 2, maxSegments = 4, minBytes = 0L, maxBytes = Long.MaxValue / 4)
    println(s"[pipeline] compaction merged into ${compacted.size} level-1 segments")

    // --- ingress leg: watch the store, replay ordered past checkpoint 9,
    //     advancing the durable checkpoint store per batch ---
    val ckptStore = FsCheckpointStore(spark, s"$workDir/ckpt-store")
    ckptStore.commit(Seq.range(0, MessageFraming.NumPartitions)
      .map(p => (p, 9L)).toDF("part_id", "ckpt_offset"))
    val schema = store.open("src", "events", store.list("src", "events"))
      .drop("start_offset", "end_offset", "seg_level", "seg_part").schema
    val ingress = StreamingIngress.fileReplay(spark, store.root, "src", "events",
      schema, ckptStore, s"$workDir/dest", s"$workDir/ingress-ckpt")
    ingress.processAllAvailable()
    ingress.stop()
    println(s"[pipeline] checkpoint store advanced to ${ckptStore.latestMap().toSeq.sorted}")

    val dest = spark.read.parquet(s"$workDir/dest")
    val delivered = dest.count()
    val dups = delivered - dest.dropDuplicates("part_id", "msg_offset").count()
    val minOff = dest.agg(min("msg_offset")).head.getLong(0)
    println(s"[pipeline] ingress delivered $delivered messages (dups=$dups, min offset=$minOff)")
    val expect = all.count(_.msgOffset > 9L)
    val ok = expect == delivered && dups == 0 && minOff == 10L
    println(s"[pipeline] end-to-end: expected $expect past-checkpoint messages, delivered $delivered — " +
      (if (ok) "OK" else "MISMATCH"))
    ok
  }
}
