package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StreamingQuery}

import graft.core.{Configs, SegmentMeta}
import graft.operators.{Ingress, RollState, SegmentRoller}
import graft.sources.{FsCheckpointStore, FsSegmentStore}

/** Continuous paths via Structured Streaming. The Kafka source is the
  * same API surface (`readStream.format("kafka")`) swapped by config;
  * tests drive these with MemoryStream. Spark's checkpointLocation WAL
  * replaces the reference's manual offset-commit dance
  * (at-least-once on replay, exactly-once into file sinks).
  */

/** One streamed message keyed like the reference's consumer records. */
case class StreamMessage(partId: Int, msgOffset: Long, key: String,
    value: String, ts: Timestamp, sizeBytes: Long)

object StreamingEgress {

  /** Stateful segment roller — the direct streaming analogue of the
    * reference's per-partition worker loop: each micro-batch continues
    * the partition's open segment (the group state) with
    * [[SegmentRoller.roll]] and emits the segments it closes.
    *
    * `ageMs > 0` arms a processing-time timeout that flushes an aged
    * partial segment (MaxSegmentAge). NOTE: an armed timeout makes the
    * microbatch engine schedule continuous no-data batches to check
    * timers — correct for production, but `processAllAvailable()`
    * never settles; deterministic tests pass `ageMs = 0` (NoTimeout).
    */
  def statefulRoller(messages: Dataset[StreamMessage], region: String,
      topic: String, maxMessages: Long, maxBytes: Long,
      ageMs: Long = 60000L): Dataset[SegmentMeta] = {
    Configs.SegmentRoll(maxMessages, maxBytes).validated
    val spark = messages.sparkSession
    import spark.implicits._

    def update(partId: Int, rows: Iterator[StreamMessage],
        state: GroupState[RollState]): Iterator[SegmentMeta] = {
      val open = state.getOption.getOrElse(RollState.Empty)
      val (closed, rest) =
        if (state.hasTimedOut) (Vector(open).filter(_.messageCount > 0), RollState.Empty)
        else SegmentRoller.roll(open, rows.toSeq.sortBy(_.msgOffset).iterator
          .map(m => (m.msgOffset, m.sizeBytes)), maxMessages, maxBytes)
      if (rest.messageCount > 0) {
        state.update(rest)
        if (ageMs > 0) state.setTimeoutDuration(ageMs)
      } else state.remove()
      closed.iterator.map(s => SegmentMeta(region, topic, partId, level = 0,
        s.startOffset, s.endOffset, s.messageCount, s.sizeBytes))
    }

    val timeout = if (ageMs > 0) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    messages.groupByKey(_.partId)
      .flatMapGroupsWithState(OutputMode.Append(), timeout)(update)
  }

  /** Micro-batch egress: every batch's messages are rolled into
    * count-bounded segments ([[SegmentRoller.countKey]]) and written to
    * the segment store (foreachBatch = the reference's
    * consume→write→commit cycle, with Spark's WAL providing the commit).
    *
    * ONE distributed write per batch: each row is labeled with its
    * segment key (count-roll arithmetic + a min/max window) and the
    * whole batch lands via the store's partitioned writer — no
    * re-scan of the batch per segment, and dynamic partition
    * overwrite makes redelivered batches idempotent.
    */
  def foreachBatchEgress(messages: DataFrame, store: FsSegmentStore,
      region: String, topic: String, maxMessages: Int,
      checkpointDir: String): StreamingQuery = {
    Configs.SegmentRoll(maxMessages = maxMessages).validated
    eachBatch(messages, checkpointDir) { batch =>
      if (!batch.isEmpty) {
        val w = Window.partitionBy("part_id", "seg_seq")
        val labeled = batch
          .withColumn("seg_seq", SegmentRoller.countKey(maxMessages))
          .withColumn("start", min("msg_offset").over(w))
          .withColumn("end", max("msg_offset").over(w))
          .drop("seg_seq")
          .withColumn("part", col("part_id"))
          .withColumn("level", lit(0))
        store.writePartitioned(labeled, region, topic)
      }
    }
  }

  /** `f` on every micro-batch of `df`, the stream's WAL under
    * `checkpointDir` — the one foreachBatch wiring of the egress and
    * ingress legs.
    */
  private[streaming] def eachBatch(df: DataFrame, checkpointDir: String)(
      f: DataFrame => Unit): StreamingQuery =
    df.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch((batch: DataFrame, _: Long) => f(batch))
      .start()
}

/** One discovered-segment event (the SQS/event-stream analogue —
  * reference: pkg/stores/sqs_segment_event_source.go). A negative
  * startOffset is a heartbeat: it advances the group's tick clock
  * without adding a segment (stands in for the reference's timers).
  */
case class SegmentEvent(partId: Int, startOffset: Long, endOffset: Long)

/** One planned replay step: `action` is "replay" (deliver
  * [startOffset, endOffset]), "late" (the range is missing and the
  * backoff ladder just armed — the reference's segmentsLate mark,
  * ingress/worker.go:131-143; a later "replay" covering it is the
  * un-mark), or "lost" (the range was declared lost after the ladder
  * exhausted — ingress/worker.go:129-145).
  */
case class ReplayAction(partId: Int, action: String, startOffset: Long,
    endOffset: Long)

/** Ingress planner state per partition (the reference controlLoop's
  * locals: checkpoint, heap, lateSegmentRetry, first-segment timer —
  * reference: pkg/ingress/worker.go:92-156).
  */
case class IngressPlanState(nextOffset: Long, started: Boolean,
    firstTicks: Int, retries: Int, pending: List[(Long, Long)])

object StreamingIngress {

  /** Ordered, resilient replay PLANNING over a live segment-event
    * stream — the reference ingress controlLoop as a stateful stream
    * operator (reference: pkg/ingress/worker.go:96-170):
    *
    *   - segments replay in startOffset order, never before the
    *     running nextOffset (overlap skip: a segment wholly below it
    *     is dropped; a partial overlap replays from nextOffset);
    *   - with no checkpoint, replay starts only after
    *     `firstSegmentDelayTicks` ticks (FirstSegmentDelay): an
    *     out-of-order EARLIER segment arriving within the delay is
    *     replayed first instead of being declared lost;
    *   - a late segment (head starts past nextOffset) is retried for
    *     `maxLateRetries` ticks — if the missing segment arrives it
    *     slots in; only after the ladder is exhausted is
    *     [nextOffset, head.start-1] declared LOST and replay resumes;
    *   - one tick = one micro-batch invocation for the group
    *     (heartbeat events drive ticks deterministically — the
    *     batch-time analogue of the reference's backoff timers).
    *
    * This is the metadata/control plane: it emits the replay plan;
    * the data plane ([[fileReplay]]) moves the bytes. checkpoints maps
    * part_id -> last delivered offset (replay resumes after it) — a
    * snapshot read at query (re)start; within a run the state's own
    * nextOffset advances, and [[replayWithCommits]] persists each
    * batch's delivered offsets so the NEXT run's snapshot is current
    * (the reference's restart guarantee).
    */
  def orderedReplay(events: Dataset[SegmentEvent],
      checkpoints: Map[Int, Long], firstSegmentDelayTicks: Int,
      maxLateRetries: Int): Dataset[ReplayAction] = {
    val spark = events.sparkSession
    import spark.implicits._

    def drain(partId: Int, st0: IngressPlanState,
        out: scala.collection.mutable.ArrayBuffer[ReplayAction]): IngressPlanState = {
      var st = st0
      var blocked = false
      while (st.pending.nonEmpty && !blocked) {
        val (s0, e0) = st.pending.head
        if (e0 < st.nextOffset) {
          st = st.copy(pending = st.pending.tail) // fully replayed already
        } else if (s0 <= st.nextOffset) {
          out += ReplayAction(partId, "replay", math.max(s0, st.nextOffset), e0)
          st = st.copy(nextOffset = e0 + 1, retries = 0, pending = st.pending.tail)
        } else if (st.retries < maxLateRetries) {
          // first blocked tick marks the missing range late (metered)
          if (st.retries == 0)
            out += ReplayAction(partId, "late", st.nextOffset, s0 - 1)
          st = st.copy(retries = st.retries + 1) // one backoff step per tick
          blocked = true
        } else {
          out += ReplayAction(partId, "lost", st.nextOffset, s0 - 1)
          out += ReplayAction(partId, "replay", s0, e0)
          st = st.copy(nextOffset = e0 + 1, retries = 0, pending = st.pending.tail)
        }
      }
      st
    }

    def update(partId: Int, rows: Iterator[SegmentEvent],
        state: GroupState[IngressPlanState]): Iterator[ReplayAction] = {
      val ckpt = checkpoints.get(partId)
      var st = state.getOption.getOrElse(IngressPlanState(
        nextOffset = ckpt.map(_ + 1).getOrElse(-1L),
        started = ckpt.isDefined, firstTicks = 0, retries = 0, pending = Nil))
      val arrived = rows.filter(_.startOffset >= 0)
        .map(e => (e.startOffset, e.endOffset)).toList
      st = st.copy(pending = (st.pending ++ arrived).sortBy(identity))
      val out = scala.collection.mutable.ArrayBuffer.empty[ReplayAction]
      if (!st.started) {
        // FirstSegmentDelay: wait ticks before trusting the earliest
        // pending segment as the true start of the stream
        if (st.pending.nonEmpty) {
          st = st.copy(firstTicks = st.firstTicks + 1)
          if (st.firstTicks >= firstSegmentDelayTicks)
            st = st.copy(started = true, nextOffset = st.pending.head._1)
        }
      }
      if (st.started) st = drain(partId, st, out)
      state.update(st)
      out.iterator
    }

    events.groupByKey(_.partId)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout())(update)
  }

  /** [[orderedReplay]] wired to a live checkpoint store: the plan
    * resumes from the store's latest offsets (read at query start —
    * so a FRESH query after a crash/redeploy starts where the last
    * one delivered, not where a stale snapshot said), and every
    * micro-batch COMMITS its replayed ranges back (reference:
    * pkg/ingress/worker.go:218 — checkpoint advanced per replayed
    * segment). `onBatch` is the delivery hook (produce/collect).
    */
  def replayWithCommits(events: Dataset[SegmentEvent],
      ckptStore: FsCheckpointStore,
      firstSegmentDelayTicks: Int, maxLateRetries: Int,
      streamCheckpointDir: String)(onBatch: DataFrame => Unit)
      : StreamingQuery = {
    val actions = orderedReplay(events, ckptStore.latestMap(),
      firstSegmentDelayTicks, maxLateRetries)
    StreamingEgress.eachBatch(actions.toDF(), streamCheckpointDir) { batch =>
      deliver(batch, ckptStore) { b =>
        onBatch(b)
        b.filter(col("action") === "replay")
          .select(col("partId").as("part_id"), col("endOffset").as("ckpt_offset"))
      }
    }
  }

  /** One ingress micro-batch: persists `batch`, hands it to `send`,
    * which delivers it and returns the (part_id, ckpt_offset) offsets it
    * delivered, and advances `ckptStore` to them ([[Ingress.advance]]).
    * The batch is released whether or not the delivery succeeds.
    */
  private def deliver(batch: DataFrame, ckptStore: FsCheckpointStore)(
      send: DataFrame => DataFrame): Unit = {
    val b = batch.persist()
    try Ingress.advance(send(b))(ckptStore.commit)
    finally b.unpersist()
  }

  /** Per-partition meters over a (batch of the) replay-action stream —
    * the ingress worker's counters (reference:
    * pkg/ingress/worker.go:131-143: segmentsReplayed, segmentsLate,
    * segmentsLost, messagesLost).
    */
  def replayCounters(actions: DataFrame): DataFrame =
    actions.groupBy("partId").agg(
      sum(when(col("action") === "replay", 1L).otherwise(0L))
        .as("segments_replayed"),
      sum(when(col("action") === "replay",
        col("endOffset") - col("startOffset") + 1).otherwise(0L))
        .as("messages_replayed"),
      sum(when(col("action") === "late", 1L).otherwise(0L))
        .as("segments_late"),
      sum(when(col("action") === "lost", 1L).otherwise(0L))
        .as("lost_ranges"),
      sum(when(col("action") === "lost",
        col("endOffset") - col("startOffset") + 1).otherwise(0L))
        .as("messages_lost"))

  /** Continuous replay: watch the segment store for new segment files
    * (the file-source analogue of the reference's SQS segment events —
    * reference: pkg/stores/sqs_segment_event_source.go), then per
    * micro-batch order by (partition, offset), drop rows at or below
    * the CURRENT checkpoint ([[Ingress.pastCheckpoint]]), append to the
    * destination (a directory sink standing in for the Kafka producer;
    * `format("kafka")` is the config swap on a real cluster), and
    * ADVANCE the checkpoint to the batch's delivered high offsets
    * ([[Ingress.advance]]; reference:
    * pkg/ingress/worker.go:155-170,218 — checkpoint committed after
    * each replayed segment).
    *
    * The checkpoint is re-read from the store EVERY batch, so a
    * restarted query — even one with a fresh stream WAL that re-reads
    * every segment file — redelivers nothing at or below the offsets
    * the previous run committed.
    */
  def fileReplay(spark: SparkSession, storeRoot: String, region: String,
      topic: String, schema: org.apache.spark.sql.types.StructType,
      ckptStore: FsCheckpointStore, destDir: String,
      streamCheckpointDir: String): StreamingQuery = {
    val segments = spark.readStream
      .schema(schema)
      .parquet(s"$storeRoot/region=$region/topic=$topic/part=*/level=*/start=*/end=*")
    StreamingEgress.eachBatch(segments, streamCheckpointDir) { batch =>
      val pending = Ingress.pastCheckpoint(batch, ckptStore.latest())
        .sortWithinPartitions("part_id", "msg_offset")
      deliver(pending, ckptStore) { delivered =>
        delivered.write.mode("append").parquet(destDir)
        delivered.select(col("part_id"), col("msg_offset").as("ckpt_offset"))
      }
    }
  }
}

/** The Kafka-facing seam. This container has no broker or connector
  * jar, so [[source]] is the config wiring only (the standard
  * spark-sql-kafka source; swap brokers/topics per deployment), while
  * [[toMessages]] — the wire→graft frame conversion every downstream
  * operator consumes — is pure and fully tested on static data.
  */
object KafkaBridge {
  /** `readStream.format("kafka")` wiring (requires the
    * spark-sql-kafka connector on the cluster classpath).
    */
  def source(spark: SparkSession, brokers: String, topics: String): DataFrame =
    spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", brokers)
      .option("subscribe", topics)
      .option("startingOffsets", "earliest")
      .load()

  /** Kafka wire schema (key/value binary, topic, partition, offset,
    * timestamp) → the graft message frame. Message size mirrors
    * core.Message.Size() = len(key)+len(value)
    * (reference: pkg/core/core.go:136).
    */
  def toMessages(wire: DataFrame): DataFrame =
    wire.select(
      col("topic"),
      col("partition").cast("int").as("part_id"),
      col("offset").cast("long").as("msg_offset"),
      col("key").cast("string").as("key"),
      col("value").cast("string").as("msg_value"),
      col("timestamp").as("ts"),
      (octet_length(col("key")) + octet_length(col("value")))
        .cast("long").as("msg_size"))
}

/** ST5: at-least-once upstream delivery (the reference's guarantee —
  * failed segment writes rewind and redeliver, pkg/egress/worker.go)
  * → exactly-once downstream via watermarked stream deduplication.
  */
object StreamingDedup {
  /** Drop redelivered rows: rows equal on `keys` emit exactly once
    * within the event-time watermark on `eventTimeCol`. State is
    * bounded by the watermark — expired keys age out, so the dedup
    * map does not grow with the stream (the 100 TB contract).
    */
  def exactlyOnce(stream: DataFrame, eventTimeCol: String,
      watermark: String, keys: Seq[String]): DataFrame = {
    graft.core.Validation.validate("dedup-stream",
      graft.core.Validation.nonEmpty("keys", keys))
    stream
      .withWatermark(eventTimeCol, watermark)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)
  }
}

object StreamMetrics {
  /** Watermarked per-partition hourly metrics over the live stream
    * (reference: pkg/egress/metrics.go — volume/count meters, here as
    * event-time windows that tolerate late data up to the watermark).
    */
  def windowed(messages: DataFrame, watermark: String = "1 hour"): DataFrame =
    messages
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("partId"))
      .agg(
        count(lit(1)).as("n_messages"),
        sum("sizeBytes").as("total_bytes"),
        max("msgOffset").as("high_offset"))
}
