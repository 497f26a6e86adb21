package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** The replicator-domain operators, re-expressed as declarative Spark
  * plans over the `events` table framed as a Kafka-like message stream.
  *
  * Framing: the synthetic `events` table stands in for a Kafka topic.
  * `partId = user_id % 8` is the topic partition; the per-partition
  * offset is the 0-based rank of `event_id` within the partition —
  * contiguous from 0, exactly like Kafka log offsets. All downstream
  * operators (rolling, checkpoints, gaps, replay, compaction) consume
  * this frame, mirroring the reference's per-partition worker inputs
  * (reference: pkg/egress/worker.go:44).
  *
  * Scale note: every operator here is keyed by partition — on a real
  * cluster the shuffle key is (topic, partition), the same unit of
  * parallelism the reference uses (one goroutine per partition), so the
  * plan scales linearly with partition count, not data volume.
  */
object MessageFraming {
  val NumPartitions = 8

  /** events → message frame: (part_id, msg_offset, key, value, ts, msg_size). */
  def messages(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("part_id").orderBy("event_id")
    events
      .withColumn("part_id", (col("user_id") % NumPartitions).cast("int"))
      .withColumn("msg_offset", row_number().over(w).cast("long") - 1)
      .withColumn("key", col("user_id").cast("string"))
      .withColumn("msg_value", col("props"))
      .withColumn("msg_size",
        (octet_length(col("key")) + octet_length(col("msg_value"))).cast("long"))
      .select("part_id", "msg_offset", "event_id", "ts", "event_type",
        "key", "msg_value", "msg_size")
  }

  /** DuckDB CTE computing the identical frame (shared by all oracles). */
  def sqlCte(dir: String = ""): String =
    """messages AS (
      |  SELECT (user_id % 8)::INT AS part_id,
      |         (row_number() OVER (PARTITION BY user_id % 8 ORDER BY event_id) - 1)::BIGINT AS msg_offset,
      |         event_id, ts, event_type,
      |         user_id::VARCHAR AS key, props AS msg_value,
      |         (strlen(user_id::VARCHAR) + strlen(props))::BIGINT AS msg_size
      |  FROM events
      |)""".stripMargin
}

/** Segment rolling — assigns each message to a storage segment.
  * (reference: pkg/egress/worker.go:54 `isFull`, worker.go:119 timer.)
  */
object SegmentRoller {

  /** Count-based rolling: segment = msg_offset / maxMessages. Offsets are
    * contiguous from 0 per partition, so this is pure arithmetic — no
    * window, no state, stays in whole-stage codegen.
    */
  def byCount(messages: DataFrame, maxMessages: Int): DataFrame = {
    graft.core.Configs.SegmentRoll(maxMessages = maxMessages).validated
    messages
      .withColumn("seg_seq", (col("msg_offset") / maxMessages).cast("long"))
      .groupBy("part_id", "seg_seq")
      .agg(
        min("msg_offset").as("start_offset"),
        max("msg_offset").as("end_offset"),
        count(lit(1)).as("message_count"),
        sum("msg_size").as("seg_bytes"))
      .withColumn("level", lit(0))
  }

  /** Session-cached [[byCount]] for the batch query surface: a dozen
    * replicator queries (checkpoints, gap/lost-range detection,
    * compaction planning, replay, reconcile, metrics) all derive from
    * the SAME count-rolled segment table, and each re-ran the message
    * frame's per-partition rank window to rebuild it. The segment
    * table is corpus/maxMessages rows (metadata-scale relative to the
    * stream) and the rolling is deterministic, so the dedup-registry
    * discipline applies unchanged. Streaming paths keep calling
    * [[byCount]] directly.
    */
  def byCountCached(messages: DataFrame, maxMessages: Int): DataFrame = {
    val ck = Dedup.corpusKey(messages)
    segCache.getOrElseUpdate(
      (ck._1, ck._2 + s"|segcount $maxMessages", 0L))({
      byCount(messages, maxMessages).cache()
    })
  }

  /** Cached count-rolled segment tables per (session, stream, size). */
  private val segCache = new Dedup.LruTableCache[
    (org.apache.spark.sql.SparkSession, String, Long)]

  /** Unpersist the cached segment tables for `spark` (wired into
    * [[Dedup.releaseAllCaches]]).
    */
  def releaseSegmentCaches(spark: org.apache.spark.sql.SparkSession): Unit =
    segCache.releaseSession(spark)

  /** Age-based rolling: event-time buckets per partition
    * (the MaxSegmentAge path — a segment never spans more than one
    * bucket of `age`). Declarative: date_trunc keeps codegen.
    */
  def byAge(messages: DataFrame, age: String = "hour"): DataFrame = {
    // an unknown truncation unit makes date_trunc return NULL and
    // silently rolls everything into one null-window segment
    graft.core.Validation.validate("segment-roll",
      graft.core.Validation.nonEmpty("age", age) ++
        graft.core.Validation.check("age",
          age == null || age.isEmpty ||
            // Spark's documented date_trunc unit set, aliases included
            // (YEAR/YYYY/YY, MONTH/MM/MON, DAY/DD) — rejecting a
            // Spark-valid alias broke previously-working calls (r16
            // advice); DuckDB shares every canonical name and the
            // oracle queries only use canonical ones
            Set("year", "yyyy", "yy", "quarter", "month", "mm", "mon",
              "week", "day", "dd", "hour", "minute", "second",
              "millisecond", "microsecond")
              .contains(age.toLowerCase),
          s"is not a date_trunc unit ('$age')"))
    messages
      .withColumn("seg_window", date_trunc(age, col("ts")))
      .groupBy("part_id", "seg_window")
      .agg(
        min("msg_offset").as("start_offset"),
        max("msg_offset").as("end_offset"),
        count(lit(1)).as("message_count"),
        sum("msg_size").as("seg_bytes"))
      .withColumn("seg_day", date_format(col("seg_window"), "yyyy-MM-dd HH:00:00"))
      .drop("seg_window")
  }

  /** Size+count greedy rolling — the reference's exact `isFull` rule:
    * a segment closes once cumulative bytes >= maxBytes OR message
    * count == maxMessages, INCLUDING the message that crossed the
    * threshold (reference: pkg/egress/worker.go:54,170-178).
    *
    * Inherently sequential per partition (the decision for message i
    * depends on all messages before it), so this is the one operator
    * implemented with `flatMapGroups` — parallel across partitions,
    * sequential within, mirroring the reference's worker-per-partition
    * model. Rows arrive sorted via secondary sort within each group.
    */
  def bySizeGreedy(messages: DataFrame, maxBytes: Long, maxMessages: Int): DataFrame = {
    graft.core.Configs.SegmentRoll(maxMessages, maxBytes).validated
    val spark = messages.sparkSession
    import spark.implicits._
    val slim = messages.select(
      col("part_id"), col("msg_offset"), col("msg_size"))
      .as[(Int, Long, Long)]
    slim
      .groupByKey(_._1)
      .flatMapSortedGroups($"msg_offset") { (part, rows) =>
        val out = scala.collection.mutable.ArrayBuffer
          .empty[(Int, Long, Long, Long, Long, Long)]
        var segSeq = 0L
        var start = -1L; var end = -1L; var cnt = 0L; var bytes = 0L
        def close(): Unit = {
          out += ((part, segSeq, start, end, cnt, bytes))
          segSeq += 1; start = -1L; cnt = 0L; bytes = 0L
        }
        for ((_, off, sz) <- rows) {
          if (start < 0) start = off
          end = off; cnt += 1; bytes += sz
          if (bytes >= maxBytes || cnt == maxMessages) close()
        }
        if (cnt > 0) close() // partial tail segment (flush at shutdown)
        out
      }
      .toDF("part_id", "seg_seq", "start_offset", "end_offset",
        "message_count", "seg_bytes")
      .withColumn("level", lit(0))
  }
}

/** Offset-continuity audit — the egress worker's sanityChecks
  * (duplicate / out-of-order / gap detection) as a window scan
  * (reference: pkg/egress/worker.go sanityChecks, ingress gap logic).
  */
object StreamAudit {
  /** Input: any (part_id, msg_offset) stream (possibly with dups/gaps).
    * Output per partition: message count, duplicate count, gap count,
    * total missing messages.
    */
  def audit(stream: DataFrame): DataFrame = {
    val w = Window.partitionBy("part_id").orderBy("msg_offset")
    stream
      .withColumn("prev_offset", lag("msg_offset", 1).over(w))
      .withColumn("is_dup",
        when(col("msg_offset") === col("prev_offset"), 1L).otherwise(0L))
      .withColumn("gap_size",
        when(col("prev_offset").isNotNull && col("msg_offset") > col("prev_offset") + 1,
          col("msg_offset") - col("prev_offset") - 1).otherwise(0L))
      .groupBy("part_id")
      .agg(
        count(lit(1)).as("n_messages"),
        sum("is_dup").as("n_dups"),
        sum(when(col("gap_size") > 0, 1L).otherwise(0L)).as("n_gaps"),
        sum("gap_size").as("n_missing"))
  }
}

/** Checkpoint semantics: latest committed offset per partition.
  * The egress worker commits only after a segment closes, so the
  * checkpoint is the max endOffset over FULL segments — the trailing
  * partial segment is not yet committed (reference:
  * pkg/egress/worker.go:92-116 completeSegment → commitOffset).
  */
object Checkpoints {
  /** Checkpoint = max endOffset over CLOSED segments, where `closed`
    * is the caller's roll rule. Count-rolled tables pass
    * [[closedByCount]]; size/age-rolled tables pass [[closedBySize]]
    * (the reference's isFull: bytes >= max OR count == max —
    * pkg/egress/worker.go:54) — a byte-closed segment commits too.
    */
  def fromSegments(segments: DataFrame, closed: Column): DataFrame =
    segments
      .filter(closed)
      .groupBy("part_id")
      .agg(max("end_offset").as("ckpt_offset"))

  def fromSegments(segments: DataFrame, maxMessages: Int): DataFrame =
    fromSegments(segments, closedByCount(maxMessages))

  def closedByCount(maxMessages: Int): Column =
    col("message_count") === maxMessages

  def closedBySize(maxBytes: Long, maxMessages: Int): Column =
    col("seg_bytes") >= maxBytes || col("message_count") >= maxMessages
}

/** Gap detection over the segment inventory: a partition whose next
  * expected offset is not covered by any present segment has a lost
  * range (reference: pkg/ingress/worker.go:105-130 late→lost).
  */
object GapDetector {
  /** Input: segment table (possibly with segments missing).
    * Output: one row per lost range (part_id, lost_start, lost_end, lost_count).
    *
    * `prev_end` is the RUNNING MAX of end_offset over all earlier
    * segments, not lag(): with overlapping segments (at-least-once
    * rewinds produce them) a segment fully contained in its
    * predecessor would shrink a lag()-based prev_end and flag ranges
    * that are in fact covered. The reference tracks
    * nextOffset = max(end)+1 the same way (ingress/worker.go).
    */
  def lostRanges(segments: DataFrame): DataFrame = {
    val w = Window.partitionBy("part_id").orderBy("start_offset", "end_offset")
    segments
      .withColumn("prev_end",
        max("end_offset").over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .filter(col("prev_end").isNotNull && col("start_offset") > col("prev_end") + 1)
      .select(
        col("part_id"),
        (col("prev_end") + 1).as("lost_start"),
        (col("start_offset") - 1).as("lost_end"),
        (col("start_offset") - col("prev_end") - 1).as("lost_count"))
  }
}

/** Ordered, checkpoint-aware, deduplicated replay — the ingress worker
  * (reference: pkg/ingress/worker.go:79-140): skip everything at or
  * below the checkpoint, drop duplicate offsets from overlapping
  * segments, and emit messages in strict (partition, offset) order.
  */
object Ingress {
  /** messages: full frame; presentSegments: surviving segment inventory;
    * checkpoints: (part_id, ckpt_offset). Returns the replayed stream with
    * a per-partition contiguous replay_seq.
    *
    * Scale note: segments are first coalesced into DISJOINT coverage
    * islands (maximal contiguous covered ranges, running-max window
    * arithmetic), so the per-partition join fans out messages ×
    * islands — usually ~1 per partition — instead of messages ×
    * segments, and overlapping/contained segments cost nothing. The
    * FILE-level replay path (FsSegmentStore.open /
    * StreamingIngress.fileReplay) — which reads only each segment's
    * own rows — remains the 100 TB data path; this relational form
    * carries the checkpoint/overlap semantics over an already-loaded
    * frame.
    */
  def replay(messages: DataFrame, presentSegments: DataFrame,
      checkpoints: DataFrame): DataFrame = {
    val w = Window.partitionBy("part_id").orderBy("start_offset", "end_offset")
    val islands = presentSegments
      .select("part_id", "start_offset", "end_offset")
      .withColumn("prev_max", max("end_offset")
        .over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_island",
        when(col("prev_max").isNull ||
          col("start_offset") > col("prev_max") + 1, 1L).otherwise(0L))
      .withColumn("island",
        sum("new_island").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("part_id", "island")
      .agg(min("start_offset").as("start_offset"),
        max("end_offset").as("end_offset"))
    // Messages covered by an island: islands are disjoint, so every
    // message matches at most one — no fanout, and the dedup below
    // only guards against duplicate input messages.
    val covered = messages
      .join(islands, Seq("part_id"))
      .filter(col("msg_offset").between(col("start_offset"), col("end_offset")))
      .select("part_id", "msg_offset", "key", "msg_value", "msg_size")
      .dropDuplicates("part_id", "msg_offset")
    val afterCkpt = covered
      .join(broadcast(checkpoints), Seq("part_id"), "left")
      .filter(col("ckpt_offset").isNull || col("msg_offset") > col("ckpt_offset"))
    val wSeq = Window.partitionBy("part_id").orderBy("msg_offset")
    afterCkpt
      .withColumn("replay_seq", row_number().over(wSeq).cast("long") - 1)
      .select("part_id", "msg_offset", "replay_seq", "key", "msg_size")
  }
}

/** Message-header handling (reference: pkg/core/messages.pb.go:215
  * Message_Header, pkg/formats/s3_parquet.go:115 headers LIST field):
  * the synthetic stream carries its headers as the JSON `props`
  * payload; typed header extraction is a JSON path projection that
  * stays in codegen.
  */
object Headers {
  /** Per-partition stats over the extracted integer header `k`. */
  def headerStats(messages: DataFrame): DataFrame =
    messages
      .withColumn("header_k",
        get_json_object(col("msg_value"), "$.k").cast("int"))
      .groupBy("part_id")
      .agg(
        count(lit(1)).as("n_messages"),
        sum(col("header_k").cast("long")).as("k_sum"),
        min("header_k").as("k_min"),
        max("header_k").as("k_max"))
}

/** Consistent segment store semantics (reference:
  * pkg/stores/consistent_segment_store.go): the segment inventory is
  * the reconciliation of the object-store LIST with the segment-event
  * stream — discrepancies mean a missed event (object without event)
  * or an in-flight/lost object (event without object).
  */
object StoreReconciler {
  /** Full-outer reconcile on segment identity. Returns only the
    * discrepancies with a status column.
    */
  def reconcile(listed: DataFrame, evented: DataFrame): DataFrame = {
    val l = listed.select(col("part_id"), col("seg_seq"), lit(1).as("in_list"))
    val e = evented.select(col("part_id"), col("seg_seq"), lit(1).as("in_events"))
    l.join(e, Seq("part_id", "seg_seq"), "full_outer")
      .filter(col("in_list").isNull || col("in_events").isNull)
      .select(
        col("part_id"), col("seg_seq"),
        coalesce(col("in_list"), lit(0)).as("in_list"),
        coalesce(col("in_events"), lit(0)).as("in_events"),
        when(col("in_events").isNull, "missing_event")
          .otherwise("missing_object").as("status"))
  }

  /** The reference's consistent READ path (ListSegments,
    * consistent_segment_store.go:176-215): merge the eventually-
    * consistent object-store LIST with the segment-event state.
    * A CREATED event adds a segment the listing hasn't surfaced yet;
    * a REMOVED event newer than the listing's observation deletes the
    * stale entry; events older than the retention horizon are expired
    * from state first (removeExpired, :335) so stale state can never
    * override a fresh listing forever.
    *
    * `listed`: (part_id, seg_seq, list_ts); `events`: (part_id,
    * seg_seq, event_type ∈ created|removed, event_ts); timestamps are
    * logical longs. Output: the consistent inventory with provenance.
    */
  def listWithState(listed: DataFrame, events: DataFrame,
      horizon: Long): DataFrame = {
    val w = Window.partitionBy("part_id", "seg_seq")
      .orderBy(col("event_ts").desc)
    val last = events
      .filter(col("event_ts") >= horizon)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("part_id"), col("seg_seq"), col("event_type"), col("event_ts"))
    val removedNewer =
      coalesce(col("event_type") === "removed" &&
        col("event_ts") > col("list_ts"), lit(false))
    listed.select(col("part_id"), col("seg_seq"), col("list_ts"))
      .join(last, Seq("part_id", "seg_seq"), "full_outer")
      .filter(
        (col("list_ts").isNotNull && !removedNewer) ||
        (col("list_ts").isNull && col("event_type") === "created"))
      .select(
        col("part_id"), col("seg_seq"),
        coalesce(col("list_ts"), col("event_ts")).as("seen_ts"),
        when(col("list_ts").isNotNull, "listed")
          .otherwise("event_created").as("origin"))
  }

  /** SQS-shape event triage (reference: sqs_segment_event_source.go:
    * 298-305 parse-failure drop, 284-288 receive-count bound, :309
    * unknown-source skip): classify a raw segment-event feed BEFORE
    * it reaches [[reconcile]]/[[listWithState]], so a malformed or
    * repeatedly-failing message can neither crash the reconcile nor
    * be silently lost.
    *
    * `raw`: (event_id, body, receive_count), body the JSON wire form
    * `{"p": part, "s": seq, "t": "created"|"removed", "ts": n}`.
    *  - `malformed_dead`: a required field absent or non-numeric, or
    *    an unknown event type — the reference deletes these
    *    immediately (invalid meter), regardless of receive count;
    *  - `poison_dead`: well-formed but delivered at least
    *    `maxReceives` times without success — the reference's
    *    "failed too many times" delete after MessageMaxRetryCount;
    *  - `ok`: feeds the reconcile.
    * Nothing is silently dropped: dead rows keep their event_id and
    * reason — the dead-letter queue of a production event source,
    * observable and replayable. One projection, zero shuffles.
    */
  def triageEvents(raw: DataFrame, maxReceives: Int): DataFrame = {
    graft.core.Configs.Triage(maxReceives).validated
    // try_cast, not cast: a non-numeric field must CLASSIFY the event
    // as malformed, not crash the triage (ANSI cast raises) — the
    // DuckDB oracle mirrors with TRY_CAST
    val p = expr("try_cast(get_json_object(body, '$.p') AS BIGINT)")
    val s = expr("try_cast(get_json_object(body, '$.s') AS BIGINT)")
    val t = get_json_object(col("body"), "$.t")
    val ts = expr("try_cast(get_json_object(body, '$.ts') AS BIGINT)")
    val malformed = p.isNull || s.isNull || ts.isNull ||
      t.isNull || !t.isin("created", "removed")
    raw.select(
      col("event_id"),
      p.as("part_id"), s.as("seg_seq"), t.as("event_type"),
      ts.as("event_ts"),
      col("receive_count").cast("long").as("receive_count"),
      when(malformed, "malformed_dead")
        .when(col("receive_count") >= maxReceives, "poison_dead")
        .otherwise("ok").as("status"))
  }
}

/** Compaction planning + execution (reference: pkg/compaction/compactor.go).
  * [[plan]]: group eligible level-L segments per partition into bins of
  * at most maxSegments, requiring at least minSegments per bin — the
  * greedy count-capped selection, window arithmetic only.
  * [[leveledRun]]: the full leveled selection for one partition, a
  * sequential greedy cut on the driver, shared by [[planLeveled]] and
  * the store's executor.
  */
object Compactor {
  def plan(segments: DataFrame, level: Int, minSegments: Int,
      maxSegments: Int): DataFrame = {
    graft.core.Configs.Compaction(minLevel = level, maxLevel = level,
      minSegments = minSegments, maxSegments = maxSegments).validated
    val w = Window.partitionBy("part_id").orderBy("start_offset", "end_offset")
    // Contiguity: the reference refuses to compact across a missing
    // offset range (compactor.go HasOffset error). Relationally: only
    // the contiguous prefix of each partition — everything before the
    // first gap — is eligible this run; segments at or past a gap wait
    // (so GapDetector keeps reporting the gap instead of compaction
    // absorbing it). prev_end is the running max, not lag(): a
    // contained segment must not flag a false gap (see
    // GapDetector.lostRanges).
    val flagged = segments
      .filter(col("level") === level)
      .withColumn("prev_end",
        max("end_offset").over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("gap_before",
        when(col("prev_end").isNotNull && col("start_offset") > col("prev_end") + 1, 1L)
          .otherwise(0L))
      .withColumn("gaps_so_far",
        sum("gap_before").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .filter(col("gaps_so_far") === 0)
      .drop("prev_end", "gap_before", "gaps_so_far")
    flagged
      .withColumn("bin", ((row_number().over(w) - 1) / maxSegments).cast("long"))
      .groupBy("part_id", "bin")
      .agg(
        count(lit(1)).as("input_segments"),
        min("start_offset").as("start_offset"),
        max("end_offset").as("end_offset"),
        sum("message_count").as("message_count"),
        sum("seg_bytes").as("seg_bytes"))
      .filter(col("input_segments") >= minSegments)
      .withColumn("level", lit(level + 1))
  }

  /** One segment as the leveled planner sees it: identity, size and
    * creation time (the reference's SegmentInfo).
    */
  final case class LeveledSegment(partId: Int, level: Int, startOffset: Long,
      endOffset: Long, segBytes: Long, createdEpoch: Long)

  /** One partition's leveled run: the output segment key and level,
    * the segments counted against the caps (`inputSegments`,
    * `inBytes`), and every segment the run consumes — those plus the
    * contained segments before the last counted one.
    */
  final case class LeveledRun(partId: Int, startOffset: Long, endOffset: Long,
      level: Int, inputSegments: Long, inBytes: Long,
      consumed: Seq[LeveledSegment])

  /** Leveled-compaction planning for ONE partition — the reference's
    * complete candidate selection (compactor.go getSegments, 163-230),
    * the same sequential greedy cut, run on the driver over the
    * metadata-scale listing:
    *
    *   - segments with level < minLevel are invisible;
    *   - segments with level > maxLevel are not merged again but set
    *     the RESUME point: merging restarts after their max endOffset;
    *   - eligible segments (minLevel..maxLevel) must be at least
    *     minAgeSec old at nowEpoch (MinSegmentAge gate);
    *   - in (start, end) order, a segment wholly below the running
    *     coverage (endOffset <= running max) is CONSUMED but not
    *     counted — the previously-compacted-overlap skip;
    *   - greedy accumulation stops once the run has maxSegments
    *     segments or maxBytes bytes (inclusive of the crossing
    *     segment, like egress isFull);
    *   - a partition below minSegments / minBytes gets no run.
    *
    * Deviation (documented): on a coverage hole the reference errors
    * the whole run ('missing message range'); graft stops at the gap
    * and compacts the contiguous prefix, leaving the gap observable
    * to GapDetector — same no-absorption guarantee, no failed run.
    *
    * `nowEpoch` is a parameter, not a clock read, so plans are
    * deterministic and oracle-checkable. This is the only leveled
    * planner: [[planLeveled]] applies it per partition group and
    * `FsSegmentStore.compactLeveled` calls it on its listing, so the
    * oracle-gated query and the store cannot drift.
    */
  def leveledRun(segments: Seq[LeveledSegment], minLevel: Int, maxLevel: Int,
      minAgeSec: Long, nowEpoch: Long, minSegments: Long, maxSegments: Long,
      minBytes: Long, maxBytes: Long): Option[LeveledRun] = {
    val resumeEnd = segments.filter(_.level > maxLevel).map(_.endOffset).maxOption
    val eligible = segments
      .filter(s => s.level >= minLevel && s.level <= maxLevel &&
        s.createdEpoch <= nowEpoch - minAgeSec)
      .sortBy(s => (s.startOffset, s.endOffset, s.level))
    val consumed = Vector.newBuilder[LeveledSegment]
    var pending = Vector.empty[LeveledSegment] // contained, not yet consumed
    var (base, count, bytes, first) = (resumeEnd.getOrElse(-1L), 0L, 0L, 0L)
    val it = eligible.iterator
    var open = true
    while (open && it.hasNext) {
      val s = it.next()
      if (s.endOffset <= base) pending :+= s
      else if ((base >= 0 && s.startOffset > base + 1) || // a gap
          count >= maxSegments || bytes >= maxBytes) open = false
      else {
        consumed ++= pending :+ s
        pending = Vector.empty
        if (count == 0) first = s.startOffset
        count += 1; bytes += s.segBytes; base = s.endOffset
      }
    }
    val inputs = consumed.result()
    if (count == 0 || count < minSegments || bytes < minBytes) None
    else Some(LeveledRun(inputs.head.partId, resumeEnd.fold(first)(_ + 1),
      base, inputs.map(_.level).max + 1, count, bytes, inputs))
  }

  /** [[leveledRun]] over a segment table (`part_id`, `level`,
    * `start_offset`, `end_offset`, `seg_bytes`, `created_epoch`): one
    * row per partition that has a run, grouped by `part_id` and
    * planned per group.
    */
  def planLeveled(segments: DataFrame, minLevel: Int, maxLevel: Int,
      minAgeSec: Long, nowEpoch: Long, minSegments: Int, maxSegments: Int,
      minBytes: Long, maxBytes: Long): DataFrame = {
    graft.core.Configs.Compaction(minLevel, maxLevel, minSegments,
      maxSegments, minBytes, maxBytes, minAgeSec).validated
    val spark = segments.sparkSession
    import spark.implicits._
    segments
      .select(col("part_id").cast("int").as("partId"),
        col("level").cast("int").as("level"),
        col("start_offset").cast("long").as("startOffset"),
        col("end_offset").cast("long").as("endOffset"),
        col("seg_bytes").cast("long").as("segBytes"),
        col("created_epoch").cast("long").as("createdEpoch"))
      .as[LeveledSegment]
      .groupByKey(_.partId)
      .flatMapGroups { (_, segs) =>
        leveledRun(segs.toVector, minLevel, maxLevel, minAgeSec, nowEpoch,
          minSegments, maxSegments, minBytes, maxBytes).map { r =>
          (r.partId, r.startOffset, r.endOffset, r.inputSegments, r.inBytes,
            r.level, r.endOffset - r.startOffset + 1)
        }
      }
      .toDF("part_id", "start_offset", "end_offset", "input_segments",
        "in_bytes", "out_level", "message_count")
  }

  /** Merge step: pull the messages of each planned bin, dedup by offset
    * (overlap between inputs), and emit merged-segment stats. The real
    * file-store variant lives in graft.sources.FsSegmentStore.
    */
  def mergedStats(messages: DataFrame, plan: DataFrame): DataFrame =
    messages
      .join(plan.select("part_id", "bin", "start_offset", "end_offset", "level"),
        Seq("part_id"))
      .filter(col("msg_offset").between(col("start_offset"), col("end_offset")))
      // per-BIN dedup: a message covered by two overlapping bins counts
      // in both (each merged segment physically contains it)
      .dropDuplicates("part_id", "bin", "msg_offset")
      .groupBy("part_id", "bin", "level")
      .agg(
        count(lit(1)).as("message_count"),
        min("msg_offset").as("merged_start"),
        max("msg_offset").as("merged_end"),
        sum("msg_size").as("merged_bytes"))
}

/** Rewind/late/lost meters over an ARRIVAL-ordered segment delivery
  * log — the reference's per-partition worker counters (reference:
  * pkg/egress/worker.go:75-85 segmentsRewinded/messagesRewinded on
  * redelivery after a failed write; pkg/ingress/worker.go:131-143
  * segmentsLate/segmentsLost/messagesLost through the backoff ladder),
  * re-expressed as one window pass over the log:
  *
  *   - a REWIND is an exact redelivery: the same (partition, start,
  *     end) segment arriving again (what a failed-write rewind
  *     produces);
  *   - a LATE event is an arrival that finds a gap open (its start is
  *     past the running-max end + 1) — the moments the reference marks
  *     a segment late and arms the backoff timer; a later backfill
  *     arrival un-marks it (and is itself neither late nor a rewind);
  *   - LOST ranges are the holes remaining in FINAL coverage
  *     ([[GapDetector]] semantics); messages_delivered is the covered
  *     span minus those holes.
  */
object ReplayAudit {
  /** arrivals: (part_id, arrival_seq, start_offset, end_offset). */
  def metrics(arrivals: DataFrame): DataFrame = {
    val wArr = Window.partitionBy("part_id")
      .orderBy("arrival_seq", "start_offset", "end_offset")
    val wDup = Window.partitionBy("part_id", "start_offset", "end_offset")
      .orderBy("arrival_seq")
    val flagged = arrivals
      .withColumn("prior_max", coalesce(
        max("end_offset").over(wArr.rowsBetween(Window.unboundedPreceding, -1)),
        lit(-1L)))
      .withColumn("dup_n", row_number().over(wDup))
    val base = flagged.groupBy("part_id").agg(
      count(lit(1)).as("n_arrivals"),
      sum(when(col("dup_n") > 1, 1L).otherwise(0L)).as("segments_rewinded"),
      sum(when(col("dup_n") > 1, col("end_offset") - col("start_offset") + 1)
        .otherwise(0L)).as("messages_rewinded"),
      sum(when(col("prior_max") >= 0 &&
        col("start_offset") > col("prior_max") + 1, 1L).otherwise(0L))
        .as("late_events"),
      min("start_offset").as("min_s"),
      max("end_offset").as("max_e"))
    val holes = GapDetector
      .lostRanges(arrivals.select("part_id", "start_offset", "end_offset"))
      .groupBy("part_id").agg(
        count(lit(1)).as("lost_ranges"),
        sum("lost_count").as("messages_lost"))
    base.join(holes, Seq("part_id"), "left")
      .select(
        col("part_id"), col("n_arrivals"), col("segments_rewinded"),
        col("messages_rewinded"), col("late_events"),
        (col("max_e") - col("min_s") + 1 - coalesce(col("messages_lost"), lit(0L)))
          .as("messages_delivered"),
        coalesce(col("lost_ranges"), lit(0L)).as("lost_ranges"),
        coalesce(col("messages_lost"), lit(0L)).as("messages_lost"))
  }
}

/** Per-partition replication metrics (reference: pkg/egress/metrics.go,
  * pkg/ingress/metrics.go): volume, counts, and lag — here event-time
  * lag of each partition behind the global high-watermark.
  */
object ReplicationMetrics {
  def perPartition(messages: DataFrame): DataFrame = {
    val agg = messages.groupBy("part_id").agg(
      count(lit(1)).as("n_messages"),
      sum("msg_size").as("total_bytes"),
      max("msg_offset").as("high_offset"),
      max(col("ts").cast("long")).as("part_max_epoch"))
    val global = agg.agg(max("part_max_epoch").as("global_max_epoch"))
    agg.crossJoin(broadcast(global))
      .withColumn("lag_seconds", col("global_max_epoch") - col("part_max_epoch"))
      .select("part_id", "n_messages", "total_bytes", "high_offset", "lag_seconds")
  }
}
