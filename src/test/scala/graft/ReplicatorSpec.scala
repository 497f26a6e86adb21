package graft

import org.apache.spark.sql.functions._

import graft.operators._
import graft.sources.Tables

class ReplicatorSpec extends SparkSuite {

  private lazy val messages = MessageFraming.messages(Tables.events(spark, sf)).cache()

  test("framing: offsets contiguous from 0 per partition") {
    val bad = messages.groupBy("part_id")
      .agg(min("msg_offset").as("lo"), max("msg_offset").as("hi"),
        count(lit(1)).as("n"))
      .filter(col("lo") =!= 0 || col("hi") =!= col("n") - 1)
      .count()
    assert(bad === 0)
  }

  test("byCount: every segment holds <= max and covers its offsets") {
    val segs = SegmentRoller.byCount(messages, 100)
    assert(segs.filter(col("message_count") > 100).count() === 0)
    val mismatch = segs
      .filter(col("end_offset") - col("start_offset") + 1 =!= col("message_count"))
      .count()
    assert(mismatch === 0)
  }

  test("bySizeGreedy: reference isFull rule — close at size OR count, inclusive") {
    import spark.implicits._
    // partition 0: sizes 5,5,5,5 with maxBytes=10 → segments of 2+2
    val m = Seq((0, 0L, 5L), (0, 1L, 5L), (0, 2L, 5L), (0, 3L, 5L))
      .toDF("part_id", "msg_offset", "msg_size")
    val segs = SegmentRoller.bySizeGreedy(m, 10L, 100)
      .orderBy("seg_seq").collect()
    assert(segs.map(r => (r.getAs[Long]("start_offset"),
      r.getAs[Long]("end_offset"))).toSeq === Seq((0L, 1L), (2L, 3L)))
  }

  test("bySizeGreedy: count cap closes segment and tail flushes") {
    import spark.implicits._
    val m = (0L until 5L).map(i => (1, i, 1L)).toDF("part_id", "msg_offset", "msg_size")
    val segs = SegmentRoller.bySizeGreedy(m, 1000L, 2)
      .orderBy("seg_seq").collect()
    assert(segs.map(_.getAs[Long]("message_count")).toSeq === Seq(2L, 2L, 1L))
  }

  test("audit: seeded duplicates and gaps are counted") {
    import spark.implicits._
    val stream = Seq((0, 0L), (0, 1L), (0, 1L), (0, 4L))
      .toDF("part_id", "msg_offset")
    val row = StreamAudit.audit(stream).collect().head
    assert(row.getAs[Long]("n_dups") === 1L)
    assert(row.getAs[Long]("n_gaps") === 1L)
    assert(row.getAs[Long]("n_missing") === 2L) // offsets 2,3
  }

  test("gap detector: missing segment becomes a lost range") {
    import spark.implicits._
    val segs = Seq((0, 0L, 9L), (0, 20L, 29L)) // 10-19 missing
      .toDF("part_id", "start_offset", "end_offset")
    val lost = GapDetector.lostRanges(segs).collect().head
    assert(lost.getAs[Long]("lost_start") === 10L)
    assert(lost.getAs[Long]("lost_end") === 19L)
    assert(lost.getAs[Long]("lost_count") === 10L)
  }

  test("gap detector: contained segments never flag a false gap") {
    import spark.implicits._
    // (0-9),(5-20),(10-15),(30-39): (10-15) is contained in (5-20);
    // a lag()-based prev_end would shrink to 15 and report no gap at
    // 21-29 starting from the wrong base. Running max keeps 20.
    val segs = Seq((0, 0L, 9L), (0, 5L, 20L), (0, 10L, 15L), (0, 30L, 39L))
      .toDF("part_id", "start_offset", "end_offset")
    val lost = GapDetector.lostRanges(segs).collect()
    assert(lost.length === 1)
    assert(lost.head.getAs[Long]("lost_start") === 21L)
    assert(lost.head.getAs[Long]("lost_end") === 29L)
  }

  test("compaction plan: contained segment does not halt the contiguous prefix") {
    import spark.implicits._
    // (0-9),(5-20),(10-15) all overlap/contain; then gap; then (30-39).
    // All three pre-gap segments are eligible; the post-gap one waits.
    val segs = Seq((0, 0L, 9L), (0, 5L, 20L), (0, 10L, 15L), (0, 30L, 39L))
      .map { case (p, s0, e0) => (p, s0, e0, e0 - s0 + 1, 100L, 0) }
      .toDF("part_id", "start_offset", "end_offset", "message_count",
        "seg_bytes", "level")
    val plan = Compactor.plan(segs, 0, minSegments = 2, maxSegments = 10).collect()
    assert(plan.length === 1)
    assert(plan.head.getAs[Long]("input_segments") === 3L)
    assert(plan.head.getAs[Long]("end_offset") === 20L)
  }

  test("checkpoint commits count-closed segments, not the open tail") {
    import spark.implicits._
    // the count contract: only segments that reached the count cap
    // commit — byte-closed segments below it and the partial tails stay
    // open
    val segs = Seq(
      (0, 0L, 9L, 10L, 620L),   // closed by bytes, below the count cap
      (0, 10L, 19L, 10L, 650L), // closed by bytes, below the count cap
      (0, 20L, 24L, 5L, 110L),  // open tail: neither threshold
      (1, 0L, 63L, 64L, 400L),  // closed by count
      (1, 64L, 70L, 7L, 90L))   // open tail
      .toDF("part_id", "start_offset", "end_offset", "message_count", "seg_bytes")
    val ckCount = Checkpoints.fromSegments(segs, maxMessages = 64).collect()
    assert(ckCount.map(r => (r.getInt(0), r.getAs[Long]("ckpt_offset"))).toSeq ===
      Seq((1, 63L)))
  }

  test("ingress replay: checkpoint skip + overlap dedup + dense replay_seq") {
    import spark.implicits._
    val msgs = (0L until 10L).map(i => (0, i, s"k$i", s"v$i", 2L))
      .toDF("part_id", "msg_offset", "key", "msg_value", "msg_size")
    // overlapping segments [0,5] and [4,9]; checkpoint at 2
    val segs = Seq((0, 0L, 5L), (0, 4L, 9L))
      .toDF("part_id", "start_offset", "end_offset")
    val ckpt = Seq((0, 2L)).toDF("part_id", "ckpt_offset")
    val out = Ingress.replay(msgs, segs, ckpt).orderBy("msg_offset").collect()
    assert(out.map(_.getAs[Long]("msg_offset")).toSeq === (3L to 9L))
    assert(out.map(_.getAs[Long]("replay_seq")).toSeq === (0L to 6L))
  }

  test("compaction plan refuses to merge across a gap (contiguity)") {
    import spark.implicits._
    // partition 0: [0,9],[10,19], GAP, [30,39],[40,49]
    val segs = Seq((0, 0L, 9L), (0, 10L, 19L), (0, 30L, 39L), (0, 40L, 49L))
      .map { case (p, s0, e0) => (p, s0, e0, e0 - s0 + 1, 100L, 0) }
      .toDF("part_id", "start_offset", "end_offset", "message_count",
        "seg_bytes", "level")
    val plan = Compactor.plan(segs, 0, minSegments = 2, maxSegments = 10).collect()
    // only the contiguous prefix [0,19] compacts; post-gap segments wait
    assert(plan.length === 1)
    assert(plan.head.getAs[Long]("start_offset") === 0L)
    assert(plan.head.getAs[Long]("end_offset") === 19L)
  }

  test("mergedStats counts a message once per covering bin") {
    import spark.implicits._
    val msgsDf = (0L until 20L).map(i => (0, i, 2L))
      .toDF("part_id", "msg_offset", "msg_size")
    // two overlapping bins [0,12] and [8,19]: offsets 8-12 in both
    val plan = Seq((0, 0L, 0L, 12L, 1), (0, 1L, 8L, 19L, 1))
      .toDF("part_id", "bin", "start_offset", "end_offset", "level")
    val out = Compactor.mergedStats(msgsDf, plan)
      .orderBy("bin").collect()
    assert(out.map(_.getAs[Long]("message_count")).toSeq === Seq(13L, 12L))
  }

  test("compaction plan: bins respect min/max and output level bumps") {
    val segs = SegmentRoller.byCount(messages, 50)
    val plan = Compactor.plan(segs, level = 0, minSegments = 2, maxSegments = 4)
    val rows = plan.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Long]("input_segments") <= 4))
    assert(rows.forall(_.getAs[Long]("input_segments") >= 2))
    assert(rows.forall(_.getAs[Int]("level") === 1))
  }

  // -- leveled compaction: mirrors reference compaction_test.go cases --

  private def leveledFixture = {
    import spark.implicits._
    // (start, end, bytes, level, created): resume seg at level 3,
    // eligible chain with one contained rewind, a young tail, and a
    // below-minLevel segment that must stay invisible
    Seq(
      (0, 0L, 99L, 100L, 3, 100L),   // level > maxLevel -> resume point
      (0, 100L, 199L, 100L, 1, 100L),
      (0, 110L, 150L, 50L, 1, 100L), // contained: consumed, not counted
      (0, 200L, 299L, 100L, 2, 100L),
      (0, 300L, 399L, 100L, 1, 100L),
      (0, 400L, 499L, 100L, 1, 999L), // young: fails MinSegmentAge
      (0, 500L, 599L, 100L, 0, 100L)  // below minLevel: invisible
    ).toDF("part_id", "start_offset", "end_offset", "seg_bytes", "level",
      "created_epoch")
  }

  private def planLvl(maxSegments: Int = 10, maxBytes: Long = 1000000L,
      minSegments: Int = 2, minBytes: Long = 1L) =
    Compactor.planLeveled(leveledFixture, minLevel = 1, maxLevel = 2,
      minAgeSec = 500L, nowEpoch = 1000L, minSegments = minSegments,
      maxSegments = maxSegments, minBytes = minBytes, maxBytes = maxBytes)
      .collect()

  test("planLeveled: resume + age gate + contained consumption") {
    val out = planLvl()
    assert(out.length === 1)
    val r = out.head
    assert(r.getAs[Long]("start_offset") === 100L) // resume_end + 1
    assert(r.getAs[Long]("end_offset") === 399L)   // young tail excluded
    assert(r.getAs[Long]("input_segments") === 3L) // contained not counted
    assert(r.getAs[Int]("out_level") === 3)        // max consumed level 2 + 1
    assert(r.getAs[Long]("message_count") === 300L)
  }

  test("planLeveled: MaxSegmentCount stops the run") {
    val r = planLvl(maxSegments = 2).head
    assert(r.getAs[Long]("input_segments") === 2L)
    assert(r.getAs[Long]("end_offset") === 299L)
  }

  test("planLeveled: MaxSegmentSize stops inclusively at the crossing segment") {
    val r = planLvl(maxBytes = 150L).head
    assert(r.getAs[Long]("input_segments") === 2L)
    assert(r.getAs[Long]("end_offset") === 299L)
    assert(r.getAs[Long]("in_bytes") === 200L)
  }

  test("planLeveled: below MinSegmentCount / MinSegmentSize skips the partition") {
    assert(planLvl(minSegments = 5).isEmpty)
    assert(planLvl(minBytes = 10000L).isEmpty)
  }

  test("planLeveled: a coverage hole stops the run at the gap") {
    import spark.implicits._
    val withHole = leveledFixture.filter(col("start_offset") =!= 200L)
    val out = Compactor.planLeveled(withHole, 1, 2, 500L, 1000L,
      minSegments = 1, maxSegments = 10, minBytes = 1L, maxBytes = 1000000L)
      .collect()
    assert(out.length === 1)
    assert(out.head.getAs[Long]("end_offset") === 199L) // stops before 300
  }

  test("kafka wire frame converts to the graft message frame") {
    import spark.implicits._
    val wire = Seq(
      ("t", 3, 17L, "k1".getBytes, """{"k": 5}""".getBytes,
        new java.sql.Timestamp(1700000000000L)))
      .toDF("topic", "partition", "offset", "key", "value", "timestamp")
    val m = graft.streaming.KafkaBridge.toMessages(wire).collect().head
    assert(m.getAs[Int]("part_id") === 3)
    assert(m.getAs[Long]("msg_offset") === 17L)
    assert(m.getAs[String]("msg_value") === """{"k": 5}""")
    assert(m.getAs[Long]("msg_size") === 2L + 8L)
  }

  test("store reconciler flags both discrepancy kinds") {
    import spark.implicits._
    val listed = Seq((0, 1L), (0, 2L)).toDF("part_id", "seg_seq")
    val evented = Seq((0, 2L), (0, 3L)).toDF("part_id", "seg_seq")
    val out = StoreReconciler.reconcile(listed, evented)
      .orderBy("seg_seq").collect()
    assert(out.map(r => (r.getAs[Long]("seg_seq"), r.getAs[String]("status")))
      .toSeq === Seq((1L, "missing_event"), (3L, "missing_object")))
  }

  test("event triage: malformed dropped regardless of count, poison at the bound, ok below it") {
    import spark.implicits._
    val raw = Seq(
      // ok: well-formed, below the bound
      (1L, """{"p":0,"s":10,"t":"created","ts":100}""", 4L),
      // poison: well-formed, AT the bound (>= semantics)
      (2L, """{"p":0,"s":11,"t":"created","ts":101}""", 5L),
      // malformed beats poison: unparseable AND over the bound —
      // the reference deletes parse failures immediately
      (3L, """not json at all""", 9L),
      // malformed: missing required field
      (4L, """{"p":0,"t":"removed","ts":103}""", 1L),
      // malformed: unknown event type (reference skips unknown source)
      (5L, """{"p":0,"s":13,"t":"updated","ts":104}""", 1L),
      // malformed: non-numeric part id
      (6L, """{"p":"x","s":14,"t":"created","ts":105}""", 1L),
      // ok: removed is a known type
      (7L, """{"p":1,"s":15,"t":"removed","ts":106}""", 1L)
    ).toDF("event_id", "body", "receive_count")
    val out = StoreReconciler.triageEvents(raw, maxReceives = 5)
      .orderBy("event_id").collect()
    assert(out.map(r => (r.getLong(0), r.getAs[String]("status"))).toSeq === Seq(
      1L -> "ok", 2L -> "poison_dead", 3L -> "malformed_dead",
      4L -> "malformed_dead", 5L -> "malformed_dead",
      6L -> "malformed_dead", 7L -> "ok"))
    // nothing is silently dropped: every input event is accounted for
    assert(out.length === 7)
    // ok rows carry the parsed event, dead rows their identity
    val okRow = out.find(_.getLong(0) == 1L).get
    assert(okRow.getAs[Long]("part_id") === 0L)
    assert(okRow.getAs[Long]("seg_seq") === 10L)
    assert(okRow.getAs[Long]("event_ts") === 100L)
  }

  test("consistent listing merges event state (reference ListSegments scenarios)") {
    // mirrors tests/consistent_segment_store_test.go: CREATED fills a
    // listing miss; REMOVED newer than the listing deletes it; REMOVED
    // older than the listing is stale and ignored; expired events are
    // dropped from state before any of that.
    import spark.implicits._
    val listed = Seq(
      (0, 1L, 100L),  // plain listed segment
      (0, 2L, 100L),  // newer REMOVED (ts 150) → deleted
      (0, 3L, 100L),  // older REMOVED (ts 50) → stale, survives
      (0, 4L, 100L))  // REMOVED would delete it, but event expired
      .toDF("part_id", "seg_seq", "list_ts")
    val events = Seq(
      (0, 5L, "created", 120L),  // not yet listed → added from state
      (0, 6L, "created", 10L),   // not listed AND expired → absent
      (0, 2L, "removed", 150L),
      (0, 3L, "removed", 50L),
      (0, 4L, "removed", 15L))
      .toDF("part_id", "seg_seq", "event_type", "event_ts")
    val out = StoreReconciler.listWithState(listed, events, horizon = 20L)
      .orderBy("seg_seq").collect()
      .map(r => (r.getAs[Long]("seg_seq"), r.getAs[String]("origin")))
    assert(out.toSeq === Seq(
      (1L, "listed"), (3L, "listed"), (4L, "listed"), (5L, "event_created")))
  }

  test("merged stats preserve message counts (no loss, no dups)") {
    val segs = SegmentRoller.byCount(messages, 50)
    val plan = Compactor.plan(segs, 0, 2, 4)
    val merged = Compactor.mergedStats(messages, plan)
    val planned = plan.agg(sum("message_count")).head.getLong(0)
    val got = merged.agg(sum("message_count")).head.getLong(0)
    assert(got === planned)
  }
}
