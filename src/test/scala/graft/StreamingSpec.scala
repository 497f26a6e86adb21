package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming._

class StreamingSpec extends SparkSuite {

  private def msg(p: Int, off: Long, size: Long = 10L) =
    StreamMessage(p, off, s"k$off", s"v$off", new Timestamp(1700000000000L + off), size)

  test("stateful roller emits closed segments and keeps the partial tail") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamMessage]
    val rolled = StreamingEgress.statefulRoller(
      input.toDS(), "src", "t", maxMessages = 3, maxBytes = 1000L, ageMs = 0L)
    val q = rolled.writeStream.format("memory")
      .queryName("rolled").outputMode("append")
      .option("checkpointLocation", tmpDir("ckpt-roller")).start()
    try {
      input.addData((0L until 7L).map(msg(0, _)): _*)
      q.processAllAvailable()
      val segs = spark.table("rolled").collect()
      // 7 messages, max 3 → two closed segments [0,2],[3,5]; tail [6] still open
      assert(segs.map(r => (r.getAs[Long]("startOffset"), r.getAs[Long]("endOffset")))
        .toSet === Set((0L, 2L), (3L, 5L)))
      input.addData(msg(0, 7L), msg(0, 8L))
      q.processAllAvailable()
      val more = spark.table("rolled").collect()
      assert(more.length === 3) // tail closed at count 3: [6,8]
    } finally q.stop()
  }

  test("stateful roller closes on byte size before count") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamMessage]
    val rolled = StreamingEgress.statefulRoller(
      input.toDS(), "src", "t", maxMessages = 100, maxBytes = 25L, ageMs = 0L)
    val q = rolled.writeStream.format("memory")
      .queryName("rolled_size").outputMode("append")
      .option("checkpointLocation", tmpDir("ckpt-roller-size")).start()
    try {
      input.addData((0L until 6L).map(msg(0, _, size = 10L)): _*) // 3 msgs = 30B >= 25B
      q.processAllAvailable()
      val segs = spark.table("rolled_size").collect()
      assert(segs.map(r => (r.getAs[Long]("startOffset"), r.getAs[Long]("endOffset"),
        r.getAs[Long]("sizeBytes"))).toSet === Set((0L, 2L, 30L), (3L, 5L, 30L)))
    } finally q.stop()
  }

  test("foreachBatch egress writes rolled segments to the store") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val store = graft.sources.FsSegmentStore(spark, tmpDir("stream-store"))
    val input = MemoryStream[StreamMessage]
    val df = input.toDS().toDF()
      .withColumnRenamed("partId", "part_id")
      .withColumnRenamed("msgOffset", "msg_offset")
      .withColumnRenamed("sizeBytes", "msg_size")
    val q = StreamingEgress.foreachBatchEgress(df, store, "src", "t",
      maxMessages = 5, checkpointDir = tmpDir("ckpt-egress"))
    try {
      input.addData((0L until 10L).map(msg(1, _)): _*)
      q.processAllAvailable()
      val listed = store.list("src", "t")
      assert(listed.size === 2)
      assert(listed.map(m => (m.startOffset, m.endOffset)).sorted ===
        Seq((0L, 4L), (5L, 9L)))
    } finally q.stop()
  }

  test("streaming ingress replays store segments past the checkpoint") {
    import spark.implicits._
    // seed a store with two segments on partition 0: offsets 0-4, 5-9
    val store = graft.sources.FsSegmentStore(spark, tmpDir("ingress-store"))
    val msgs = (0L until 10L).map(i => (0, i, s"k$i", 3L))
      .toDF("part_id", "msg_offset", "key", "msg_size")
    Seq((0L, 4L), (5L, 9L)).foreach { case (s0, e0) =>
      store.write(msgs.filter(col("msg_offset").between(s0, e0)),
        graft.core.SegmentMeta("src", "t", 0, 0, s0, e0, e0 - s0 + 1, -1L))
    }
    val ckptStore = graft.sources.FsCheckpointStore(spark, tmpDir("ingress-ckstore"))
    ckptStore.commit(Seq((0, 2L)).toDF("part_id", "ckpt_offset"))
    val dest = tmpDir("ingress-dest")
    val q = StreamingIngress.fileReplay(spark, store.root, "src", "t",
      msgs.schema, ckptStore, dest, tmpDir("ingress-ckpt"))
    try {
      q.processAllAvailable()
      val out = spark.read.parquet(dest)
      assert(out.count() === 7) // offsets 3..9
      assert(out.agg(min("msg_offset")).head.getLong(0) === 3L)
      // the batch advanced the durable checkpoint to the delivered max
      assert(ckptStore.latestMap() === Map(0 -> 9L))
    } finally q.stop()
  }

  test("fileReplay releases its persisted batch when the delivery fails") {
    import spark.implicits._
    val store = graft.sources.FsSegmentStore(spark, tmpDir("failing-store"))
    val msgs = (0L until 5L).map(i => (0, i, s"k$i", 3L))
      .toDF("part_id", "msg_offset", "key", "msg_size")
    store.write(msgs, graft.core.SegmentMeta("src", "t", 0, 0, 0L, 4L, 5L, -1L))
    val ckptStore = graft.sources.FsCheckpointStore(spark, tmpDir("failing-ckstore"))
    // the destination is an existing regular file, so the append fails
    val dest = new java.io.File(tmpDir("failing-dest"), "dest")
    java.nio.file.Files.writeString(dest.toPath, "not a directory")
    // Dataset.persist registers a cache entry before any job runs; the
    // entry count is read reflectively (the accessor is sql-private)
    val cache = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    def cacheEntries = cache.getClass.getMethod("numCachedEntries").invoke(cache)
    val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet
    val entriesBefore = cacheEntries
    val q = StreamingIngress.fileReplay(spark, store.root, "src", "t",
      msgs.schema, ckptStore, dest.getAbsolutePath, tmpDir("failing-ckpt"))
    try intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
    } finally q.stop()
    assert(spark.sparkContext.getPersistentRDDs.keySet -- rddsBefore === Set.empty)
    assert(cacheEntries === entriesBefore)
    assert(ckptStore.latestMap().isEmpty) // nothing delivered, nothing committed
  }

  test("fileReplay restart: fresh query redelivers nothing below the advanced checkpoint") {
    import spark.implicits._
    val store = graft.sources.FsSegmentStore(spark, tmpDir("restart-store"))
    val mk = (s0: Long, e0: Long) => {
      val rows = (s0 to e0).map(i => (0, i, s"k$i", 3L))
        .toDF("part_id", "msg_offset", "key", "msg_size")
      store.write(rows, graft.core.SegmentMeta("src", "t", 0, 0, s0, e0,
        e0 - s0 + 1, -1L))
    }
    mk(0L, 4L); mk(5L, 9L)
    val ckptStore = graft.sources.FsCheckpointStore(spark, tmpDir("restart-ckstore"))
    val dest = tmpDir("restart-dest")
    val msgsSchema = Seq((0, 0L, "k", 3L))
      .toDF("part_id", "msg_offset", "key", "msg_size").schema

    // run 1: no prior checkpoint — everything delivers, checkpoint -> 9
    val q1 = StreamingIngress.fileReplay(spark, store.root, "src", "t",
      msgsSchema, ckptStore, dest, tmpDir("restart-wal1"))
    try q1.processAllAvailable() finally q1.stop()
    assert(spark.read.parquet(dest).count() === 10)
    assert(ckptStore.latestMap() === Map(0 -> 9L))

    // run 2: FRESH stream WAL — the file source re-reads every segment
    // file, but the durable checkpoint blocks all redelivery
    val q2 = StreamingIngress.fileReplay(spark, store.root, "src", "t",
      msgsSchema, ckptStore, dest, tmpDir("restart-wal2"))
    try {
      q2.processAllAvailable()
      assert(spark.read.parquet(dest).count() === 10) // zero redelivery
      // new data past the checkpoint still flows and re-advances it
      mk(10L, 14L)
      q2.processAllAvailable()
      val out = spark.read.parquet(dest)
      assert(out.count() === 15)
      assert(out.dropDuplicates("part_id", "msg_offset").count() === 15)
      assert(ckptStore.latestMap() === Map(0 -> 14L))
    } finally q2.stop()
  }

  test("replayWithCommits restart-resume: the plan resumes after delivered offsets") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckptStore = graft.sources.FsCheckpointStore(spark, tmpDir("plan-ckstore"))

    // run 1: two segments replay; each batch commits its high offset
    val in1 = MemoryStream[SegmentEvent]
    val q1 = StreamingIngress.replayWithCommits(in1.toDS(), ckptStore,
      firstSegmentDelayTicks = 1, maxLateRetries = 0,
      tmpDir("plan-wal1")) { b =>
      b.collect(); ()
    }
    try {
      in1.addData(SegmentEvent(0, 0L, 9L))
      q1.processAllAvailable()
      in1.addData(SegmentEvent(0, 10L, 19L))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(ckptStore.latestMap() === Map(0 -> 19L))

    // run 2: fresh query + fresh WAL; the SAME segments are re-announced
    // (an event-source redelivery flood) plus one new segment — only the
    // new one replays, with no FirstSegmentDelay (a checkpoint exists)
    val in2 = MemoryStream[SegmentEvent]
    val seen = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
    val q2 = StreamingIngress.replayWithCommits(in2.toDS(), ckptStore,
      firstSegmentDelayTicks = 5, maxLateRetries = 0,
      tmpDir("plan-wal2")) { b =>
      seen ++= b.collect().map(r => (r.getAs[String]("action"),
        r.getAs[Long]("startOffset"), r.getAs[Long]("endOffset")))
      ()
    }
    try {
      in2.addData(SegmentEvent(0, 0L, 9L), SegmentEvent(0, 10L, 19L),
        SegmentEvent(0, 20L, 29L))
      q2.processAllAvailable()
      assert(seen.toSeq === Seq(("replay", 20L, 29L)))
      assert(ckptStore.latestMap() === Map(0 -> 29L))
    } finally q2.stop()
  }

  // ---- orderedReplay: the reference controlLoop's resilience ----

  private def replayHarness(checkpoints: Map[Int, Long], delayTicks: Int,
      maxRetries: Int, name: String) = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[SegmentEvent]
    val q = StreamingIngress.orderedReplay(input.toDS(), checkpoints,
      delayTicks, maxRetries)
      .writeStream.format("memory").queryName(name).outputMode("append")
      .option("checkpointLocation", tmpDir(s"ckpt-$name")).start()
    (input, q)
  }

  private def actions(name: String): Seq[(String, Long, Long)] =
    spark.table(name).collect()
      .map(r => (r.getAs[String]("action"), r.getAs[Long]("startOffset"),
        r.getAs[Long]("endOffset"))).toSeq

  test("orderedReplay: an out-of-order segment is replayed, not lost") {
    val (input, q) = replayHarness(Map(0 -> -1L), 0, maxRetries = 3, "replay_ooo")
    try {
      input.addData(SegmentEvent(0, 10L, 19L)) // arrives BEFORE [0,9]
      q.processAllAvailable()
      // waiting, not lost — the missing range is MARKED late (metered)
      assert(actions("replay_ooo") === Seq(("late", 0L, 9L)))
      input.addData(SegmentEvent(0, 0L, 9L)) // the missing one shows up
      q.processAllAvailable()
      assert(actions("replay_ooo") ===
        Seq(("late", 0L, 9L), ("replay", 0L, 9L), ("replay", 10L, 19L)))
    } finally q.stop()
  }

  test("orderedReplay: a never-arriving segment is lost only after the ladder") {
    val (input, q) = replayHarness(Map(0 -> -1L), 0, maxRetries = 2, "replay_lost")
    try {
      input.addData(SegmentEvent(0, 10L, 19L))
      q.processAllAvailable() // tick 1: retry 1, range marked late
      input.addData(SegmentEvent(0, -1L, -1L)) // heartbeat tick 2: retry 2
      q.processAllAvailable()
      // still inside the ladder: late-marked, nothing replayed or lost
      assert(actions("replay_lost") === Seq(("late", 0L, 9L)))
      input.addData(SegmentEvent(0, -1L, -1L)) // tick 3: ladder exhausted
      q.processAllAvailable()
      assert(actions("replay_lost") ===
        Seq(("late", 0L, 9L), ("lost", 0L, 9L), ("replay", 10L, 19L)))
      // the meters the reference keeps, from the same action stream
      val counters = StreamingIngress.replayCounters(
        spark.table("replay_lost")).collect()
      assert(counters.length === 1)
      val c = counters.head
      assert(c.getAs[Long]("segments_replayed") === 1L)
      assert(c.getAs[Long]("messages_replayed") === 10L)
      assert(c.getAs[Long]("segments_late") === 1L)
      assert(c.getAs[Long]("lost_ranges") === 1L)
      assert(c.getAs[Long]("messages_lost") === 10L)
    } finally q.stop()
  }

  test("orderedReplay: FirstSegmentDelay lets an earlier segment slot in") {
    // no checkpoint: replay must NOT trust the first-seen segment
    // immediately — the true start may still be in flight
    val (input, q) = replayHarness(Map.empty, delayTicks = 2,
      maxRetries = 0, "replay_first")
    try {
      input.addData(SegmentEvent(0, 10L, 19L))
      q.processAllAvailable() // tick 1 of the delay: nothing replayed
      assert(actions("replay_first").isEmpty)
      input.addData(SegmentEvent(0, 0L, 9L)) // earlier segment arrives
      q.processAllAvailable() // tick 2: delay satisfied, start at 0
      assert(actions("replay_first") ===
        Seq(("replay", 0L, 9L), ("replay", 10L, 19L)))
    } finally q.stop()
  }

  test("orderedReplay: checkpoint skip and partial-overlap trim") {
    val (input, q) = replayHarness(Map(0 -> 4L), 0, 0, "replay_ckpt")
    try {
      // [0,3] fully below ckpt -> dropped; [2,7] overlaps -> trimmed to [5,7]
      input.addData(SegmentEvent(0, 0L, 3L), SegmentEvent(0, 2L, 7L),
        SegmentEvent(0, 8L, 9L))
      q.processAllAvailable()
      assert(actions("replay_ckpt") ===
        Seq(("replay", 5L, 7L), ("replay", 8L, 9L)))
    } finally q.stop()
  }

  test("streaming dedup: redelivered offsets emit exactly once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // at-least-once upstream (the reference's delivery guarantee) →
    // exactly-once downstream via the graft.streaming operator
    val input = MemoryStream[StreamMessage]
    val deduped = StreamingDedup.exactlyOnce(input.toDS().toDF(),
      eventTimeCol = "ts", watermark = "1 hour", keys = Seq("partId", "msgOffset"))
    val q = deduped.writeStream.format("memory").queryName("deduped")
      .outputMode("append")
      .option("checkpointLocation", tmpDir("ckpt-dedup")).start()
    try {
      input.addData(msg(0, 0L), msg(0, 1L), msg(0, 1L)) // dup in batch
      q.processAllAvailable()
      input.addData(msg(0, 1L), msg(0, 2L)) // redelivery across batches
      q.processAllAvailable()
      val offs = spark.table("deduped").collect().map(_.getAs[Long]("msgOffset"))
      assert(offs.sorted.toSeq === Seq(0L, 1L, 2L))
    } finally q.stop()
  }

  test("kafka stub pub/sub: live egress→ingress round trip through the wire frame") {
    import spark.implicits._
    // producer → wire queue → KafkaBridge.toMessages → egress roller →
    // segment store → fileReplay → destination: the reference topology
    // (pkg/kafka/pub_sub.go's role) with the broker swapped for the
    // file-backed stub, every hop live while both queries run
    val queue = tmpDir("kstub-queue")
    val store = graft.sources.FsSegmentStore(spark, tmpDir("kstub-store"))
    def recs(part: Int, n: Int, ts0: Long) =
      (0 until n).map(i => (part, f"k$i%03d", s"p$part-$i",
        new Timestamp(ts0 + i * 1000L))).toDF("part_id", "key", "msg_value", "ts")
    KafkaStub.produce(spark, queue, "t", recs(0, 10, 1700000000000L))
    KafkaStub.produce(spark, queue, "t", recs(1, 5, 1700000000000L))
    // per-partition offsets are contiguous from 0 regardless of batching
    val wire = spark.read.schema(KafkaStub.WireSchema).parquet(queue)
    assert(wire.groupBy("partition").agg(min("offset"), max("offset"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq.sorted
      === Seq((0, 0L, 9L), (1, 0L, 4L)))

    val messages = KafkaBridge.toMessages(KafkaStub.consume(spark, queue))
    val egress = StreamingEgress.foreachBatchEgress(messages, store, "src", "t",
      maxMessages = 5, checkpointDir = tmpDir("kstub-egress-ckpt"))
    val ckptStore = graft.sources.FsCheckpointStore(spark, tmpDir("kstub-ckstore"))
    val dest = tmpDir("kstub-dest")
    val replaySchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("part_id",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("msg_offset",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("key",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("msg_value",
        org.apache.spark.sql.types.StringType)))
    try {
      egress.processAllAvailable()
      assert(store.list("src", "t").map(m => (m.partId, m.startOffset, m.endOffset))
        .sorted === Seq((0, 0L, 4L), (0, 5L, 9L), (1, 0L, 4L)))
      val ingress = StreamingIngress.fileReplay(spark, store.root, "src", "t",
        replaySchema, ckptStore, dest, tmpDir("kstub-ingress-ckpt"))
      try {
        ingress.processAllAvailable()
        val out1 = spark.read.parquet(dest)
        assert(out1.count() === 15)
        assert(ckptStore.latestMap() === Map(0 -> 9L, 1 -> 4L))
        // produce MORE while both queries are live: offsets continue at
        // the high watermark and flow through to the destination once
        KafkaStub.produce(spark, queue, "t", recs(0, 5, 1700000100000L))
        egress.processAllAvailable()
        ingress.processAllAvailable()
        val out2 = spark.read.parquet(dest)
        assert(out2.count() === 20)
        assert(out2.groupBy("part_id", "msg_offset").count()
          .filter(col("count") > 1).count() === 0) // exactly once
        assert(ckptStore.latestMap() === Map(0 -> 14L, 1 -> 4L))
        // payloads survive the wire round trip byte-for-byte
        assert(out2.filter(col("part_id") === 0 && col("msg_offset") === 12)
          .head.getAs[String]("msg_value") === "p0-2")
      } finally ingress.stop()
    } finally egress.stop()
  }

  test("watermarked windowed metrics aggregate per partition-hour") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamMessage]
    val out = StreamMetrics.windowed(input.toDS().toDF(), "10 minutes")
    val q = out.writeStream.format("memory").queryName("metrics")
      .outputMode("update")
      .option("checkpointLocation", tmpDir("ckpt-metrics")).start()
    try {
      input.addData(msg(0, 0L), msg(0, 1L), msg(1, 2L))
      q.processAllAvailable()
      val rows = spark.table("metrics").collect()
      assert(rows.map(_.getAs[Long]("n_messages")).sum === 3L)
    } finally q.stop()
  }
}
