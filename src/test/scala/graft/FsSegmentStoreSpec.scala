package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop}
import org.scalacheck.Prop.propBoolean

import graft.core.SegmentMeta
import graft.operators.{MessageFraming, SegmentRoller}
import graft.sources.{FsSegmentStore, Tables}

class FsSegmentStoreSpec extends SparkSuite {

  private def writeRolled(store: FsSegmentStore, maxMessages: Int): Int = {
    val messages = MessageFraming.messages(Tables.events(spark, sf))
      .filter(col("part_id") === 0)
    val segs = SegmentRoller.byCount(messages, maxMessages).collect()
    segs.foreach { r =>
      val meta = SegmentMeta("src", "events", 0, 0,
        r.getAs[Long]("start_offset"), r.getAs[Long]("end_offset"),
        r.getAs[Long]("message_count"), r.getAs[Long]("seg_bytes"))
      store.write(
        messages.filter(col("msg_offset")
          .between(meta.startOffset, meta.endOffset)), meta)
    }
    segs.length
  }

  test("write → list round-trips segment identity") {
    val store = FsSegmentStore(spark, tmpDir("store"))
    val n = writeRolled(store, 25)
    val listed = store.list("src", "events")
    assert(listed.size === n)
    assert(listed.forall(_.level === 0))
    assert(listed.map(_.startOffset).sorted.head === 0L)
  }

  test("open returns all rows across segments") {
    val store = FsSegmentStore(spark, tmpDir("store"))
    writeRolled(store, 25)
    val listed = store.list("src", "events")
    val total = store.open("src", "events", listed).count()
    val expect = MessageFraming.messages(Tables.events(spark, sf))
      .filter(col("part_id") === 0).count()
    assert(total === expect)
  }

  test("compact endOffset covers overlapping inputs (rewind redelivery)") {
    import spark.implicits._
    // the same layout through both compactors
    for (leveled <- Seq(false, true)) {
      val store = FsSegmentStore(spark, tmpDir("store"))
      val mk = (s0: Long, e0: Long) => {
        val rows = (s0 to e0).map(i => (0, i, s"k$i", 2L))
          .toDF("part_id", "msg_offset", "key", "msg_size")
        store.write(rows, graft.core.SegmentMeta("src", "t", 0, 0, s0, e0,
          e0 - s0 + 1, -1L))
      }
      // overlapping segments from an at-least-once rewind: the LAST one
      // by start offset ends EARLIER than its predecessor
      mk(0L, 9L); mk(5L, 20L); mk(10L, 15L)
      val out =
        if (!leveled) store.compact("src", "t", 0, minSegments = 2, maxSegments = 5)
        else store.compactLeveled("src", "t", minLevel = 0, maxLevel = 0,
          minAgeSec = 0L, nowEpoch = System.currentTimeMillis() / 1000L + 3600L,
          minSegments = 2, maxSegments = 5, minBytes = 0L,
          maxBytes = Long.MaxValue / 4)
      assert(out.size === 1)
      assert(out.head.endOffset === 20L) // not 15 (bin.last's end)
      assert(out.head.messageCount === 21L) // offsets 0..20 deduped
      assertCounts(store, out)
    }
  }

  test("open plans exactly ONE parquet scan regardless of segment count") {
    val store = FsSegmentStore(spark, tmpDir("store"))
    writeRolled(store, 10)
    val listed = store.list("src", "events")
    assert(listed.size > 5)
    val plan = store.open("src", "events", listed)
      .queryExecution.executedPlan.toString
    val scans = plan.linesIterator.count(_.contains("Scan parquet"))
    assert(scans === 1, s"$scans scan nodes:\n${plan.take(1500)}")
  }

  test("open identity columns match the listed metadata") {
    val store = FsSegmentStore(spark, tmpDir("store"))
    writeRolled(store, 25)
    val listed = store.list("src", "events")
    val opened = store.open("src", "events", listed)
      .select("seg_part", "seg_level", "start_offset", "end_offset")
      .distinct().collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    val expect = listed.map(m => (m.partId, m.level, m.startOffset, m.endOffset)).toSet
    assert(opened === expect)
  }

  test("compact refuses to merge across a gap; the gap stays observable") {
    import spark.implicits._
    val store = FsSegmentStore(spark, tmpDir("store"))
    val mk = (s0: Long, e0: Long) => {
      val rows = (s0 to e0).map(i => (0, i, s"k$i", 2L))
        .toDF("part_id", "msg_offset", "key", "msg_size")
      store.write(rows, graft.core.SegmentMeta("src", "t", 0, 0, s0, e0,
        e0 - s0 + 1, -1L))
    }
    // [0,9],[10,19], GAP 20-29, [30,39],[40,49]
    mk(0L, 9L); mk(10L, 19L); mk(30L, 39L); mk(40L, 49L)
    val out = store.compact("src", "t", 0, minSegments = 2, maxSegments = 10)
    // only the contiguous prefix merged; post-gap segments left in place
    assert(out.size === 1)
    assert(out.head.endOffset === 19L)
    assertCounts(store, out)
    val after = store.list("src", "t")
    assert(after.count(_.level === 0) === 2)
    // the gap is still visible to the detector over the new inventory
    val inv = after.map(m => (m.partId, m.startOffset, m.endOffset))
      .toDF("part_id", "start_offset", "end_offset")
    val lost = graft.operators.GapDetector.lostRanges(inv).collect()
    assert(lost.length === 1)
    assert((lost.head.getAs[Long]("lost_start"), lost.head.getAs[Long]("lost_end")) === (20L, 29L))
  }

  private def mkLeveled(store: FsSegmentStore)(level: Int, s0: Long, e0: Long): Unit = {
    import spark.implicits._
    val rows = (s0 to e0).map(i => (0, i, s"k$i", 2L))
      .toDF("part_id", "msg_offset", "key", "msg_size")
    store.write(rows, SegmentMeta("src", "t", 0, level, s0, e0, e0 - s0 + 1, -1L))
  }

  /** Every returned messageCount is the row count of that segment. */
  private def assertCounts(store: FsSegmentStore, out: Seq[SegmentMeta]): Unit =
    out.foreach { m =>
      assert(m.messageCount === store.open(m.region, m.topic, Seq(m)).count(),
        s"messageCount of $m")
    }

  test("compactLeveled: level range + resume past higher-level coverage") {
    val store = FsSegmentStore(spark, tmpDir("store"))
    val mk = mkLeveled(store) _
    mk(5, 0L, 19L)  // above maxLevel: not merged, sets the resume point
    mk(1, 10L, 29L) // overlaps the compacted range: replay only 20..29
    mk(2, 30L, 49L)
    mk(1, 50L, 59L)
    mk(0, 60L, 69L) // below minLevel: invisible to this run
    val now = System.currentTimeMillis() / 1000L + 3600L
    val out = store.compactLeveled("src", "t", minLevel = 1, maxLevel = 2,
      minAgeSec = 0L, nowEpoch = now, minSegments = 2, maxSegments = 10,
      minBytes = 0L, maxBytes = Long.MaxValue / 4)
    assert(out.size === 1)
    val seg = out.head
    assert(seg.startOffset === 20L) // resume_end(19) + 1
    assert(seg.endOffset === 59L)
    assert(seg.level === 3) // max consumed input level (2) + 1
    assert(seg.messageCount === 40L) // 20..59, compacted offsets skipped
    assertCounts(store, out)
    val after = store.list("src", "t")
    assert(after.map(_.level).sorted === Seq(0, 3, 5)) // inputs deleted
    // the merged data is exactly offsets 20..59, once each
    val rows = store.open("src", "t", after.filter(_.level == 3))
    assert(rows.count() === 40L)
    assert(rows.agg(min("msg_offset"), max("msg_offset")).head ===
      org.apache.spark.sql.Row(20L, 59L))
  }

  test("compactLeveled: byte cap stops the run, leftover segments stay") {
    val store = FsSegmentStore(spark, tmpDir("store"))
    val mk = mkLeveled(store) _
    mk(1, 0L, 9L); mk(1, 10L, 19L); mk(1, 20L, 29L); mk(1, 30L, 39L)
    val sizes = store.listInfo("src", "t")
      .map(i => i.meta.startOffset -> i.meta.sizeBytes).toMap
    val now = System.currentTimeMillis() / 1000L + 3600L
    // cap = size of the first two segments: the third crosses the cap
    // (bytes_before = cap, not < cap) and stays, as does the fourth
    val out = store.compactLeveled("src", "t", minLevel = 1, maxLevel = 1,
      minAgeSec = 0L, nowEpoch = now, minSegments = 2, maxSegments = 10,
      minBytes = 0L, maxBytes = sizes(0L) + sizes(10L))
    assert(out.size === 1)
    assert((out.head.startOffset, out.head.endOffset) === (0L, 19L))
    assert(out.head.level === 2)
    assertCounts(store, out)
    val after = store.list("src", "t")
    assert(after.filter(_.level == 1).map(_.startOffset).sorted === Seq(20L, 30L))
  }

  test("compactLeveled: repeated runs climb levels like the reference's cron") {
    val store = FsSegmentStore(spark, tmpDir("store"))
    val mk = mkLeveled(store) _
    mk(0, 0L, 9L); mk(0, 10L, 19L); mk(0, 20L, 29L); mk(0, 30L, 39L)
    val now = System.currentTimeMillis() / 1000L + 3600L
    def run() = store.compactLeveled("src", "t", minLevel = 0, maxLevel = 9,
      minAgeSec = 0L, nowEpoch = now, minSegments = 2, maxSegments = 2,
      minBytes = 0L, maxBytes = Long.MaxValue / 4)
    // run 1: merges the first TWO level-0 segments (count cap) -> level 1
    val r1 = run()
    assert(r1.size === 1 && r1.head.level === 1)
    assert((r1.head.startOffset, r1.head.endOffset) === (0L, 19L))
    // run 2: the level-1 output + next level-0 segment merge -> level 2
    val r2 = run()
    assert(r2.size === 1 && r2.head.level === 2)
    assert((r2.head.startOffset, r2.head.endOffset) === (0L, 29L))
    // run 3: level-2 + last level-0 -> level 3, everything in one segment
    val r3 = run()
    assert(r3.size === 1 && r3.head.level === 3)
    assert((r3.head.startOffset, r3.head.endOffset) === (0L, 39L))
    assert(Seq(r1, r2, r3).map(_.head.messageCount) === Seq(20L, 30L, 40L))
    assertCounts(store, r3)
    val finalInv = store.list("src", "t")
    assert(finalInv.size === 1)
    assert(store.open("src", "t", finalInv).count() === 40L)
  }

  test("compactLeveled: deleteInputs=false keeps the inputs") {
    val store = FsSegmentStore(spark, tmpDir("store"))
    val mk = mkLeveled(store) _
    mk(1, 0L, 9L); mk(1, 10L, 19L)
    val now = System.currentTimeMillis() / 1000L + 3600L
    val out = store.compactLeveled("src", "t", minLevel = 1, maxLevel = 1,
      minAgeSec = 0L, nowEpoch = now, minSegments = 2, maxSegments = 10,
      minBytes = 0L, maxBytes = Long.MaxValue / 4, deleteInputs = false)
    assert(out.size === 1 && out.head.level === 2)
    assertCounts(store, out)
    val after = store.list("src", "t")
    assert(after.count(_.level == 1) === 2) // inputs retained
    assert(after.count(_.level == 2) === 1)
  }

  test("compactLeveled: a run whose rows are all skipped writes nothing, count 0") {
    import spark.implicits._
    val store = FsSegmentStore(spark, tmpDir("store"))
    mkLeveled(store)(5, 0L, 19L) // resume point: 0..19 already compacted
    // keyed [10,29] but holding only 10..19: every row is at or below
    // the resume point, so the run [20,29] has nothing to copy
    store.write((10L to 19L).map(i => (0, i, s"k$i", 2L))
      .toDF("part_id", "msg_offset", "key", "msg_size"),
      SegmentMeta("src", "t", 0, 1, 10L, 29L, 10L, -1L))
    val now = System.currentTimeMillis() / 1000L + 3600L
    val out = store.compactLeveled("src", "t", minLevel = 1, maxLevel = 1,
      minAgeSec = 0L, nowEpoch = now, minSegments = 1, maxSegments = 10,
      minBytes = 0L, maxBytes = Long.MaxValue / 4)
    assert(out.map(m => (m.startOffset, m.endOffset, m.level, m.messageCount)) ===
      Seq((20L, 29L, 2, 0L)))
    assert(store.list("src", "t").map(m => (m.level, m.startOffset)) === Seq((5, 0L)))
  }

  test("compactLeveled: a call with no eligible run starts no Spark job") {
    val store = FsSegmentStore(spark, tmpDir("store"))
    val mk = mkLeveled(store) _
    // eligible segments, but the gap leaves a run of one, below
    // minSegments (like the last round of a backfill)
    mk(1, 0L, 9L); mk(1, 20L, 29L)
    val group = s"no-run-${System.nanoTime()}"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val marker = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
        if (g == group) jobs.add(s"job ${e.jobId}")
        if (g == group + "-marker") marker.countDown()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, "compactLeveled with no eligible run")
      val out = store.compactLeveled("src", "t", minLevel = 1, maxLevel = 1,
        minAgeSec = 0L, nowEpoch = System.currentTimeMillis() / 1000L + 3600L,
        minSegments = 2, maxSegments = 10, minBytes = 0L,
        maxBytes = Long.MaxValue / 4)
      assert(out.isEmpty)
      // listener events arrive in order: once the marker job is seen,
      // every job the call started has been seen too
      spark.sparkContext.setJobGroup(group + "-marker", "marker")
      spark.range(1).count()
      assert(marker.await(60, java.util.concurrent.TimeUnit.SECONDS))
      assert(jobs.isEmpty, s"jobs started: $jobs")
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("compactLeveled: MinSegmentAge gate skips young segments") {
    val store = FsSegmentStore(spark, tmpDir("store"))
    val mk = mkLeveled(store) _
    mk(1, 0L, 9L); mk(1, 10L, 19L)
    val before = store.list("src", "t")
    val out = store.compactLeveled("src", "t", minLevel = 1, maxLevel = 1,
      minAgeSec = 86400L, nowEpoch = System.currentTimeMillis() / 1000L,
      minSegments = 2, maxSegments = 10, minBytes = 0L,
      maxBytes = Long.MaxValue / 4)
    assert(out.isEmpty)
    assert(store.list("src", "t").toSet === before.toSet) // untouched
  }

  test("compact merges contiguous runs, bumps level, deletes inputs") {
    val store = FsSegmentStore(spark, tmpDir("store"))
    writeRolled(store, 10)
    val before = store.list("src", "events")
    val out = store.compact("src", "events", level = 0,
      minSegments = 2, maxSegments = 5)
    assert(out.nonEmpty)
    assert(out.forall(_.level === 1))
    val after = store.list("src", "events")
    // every level-0 input that joined a full bin is gone
    assert(after.count(_.level === 1) === out.size)
    assert(after.count(_.level === 0) < before.size)
    // no message lost: level-1 counts sum to what the bins covered
    val mergedRows = store.open("src", "events", out.toSeq).count()
    assert(mergedRows === out.map(_.messageCount).sum)
    assertCounts(store, out)
  }

  /** One generated store layout for the leveled-compaction property. */
  private case class Layout(segs: Seq[(Int, Int, Long, Long, Boolean)], // part, level, start, end, young
      minLevel: Int, maxLevel: Int, minSegments: Int, maxSegments: Int,
      maxBytesSegs: Int)

  private val layoutGen: Gen[Layout] = {
    // one partition: an optional resume segment one level above
    // maxLevel holding the prefix [0, r] (what earlier runs leave),
    // then a chain whose segments overlap, contain, abut or leave a gap
    // after their predecessor, at level 0 (below minLevel when it is 1)
    // or inside minLevel..maxLevel
    def partition(p: Int, minLevel: Int, maxLevel: Int) = for {
      resume <- Gen.option(Gen.choose(0L, 12L))
      n <- Gen.choose(1, 7)
      steps <- Gen.listOfN(n, for {
        kind <- Gen.frequency(5 -> "next", 2 -> "overlap", 2 -> "contained", 1 -> "gap")
        len <- Gen.choose(1L, 12L)
        level <- Gen.frequency(1 -> 0, 6 -> Gen.choose(minLevel, maxLevel))
        young <- Gen.frequency(6 -> false, 1 -> true)
      } yield (kind, len, level, young))
    } yield {
      var (lo, hi) = (0L, -1L) // the widest range so far
      val chain = steps.map { case (kind, len, level, young) =>
        val (s, e) = kind match {
          case "overlap" => val s = math.max(0L, hi - len / 2); (s, math.max(s, hi) + len)
          case "contained" if hi > lo => val s = lo + (hi - lo) / 3; (s, math.min(hi, s + len / 2))
          case "gap" => (hi + 3, hi + 2 + len)
          case _ => (hi + 1, hi + len)
        }
        if (e > hi) { lo = s; hi = e }
        (p, level, s, e, young)
      }
      resume.map(r => (p, maxLevel + 1, 0L, r, false)).toSeq ++ chain
    }
    for {
      minLevel <- Gen.choose(0, 1)
      maxLevel <- Gen.choose(minLevel, 2)
      p0 <- partition(0, minLevel, maxLevel)
      p1 <- Gen.oneOf(Gen.const(Nil), partition(1, minLevel, maxLevel))
      minSegments <- Gen.choose(1, 2)
      maxSegments <- Gen.choose(minSegments, 5)
      maxBytesSegs <- Gen.choose(1, 6)
    } yield Layout(
      (p0 ++ p1).distinctBy { case (p, l, s, e, _) => (p, l, s, e) },
      minLevel, maxLevel, minSegments, maxSegments, maxBytesSegs)
  }

  test("property: compactLeveled leaves exactly planLeveled's runs and loses no offset") {
    import spark.implicits._
    val now = System.currentTimeMillis() / 1000L
    val minAge = 600L
    val prop = Prop.forAllNoShrink(layoutGen) { lay =>
      val store = FsSegmentStore(spark, tmpDir("prop"))
      // every layout in one partitioned write, then ages set on the files
      store.writePartitioned(lay.segs.flatMap { case (p, l, s, e, _) =>
        (s to e).map(o => (p, o, s"k$o", 2L, p, l, s, e))
      }.toDF("part_id", "msg_offset", "key", "msg_size", "part", "level",
        "start", "end"), "src", "t")
      lay.segs.foreach { case (p, l, s, e, young) =>
        val dir = new java.io.File(
          store.segmentPath(SegmentMeta("src", "t", p, l, s, e, -1L, -1L)))
        dir.listFiles.foreach(_.setLastModified(
          (if (young) now else now - 10 * minAge) * 1000L))
      }
      val listing = store.listInfo("src", "t")
      val segBytes = listing.map(_.meta.sizeBytes)
      // a byte cap a few segments wide, so it binds in some layouts
      val maxBytes = segBytes.max * lay.maxBytesSegs
      val expected = graft.operators.Compactor.planLeveled(
        listing.map(i => (i.meta.partId, i.meta.level, i.meta.startOffset,
          i.meta.endOffset, i.meta.sizeBytes, i.createdEpoch))
          .toDF("part_id", "level", "start_offset", "end_offset", "seg_bytes",
            "created_epoch"),
        lay.minLevel, lay.maxLevel, minAge, now, lay.minSegments,
        lay.maxSegments, 1L, maxBytes)
        .collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getInt(5), r.getLong(6)))
        .toSet
      val out = store.compactLeveled("src", "t", lay.minLevel, lay.maxLevel,
        minAge, now, lay.minSegments, lay.maxSegments, 1L, maxBytes)
      val got = out.map(m => (m.partId, m.startOffset, m.endOffset, m.level,
        m.messageCount)).toSet
      // offset copies per partition before and after the run
      val before = lay.segs.flatMap { case (p, _, s, e, _) => (s to e).map(p -> _) }
        .groupBy(identity).view.mapValues(_.size).toMap
      val stored = store.open("src", "t", store.list("src", "t"))
        .select("seg_part", "seg_level", "start_offset", "end_offset", "msg_offset")
        .as[(Int, Int, Long, Long, Long)].collect().toSeq
      val after = stored.map(r => (r._1, r._5)).groupBy(identity).view
        .mapValues(_.size).toMap
      // each output holds every offset of its range exactly once
      val outputsExact = out.forall { m =>
        stored.filter(r => (r._1, r._2, r._3, r._4) ==
          (m.partId, m.level, m.startOffset, m.endOffset)).map(_._5).sorted ==
          (m.startOffset to m.endOffset)
      }
      (got == expected) :| s"store runs $got != planned $expected" &&
        (after.keySet == before.keySet) :| "an offset left the store" &&
        after.forall { case (k, n) => n <= before(k) } :| "an offset gained a copy" &&
        outputsExact :| "an output does not hold its range once"
    }
    val result = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default
        .withMinSuccessfulTests(25)
        .withWorkers(1)
        .withInitialSeed(org.scalacheck.rng.Seed(20261017L)),
      prop)
    assert(result.passed, org.scalacheck.util.Pretty.pretty(result))
  }
}
