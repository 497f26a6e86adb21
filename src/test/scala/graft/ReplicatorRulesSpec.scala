package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop}
import org.scalacheck.Prop.propBoolean

import graft.operators._
import graft.streaming.{StreamMessage, StreamingEgress}

/** The replicator's per-partition rules on generated inputs: every
  * operator that reads segment coverage agrees with one sequential
  * model of the reference ingress's `nextOffset = max(end) + 1`, the
  * streaming roller closes what the batch roller closes whatever the
  * micro-batch split, and each rule is written once in the sources.
  */
class ReplicatorRulesSpec extends SparkSuite {

  /** One step of the sequential coverage walk over a segment `(s, e)`:
    * the missing range before it (`s` past nextOffset) and the offsets
    * it newly covers.
    */
  final case class Step(gap: Option[(Long, Long)], fresh: Seq[Long])

  /** The model: segments in the given order, nextOffset = max(end) + 1
    * of the segments walked so far.
    */
  def walk(segs: Seq[(Long, Long)]): Seq[Step] = {
    var next: Option[Long] = None
    segs.map { case (s, e) =>
      val gap = next.filter(s > _).map(n => (n, s - 1))
      val fresh = (math.max(s, next.getOrElse(s)) to e)
      next = Some(math.max(next.getOrElse(e + 1), e + 1))
      Step(gap, fresh)
    }
  }

  /** Per partition: segments in arrival order as (arrival_seq, start,
    * end), and an optional ingress checkpoint.
    */
  final case class Layout(parts: Map[Int, Seq[(Long, Long, Long)]],
      checkpoints: Map[Int, Long], minSegments: Int, maxSegments: Int)

  // each step follows the widest range so far: the next segment, an
  // overlap, a contained rewind, a gap, or an exact redelivery of an
  // earlier segment; an arrival jitter of 0..3 reorders neighbours
  private val layoutGen: Gen[Layout] = {
    def partition = for {
      base <- Gen.choose(0L, 3L)
      n <- Gen.choose(1, 8)
      steps <- Gen.listOfN(n, for {
        kind <- Gen.frequency(4 -> "next", 2 -> "overlap", 2 -> "contained",
          2 -> "gap", 1 -> "rewind")
        len <- Gen.choose(1L, 9L)
        pick <- Gen.choose(0, 100)
        jitter <- Gen.frequency(3 -> 0L, 2 -> Gen.choose(1L, 3L))
      } yield (kind, len, pick, jitter))
      ckpt <- Gen.option(Gen.choose(base - 1, base + 40))
    } yield {
      var (lo, hi) = (base, base - 1) // the widest range so far
      val segs = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      steps.foreach { case (kind, len, pick, _) =>
        val (s, e) = kind match {
          case "overlap" if hi >= lo => val s = math.max(base, hi - len / 2); (s, hi + len)
          case "contained" if hi > lo => val s = lo + (hi - lo) / 3; (s, math.min(hi, s + len / 2))
          case "gap" if hi >= lo => (hi + 2, hi + 1 + len)
          case "rewind" if segs.nonEmpty => segs(pick % segs.size)
          case _ => (hi + 1, hi + len)
        }
        if (e > hi) { lo = s; hi = e }
        segs += ((s, e))
      }
      val arrivals = segs.zip(steps).zipWithIndex.map { case (((s, e), st), i) =>
        (i * 2 + st._4 * 2, s, e)
      }.toSeq
      (arrivals, ckpt)
    }
    for {
      nParts <- Gen.choose(1, 3)
      parts <- Gen.listOfN(nParts, partition)
      maxSegments <- Gen.choose(1, 4)
      minSegments <- Gen.choose(1, maxSegments)
    } yield Layout(
      parts.zipWithIndex.map { case ((arr, _), p) => p -> arr }.toMap,
      parts.zipWithIndex.collect { case ((_, Some(c)), p) => p -> c }.toMap,
      minSegments, maxSegments)
  }

  test("property: gaps, ingress replay, compaction prefix and replay audit follow one coverage model") {
    import spark.implicits._
    val prop = Prop.forAllNoShrink(layoutGen) { lay =>
      val bySeg = lay.parts.map { case (p, arr) =>
        p -> arr.map { case (_, s, e) => (s, e) }.sorted
      }
      val arrivals = lay.parts.toSeq.flatMap { case (p, arr) =>
        arr.map { case (a, s, e) => (p, a, s, e) }
      }.toDF("part_id", "arrival_seq", "start_offset", "end_offset")
      val segments = arrivals.select("part_id", "start_offset", "end_offset")

      // GapDetector.lostRanges: every gap of the (start, end) walk
      val lost = GapDetector.lostRanges(segments)
        .as[(Int, Long, Long, Long)].collect().toSet
      val lostModel = bySeg.toSeq.flatMap { case (p, segs) =>
        walk(segs).flatMap(_.gap).map { case (a, b) => (p, a, b, b - a + 1) }
      }.toSet

      // Ingress.replay: the offsets the walk covers, past the checkpoint
      val maxEnd = bySeg.values.flatten.map(_._2).max
      val messages = bySeg.keys.toSeq.flatMap(p => (0L to maxEnd + 2).map(o =>
        (p, o, s"k$o", s"v$o", 2L)))
        .toDF("part_id", "msg_offset", "key", "msg_value", "msg_size")
      val replayed = Ingress.replay(messages, segments,
          lay.checkpoints.toSeq.toDF("part_id", "ckpt_offset"))
        .select("part_id", "msg_offset", "replay_seq")
        .as[(Int, Long, Long)].collect().toSet
      val replayModel = bySeg.toSeq.flatMap { case (p, segs) =>
        walk(segs).flatMap(_.fresh)
          .filter(o => lay.checkpoints.get(p).forall(o > _))
          .zipWithIndex.map { case (o, i) => (p, o, i.toLong) }
      }.toSet

      // Compactor.plan: the segments before the walk's first gap, binned
      val planned = Compactor.plan(segments
          .withColumn("message_count", col("end_offset") - col("start_offset") + 1)
          .withColumn("seg_bytes", (col("end_offset") - col("start_offset") + 1) * 2)
          .withColumn("level", lit(0)),
          0, lay.minSegments, lay.maxSegments)
        .select("part_id", "bin", "input_segments", "start_offset", "end_offset",
          "message_count")
        .as[(Int, Long, Long, Long, Long, Long)].collect().toSet
      val planModel = bySeg.toSeq.flatMap { case (p, segs) =>
        val prefix = segs.zip(walk(segs)).takeWhile(_._2.gap.isEmpty).map(_._1)
        prefix.grouped(lay.maxSegments).zipWithIndex
          .filter(_._1.size >= lay.minSegments)
          .map { case (bin, i) => (p, i.toLong, bin.size.toLong, bin.map(_._1).min,
            bin.map(_._2).max, bin.map { case (s, e) => e - s + 1 }.sum) }
      }.toSet

      // ReplayAudit.metrics: late = gaps of the arrival-order walk,
      // lost = gaps of the final (start, end) walk
      val audited = ReplayAudit.metrics(arrivals)
        .select("part_id", "late_events", "lost_ranges", "messages_lost")
        .as[(Int, Long, Long, Long)].collect().toSet
      val auditModel = lay.parts.map { case (p, arr) =>
        val late = walk(arr.sorted.map { case (_, s, e) => (s, e) }).count(_.gap.nonEmpty)
        val holes = walk(bySeg(p)).flatMap(_.gap)
        (p, late.toLong, holes.size.toLong, holes.map { case (a, b) => b - a + 1 }.sum)
      }.toSet

      (lost == lostModel) :| s"lostRanges $lost != model $lostModel" &&
        (replayed == replayModel) :| s"replay $replayed != model $replayModel" &&
        (planned == planModel) :| s"plan $planned != model $planModel" &&
        (audited == auditModel) :| s"audit $audited != model $auditModel"
    }
    val result = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default
        .withMinSuccessfulTests(20)
        .withWorkers(1)
        .withInitialSeed(org.scalacheck.rng.Seed(20261019L)),
      prop)
    assert(result.passed, org.scalacheck.util.Pretty.pretty(result))
  }

  /** Per partition: message sizes in offset order from 0; two ways to
    * cut the offset-ordered stream into micro-batches.
    */
  final case class RollCase(sizes: Map[Int, Seq[Long]], maxMessages: Int,
      maxBytes: Long, splits: Seq[Seq[Int]])

  private val rollGen: Gen[RollCase] = for {
    nParts <- Gen.choose(1, 2)
    sizes <- Gen.listOfN(nParts, Gen.choose(1, 24).flatMap(n =>
      Gen.listOfN(n, Gen.choose(1L, 20L))))
    maxMessages <- Gen.choose(1, 6)
    maxBytes <- Gen.choose(10L, 60L)
    total = sizes.map(_.size).sum
    splits <- Gen.listOfN(2, Gen.choose(1, 2).flatMap(k =>
      Gen.listOfN(k, Gen.choose(1, total)).map(_.distinct.sorted)))
  } yield RollCase(sizes.zipWithIndex.map(_.swap).toMap, maxMessages, maxBytes,
    splits)

  test("property: statefulRoller closes bySizeGreedy's closed segments under any micro-batch split") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val prop = Prop.forAllNoShrink(rollGen) { c =>
      // the stream in offset order, partitions interleaved
      val stream = c.sizes.toSeq.flatMap { case (p, ss) =>
        ss.zipWithIndex.map { case (sz, o) => StreamMessage(p, o.toLong, s"k$o",
          s"v$o", new Timestamp(1700000000000L + o), sz) }
      }.sortBy(m => (m.msgOffset, m.partId))
      // the segments bySizeGreedy's roll closes over the whole stream of
      // each partition (its open tail excluded)
      val batchClosed = c.sizes.toSeq.flatMap { case (p, ss) =>
        SegmentRoller.roll(RollState.Empty,
            ss.zipWithIndex.iterator.map { case (sz, o) => (o.toLong, sz) },
            c.maxMessages, c.maxBytes)._1
          .map(s => (p, s.startOffset, s.endOffset, s.messageCount, s.sizeBytes))
      }.toSet
      val streamed = c.splits.map { cuts =>
        val input = MemoryStream[StreamMessage]
        val name = s"rolled_${System.nanoTime()}"
        val q = StreamingEgress.statefulRoller(input.toDS(), "src", "t",
            c.maxMessages, c.maxBytes, ageMs = 0L)
          .writeStream.format("memory").queryName(name).outputMode("append")
          .option("checkpointLocation", tmpDir("ckpt-roll-prop")).start()
        try {
          (0 +: cuts :+ stream.size).sliding(2).foreach { case Seq(a, b) =>
            if (b > a) { input.addData(stream.slice(a, b): _*); q.processAllAvailable() }
          }
          spark.table(name).select("partId", "startOffset", "endOffset",
              "messageCount", "sizeBytes")
            .as[(Int, Long, Long, Long, Long)].collect().toSet
        } finally q.stop()
      }
      streamed.forall(_ == batchClosed) :|
        s"streamed $streamed != bySizeGreedy's closed $batchClosed (cuts ${c.splits})"
    }
    val result = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default
        .withMinSuccessfulTests(4)
        .withWorkers(1)
        .withInitialSeed(org.scalacheck.rng.Seed(20261019L)),
      prop)
    assert(result.passed, org.scalacheck.util.Pretty.pretty(result))
  }

  test("coverage and the checkpoint skip are each written once") {
    assert(SourceScan.matches("""max\("end_offset"\)\s*\.over\(""") === 1)
    assert(SourceScan.occurrences("""col("msg_offset") > col("ckpt_offset")""") === 1)
  }
}
