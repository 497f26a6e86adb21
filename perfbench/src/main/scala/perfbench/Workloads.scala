package perfbench

import java.nio.file.{Files => JFiles, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Closed-loop bulk catch-up: egress drains a queue staged before timing
  * starts, leveled compaction runs rounds until no bin is eligible, then
  * ingress drains the compacted store. One untimed repetition warms the
  * JIT; the timed repetitions then repeat while another one fits in the
  * run time (at least `MinReps`), and the medians are reported. The
  * traced phase runs one repetition.
  */
final class Backfill(spark: SparkSession, a: Main.Args) extends Replication(spark, a) {
  val batchSize = 2000
  val segmentMessages = 500
  val MaxSegmentsPerBin = 4
  val MinReps = 3

  private final case class Rep(wallS: Double, msgsPerS: Double, lagP50: Double,
      layers: Map[String, Double], failures: Seq[Failure])

  override def untimedPass(): Seq[Failure] =
    if (!a.warmup) Nil else {
      val stage = stageDir(2)
      val (expected, msgBytes) = producedStats(stage)
      rep(new Main.Kit(spark, traced = false), s"${a.work}/backfill-warmup", stage,
        expected, msgBytes)._2().failures
    }

  def run(kit: Main.Kit, phase: Int): Main.Phase = {
    val stage = stageDir(phase)
    val (expected, msgBytes) = producedStats(stage)
    val t0 = Clock.nowMs
    val timed = ArrayBuffer.empty[(Double, () => Rep)]
    val maxReps = if (kit.traced) 1 else if (a.maxReps > 0) a.maxReps else Int.MaxValue
    while (timed.isEmpty || (timed.size < maxReps && (timed.size < MinReps ||
        Clock.nowMs - t0 + timed.last._1 * 1e3 <= a.seconds * 1000.0)))
      timed += rep(kit, s"${a.work}/backfill$phase-${timed.size}", stage, expected, msgBytes)
    val reps = timed.map(_._2())
    Main.log(s"backfill: ${reps.size} timed repetitions of $expected messages")
    def med(f: Rep => Double) = Stats.median(reps.map(f).toSeq)
    Main.Phase(
      Map("latency_p50_s" -> med(_.lagP50), "throughput_per_s" -> med(_.msgsPerS)),
      reps.last.layers, expected * reps.size, reps.flatMap(_.failures).toSeq,
      med(_.wallS), kit.tracer.all)
  }

  /** Runs one repetition. Returns its wall time in seconds and the
    * checks and metrics of its outputs, which run after the timed
    * repetitions.
    */
  private def rep(kit: Main.Kit, dir: String, stage: String, expected: Long,
      msgBytes: Long): (Double, () => Rep) = {
    val t = kit.tracer
    val (store, ckpt) = stores(kit, dir)
    def leg(q: => org.apache.spark.sql.streaming.StreamingQuery) = {
      val s = q
      kit.leg(s, t.current)
      s.processAllAvailable()
      s.stop()
      s
    }
    var egressBytes = 0L
    var eq, iq: org.apache.spark.sql.streaming.StreamingQuery = null
    t.span("bench", "backfill") {
      t.span("streaming", "egress") { eq = leg(egress(store, s"$stage/queue", dir)) }
      egressBytes = ParquetFiles.sizes(store.root).values.sum
      t.span("bench", "compaction") {
        var round = 0
        while (round < 64 && t.span("bench", "compaction-round") {
          store.compactLeveled(Region, Topic, 0, 0, 0L,
            System.currentTimeMillis / 1000 + 1, 2, MaxSegmentsPerBin, 0L,
            Long.MaxValue, deleteInputs = true)
        }.nonEmpty) round += 1
      }
      t.span("streaming", "ingress") { iq = leg(ingress(store, ckpt, dir)) }
    }
    val spans = t.all
    val root = spans.filter(_.name == "backfill").last
    def one(name: String) = spans.filter(s => s.name == name && s.start >= root.start).last
    val (egS, compS, inS) = (one("egress").ms / 1e3, one("compaction").ms / 1e3,
      one("ingress").ms / 1e3)
    val rounds = spans.filter(s => s.name == "compaction-round" && s.start >= root.start)
      .map(_.ms / 1e3)
    val (egLeg, inLeg) = (one("egress").id, one("ingress").id)
    (root.ms / 1e3, () => {
      val egBatches = batchSpans(kit, eq, egLeg)
      val inBatches = batchSpans(kit, iq, inLeg)
      t.adopt(egBatches ++ inBatches, Set("sources.store", "sources.ckpt"))
      val arrival = arrivals(s"$dir/dest", inBatches)
      val lag = delivered(dir, stage).map { case (f, _, n) => ((arrival(f) - root.start) / 1e3, n) }

      val files = ParquetFiles.sizes(store.root)
      val l0Left = files.collect { case (p, n) if p.contains("/level=0/") => n }.sum
      val compactedOut = files.collect { case (p, n) if !p.contains("/level=0/") => n }.sum
      val layers = if (!kit.traced) Map.empty[String, Double] else
        legMetrics("streaming.egress", kit.progressOf(eq)) ++
          legMetrics("streaming.ingress", kit.progressOf(iq)) ++
          storeMetrics(kit, store, ckpt.root) ++ kit.commonLayers(root) ++ Map(
            "leg.egress_msgs_per_s" -> expected / egS,
            "leg.ingress_msgs_per_s" -> expected / inS,
            "leg.compaction_mb_per_s" -> (egressBytes - l0Left) / 1e6 / compS,
            "leg.write_amp" -> (egressBytes + compactedOut).toDouble / msgBytes,
            "sources.store.compact_rounds" -> rounds.size.toDouble,
            "sources.store.compact_round_s_p50" -> Stats.median(rounds),
            "sources.store.compact_round_s_max" -> rounds.max,
            "sources.store.compact_bytes_in" -> (egressBytes - l0Left).toDouble,
            "sources.store.compact_bytes_out" -> compactedOut.toDouble)
      Main.log(f"backfill repetition: ${root.ms / 1e3}%.3f s (egress $egS%.3f, " +
        f"compaction $compS%.3f in ${rounds.size} rounds, ingress $inS%.3f)")
      Rep(root.ms / 1e3, expected / (root.ms / 1e3), Stats.pctWeighted(lag, 50), layers,
        deliveryFailures(dir, stage) ++ contiguityFailures(dir))
    })
  }

  /** After compaction every partition's offsets in the store run from 0
    * to its highest offset with no hole.
    */
  private def contiguityFailures(dir: String): Seq[Failure] =
    spark.read.parquet(s"$dir/store/region=$Region/topic=$Topic")
      .groupBy("part_id")
      .agg(min("msg_offset").as("lo"), max("msg_offset").as("hi"),
        countDistinct("msg_offset").as("n"))
      .filter(col("lo") =!= 0 || col("hi") + 1 =!= col("n"))
      .collect().map(r => Failure(1, s"$dir: partition ${r.getInt(0)} has an offset gap in the store"))
      .toSeq
}

/** A fixed slice of SparkEntry.queries, run in name order into the noop
  * sink with every session memo released before each pass.
  */
final class Query(spark: SparkSession, a: Main.Args) extends Workload {
  import Query._
  override def checkDir: String = s"${a.work}/check"

  /** Set-up for queries: open every input table through graft's loaders. */
  def stage(i: Int): Unit = graft.sources.Tables.names.foreach { n =>
    (if (n == "events") graft.sources.Tables.events(spark, a.input)
     else graft.sources.Tables.load(spark, a.input, n)).count()
  }

  private def release(): Unit = {
    graft.operators.Dedup.releaseAllCaches(spark)
    graft.operators.Ann.releaseTrainedModels(spark)
  }

  private def runNoop(n: String): Unit =
    graft.SparkEntry.queries(n)(spark, a.input).write.mode("overwrite").format("noop").save()

  /** Dumps every result for the oracle comparison. */
  override def untimedPass(): Seq[Failure] = {
    val failures = Names.flatMap { n =>
      try {
        graft.SparkEntry.queries(n)(spark, a.input).coalesce(1)
          .write.mode("overwrite").parquet(s"$checkDir/$n")
        None
      } catch { case e: Throwable => Some(Failure(1, s"$n failed: ${e.getMessage}")) }
    }
    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => Names.contains(k) }
    JFiles.writeString(Paths.get(checkDir, "oracle_sql.json"), Json(oracle))
    release()
    failures
  }

  def run(kit: Main.Kit, phase: Int): Main.Phase = {
    val t = kit.tracer
    val sc = spark.sparkContext
    val failures = ArrayBuffer.empty[Failure]
    var (rddsMax, mbMax) = (0, 0.0)
    val t0 = Clock.nowMs
    var passes = 0
    def lastPassMs = t.all.filter(_.name == "pass").last.ms
    while (passes == 0 || (!kit.traced &&
        (passes < MinPasses || Clock.nowMs - t0 + lastPassMs <= a.seconds * 1000.0))) {
      release()
      t.span("bench", "pass") {
        Names.foreach { n =>
          t.span("query", n) {
            try runNoop(n)
            catch { case e: Throwable => failures += Failure(1, s"$n failed: ${e.getMessage}") }
          }
          if (kit.traced) {
            rddsMax = math.max(rddsMax, sc.getPersistentRDDs.size)
            mbMax = math.max(mbMax,
              sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0)
          }
        }
      }
      passes += 1
    }
    release()
    val spans = t.all
    val passS = spans.filter(_.name == "pass").map(_.ms / 1e3)
    val queries = spans.filter(_.layer == "query")
    val perQuery = queries.map(_.ms / 1e3)
    Main.log(s"query: $passes timed passes, ${perQuery.size} query executions, " +
      passS.map(x => f"$x%.3f").mkString("pass s: ", " ", ""))
    val layers = if (!kit.traced) Map.empty[String, Double] else {
      val byModule = queries.groupBy(q => module(q.name))
      Modules.flatMap { m =>
        val qs = byModule.getOrElse(m, Nil)
        val ids = qs.map(_.id).toSet
        val s = kit.stats.sums(ids, s"spark.$m.")
        Map(s"query.${m}_s" -> qs.map(_.ms).sum / 1e3,
          s"spark.$m.driver_gap_s" -> qs.map(q => kit.stats.gapMs(q.start, q.end)).sum / 1e3) ++
          Seq("task_run_s", "shuffle_write_mb", "spill_mb", "gc_s")
            .map(k => s"spark.$m.$k" -> s(s"spark.$m.$k"))
      }.toMap ++ kit.commonLayers(spans.filter(_.name == "pass").head) ++ Map(
        "memo.persisted_rdds_max" -> rddsMax.toDouble,
        "memo.persisted_mb_max" -> mbMax,
        "memo.persisted_rdds_end" -> sc.getPersistentRDDs.size.toDouble)
    }
    Main.Phase(
      Map("latency_p50_s" -> Stats.median(perQuery),
        "throughput_per_s" -> Names.size / Stats.median(passS)),
      layers, Names.size.toLong * passes, failures.toSeq, Stats.median(passS), spans)
  }

}

object Query {
  /** Timed passes in an untraced run at least; the first ones are still
    * getting faster, so a run always has the same number of them.
    */
  val MinPasses = 4

  /** One or two cheap queries per module, so that two warm passes take
    * about ten seconds on four cores. The `_approx` rows are left out:
    * their check needs their exact twins as well.
    */
  val Names: Seq[String] = Seq(
    "a_knn_bruteforce", "d_exact_dedup", "d_incremental_dedup", "p_corpus_stats",
    "q1_pricing_summary", "q_resample_hourly", "r_gap_detection", "t_token_count",
    "x_resize").sorted

  val Modules: Seq[String] = Seq("ann", "dedup", "text", "curation", "multimodal",
    "analytics", "replicator")

  def module(name: String): String = name.takeWhile(_ != '_') match {
    case "a" | "e" => "ann"
    case "d" => "dedup"
    case "t" => "text"
    case "p" => "curation"
    case "x" => "multimodal"
    case "r" => "replicator"
    case _ => "analytics"
  }
}
