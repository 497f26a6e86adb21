package perfbench

import java.io.File
import java.nio.file.{Files => JFiles, Paths, StandardCopyOption}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

/** Benchmark harness. It drives graft only through public functions
  * (KafkaStub, KafkaBridge, StreamingEgress, StreamingIngress,
  * FsSegmentStore, FsCheckpointStore, SparkEntry) and Spark's public
  * listener APIs, and writes `result.json` into the work directory for
  * `run.py`, which prints the benchmark's result line.
  *
  * A run measures with tracing off, or with `--trace 1` with the
  * listeners and the timing store subclasses attached; the per-layer
  * metrics come from the traced phase. The tracing overhead is its main
  * measure minus the untraced one, which run.py passes in from earlier
  * untraced runs (without one, the traced run measures both phases).
  */
object Main {
  final case class Args(workload: String, work: String, input: String,
      seconds: Int, trace: Boolean, cores: Int, redeliver: Seq[Int],
      launchMs: Double, maxReps: Int, warmup: Boolean,
      untracedPrimary: Option[Double])

  /** Result of one measured phase. */
  final case class Phase(e2e: Map[String, Double], layers: Map[String, Double],
      attempted: Long, failures: Seq[Failure], primary: Double, spans: Seq[Span])

  /** Tracing attached to one phase. */
  final class Kit(val spark: SparkSession, val traced: Boolean) {
    val tracer = new Tracer
    val stats = new SparkStats(tracer)
    val progress = new ProgressLog
    if (traced) {
      spark.sparkContext.addSparkListener(stats)
      spark.streams.addListener(progress)
      // jobs of a span started on the harness's threads carry its id as
      // their job group; a streaming query's thread keeps its own group
      tracer.around = (span, body) => {
        val sc = spark.sparkContext
        if (sc.getLocalProperty("sql.streaming.queryId") != null) body()
        else {
          val keys = Seq("spark.jobGroup.id", "spark.job.description",
            "spark.job.interruptOnCancel")
          val saved = keys.map(sc.getLocalProperty)
          sc.setJobGroup(s"span-${span.id}", span.name)
          try body() finally keys.zip(saved).foreach { case (k, v) => sc.setLocalProperty(k, v) }
        }
      }
    }
    def progressOf(q: StreamingQuery): Seq[StreamingQueryProgress] =
      if (traced) progress.of(q.id) else q.recentProgress.toSeq
    def leg(q: StreamingQuery, span: Int): Unit = tracer.registerQuery(q.id.toString, span)
    /** Spark totals over the phase's root span and self time per layer. */
    def commonLayers(root: Span): Map[String, Double] =
      stats.sums(_ => true, "spark.") ++ Map(
        "spark.stages" -> stats.stageCount.toDouble,
        "spark.driver_gap_s" -> stats.gapMs(root.start, root.end) / 1e3,
        "spark.jobs_in_flight_max" -> stats.maxInFlight.toDouble
      ) ++ tracer.selfMsByLayer.map { case (l, ms) => s"self.${l}_s" -> ms / 1e3 }
  }

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("workload"), kv("work"), kv("input"), kv("seconds").toInt,
      kv("trace") == "1", kv("cores").toInt,
      kv.getOrElse("redeliver", "").split(",").filter(_.nonEmpty).map(_.toInt).toSeq,
      kv("launch-ms").toDouble, kv.getOrElse("max-reps", "0").toInt,
      kv.getOrElse("warmup", "1") == "1",
      kv.get("untraced-primary").filter(_.nonEmpty).map(_.toDouble))
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.GraftExtensions.register(spark)
    val ready = Clock.nowMs
    try {
      val w: Workload = a.workload match {
        case "backfill" => new Backfill(spark, a)
        case "query" => new Query(spark, a)
      }
      // set-up: session start once, then the input staging three times
      val stageMs = (0 until 3).map(i => timed(w.stage(i)))
      val setupS = (ready - a.launchMs + Stats.median(stageMs)) / 1e3
      log(s"set-up done: ${setupS}s")
      val untimedFailures = w.untimedPass()
      log("untimed pass done")
      val plain = if (a.trace && a.untracedPrimary.isDefined) None
        else Some(w.run(new Kit(spark, traced = false), 0))
      val traced = if (a.trace) Some(w.run(new Kit(spark, traced = true), 1)) else None
      log("measured")
      val base = plain.map(_.primary).orElse(a.untracedPrimary)
      val layers = traced.map { t =>
        t.layers ++ base.map(b => Map(
          "trace.overhead_s" -> (t.primary - b),
          "trace.overhead_ratio" -> (t.primary / b - 1.0))).getOrElse(Map.empty)
      }.getOrElse(Map.empty)
      val phases = plain.toSeq ++ traced
      val out = Map(
        "e2e" -> (phases.head.e2e + ("setup_s" -> setupS)),
        "primary" -> plain.map(_.primary),
        "layers" -> (layers + ("peak_rss_mb" -> peakRssMb)),
        "attempted" -> phases.map(_.attempted).sum,
        "failures" -> (untimedFailures ++ phases.flatMap(_.failures))
          .map(f => Map("n" -> f.n, "what" -> f.what)),
        "spans" -> traced.map(_.spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
          "layer" -> s.layer, "name" -> s.name, "start_ms" -> s.start,
          "end_ms" -> s.end))).getOrElse(Nil),
        "check_dir" -> w.checkDir)
      JFiles.writeString(Paths.get(a.work, "result.json"), Json(out))
    } finally spark.stop()
  }

  def log(msg: String): Unit = System.err.println(f"[perfbench] ${Clock.nowMs / 1e3}%.3f $msg")

  def timed(body: => Unit): Double = { val t0 = Clock.nowMs; body; Clock.nowMs - t0 }

  def peakRssMb: Double = {
    val status = new File("/proc/self/status")
    val hwm = if (status.exists())
      scala.io.Source.fromFile(status).getLines()
        .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
    else None
    hwm.getOrElse(Runtime.getRuntime.totalMemory / 1048576.0)
  }
}

/** `n` operations that failed or gave a wrong output. */
final case class Failure(n: Long, what: String)

object Stats {
  /** Nearest-rank percentile of a sample given as (value, weight) pairs. */
  def pctWeighted(xs: Seq[(Double, Long)], p: Double): Double = {
    if (xs.isEmpty) return 0.0
    val sorted = xs.sortBy(_._1)
    val total = sorted.map(_._2).sum
    val rank = math.max(1L, math.ceil(p / 100.0 * total).toLong)
    var seen = 0L
    sorted.find { case (_, w) => seen += w; seen >= rank }.get._1
  }
  def pct(xs: Seq[Double], p: Double): Double = pctWeighted(xs.map(_ -> 1L), p)
  def median(xs: Seq[Double]): Double = pct(xs, 50)
}

object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
  }
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** One workload: staged inputs, an untimed pass, and timed phases. */
trait Workload {
  /** Prepares the inputs of phase `i`: 0 for the untraced phase, 1 for
    * the traced one, 2 for the untimed pass where a workload has one.
    */
  def stage(i: Int): Unit
  /** Runs before the timed phases to warm the JIT (and, for `query`, to
    * dump the results run.py checks); returns its failures.
    */
  def untimedPass(): Seq[Failure] = Nil
  def run(kit: Main.Kit, phase: Int): Main.Phase
  /** Directory of result dumps that run.py checks, if any. */
  def checkDir: String = ""
}

/** The replication pieces of a workload: staging, legs, checks. */
abstract class Replication(spark: SparkSession, a: Main.Args) extends Workload {
  val Region = "bench"
  val Topic = "events"
  def batchSize: Int
  def segmentMessages: Int

  val SegSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "part_id INT, msg_offset BIGINT, key STRING, msg_value STRING, ts TIMESTAMP, msg_size BIGINT")

  def stageDir(i: Int) = s"${a.work}/stage$i"

  /** Frames the generated events as Kafka messages (MessageFraming),
    * converts them to the Kafka wire schema, and writes one parquet file
    * per produce batch into `queue/`: `b_<n>.parquet`, plus `b_<n>.dup.parquet` for
    * every redelivered batch. The produced (part_id, msg_offset, batch,
    * msg_size) set goes to `produced/` for the checks.
    */
  def stage(i: Int): Unit = {
    val dir = stageDir(i)
    deleteTree(new File(dir))
    val framed = graft.operators.MessageFraming
      .messages(graft.sources.Tables.events(spark, a.input))
      .withColumn("batch", (col("event_id") / batchSize).cast("int"))
      .persist()
    framed.select("part_id", "msg_offset", "batch", "msg_size")
      .write.parquet(s"$dir/produced")
    framed.select(
        col("key").cast("binary").as("key"),
        col("msg_value").cast("binary").as("value"),
        lit(Topic).as("topic"),
        col("part_id").as("partition"),
        col("msg_offset").as("offset"),
        col("ts").cast("timestamp").as("timestamp"),
        lit(0).as("timestampType"),
        col("batch"))
      .repartition(col("batch"))
      .write.partitionBy("batch").parquet(s"$dir/wire")
    framed.unpersist()
    new File(s"$dir/queue").mkdirs()
    for (b <- new File(s"$dir/wire").listFiles if b.getName.startsWith("batch=")) {
      val n = b.getName.stripPrefix("batch=").toInt
      val file = b.listFiles.find(_.getName.endsWith(".parquet")).get.toPath
      val dest = Paths.get(dir, "queue", s"b_$n.parquet")
      JFiles.move(file, dest)
      if (a.redeliver.contains(n))
        JFiles.copy(dest, Paths.get(dir, "queue", s"b_$n.dup.parquet"),
          StandardCopyOption.REPLACE_EXISTING)
    }
    deleteTree(new File(s"$dir/wire"))
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  def stores(kit: Main.Kit, dir: String): (graft.sources.FsSegmentStore,
      graft.sources.FsCheckpointStore) =
    if (kit.traced) (new TracedSegmentStore(spark, s"$dir/store", kit.tracer),
      new TracedCheckpointStore(spark, s"$dir/ckpt", kit.tracer))
    else (graft.sources.FsSegmentStore(spark, s"$dir/store"),
      graft.sources.FsCheckpointStore(spark, s"$dir/ckpt"))

  def egress(store: graft.sources.FsSegmentStore, queue: String,
      dir: String): StreamingQuery =
    graft.streaming.StreamingEgress.foreachBatchEgress(
      graft.streaming.KafkaBridge.toMessages(graft.streaming.KafkaStub.consume(spark, queue)),
      store, Region, Topic, segmentMessages, s"$dir/egress-wal")

  def ingress(store: graft.sources.FsSegmentStore,
      ckpt: graft.sources.FsCheckpointStore, dir: String): StreamingQuery =
    graft.streaming.StreamingIngress.fileReplay(spark, store.root, Region, Topic,
      SegSchema, ckpt, s"$dir/dest", s"$dir/ingress-wal")

  /** Micro-batch spans of a leg, from its progress events. */
  def batchSpans(kit: Main.Kit, q: StreamingQuery, leg: Int): Seq[Span] =
    kit.progressOf(q).filter(_.numInputRows > 0).map { p =>
      val s = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val id = kit.tracer.add(leg, "streaming", "microbatch", s,
        s + p.durationMs.get("triggerExecution").doubleValue)
      kit.tracer.all(id)
    }

  /** Per-batch metrics of one leg from its progress events. */
  def legMetrics(prefix: String, ps: Seq[StreamingQueryProgress]): Map[String, Double] = {
    val data = ps.filter(_.numInputRows > 0)
    def d(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue / 1e3).getOrElse(0.0)
    val secs = data.map(d(_, "triggerExecution"))
    val quarter = math.max(1, secs.size / 4)
    Map(
      "batches" -> data.size.toDouble,
      "batch_s_p50" -> Stats.median(secs),
      "batch_s_p99" -> Stats.pct(secs, 99),
      "batch_s_q1" -> Stats.median(secs.take(quarter)),
      "batch_s_q4" -> Stats.median(secs.takeRight(quarter)),
      "add_batch_s" -> data.map(d(_, "addBatch")).sum,
      "latest_offset_s" -> data.map(d(_, "latestOffset")).sum,
      "wal_s" -> data.map(p => d(p, "walCommit") + d(p, "commitOffsets")).sum,
      "planning_s" -> data.map(d(_, "queryPlanning")).sum,
      "rows_per_batch_p50" -> Stats.median(data.map(_.numInputRows.toDouble))
    ).map { case (k, v) => s"$prefix.$k" -> v }
  }

  /** Arrival time of each destination file: the end of the ingress
    * micro-batch that wrote it (the batch whose window holds the file's
    * modification time), else the modification time itself.
    */
  def arrivals(dest: String, batches: Seq[Span]): Map[String, Double] =
    Option(new File(dest).listFiles).toSeq.flatten
      .filter(_.getName.endsWith(".parquet")).map { f =>
        val m = f.lastModified.toDouble
        f.getName -> batches.find(b => m >= b.start - 1 && m <= b.end + 1).map(_.end).getOrElse(m)
      }.toMap

  /** Delivered messages as (destination file, produced batch, count). */
  def delivered(dir: String, stage: String): Seq[(String, Int, Long)] =
    spark.read.parquet(s"$dir/dest")
      .select(col("part_id"), col("msg_offset"),
        regexp_extract(input_file_name(), "([^/]+)$", 1).as("file"))
      .join(spark.read.parquet(s"$stage/produced"), Seq("part_id", "msg_offset"))
      .groupBy("file", "batch").count().collect().toSeq
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2)))

  /** Delivery checks: the destination holds exactly the produced
    * (part_id, msg_offset) set with no duplicate, and the checkpoint
    * store's latest offset per partition is the highest delivered one.
    */
  def deliveryFailures(dir: String, stage: String): Seq[Failure] = {
    val copies = spark.read.parquet(s"$dir/dest").groupBy("part_id", "msg_offset").count()
    val r = spark.read.parquet(s"$stage/produced").withColumn("produced", lit(true))
      .join(copies, Seq("part_id", "msg_offset"), "full_outer")
      .agg(
        sum(when(col("count") > 1, col("count") - 1).otherwise(0L)),
        sum(when(col("count").isNull, 1L).otherwise(0L)),
        sum(when(col("produced").isNull, 1L).otherwise(0L)))
      .head()
    val maxDelivered = copies.groupBy("part_id").agg(max("msg_offset")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val latest = graft.sources.FsCheckpointStore(spark, s"$dir/ckpt").latestMap()
    Seq(
      r.getLong(0) -> "duplicate deliveries",
      r.getLong(1) -> "produced messages not delivered",
      r.getLong(2) -> "delivered messages never produced",
      (if (latest == maxDelivered) 0L else 1L) -> "checkpoint != max delivered offset"
    ).collect { case (n, what) if n > 0 => Failure(n, s"$dir: $what") }
  }

  def producedStats(stage: String): (Long, Long) = {
    val r = spark.read.parquet(s"$stage/produced").agg(count(lit(1)), sum("msg_size")).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Store-layer metrics common to both replication workloads. */
  def storeMetrics(kit: Main.Kit, store: graft.sources.FsSegmentStore,
      ckptRoot: String): Map[String, Double] = {
    val spans = kit.tracer.all.filter(!_.end.isNaN)
    def calls(layer: String, name: String) = spans.filter(s => s.layer == layer && s.name == name)
    val levels = graft.sources.FsSegmentStore(spark, store.root).list(Region, Topic)
      .groupBy(_.level).map { case (l, ss) => l -> ss.size.toDouble }
    val written: Map[String, Double] = store match {
      case t: TracedSegmentStore => Map(
        "sources.store.files_written" -> t.filesWritten.toDouble,
        "sources.store.bytes_written" -> t.bytesWritten.toDouble)
      case _ => Map.empty
    }
    written ++ Map(
      "sources.store.write_calls" -> calls("sources.store", "write").size.toDouble,
      "sources.store.write_s" -> calls("sources.store", "write").map(_.ms).sum / 1e3,
      "sources.store.list_calls" -> calls("sources.store", "list").size.toDouble,
      "sources.store.list_s" -> calls("sources.store", "list").map(_.ms).sum / 1e3,
      "sources.store.segments_l0" -> levels.getOrElse(0, 0.0),
      "sources.store.segments_l1" -> levels.getOrElse(1, 0.0),
      "sources.store.segments_l2" -> levels.getOrElse(2, 0.0),
      "sources.ckpt.commit_calls" -> calls("sources.ckpt", "commit").size.toDouble,
      "sources.ckpt.commit_s" -> calls("sources.ckpt", "commit").map(_.ms).sum / 1e3,
      "sources.ckpt.latest_calls" -> calls("sources.ckpt", "latest").size.toDouble,
      "sources.ckpt.latest_s" -> calls("sources.ckpt", "latest").map(_.ms).sum / 1e3,
      "sources.ckpt.log_files" -> ParquetFiles.sizes(s"$ckptRoot/commits").size.toDouble)
  }

}
