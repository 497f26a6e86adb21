package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on
  * the same base as Spark's task and progress timestamps.
  */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One timed call into a layer. `parent` is -1 for a root. */
final case class Span(id: Int, parent: Int, layer: String, name: String,
    start: Double, end: Double) {
  def ms: Double = end - start
}

/** Spans kept in memory and written out when the run ends. The parent of
  * a span is the innermost open span on the calling thread; a call made
  * on a streaming query's execution thread hangs under the span
  * registered for that query (its leg).
  */
final class Tracer {
  private val spans = ArrayBuffer.empty[Span]
  private val open = new ThreadLocal[List[Int]] { override def initialValue = Nil }
  private val legOfQuery = scala.collection.concurrent.TrieMap.empty[String, Int]
  private val QueryThread = """.*\[id = ([0-9a-f-]+),.*""".r

  def all: Seq[Span] = synchronized(spans.toList)

  def add(parent: Int, layer: String, name: String, start: Double,
      end: Double): Int = synchronized {
    spans += Span(spans.size, parent, layer, name, start, end)
    spans.size - 1
  }

  def current: Int = open.get.headOption.getOrElse {
    Thread.currentThread.getName match {
      case QueryThread(id) => legOfQuery.getOrElse(id, -1)
      case _ => -1
    }
  }

  def registerQuery(queryId: String, legSpan: Int): Unit =
    legOfQuery(queryId) = legSpan
  def legOf(queryId: String): Option[Int] = legOfQuery.get(queryId)

  /** Wraps the body of every span; the harness uses it to point Spark's
    * job group at the span.
    */
  @volatile var around: (Span, () => Any) => Any = (_, body) => body()

  def start(parent: Int, layer: String, name: String): Int =
    add(parent, layer, name, Clock.nowMs, Double.NaN)

  def finish(id: Int): Unit = synchronized {
    spans(id) = spans(id).copy(end = Clock.nowMs)
  }

  /** Runs `body` inside a span; the span id is reserved before the body
    * runs so that children can name it as their parent.
    */
  def span[A](layer: String, name: String)(body: => A): A = {
    val id = start(current, layer, name)
    open.set(id :: open.get)
    try around(synchronized(spans(id)), () => body).asInstanceOf[A]
    finally {
      open.set(open.get.tail)
      finish(id)
    }
  }

  /** Re-parents every span of `layers` that hangs under a leg (or under
    * nothing) to the micro-batch of that leg running when it started:
    * store calls made on a streaming thread belong to that micro-batch.
    */
  def adopt(batches: Seq[Span], layers: Set[String]): Unit = synchronized {
    for (i <- spans.indices; s = spans(i) if layers(s.layer)) {
      batches.find(b => (s.parent == -1 || b.parent == s.parent) &&
          s.start >= b.start && s.start <= b.end)
        .foreach(b => spans(i) = s.copy(parent = b.id))
    }
  }

  /** Self time per layer: each span's duration minus the part of its
    * interval that its children cover.
    */
  def selfMsByLayer: Map[String, Double] = {
    val ss = all.filter(!_.end.isNaN)
    val kids = ss.filter(_.parent >= 0).groupBy(_.parent)
    ss.map { s =>
      val covered = Intervals.union(kids.getOrElse(s.id, Nil)
        .map(k => (math.max(k.start, s.start), math.min(k.end, s.end))))
      s.layer -> (s.ms - covered)
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }
}

object Intervals {
  /** Total length covered by the union of `iv` (empty pairs ignored). */
  def union(iv: Seq[(Double, Double)]): Double = {
    var total, curS, curE = 0.0
    var any = false
    for ((s, e) <- iv.filter(p => p._2 > p._1).sortBy(_._1)) {
      if (!any || s > curE) {
        if (any) total += curE - curS
        curS = s; curE = e; any = true
      } else curE = math.max(curE, e)
    }
    if (any) total += curE - curS
    total
  }
}

/** Per-task record kept by [[SparkStats]]. Times in ms, sizes in bytes. */
final case class TaskRec(job: Int, launch: Double, finish: Double,
    runMs: Double, cpuMs: Double, gcMs: Double, shuffleRead: Long,
    shuffleWrite: Long, spill: Long, input: Long, output: Long)

/** Job, stage and task counts from Spark's listener bus. A job belongs to
  * the span named by its job group (the harness sets the group to the
  * span id) or, for streaming jobs, to the leg registered for its
  * `sql.streaming.queryId`.
  */
final class SparkStats(tracer: Tracer) extends SparkListener {
  private val stageJob = scala.collection.mutable.Map.empty[Int, Int]
  private val jobSpan = scala.collection.mutable.Map.empty[Int, Int]
  private val tasks = ArrayBuffer.empty[TaskRec]
  private var stages = 0
  private var inFlight = 0
  var maxInFlight = 0

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    val query = props.flatMap(p => Option(p.getProperty("sql.streaming.queryId")))
    val span = group.flatMap(_.stripPrefix("span-").toIntOption)
      .orElse(query.flatMap(tracer.legOf)).getOrElse(-1)
    jobSpan(e.jobId) = span
    e.stageIds.foreach(stageJob(_) = e.jobId)
    inFlight += 1
    maxInFlight = math.max(maxInFlight, inFlight)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { inFlight -= 1 }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null && i != null) tasks += TaskRec(
      stageJob.getOrElse(e.stageId, -1), i.launchTime.toDouble,
      i.finishTime.toDouble, m.executorRunTime.toDouble,
      m.executorCpuTime / 1e6, m.jvmGCTime.toDouble,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.diskBytesSpilled, m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten)
  }

  def stageCount: Int = synchronized(stages)
  def allTasks: Seq[TaskRec] = synchronized(tasks.toList)
  def spanOfJob: Map[Int, Int] = synchronized(jobSpan.toMap)

  /** Wall time in [start, end] during which no task was running. */
  def gapMs(start: Double, end: Double): Double =
    (end - start) - Intervals.union(allTasks.map(t =>
      (math.max(t.launch, start), math.min(t.finish, end))))

  /** Spark metrics of the tasks whose job belongs to a span in `spans`. */
  def sums(spans: Int => Boolean, prefix: String): Map[String, Double] = {
    val sj = spanOfJob
    val ts = allTasks.filter(t => spans(sj.getOrElse(t.job, -1)))
    val mb = 1024.0 * 1024.0
    Map(
      s"${prefix}task_run_s" -> ts.map(_.runMs).sum / 1e3,
      s"${prefix}task_cpu_s" -> ts.map(_.cpuMs).sum / 1e3,
      s"${prefix}gc_s" -> ts.map(_.gcMs).sum / 1e3,
      s"${prefix}shuffle_read_mb" -> ts.map(_.shuffleRead).sum / mb,
      s"${prefix}shuffle_write_mb" -> ts.map(_.shuffleWrite).sum / mb,
      s"${prefix}spill_mb" -> ts.map(_.spill).sum / mb,
      s"${prefix}input_mb" -> ts.map(_.input).sum / mb,
      s"${prefix}output_mb" -> ts.map(_.output).sum / mb,
      s"${prefix}tasks" -> ts.size.toDouble,
      s"${prefix}jobs" -> sj.count { case (_, s) => spans(s) }.toDouble)
  }
}

/** Every progress event of every streaming query, by query id. */
final class ProgressLog extends StreamingQueryListener {
  private val events = ArrayBuffer.empty[StreamingQueryProgress]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized { events += e.progress }
  def of(queryId: java.util.UUID): Seq[StreamingQueryProgress] =
    synchronized(events.filter(_.id == queryId).toList)
}
