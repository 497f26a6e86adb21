package graft.core

import org.apache.spark.sql.SparkSession

/** Overlap independent driver-submitted Spark jobs (optimization
  * guide §2.6): Spark happily runs several jobs at once inside one
  * application — actions are only sequential because driver code
  * calls them sequentially — so a batch of independent collects
  * submitted from a small thread pool back-fills executor cores that
  * a single job's straggler tail (or its small input-split count)
  * would leave idle.
  *
  * The pool is DEDICATED and bounded: `ExecutionContext.global`'s
  * parallelism is the core count and its threads are shared with any
  * other library caller, so blocking Spark collects there can starve
  * the pool (and nested blocking Awaits can deadlock). A fixed pool
  * sized to the batch, shut down when the batch completes, cannot.
  *
  * Every job of a batch carries one fresh job tag (added to, not
  * replacing, the caller's job group). `Future.sequence` fails the
  * batch on the first error; the pool is then torn down with
  * `shutdownNow`, and once its threads have exited (so every sibling
  * job has been submitted) the tag's jobs are cancelled instead of
  * running on detached. A batch has no time limit of its own. Results
  * come back in task order.
  */
object Overlap {
  /** Jobs in flight at once. Guide §2.6: "2-3 jobs in flight is
    * plenty: enough to fill the tail, not so many that they fight for
    * executors" — measured here too: the profiler's 11 column jobs
    * fully concurrent at 10x data and 32 cores oversubscribed the
    * host (33.9 s vs 7.2 s at 8 cores); excess tasks queue on the
    * bounded pool and back-fill as slots free.
    */
  val MaxInFlight = 4

  /** Prefix of the job tag each batch's jobs carry. */
  private[graft] val TagPrefix = "graft-overlap-"

  def overlapped[A](spark: SparkSession,
      tasks: Seq[(String, () => A)]): Seq[(String, A)] = {
    import java.util.concurrent.{Executors, TimeUnit}
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val sc = spark.sparkContext
    val tag = TagPrefix + java.util.UUID.randomUUID()
    val pool = Executors.newFixedThreadPool(
      math.max(math.min(tasks.size, MaxInFlight), 1))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    // pool threads copy the caller's job properties when created and
    // die with the pool, so the tag never reaches the caller's thread
    try Await.result(
      Future.sequence(tasks.map { case (n, f) =>
        Future { sc.addJobTag(tag); (n, f()) } }),
      Duration.Inf)
    catch { case e: Throwable =>
      pool.shutdownNow()
      pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
      sc.cancelJobsWithTag(tag)
      throw e
    }
    finally pool.shutdown()
  }
}
