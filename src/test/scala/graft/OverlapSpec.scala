package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

import org.apache.spark.TaskContext
import org.apache.spark.scheduler.{JobSucceeded, SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

import graft.core.Overlap

class OverlapSpec extends SparkSuite {

  test("a failing task cancels its siblings' Spark jobs") {
    val sc = spark.sparkContext
    val tagged = ConcurrentHashMap.newKeySet[Int]()
    val ended = ConcurrentHashMap.newKeySet[Int]()
    val succeeded = ConcurrentHashMap.newKeySet[Int]()
    val siblingStarted = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
            .exists(_.contains(Overlap.TagPrefix))) {
          tagged.add(e.jobId); siblingStarted.countDown()
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        ended.add(e.jobId)
        if (e.jobResult == JobSucceeded) succeeded.add(e.jobId)
      }
    }
    sc.addSparkListener(listener)
    try {
      // one task that would hold a core for a minute unless killed
      val long: () => Long = () => sc.parallelize(Seq(1), 1).map { x =>
        val t0 = System.nanoTime()
        while (System.nanoTime() - t0 < 60e9 && !TaskContext.get().isInterrupted())
          Thread.sleep(20)
        x
      }.count()
      val failing: () => Long = () => {
        assert(siblingStarted.await(30, TimeUnit.SECONDS))
        throw new IllegalStateException("boom")
      }
      val t0 = System.nanoTime()
      intercept[IllegalStateException](
        Overlap.overlapped(spark, Seq("fail" -> failing, "long" -> long)))
      assert(System.nanoTime() - t0 < 30e9, "the batch waited for its sibling")
      val deadline = System.nanoTime() + 30e9
      while (!ended.containsAll(tagged) && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(!tagged.isEmpty)
      assert(ended.containsAll(tagged), "a tagged job is still running")
      assert(java.util.Collections.disjoint(tagged, succeeded), "a tagged job ran to completion")
      val active = sc.statusTracker.getActiveJobIds().toSet
      assert(tagged.stream().noneMatch(id => active.contains(id)))
      // the tag stayed on the pool threads
      assert(Option(sc.getLocalProperty("spark.job.tags"))
        .forall(!_.contains(Overlap.TagPrefix)))
    } finally sc.removeSparkListener(listener)
  }
}
