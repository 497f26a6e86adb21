package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import graft.sources.Durable

/** The durable-file layer: atomic replacement under concurrent writers,
  * the missing-file read, and the rule that no other source file
  * renames or moves files itself.
  */
class DurableSpec extends SparkSuite {

  test("concurrent writers to one path: every read is one whole body, no temp file left") {
    val dir = Paths.get(tmpDir("durable-race"))
    val p = dir.resolve("model.txt")
    val writers = 8
    val rounds = 50
    // distinct, long bodies: a torn or interleaved write cannot pass
    // for any one of them
    val bodies = (0 until writers).map(w => s"writer-$w|" + (s"$w" * 4096))
    val pool = Executors.newFixedThreadPool(writers)
    val start = new CountDownLatch(1)
    val bad = new ConcurrentLinkedQueue[String]()
    try {
      val done = (0 until writers).map { w =>
        pool.submit(new Runnable {
          def run(): Unit = {
            start.await()
            (0 until rounds).foreach { _ =>
              Durable.write(p, bodies(w))
              Durable.read(p).foreach { b =>
                if (!bodies.contains(b)) bad.add(b.take(40))
              }
            }
          }
        })
      }
      start.countDown()
      done.foreach(_.get(60, TimeUnit.SECONDS))
    } finally pool.shutdownNow()
    assert(bad.isEmpty, s"torn reads: ${bad.asScala.take(3)}")
    assert(bodies.contains(Durable.read(p).get))
    val left = Files.list(dir)
    val names = try left.iterator().asScala.map(_.getFileName.toString).toSeq
      finally left.close()
    assert(names === Seq("model.txt"), "a temp file outlived its write")
    assert(Durable.read(dir.resolve("missing.txt")) === None)
  }

  test("only Durable.scala moves or renames files") {
    val calls = Seq("StandardCopyOption", "Files.move", ".rename(")
    val sites = SourceScan.filesContaining(calls: _*)
    assert(sites === Seq("graft/sources/Durable.scala"))
  }
}
