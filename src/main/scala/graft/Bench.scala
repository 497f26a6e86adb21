package graft
import graft.core.LocalSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession()
    // Untimed warmup: absorb JVM/codegen/scan warmup so per-query
    // numbers reflect steady state, then time in deterministic name
    // order (Map iteration order would otherwise shuffle which query
    // pays for shared cached plans).
    try SparkEntry.queries("q1_pricing_summary")(spark, sfDir)
      .write.mode("overwrite").format("noop").save()
    catch { case _: Throwable => }
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val t0 = System.nanoTime()
      // noop sink executes the FULL plan (count() would let Catalyst
      // elide sorts and prune aggregates)
      val ok = try {
        fn(spark, sfDir).write.mode("overwrite").format("noop").save(); true
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}"); false
      }
      // a failed query records the -1 sentinel, never a bogus duration
      name -> (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0)
    }
    // 3-decimal values keep the line compact enough that tail-style
    // captures of stdout hold all queries (full-precision doubles
    // nearly doubled the line and got clipped in the r09 capture).
    // Locale.ROOT: the default-locale formatter writes comma decimal
    // separators under e.g. de_DE, and this line is machine-parsed
    // JSON — the calm-window recorders would discard every attempt
    def f(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    def qsJson(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => s"\"" + k + "\":" + f(v) }
        .mkString("{", ",", "}")
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    // `value`/`queries` are always the run just executed. With 149
    // fixed query names the line is ~4.3 KB, more than a tail-style
    // capture of the last 2000 bytes of stdout holds, so
    // bench_last.json keeps the complete line.
    val line =
      s"""{"metric":"total","value":${f(total)},"unit":"sec","queries":${qsJson(results)},"sf":"$sfDir"}"""
    println(line)
    // also persist the line (relative to the working tree):
    // tail-style stdout captures truncate it.
    val outFile = java.nio.file.Paths.get("bench", "bench_last.json")
    try {
      java.nio.file.Files.createDirectories(outFile.getParent)
      java.nio.file.Files.writeString(outFile, line + "\n")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outFile: ${e.getMessage}")
    }
    graft.operators.Dedup.releaseAllCaches(spark)
    spark.stop()
  }
}
