package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftExtensions.register(spark)
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
    // `value`/`queries` are ALWAYS the run just executed — the driver
    // contract. (r20 overlaid committed calm-gated medians as the
    // headline when an artifact matched the surface; the r20 verdict
    // asked for that inversion to be undone: it doubled an already
    // tail-truncated line and made the reported numbers come from a
    // committed file nothing audits. Gated medians live in their own
    // artifact, bench/bench_median.json, produced by
    // tools/benchwhencalm.py — they no longer touch this line.)
    // The line is kept as short as the fixed contract allows: with
    // 149 fixed query names it is ~4.3 KB minimum, while the driver's
    // tail-style capture has kept the LAST 2000 bytes of stdout every
    // round since r01 — so a fully-captured line is arithmetically
    // impossible at this surface and the tail holds the
    // alphabetically-last ~70 per-query entries plus the closing
    // fields; bench_last.json always holds the complete line.
    val line =
      s"""{"metric":"total","value":${f(total)},"unit":"sec","queries":${qsJson(results)},"sf":"$sfDir"}"""
    println(line)
    // also persist the compact line: tail-style stdout captures have
    // truncated it (BENCH_r10 parsed as null) — the file copy makes
    // the artifact self-contained. Path overridable for calm-window
    // recorders that keep multiple runs.
    // default is RELATIVE to the working tree (an absolute default
    // wrote outside the repo for any other checkout location)
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      new java.io.File("bench/bench_last.json").getPath)
    try {
      Option(new java.io.File(outFile).getAbsoluteFile.getParentFile)
        .foreach(_.mkdirs())
      java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), line + "\n")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outFile: ${e.getMessage}")
    }
    graft.operators.Dedup.releaseAllCaches(spark)
    spark.stop()
  }
}
