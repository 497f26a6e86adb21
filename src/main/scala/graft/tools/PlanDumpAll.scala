package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

import graft.SparkEntry
import graft.core.LocalSession

/** Dump `.explain("formatted")` for declared queries to files.
  *
  * Usage: PlanDumpAll <outDir> <suffix> [sfDir] [q1,q2,...]
  * Writes <outDir>/<query>_<suffix>.txt for each query (all queries
  * when no list given). The session is graft.Bench's
  * ([[graft.core.LocalSession]]), so the dumped plans are the ones the
  * bench executes.
  */
object PlanDumpAll {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    val only: Option[Set[String]] =
      if (args.length > 3) Some(args(3).split(",").toSet) else None
    val spark = LocalSession()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    names.foreach { name =>
      val path = Paths.get(outDir, s"${name}_$suffix.txt")
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val txt = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
        Files.writeString(path, txt)
        System.err.println(s"[plandump] wrote $path")
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $name FAILED: ${e.getMessage}")
      }
    }
    graft.operators.Dedup.releaseAllCaches(spark)
    spark.stop()
  }
}
