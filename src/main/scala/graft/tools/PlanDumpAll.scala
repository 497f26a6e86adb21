package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

import graft.{GraftExtensions, SparkEntry}

/** Dump `.explain("formatted")` for declared queries to files.
  *
  * Usage: PlanDumpAll <outDir> <suffix> [sfDir] [q1,q2,...]
  * Writes <outDir>/<query>_<suffix>.txt for each query (all queries
  * when no list given). Session config mirrors graft.Bench so the
  * dumped plans are the ones the bench actually executes.
  */
object PlanDumpAll {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    val only: Option[Set[String]] =
      if (args.length > 3) Some(args(3).split(",").toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftExtensions.register(spark)
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
