package graft.core

import org.apache.spark.sql.SparkSession

import graft.GraftExtensions

/** The one way graft starts a local Spark session: every main and the
  * test fixture go through here, so they all run under the same
  * contract.
  *
  *   - `local[cores]` with `spark.sql.shuffle.partitions = cores`;
  *   - `spark.sql.legacy.parquet.nanosAsLong`, because `events.ts` is
  *     parquet TIMESTAMP(NANOS) (`Tables.events` converts long →
  *     timestamp);
  *   - session time zone UTC, so time bucketing matches the oracles;
  *   - UI off, a fresh warehouse dir under `java.io.tmpdir`, log
  *     level WARN;
  *   - graft's SQL functions registered ([[GraftExtensions.register]]).
  *
  * `cores` defaults to `SPARK_GRAFT_CPUS`, else 32.
  */
object LocalSession {
  def apply(cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(32)): SparkSession = {
    val warehouse = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft-warehouse-${System.nanoTime()}")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", warehouse.getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftExtensions.register(spark)
    spark
  }
}
