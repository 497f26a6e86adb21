package graft

class LocalSessionSpec extends SparkSuite {

  test("the test session runs under the LocalSession contract") {
    val conf = spark.conf
    assert(conf.get("spark.sql.shuffle.partitions") === "4")
    assert(conf.get("spark.sql.session.timeZone") === "UTC")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(spark.sparkContext.master === "local[4]")
    // graft's SQL functions resolve without an explicit register call
    val h = spark.sql("SELECT hex_hash60(cast('a' AS binary))").head().getLong(0)
    assert(h >= 0L && h < (1L << 60))
  }

  test("SparkSession.builder appears only in LocalSession") {
    val sites = SourceScan.filesContaining("SparkSession.builder")
    assert(sites === Seq("graft/core/LocalSession.scala"))
  }
}
