package graft

import java.io.File
import java.nio.file.Files

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
    val root = new File("src/main/scala")
    assert(root.isDirectory, s"no sources under ${root.getAbsolutePath}")
    def scalaFiles(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(scalaFiles)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    val sites = scalaFiles(root)
      .filter(f => Files.readString(f.toPath).contains("SparkSession.builder"))
      .map(f => root.toPath.relativize(f.toPath).toString)
    assert(sites === Seq("graft/core/LocalSession.scala"))
  }
}
