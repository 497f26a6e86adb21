package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for all suites (sbt forks one test JVM). */
object TestSpark {
  lazy val spark: SparkSession = graft.core.LocalSession(4)
  val Sf = "/root/testdata/sf0.001"
}

abstract class SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sf: String = TestSpark.Sf
  def tmpDir(prefix: String): String = {
    val d = new java.io.File(s"target/tmp/$prefix-${System.nanoTime()}")
    d.mkdirs(); d.getAbsolutePath
  }
}
