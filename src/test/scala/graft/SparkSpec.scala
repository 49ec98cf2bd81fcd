package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session base for all specs — one local session per JVM
  * (getOrCreate returns the same instance across suites), built through
  * the same factory as the mains so the tests pin the plans they run. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.builder("local[8]", 8).getOrCreate()

  lazy val sf: String = "/root/testdata/sf0.001"

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}
