package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session).
  * Fixed at 4 cores and 4 shuffle partitions whatever the host, so job
  * and task counts asserted by the specs do not move. */
object TestSpark {
  lazy val spark: SparkSession = LocalSpark.session("graft-test",
    master = "local[4]", shufflePartitions = 4)
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  lazy val sf001 = "/root/testdata/sf0.001"
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}
