package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local test session (the mains' [[GraftSession]], without
  * the optimizer rules). */
object TestSpark {
  lazy val spark: SparkSession =
    GraftSession.create("4", Map("spark.app.name" -> "graft-test"))
  val sfDir = "/root/testdata/sf0.001"

  /** A fresh fixture directory, deleted with the [[Store]] directories
    * when the JVM exits. */
  def tempDir(prefix: String): String =
    Store.track(java.nio.file.Files.createTempDirectory(prefix).toString)
}

abstract class GraftSuite extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sfDir: String = TestSpark.sfDir
  def q(name: String) = SparkEntry.queries(name)(spark, sfDir)
}
