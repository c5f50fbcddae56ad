package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local test session (the mains' [[GraftSession]], without
  * the optimizer rules). */
object TestSpark {
  lazy val spark: SparkSession =
    GraftSession.create("4", Map("spark.app.name" -> "graft-test"))
  val sfDir = "/root/testdata/sf0.001"

  /** Shared tmp-fixture factory (ADVICE r11: per-suite
    * Files.createTempDirectory fixtures were never deleted, accumulating
    * tmp garbage across runs). Every dir created here is recursively
    * removed by one JVM shutdown hook. */
  private val tmpDirs = scala.collection.mutable.ListBuffer[java.nio.file.Path]()
  private lazy val hook: Unit = sys.addShutdownHook {
    import java.nio.file.{Files, Path}
    import java.util.Comparator
    tmpDirs.synchronized(tmpDirs.toList).foreach { d =>
      try Files.walk(d).sorted(Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
      catch { case _: Throwable => () }
    }
  }
  def tempDir(prefix: String): String = {
    hook
    val p = java.nio.file.Files.createTempDirectory(prefix)
    tmpDirs.synchronized(tmpDirs += p)
    p.toString
  }
}

abstract class GraftSuite extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sfDir: String = TestSpark.sfDir
  def q(name: String) = SparkEntry.queries(name)(spark, sfDir)
}
