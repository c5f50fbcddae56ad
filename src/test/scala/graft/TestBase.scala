package graft

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import java.util.concurrent.atomic.AtomicInteger

/** Shared local test session (the mains' [[GraftSession]], without
  * the optimizer rules). */
object TestSpark {
  lazy val spark: SparkSession =
    GraftSession.create("4", Map("spark.app.name" -> "graft-test"))
  val sfDir = "/root/testdata/sf0.001"

  /** The df-capped exact-Jaccard edges (id1, id2, inter, uni) of a
    * (doc_id, text) frame, unpinned: the plan shows every kernel step. */
  def jaccardEdges(docs: DataFrame): DataFrame =
    llm.TextOps.jaccardFilter(llm.TextOps.overlapPairs(llm.TextOps.cappedPostings(docs)))

  /** A fresh fixture directory, deleted with the [[Store]] directories
    * when the JVM exits. */
  def tempDir(prefix: String): String =
    Store.track(java.nio.file.Files.createTempDirectory(prefix).toString)
}

abstract class GraftSuite extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sfDir: String = TestSpark.sfDir
  def q(name: String) = SparkEntry.queries(name)(spark, sfDir)

  /** Spark jobs started while `body` runs, counted once the listener bus
    * has delivered every event. */
  def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val n = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      ListenerBusDrain(sc)
      (out, n.get())
    } finally sc.removeSparkListener(listener)
  }

  /** Runs `body` with setting `k` = `v` on session `s`, then restores it. */
  def withConf[T](k: String, v: String, s: SparkSession = spark)(body: => T): T = {
    val prev = s.conf.getOption(k)
    s.conf.set(k, v)
    try body finally prev match {
      case Some(p) => s.conf.set(k, p)
      case None => s.conf.unset(k)
    }
  }
}
