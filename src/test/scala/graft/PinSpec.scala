package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The one materialization policy ([[Pin]]): every pin goes through it, a
  * shared pin costs no job of its own, an eager pin survives its input, and
  * a release frees every pin but not the landed state. */
class PinSpec extends GraftSuite {
  import spark.implicits._

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** A frame with a shuffle, read by two readers. */
  private def frame: DataFrame =
    spark.range(0, 2000, 1, 4).groupBy((col("id") % 37).as("k"))
      .agg(count(lit(1)).as("n"), sum(col("id")).as("s"))
  private def readers(df: DataFrame): (Seq[String], Seq[String]) =
    (rows(df.filter(col("k") < 10)), rows(df.agg(sum(col("n")), max(col("s")))))

  test("no src/main source materializes outside Pin") {
    import java.nio.file.{Files, Path, Paths}
    val files = Files.walk(Paths.get("src/main")).toArray.toSeq
      .collect { case p: Path if p.toString.endsWith(".scala") => p }
      .filterNot(_.getFileName.toString == "Pin.scala")
    assert(files.nonEmpty, "src/main not found from the test's working directory")
    val calls = Seq("localCheckpoint(", ".cache()", ".persist(", "getPersistentRDDs")
    val offenders = for {
      f <- files
      text = Files.readString(f)
      c <- calls if text.contains(c)
    } yield s"$f: $c"
    assert(offenders.isEmpty, s"materialize through Pin: ${offenders.mkString(", ")}")
  }

  test("Pin.shared: same rows as the unpinned frame, at least one job fewer than Pin.now") {
    val (shared, sharedJobs) = jobsDuring(readers(Pin.shared(frame)))
    val (eager, eagerJobs) = jobsDuring(readers(Pin.now(frame)))
    assert(shared === readers(frame), "a shared pin changed the rows")
    assert(eager === shared)
    assert(sharedJobs <= eagerJobs - 1,
      s"shared pin ran $sharedJobs jobs, eager pin $eagerJobs")
  }

  test("Pin.now: the frame reads back after its input directory is deleted") {
    val d = TestSpark.tempDir("graft_pin_now_")
    (1L to 100L).toDF("x").write.mode("overwrite").parquet(s"$d/t")
    val pinned = Pin.now(spark.read.parquet(s"$d/t").select((col("x") * 2).as("y")))
    org.apache.spark.network.util.JavaUtils.deleteRecursively(new java.io.File(d))
    assert(!new java.io.File(d).exists())
    assert(pinned.agg(sum(col("y"))).head().getLong(0) === 10100L)
  }

  test("Pin.release frees every pin; a landed artifact still reads back") {
    val pinned = Pin.shared(frame)
    readers(pinned)
    Pin.now(frame)
    val landed = CorpusArtifacts.parquet(spark, "pin_spec", sfDir)(Pin.shared(frame))
    val expected = rows(frame)
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty, "no pin was held")
    Pin.release(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      s"pins left: ${spark.sparkContext.getPersistentRDDs.keys.mkString(", ")}")
    assert(rows(landed) === expected)
  }
}
