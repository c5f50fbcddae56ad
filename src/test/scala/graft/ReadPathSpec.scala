package graft

import org.apache.spark.ListenerBusDrain
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.types.{BinaryType, LongType, StringType}
import java.util.concurrent.atomic.AtomicInteger

/** The per-op read path: Parquet schemas inferred once per unchanged
  * path and setting ([[Tables.readParquet]]), embedding dimensions probed
  * once per unchanged store, corpus artifacts keyed by corpus content,
  * streaming queries that reuse their generated code, and parallel builds
  * that stop their Spark work when a sibling fails. */
class ReadPathSpec extends GraftSuite {
  import spark.implicits._

  test("a second load of a table launches no Spark job and has the inferred schema") {
    val dir = TestSpark.tempDir("readpath_load")
    Seq((1L, "a", 2.5), (2L, "b", 3.5)).toDF("k", "s", "v")
      .write.parquet(s"$dir/t.parquet")
    val (_, first) = jobsDuring(Tables.load(spark, dir, "t").schema)
    val (schema, second) = jobsDuring(Tables.load(spark, dir, "t").schema)
    assert(first >= 1, "the first load infers the schema with a Spark job")
    assert(second == 0, s"the second load launched $second jobs")
    assert(schema == spark.read.parquet(s"$dir/t.parquet").schema)
    assert(Tables.load(spark, dir, "t").orderBy("k").as[(Long, String, Double)]
      .collect().toSeq == Seq((1L, "a", 2.5), (2L, "b", 3.5)))
  }

  test("a table rewritten at the same path is read with its new schema") {
    val dir = TestSpark.tempDir("readpath_rewrite")
    val path = s"$dir/t.parquet"
    Seq((1L, 2L)).toDF("a", "b").write.parquet(path)
    assert(Tables.load(spark, dir, "t").columns.toSeq == Seq("a", "b"))
    Seq(("x", 3.0, 4)).toDF("c", "d", "e").write.mode("overwrite").parquet(path)
    val df = Tables.load(spark, dir, "t")
    assert(df.schema == spark.read.parquet(path).schema)
    assert(df.as[(String, Double, Int)].collect().toSeq == Seq(("x", 3.0, 4)))
  }

  /** One row written with parquet-mr: Spark's writer cannot produce
    * TIMESTAMP(NANOS), and stores its own schema in the footer, which
    * inference prefers over the reading settings. */
  private def writeParquetMr(path: String, schema: String)(
      row: org.apache.parquet.example.data.Group => Unit): Unit = {
    val msg = org.apache.parquet.schema.MessageTypeParser.parseMessageType(schema)
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(path)).withType(msg).build()
    val g = new org.apache.parquet.example.data.simple.SimpleGroupFactory(msg).newGroup()
    row(g)
    try w.write(g) finally w.close()
  }

  test("each Parquet reading setting gets its own inferred schema") {
    val dir = TestSpark.tempDir("readpath_confs")
    val nanos = s"$dir/nanos.parquet"
    writeParquetMr(nanos,
      "message m { required int64 id; required int64 ts (TIMESTAMP(NANOS,true)); }") {
      g => g.append("id", 1L).append("ts", 1700000000123456789L)
    }
    def tsType = Tables.readParquet(spark, nanos).schema("ts").dataType
    withConf("spark.sql.legacy.parquet.nanosAsLong", "true") {
      assert(tsType == LongType)
      assert(Tables.readParquet(spark, nanos).as[(Long, Long)].collect()
        .toSeq == Seq((1L, 1700000000123456789L)))
    }
    // without the setting the column has no Spark type: Spark's own error,
    // not the schema stored under the other setting
    withConf("spark.sql.legacy.parquet.nanosAsLong", "false") {
      val e = intercept[AnalysisException](tsType)
      assert(e.getMessage.contains("PARQUET_TYPE_ILLEGAL"), e.getMessage)
    }
    withConf("spark.sql.legacy.parquet.nanosAsLong", "true")(assert(tsType == LongType))

    val bin = s"$dir/bin.parquet"
    writeParquetMr(bin, "message m { required binary b; }") {
      g => g.append("b", "hi")
    }
    def bType = Tables.readParquet(spark, bin).schema("b").dataType
    withConf("spark.sql.parquet.binaryAsString", "false")(assert(bType == BinaryType))
    withConf("spark.sql.parquet.binaryAsString", "true") {
      assert(bType == StringType)
      assert(Tables.readParquet(spark, bin).as[String].collect().toSeq == Seq("hi"))
    }
    withConf("spark.sql.parquet.binaryAsString", "false")(assert(bType == BinaryType))
  }

  test("a corpus artifact hit launches no job; a rewritten corpus rebuilds it") {
    val dir = TestSpark.tempDir("readpath_corpus")
    Seq(1L, 2L).toDF("id").write.parquet(s"$dir/docs.parquet")
    val builds = new AtomicInteger(0)
    def artifact = CorpusArtifacts.parquet(spark, "readpath_probe", dir) {
      val n = builds.incrementAndGet()
      spark.range(n * 10L).toDF("x")
    }
    assert(artifact.count() == 10L)
    val (hit, jobs) = jobsDuring(artifact)
    assert(jobs == 0, s"building the frame of an artifact hit launched $jobs jobs")
    assert(builds.get() == 1 && hit.count() == 10L)

    Seq(1L, 2L, 3L).toDF("id").write.mode("overwrite").parquet(s"$dir/docs.parquet")
    assert(artifact.count() == 20L, "the rewritten corpus served its old artifact")
    assert(builds.get() == 2)
  }

  test("each corpus in one session gets its own embedding dimension, probed once") {
    def store(dir: String, dim: Int): Unit =
      Seq((1L, Seq.fill(dim)(0.5f)), (2L, Seq.fill(dim)(0.25f))).toDF("vec_id", "embedding")
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val a = TestSpark.tempDir("readpath_dim_a")
    val b = TestSpark.tempDir("readpath_dim_b")
    store(a, 3)
    store(b, 5)
    val (dimA, first) = jobsDuring(llm.VectorOps.embeddingDim(spark, a))
    val (dimA2, second) = jobsDuring(llm.VectorOps.embeddingDim(spark, a))
    assert(dimA == 3 && dimA2 == 3)
    assert(first >= 1, "the first call probes the store with a Spark job")
    assert(second == 0, s"the memoized call launched $second jobs")
    assert(llm.VectorOps.embeddingDim(spark, b) == 5,
      "the second corpus was served the first one's dimension")
    store(a, 2)
    assert(llm.VectorOps.embeddingDim(spark, a) == 2,
      "a rewritten store kept its old dimension")
  }

  test("the corpus fingerprint of a nested directory equals its recursive listFiles listing") {
    val dir = TestSpark.tempDir("readpath_fingerprint")
    Seq((1L, "a"), (2L, "b")).toDF("k", "s").write.partitionBy("s").parquet(s"$dir/t.parquet")
    Seq(3L).toDF("k").write.parquet(s"$dir/t.parquet/s=c/deeper")
    def listed(path: String): String = {
      val p = new org.apache.hadoop.fs.Path(path)
      val it = p.getFileSystem(spark.sparkContext.hadoopConfiguration).listFiles(p, true)
      val files = Seq.newBuilder[String]
      while (it.hasNext) {
        val f = it.next()
        files += s"${f.getPath}:${f.getLen}:${f.getModificationTime}"
      }
      files.result().sorted.mkString(",")
    }
    val nested = Tables.fingerprint(spark, s"$dir/t.parquet")
    assert(nested.contains(listed(s"$dir/t.parquet")))
    assert(nested.get.contains("/s=c/deeper/") && nested.get.contains("_SUCCESS"), nested.get)
    val file = new java.io.File(s"$dir/t.parquet/s=a").listFiles().map(_.getPath)
      .find(_.endsWith(".parquet")).get
    assert(Tables.fingerprint(spark, file).contains(listed(file)))
    assert(Tables.fingerprint(spark, s"$dir/missing").isEmpty)
  }

  test("a repeated streaming query compiles no new code and restores the caller's settings") {
    val confs = Seq("spark.sql.shuffle.partitions" -> "7",
      "spark.sql.artifact.isolation.enabled" -> "true")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      def run(): Long = q("stream_stateful_count").collect().length.toLong
      val rows = run()
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      assert(run() == rows)
      val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
      assert(compiled == 0, s"the second run compiled $compiled classes")
      confs.foreach { case (k, v) => assert(spark.conf.get(k) == v, k) }
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("a failing parallel task cancels its siblings' Spark jobs and rethrows its cause") {
    val sc = spark.sparkContext
    def activeJobs(): Seq[Int] = { ListenerBusDrain(sc); sc.statusTracker.getActiveJobIds.toSeq }
    def waitFor(cond: => Boolean): Boolean = {
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (!cond && System.nanoTime() < deadline) Thread.sleep(100)
      cond
    }
    assert(waitFor(activeJobs().isEmpty))
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException] {
      operators.Profiling.inParallel[Long](spark)(Seq(
        // about 30 s of task time a partition unless it is cancelled
        "slow" -> (() => sc.parallelize(1 to 600, 4).map { i => Thread.sleep(200); i }.count()),
        "boom" -> (() => {
          assert(waitFor(activeJobs().nonEmpty), "the slow job never started")
          throw new IllegalStateException("boom")
        })))
    }
    val waitedS = (System.nanoTime() - t0) / 1e9
    assert(e.getMessage == "boom")
    assert(waitedS < 15, s"the failure surfaced after $waitedS s: the slow job ran to its end")
    assert(waitFor(activeJobs().isEmpty), s"jobs still active: ${activeJobs()}")
  }
}
