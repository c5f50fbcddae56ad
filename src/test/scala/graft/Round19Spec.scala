package graft

import org.apache.spark.sql.functions._

/** Round-19 hardening contracts (VERDICT r18):
  *  #1 CC label-store delta-chain CHECKPOINTING — checkpoint-crossing
  *     reads equal the full v0 fold chain; the serve plan reads only
  *     newest-base + suffix-delta files.
  *  #5 micro-batch retry idempotence — re-running a wave's foreachBatch
  *     body on the same batchId leaves store + receipts byte-identical.
  *  #6 serve-path READ amplification — the served snapshot's input file
  *     set is O(base + suffix deltas), never O(base × waves).
  */
class Round19Spec extends GraftSuite {
  import spark.implicits._

  /** Round17Spec's hand corpus: base comps {10,11}→10, {20}→20; waves
    * merge 27 into 20's comp, 57/87 batch-internally, then 7 (relabels
    * 10→7) and 17 (relabels 57→17). */
  private def handDocs = Seq(
    (10L, "aa bb cc dd ee"), (11L, "aa bb cc dd ee"),
    (20L, "ff gg hh ii jj"),
    (27L, "ff gg hh ii jj"), (57L, "kk ll mm nn oo"),
    (87L, "kk ll mm nn oo"),
    (7L, "aa bb cc dd ee"),
    (17L, "kk ll mm nn oo")).toDF("doc_id", "text")

  private val handLabels = Map(10L -> 7L, 11L -> 7L, 7L -> 7L,
    20L -> 20L, 27L -> 20L, 57L -> 17L, 87L -> 17L, 17L -> 17L)

  private def ccBase = s"/tmp/graft_scc_${spark.sparkContext.applicationId}"

  private def labMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("cc checkpoint: crossing reads equal the full v0 fold chain (hand corpus)") {
    streaming.Streaming.streamCcMaintain(spark, handDocs).collect()
    val base = ccBase
    // K=2 over 3 waves: exactly one checkpoint, v2, and the serve path
    // must re-root there for through ∈ {1, 2}
    assert(streaming.Streaming.ccNewestBase(base, -1L) === 0L)
    assert(streaming.Streaming.ccNewestBase(base, 0L) === 0L)
    assert(streaming.Streaming.ccNewestBase(base, 1L) === 2L)
    assert(streaming.Streaming.ccNewestBase(base, 2L) === 2L)
    for (through <- -1L to 2L) {
      val rerooted = labMap(streaming.Streaming.ccServedLabels(spark, base, through))
      val fullChain = labMap(
        streaming.Streaming.ccServedLabelsFrom(spark, base, 0L, through))
      assert(rerooted === fullChain,
        s"through=$through: re-rooted serve diverged from the full fold chain")
    }
    assert(labMap(streaming.Streaming.ccServedLabels(spark, base, 2L)) === handLabels)
  }

  test("cc serve-path read amplification: snapshot reads newest base + suffix deltas only") {
    q("stream_cc_maintain").collect() // fixture run: lands v0, b0..b2, v2
    val base = ccBase
    val files = streaming.Streaming.ccServedLabels(spark, base, 2L).inputFiles
    assert(files.nonEmpty)
    assert(files.forall(f =>
        f.contains("/labels/v2/") || f.contains("/labels/delta/b2/")),
      s"serve plan reads beyond newest base + suffix: ${files.mkString(", ")}")
    // and the suffix really is read (wave b2's delta must participate)
    assert(files.exists(_.contains("/labels/delta/b2/")))
    // the fixture protocol itself crossed the checkpoint: wave 2's serve
    // would otherwise fold b0 and b1 — O(base × waves) read amplification
    for (bad <- Seq("/labels/v0/", "/labels/delta/b0/", "/labels/delta/b1/"))
      assert(!files.exists(_.contains(bad)), s"serve plan still reads $bad")
  }

  test("cc micro-batch retry idempotence: re-running a wave changes nothing") {
    streaming.Streaming.streamCcMaintain(spark, handDocs).collect()
    val base = ccBase
    val edges = spark.read.parquet(s"$base/edges")
    def snapshot(): (Map[Long, Long], Map[Long, Long], Seq[Seq[Long]], Long, Long) = (
      labMap(streaming.Streaming.ccServedLabels(spark, base, 2L)),
      labMap(spark.read.parquet(s"$base/labels/v2")),
      (0 to 2).map(b => spark.read.parquet(s"$base/log/b$b").collect()
        .flatMap(r => (0 until r.length).map(r.getLong)).toSeq),
      spark.read.parquet(s"$base/labels/delta/b1").count(),
      spark.read.parquet(s"$base/labels/delta/b2").count())
    val before = snapshot()
    val batchDocs = handDocs.filter(pmod(col("doc_id"), lit(10L)) === 7)
      .select("doc_id")
    // retry wave 1 — the CHECKPOINT-writing wave (double-fold guard: its
    // retry must rebuild v2 from served(0), not fold on top of v2)
    streaming.Streaming.ccProcessWave(spark, base, edges,
      batchDocs.filter(pmod(col("doc_id"), lit(3L)) === 1), 1L)
    assert(snapshot() === before, "retrying wave 1 mutated the store")
    // retry wave 2 — the checkpoint-READING wave
    streaming.Streaming.ccProcessWave(spark, base, edges,
      batchDocs.filter(pmod(col("doc_id"), lit(3L)) === 2), 2L)
    assert(snapshot() === before, "retrying wave 2 mutated the store")
  }

  test("cc wave jobs carry their phase as job description; the caller's is restored") {
    streaming.Streaming.streamCcMaintain(spark, handDocs).collect()
    val base = ccBase
    val edges = spark.read.parquet(s"$base/edges")
    val descs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .foreach(descs.add)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setJobDescription("caller")
    try {
      // wave 1 writes a checkpoint, so it runs every phase; a re-run is
      // idempotent (the retry test above)
      streaming.Streaming.ccProcessWave(spark, base, edges,
        handDocs.filter(col("doc_id") === 7L).select("doc_id"), 1L)
      assert(sc.getLocalProperty("spark.job.description") === "caller")
      val want = Seq("ce0 pin", "delta write", "receipt write", "checkpoint fold write")
        .map(p => s"wave 1: $p")
      // job-start events are posted async
      val deadline = System.nanoTime() + 5L * 1000 * 1000 * 1000
      while (!want.forall(descs.contains) && System.nanoTime() < deadline)
        Thread.sleep(200)
      assert(want.forall(descs.contains), s"job descriptions: $descs")
    } finally {
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
    }
  }

  test("corpus_ingest_index_v1: appended edges and labels equal a full rebuild over the union") {
    // VERDICT r18 #3 done-criterion: the incremental refresh (delta-probe
    // pair kernel + contract-and-subCC label merge) must reproduce the
    // full kernel re-run over the union corpus BIT-FOR-BIT, under the
    // zero-crosser guard the op itself certifies.
    val (edgesV1, labelsV1, nCross, newPairs) =
      operators.Profiling.ingestV1Refresh(spark, sfDir)
    assert(nCross === 0L, "fixture commit must not cross the df cap")
    assert(newPairs.count() > 0L, "the re-delivery must create near-dup pairs")
    val uniDir = TestSpark.tempDir("graft_r19_uni_")
    spark.read.parquet(s"$sfDir/documents.parquet")
      .unionByName(operators.Profiling.ingestDeltaDocs(spark, sfDir))
      .write.mode("overwrite").parquet(s"$uniDir/documents.parquet")
    val rebuiltE = llm.TextOps.jaccardEdges(
        Tables.load(spark, uniDir, "documents"), pin = false)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val gotE = edgesV1.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(gotE === rebuiltE, "appended edge store diverged from the union rebuild")
    val rebuiltL = llm.DedupOps.componentLabels(spark, uniDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val gotL = labelsV1.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotL === rebuiltL, "merged labels diverged from the union rebuild")
  }

  test("ccNewestBase picks the newest usable snapshot on a hand-built layout") {
    val base = TestSpark.tempDir("graft_r19_ccnb_")
    for (d <- Seq("v0", "v2", "v4", "delta"))
      new java.io.File(s"$base/labels/$d").mkdirs()
    val exp = Map(-1L -> 0L, 0L -> 0L, 1L -> 2L, 2L -> 2L,
      3L -> 4L, 4L -> 4L, 5L -> 4L, 99L -> 4L)
    for ((through, want) <- exp)
      assert(streaming.Streaming.ccNewestBase(base, through) === want,
        s"through=$through")
  }
}
