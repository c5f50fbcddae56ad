package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental component-label maintenance: the
  * [[llm.DedupOps.mergeComponents]] kernel on a hand graph, and its three
  * callers, each against a full CC rebuild over the union —
  * dedup_components_incremental (a nightly batch into landed base labels),
  * stream_cc_maintain (per-wave merges into a merge-on-read label store:
  * checkpoint re-rooting, serve-path reads, retry idempotence, phase job
  * descriptions) and corpus_ingest_index_v1 (an append commit).
  */
class LabelMergeSpec extends GraftSuite {
  import spark.implicits._

  private def labMap(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("mergeComponents: in-component edges drop, batch docs merge through labels, labels relabel") {
    // landed components {10,11,12} → 10, {20,21} → 20, {30,31} → 30;
    // new docs 5, 25, 28
    val labels = Seq(10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L,
      21L -> 20L, 30L -> 30L, 31L -> 30L).toDF("doc_id", "label")
    val nodes = Seq(5L, 25L, 28L).toDF("node")
    val edges = Seq(
      30L -> 31L, // inside one landed component: contracts to a self-loop
      21L -> 25L, // 25 reaches label 20 through base doc 21 ...
      20L -> 28L, // ... and 28 through 20 itself: one component via label 20
      5L -> 12L   // 5 undercuts label 10, which relabels to 5
    ).toDF("a", "b")
    val sub = llm.DedupOps.mergeComponents(labels, edges, nodes)
    assert(labMap(sub) === Map(5L -> 5L, 10L -> 5L,
      20L -> 20L, 25L -> 20L, 28L -> 20L),
      "sub-labels cover the new docs and the touched labels only")
    val merged = labMap(llm.DedupOps.mergedLabels(labels, nodes, sub))
    assert(merged === Map(5L -> 5L, 10L -> 5L, 11L -> 5L, 12L -> 5L,
      20L -> 20L, 21L -> 20L, 25L -> 20L, 28L -> 20L, 30L -> 30L, 31L -> 30L))
    val baseEdges = Seq(10L -> 11L, 11L -> 12L, 20L -> 21L, 30L -> 31L).toDF("a", "b")
    val (full, _) = llm.DedupOps.connectedComponents(
      merged.keys.toSeq.toDF("node"), baseEdges.union(edges))
    assert(merged === labMap(full), "merge diverged from a full rebuild")
  }

  /** 20 docs, all ≥5 tokens pairwise distinct, except: docs 4 and 5 share
    * their full text (a natural BASE-BASE pair → base component {4,5});
    * doc 17 (batch, unplanted) carries doc 6's text too, and doc 7 (batch,
    * planted — % 50 = 7) picks up doc 6's text via plantedDocs → the
    * merged component {6, 7, 17} exercises base-batch AND batch-batch
    * merging THROUGH the contracted label. */
  private lazy val ccDir: String = {
    val dir = TestSpark.tempDir("graft_r16_cc_")
    (0L until 20L).map { i =>
      val t =
        if (i == 5) "alpha4 beta4 gamma4 delta4 epsilon4 zeta4 eta4"
        else if (i == 17) "alpha6 beta6 gamma6 delta6 epsilon6 zeta6 eta6"
        else s"alpha$i beta$i gamma$i delta$i epsilon$i zeta$i eta$i"
      (i, t)
    }.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("dedup_components_incremental merges batch docs into landed base labels") {
    val out = SparkEntry.queries("dedup_components_incremental")(spark, ccDir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out.size === 20)
    assert(out(4) === ((4L, false)) && out(5) === ((4L, false)),
      "natural base-base pair must keep its base label")
    assert(out(6) === ((6L, false)), "base anchor of the merged component")
    assert(out(7) === ((6L, true)), "planted batch doc joins doc 6's component")
    assert(out(17) === ((6L, true)),
      "batch-batch merge must route through the contracted base label")
    // everything else is a singleton labeled by itself
    (0L until 20L).filterNot(Set(4L, 5L, 6L, 7L, 17L)).foreach(i =>
      assert(out(i)._1 === i, s"doc $i must stay a singleton"))
  }

  test("dedup_components_incremental equals a full CC rebuild over the planted union") {
    val docs = llm.DedupOps.plantedDocs(
      spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "text"))
    val edges = TestSpark.jaccardEdges(docs)
      .select(col("id1").as("a"), col("id2").as("b"))
    val nodes = docs.select(col("doc_id").as("node"))
    val (full, _) = llm.DedupOps.connectedComponents(nodes, edges)
    val expected = full.select(col("node").as("doc_id"),
      col("label").as("component_id"))
    val got = SparkEntry.queries("dedup_components_incremental")(spark, sfDir)
      .select("doc_id", "component_id")
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty,
      "incremental labels diverged from the full rebuild")
  }


  /** The stream hand corpus: base comps {10,11}→10, {20}→20; waves
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

  private def ccBase = streaming.Streaming.ccStoreDir(spark)

  test("stream_cc_maintain: hand corpus replays known per-wave merges and relabels") {
    // base comps: {10,11} label 10, {20} label 20.
    // wave 0 (27, 57, 87): 27 joins 20's comp (min stays 20 — no relabel);
    //   57/87 merge batch-internally to 57.
    // wave 1 (7): 7 < 10 merges into {10,11} — the BASE ROWS RELABEL to 7.
    // wave 2 (17): 17 < 57 merges into {57,87} — both relabel to 17.
    val got = streaming.Streaming.streamCcMaintain(spark, handDocs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    // n_delta_rows: wave rows + relabel pairs — waves 1/2 each land
    // 1 new doc + 1 relabel pair (10→7, 57→17); wave 0 merges nothing
    assert(got.toSeq === Seq(
      (0L, 3L, 2L, 0L, 3L, 3L),
      (1L, 1L, 2L, 2L, 3L, 2L),
      (2L, 1L, 2L, 2L, 3L, 2L)))
    // the SERVED labels (base + delta chain, merge-on-read) are the
    // full-graph ground truth
    val base = ccBase
    assert(labMap(streaming.Streaming.ccServedLabels(spark, base, 2L)) === handLabels)
    // write-path contract: the store is never rewritten PER WAVE — only v0, the per-wave deltas, and the
    // K-amortized checkpoint exist. With K = 2 over 3 waves exactly ONE
    // checkpoint lands: v2 (after wave 1); v1/v3 must not exist.
    assert(new java.io.File(s"$base/labels/v2").exists(),
      "K=2 checkpoint labels/v2 missing — delta chain never re-roots")
    for (v <- Seq(1, 3))
      assert(!new java.io.File(s"$base/labels/v$v").exists(),
        s"labels/v$v exists — per-wave store rewrite regressed")
  }

  test("stream_cc_maintain property: incremental == full rebuild on seeded random corpora") {
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(100 + seed)
      // pool-based texts => natural near-dup clusters spanning base and
      // all three waves; one-word mutations keep jaccard > 0.1 edges
      val pool = Vector(
        "aa bb cc dd ee ff", "gg hh ii jj kk ll", "mm nn oo pp qq rr",
        "ss tt uu vv ww xx", "yy zz a1 b2 c3 d4", "e5 f6 g7 h8 i9 j0")
      val docs = (0L until 60L).map { id =>
        val t = pool(rnd.nextInt(pool.size))
        (id, if (rnd.nextBoolean()) t else t + " mut" + rnd.nextInt(3))
      }.toDF("doc_id", "text")
      streaming.Streaming.streamCcMaintain(spark, docs).collect()
      val base = ccBase
      val incremental = labMap(streaming.Streaming.ccServedLabels(spark, base, 2L))
      val (full, _) = llm.DedupOps.connectedComponents(
        docs.select(col("doc_id").as("node")),
        spark.read.parquet(s"$base/edges"))
      assert(incremental === labMap(full), s"seed $seed: incremental diverged")
      // the random pools guarantee real cross-wave merge work happened
      assert(incremental.values.toSet.size < 60, s"seed $seed: no merges at all")
    }
  }

  test("stream_cc_maintain: fixture final store equals a full CC rebuild") {
    q("stream_cc_maintain").collect() // runs the waves, lands the deltas
    val base = ccBase
    val incremental = labMap(streaming.Streaming.ccServedLabels(spark, base, 2L))
    val docs = llm.DedupOps.plantedStreamDocs(
      Tables.load(spark, sfDir, "documents").select("doc_id", "text"))
    val (full, _) = llm.DedupOps.connectedComponents(
      docs.select(col("doc_id").as("node")),
      spark.read.parquet(s"$base/edges"))
    assert(incremental === labMap(full),
      "incremental per-wave label maintenance diverged from the full rebuild")
    assert(incremental.nonEmpty)
  }

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
      val want = Seq("contract + sub-CC", "delta write", "receipt write",
          "checkpoint fold write")
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
    // the incremental refresh (delta-probe pair kernel + mergeComponents)
    // must reproduce the full kernel re-run over the union corpus
    // BIT-FOR-BIT, under the zero-crosser guard the op itself certifies.
    val (edgesV1, labelsV1, nCross, newPairs) =
      operators.Profiling.ingestV1Refresh(spark, sfDir)
    assert(nCross === 0L, "fixture commit must not cross the df cap")
    assert(newPairs.count() > 0L, "the re-delivery must create near-dup pairs")
    val uniDir = TestSpark.tempDir("graft_ingest_uni_")
    spark.read.parquet(s"$sfDir/documents.parquet")
      .unionByName(operators.Profiling.ingestDeltaDocs(spark, sfDir))
      .write.mode("overwrite").parquet(s"$uniDir/documents.parquet")
    val rebuiltE = TestSpark.jaccardEdges(Tables.load(spark, uniDir, "documents"))
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
    val base = TestSpark.tempDir("graft_ccnb_")
    for (d <- Seq("v0", "v2", "v4", "delta"))
      new java.io.File(s"$base/labels/$d").mkdirs()
    val exp = Map(-1L -> 0L, 0L -> 0L, 1L -> 2L, 2L -> 2L,
      3L -> 4L, 4L -> 4L, 5L -> 4L, 99L -> 4L)
    for ((through, want) <- exp)
      assert(streaming.Streaming.ccNewestBase(base, through) === want,
        s"through=$through")
  }
}
