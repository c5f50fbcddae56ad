package graft

import org.apache.spark.sql.functions._

/** Round-16 batch B: iterative BPE merge training and the compaction
  * planner, each on a planted corpus small enough to verify by hand
  * (incremental CC-label maintenance lives in LabelMergeSpec).
  */
class Round16bSpec extends GraftSuite {
  import spark.implicits._

  /** The classic "banana banana bandana" BPE walkthrough, word counts
    * scaled ×300 (banana ×600, bandana ×300) so the hand corpus clears
    * the r18 registry-path word floor (BpeWordFloor = 300) — pair counts
    * are LINEAR in word frequency, so every merge, tiebreak, and count
    * ratio is the original walkthrough ×300.
    * r1: (a,n) ×1800; r2: tie at 900 between (an,a) and (b,an) ->
    * lexicographic lhs "an" < "b" picks (an,a); r3: (b,an) ×900;
    * r4: (ban,ana) ×600 fuses the full word; r5: tie at 300 -> (ban,d);
    * r6: (band,ana). */
  private lazy val bpeDir: String = {
    val dir = TestSpark.tempDir("graft_r16_bpe_")
    val text = (Seq.fill(600)("banana") ++ Seq.fill(300)("bandana")).mkString(" ")
    Seq((0L, text, "xx"))
      .toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("text_bpe_merge_train replays the hand-computed banana merge sequence") {
    val rows = SparkEntry.queries("text_bpe_merge_train")(spark, bpeDir)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))
    assert(rows.toSeq === Seq(
      (1, "a", "n", "an", 1800L),
      (2, "an", "a", "ana", 900L),   // tie with (b,an): "an" < "b"
      (3, "b", "an", "ban", 900L),
      (4, "ban", "ana", "banana", 600L),
      (5, "ban", "d", "band", 300L), // tie with (d,ana): "ban" < "d"
      (6, "band", "ana", "bandana", 300L)))
  }

  test("text_bpe_apply encodes with the trained merges: both words fully fuse") {
    // after all 6 merges (round 5 (ban,d), round 6 (band,ana)) BOTH words
    // are single symbols — 900 occurrences → 900 tokens
    val r = SparkEntry.queries("text_bpe_apply")(spark, bpeDir).collect()
    assert(r.length === 1)
    val row = r.head
    assert(row.getString(0) === "xx")
    assert(row.getAs[Long]("n_words") === 900L)     // banana ×600 + bandana ×300
    assert(row.getAs[Long]("n_chars") === 5700L)    // 600*6 + 300*7
    assert(row.getAs[Long]("n_tokens") === 900L)    // all single symbols
    assert(row.getAs[Long]("tokens_per_kword") === 1000L)   // 900000 div 900
    assert(row.getAs[Long]("chars_per_token_ppm") === 6333333L) // 57e8 div 900
  }

  /** Merges exhaust after round 2 (ab ×600 + cd ×300 — above the r18
    * floor: round 1 (a,b)×600, round 2 (c,d)×300, round 3 has no pairs)
    * — the engine freezes the vocab and stops; train emits 2 rows, apply
    * still sees the full vocab (the oracle's LEFT JOIN ON TRUE twin is
    * validated against DuckDB on this exact corpus in the round notes). */
  private lazy val bpeExhaustDir: String = {
    val dir = TestSpark.tempDir("graft_r16_bpex_")
    val text = (Seq.fill(600)("ab") ++ Seq.fill(300)("cd")).mkString(" ")
    Seq((0L, text, "xx")).toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("text_bpe_merge_train stops cleanly when merges exhaust before round 6") {
    val rows = SparkEntry.queries("text_bpe_merge_train")(spark, bpeExhaustDir)
      .collect().map(r => (r.getInt(0), r.getString(3), r.getLong(4)))
    assert(rows.toSeq === Seq((1, "ab", 600L), (2, "cd", 300L)))
  }

  test("text_bpe_apply keeps the frozen vocab after exhaustion") {
    val row = SparkEntry.queries("text_bpe_apply")(spark, bpeExhaustDir)
      .collect().head
    assert(row.getAs[Long]("n_words") === 900L)
    assert(row.getAs[Long]("n_tokens") === 900L) // both words fully fused
    assert(row.getAs[Long]("tokens_per_kword") === 1000L)
  }

  test("portableSignature plans through the fused kernel, not the HOF chain") {
    val docs = llm.DedupOps.plantedDocs(
      spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "text"))
    val plan = llm.DedupOps.portableSignature(docs)
      .queryExecution.analyzed.toString
    assert(plan.contains("graft_shingle_rolling31"),
      "fused kernel missing from the portableSignature plan")
    assert(!plan.contains("array_join"),
      "declarative shingle chain leaked back into the portable path")
  }

  test("maintenance_compaction_plan bins are contiguous, complete and bounded") {
    val target = 65536L; val smallThresh = 16384L
    val plan = SparkEntry.queries("maintenance_compaction_plan")(spark, sfDir)
      .collect()
    assert(plan.nonEmpty)
    // bins partition exactly the small files of the deterministic ledger
    val nSmall = spark.read.parquet(s"$sfDir/orders.parquet")
      .groupBy(col("o_orderstatus"),
        call_function("div",
          datediff(col("o_orderdate").cast("date"),
            lit("1995-01-01").cast("date")).cast("long"), lit(7L)))
      .agg((count(lit(1)) * lit(64L)).as("bytes"))
      .filter(col("bytes") < smallThresh).count()
    assert(plan.map(_.getAs[Long]("n_files")).sum === nSmall)
    // a bin overflows by at most one (small) file
    plan.foreach { r =>
      assert(r.getAs[Long]("bin_bytes") < target + smallThresh,
        s"bin over budget: $r")
      assert(r.getAs[Long]("n_files") >= 1)
    }
    // bin ids dense from 0 within each part
    plan.groupBy(_.getAs[String]("part")).foreach { case (_, rs) =>
      val ids = rs.map(_.getAs[Long]("bin_id")).sorted.toSeq
      assert(ids === (0L until ids.length.toLong),
        s"bin ids not dense: ${ids.mkString(",")}")
    }
  }
}
