package graft

import org.apache.spark.sql.functions._

/** Round-17 batch A: the driver-side full-vocab BPE trainer
  * (VERDICT r16 #2).
  *
  *  - hand corpora pin the trainer's pair counting (overlaps included),
  *    lexicographic tie-break, leftmost-non-overlapping rewrite, and
  *    exhaustion under the merge budget — against literal hand-computed
  *    merge tables;
  *  - a naive full-recount trainer checks the merge table on seeded
  *    random corpora, floored and unfloored;
  *  - text_bpe_merge_train ships the first 6 rows of text_bpe_train_full
  *    on the fixture;
  *  - registry invariants: consecutive rounds from 1, budget respected,
  *    per-round max pair count non-increasing (a BPE invariant: every
  *    new pair's count is bounded by the count of the merge that created
  *    its symbol), and fixture exhaustion leaves every trained word a
  *    single symbol.
  */
class Round17Spec extends GraftSuite {
  import spark.implicits._

  test("bpeTrainFull: overlap counting, merge cascade, exhaustion on a hand corpus") {
    // words: aaa (freq 2), ab (freq 1). Round 1: (a,a) counts BOTH
    // adjacent positions of aaa -> 2*2=4, beats (a,b)=1; rewrite is
    // leftmost non-overlapping: (a)(a)(a) -> (aa)(a), NOT (aa)(aa).
    val docs = Seq((0L, "aaa ab"), (1L, "aaa")).toDF("doc_id", "text")
    val (merges, vocab) = llm.TextOps.bpeTrainFullDocs(docs)
    assert(merges === Seq((1, "a", "a", 4L), (2, "aa", "a", 2L),
      (3, "a", "b", 1L)))
    assert(vocab.toMap === Map("aaa" -> 1, "ab" -> 1))
  }

  test("bpeTrainFull: count ties break lexicographically on (lhs, rhs)") {
    val docs = Seq((0L, "xy yx")).toDF("doc_id", "text")
    val (merges, _) = llm.TextOps.bpeTrainFullDocs(docs)
    assert(merges === Seq((1, "x", "y", 1L), (2, "y", "x", 1L)))
  }

  test("bpeTrainFull: word filter excludes short and non-[a-z0-9] tokens") {
    val docs = Seq((0L, "a A1 b2c b2c ..")).toDF("doc_id", "text")
    val (merges, vocab) = llm.TextOps.bpeTrainFullDocs(docs)
    // only "b2c" survives the len>=2 + charset filter; (b,2) and (2,c)
    // tie at 2 and '2' < 'b' in binary order, so (2,c) merges first
    assert(vocab.map(_._1).toSet === Set("b2c"))
    assert(merges === Seq((1, "2", "c", 2L), (2, "b", "2c", 2L)))
  }

  test("text_bpe_train_full: first 6 merges equal the distributed twin; invariants") {
    val full = q("text_bpe_train_full").collect().map(r =>
      (r.getInt(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
    val first6 = q("text_bpe_merge_train").collect().map(r =>
      (r.getInt(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
    assert(full.take(6).toSeq === first6.toSeq,
      "text_bpe_merge_train is not the first 6 merges of text_bpe_train_full")
    // consecutive rounds from 1, inside the budget
    assert(full.map(_._1).toSeq === (1 to full.length))
    assert(full.length <= llm.TextOps.BpeMergeBudget)
    // merged = lhs || rhs on every row
    assert(full.forall(m => m._4 == m._2 + m._3))
    // per-round chosen count is non-increasing (BPE invariant)
    assert(full.map(_._5).sliding(2).forall(w => w.length < 2 || w(0) >= w(1)),
      "chosen pair counts must be non-increasing across merge rounds")
    // exhausted before the budget => every trained word is ONE symbol
    val (_, vocab) = llm.TextOps.bpeTrainFull(spark, sfDir)
    if (full.length < llm.TextOps.BpeMergeBudget)
      assert(vocab.forall(_._2 == 1),
        "exhaustion implies a fully merged vocab")
  }

  /** Naive reference BPE: full pair recount every round over plain symbol
    * lists — no incremental maintenance, no guard strings. The slowest,
    * most obviously-correct form; the engine's trainer must match it. */
  private def naiveBpe(words: Seq[(String, Long)],
      budget: Int): Seq[(Int, String, String, Long)] = {
    var syms = words.map { case (w, n) => (w.map(_.toString).toVector, n) }
    val out = Seq.newBuilder[(Int, String, String, Long)]
    var r = 1
    var done = false
    while (r <= budget && !done) {
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      syms.foreach { case (a, n) =>
        a.indices.dropRight(1).foreach { i =>
          counts((a(i), a(i + 1))) = counts.getOrElse((a(i), a(i + 1)), 0L) + n }
      }
      if (counts.isEmpty) done = true
      else {
        val ((la, lb), c) = counts.toSeq
          .sortBy { case ((x, y), n) => (-n, x, y) }.head
        out += ((r, la, lb, c))
        syms = syms.map { case (a, n) =>
          val b = Vector.newBuilder[String]
          var i = 0
          while (i < a.length) {
            if (i < a.length - 1 && a(i) == la && a(i + 1) == lb) {
              b += la + lb; i += 2
            } else { b += a(i); i += 1 }
          }
          (b.result(), n)
        }
        r += 1
      }
    }
    out.result()
  }

  test("BPE property: driver trainer == naive recount on seeded random corpora") {
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(seed)
      // random small vocab of random [a-z0-9] words, skewed frequencies —
      // plenty of count ties to exercise the lexicographic tie-break
      val alphabet = "abcz019"
      val vocab = Seq.fill(8 + rnd.nextInt(8)) {
        (2 + rnd.nextInt(5), Seq.fill(2 + rnd.nextInt(5))(
          alphabet(rnd.nextInt(alphabet.length))).mkString)
      }.map(_._2).distinct
      val docs = (0 until 20).map { i =>
        (i.toLong, Seq.fill(3 + rnd.nextInt(10))(
          vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      val docsDf = docs.toDF("doc_id", "text")
      val wordFreq = docs.flatMap(_._2.split(" ")).filter(_.length >= 2)
        .groupBy(identity).map { case (w, xs) => (w, xs.size.toLong) }.toSeq
      val expected = naiveBpe(wordFreq, llm.TextOps.BpeMergeBudget)
      val (driver, _) = llm.TextOps.bpeTrainFullDocs(docsDf)
      assert(driver === expected,
        s"seed $seed: incremental driver trainer diverged from naive recount")
      // floor path: the trainer under an ACTIVE min-count cutoff must
      // equal the naive recount on the floored dict
      val floored = wordFreq.filter(_._2 >= 3L)
      if (floored.size < wordFreq.size && floored.nonEmpty) {
        val expF = naiveBpe(floored, llm.TextOps.BpeMergeBudget)
        val (drvF, _) = llm.TextOps.bpeTrainFullDocs(docsDf, 3L)
        assert(drvF === expF, s"seed $seed: floored driver trainer diverged")
      }
    }
  }

  test("retrieval consumers are SERVED from the landed index (plan lock)") {
    // every IVF consumer's executed plan must read the ivf_cells artifact
    // parquet (a FileScan over the CorpusArtifacts dir), not re-derive
    // cells inline — the r17 landed-index contract
    for (op <- Seq("knn_ivf_topk", "vec_ivf_cell_stats",
        "vec_ivf_probe_cost", "vec_ivf_balance_gini")) {
      val plan = q(op).queryExecution.executedPlan.toString
      assert(plan.contains("graft_artifacts"),
        s"$op does not read the landed index artifact:\n$plan")
    }
    val pq = q("knn_ivfpq_topk").queryExecution.executedPlan.toString
    assert(pq.contains("ivfpq_index"),
      "knn_ivfpq_topk does not read the landed IVF-PQ index")
    val hy = q("docs_hybrid_retrieval").queryExecution.executedPlan.toString
    assert(hy.contains("hybrid_universe"),
      "docs_hybrid_retrieval does not read the landed serving universe")
  }

  test("maintenance_compaction_execute: executed layout equals the plan; round-trip lossless") {
    val (out, planBins, root) = operators.Profiling.compactionExecute(spark, sfDir)
    val plan = planBins.collect().map(r =>
      (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    val actual = spark.read.parquet(root)
      .groupBy(col("o_orderstatus").as("part"), col("bin_id").cast("long").as("bin_id"))
      .agg(count(lit(1)).as("rows"),
        countDistinct(col("_metadata.file_path")).as("n_out_files"))
      .collect().map(r =>
        (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    // the bins on disk are EXACTLY the planned bins
    assert(actual.keySet === plan.keySet,
      s"planned bins ${plan.keySet} != executed ${actual.keySet}")
    // each bin landed as ONE file carrying exactly its planned rows
    actual.foreach { case (bin, (rows, nFiles)) =>
      assert(nFiles === 1L, s"bin $bin splintered into $nFiles files")
      assert(rows === plan(bin)._2,
        s"bin $bin has $rows rows, plan said ${plan(bin)._2}")
    }
    assert(plan.size > 1, "fixture should plan more than one bin")
    // read-back identity vs the source table
    val src = Tables.load(spark, sfDir, "orders")
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("cnt"), Helpers.decSumOut(col("o_totalprice")).as("total"))
      .orderBy("o_orderstatus")
    assert(out.collect().toSeq === src.collect().toSeq)
  }

  test("multimodal_pair_dedup: planted classes land in their categories") {
    // sf0.01: all three planted id classes (%100 = 0 / 50 / 25) exist
    val dir = "/root/testdata/sf0.01"
    val rows = SparkEntry.queries("multimodal_pair_dedup")(spark, dir).collect()
    val m = rows.map(r => (r.getLong(0), r.getLong(1)) ->
      ((r.getInt(2), r.getInt(3), r.getString(4)))).toMap
    // category is a pure function of the two flags
    m.values.foreach { case (i, c, cat) =>
      assert(cat === ((i, c) match {
        case (1, 1) => "both"
        case (1, 0) => "image_only"
        case _      => "caption_only"
      }))
      assert(i == 1 || c == 1, "a pair with neither flag cannot exist")
    }
    val ids = Tables.load(spark, dir, "documents")
      .select("doc_id").collect().map(_.getLong(0))
    def found(cls: Long, shift: Long)(pred: ((Int, Int, String)) => Boolean) = {
      val planted = ids.filter(_ % 100 == cls)
      (planted.count(d => m.get((d, d + shift)).exists(pred)), planted.length)
    }
    // '.'-append clones: tiny image edit + near-identical shingles -> both
    val (b, bn) = found(0L, 10000000L)(_._3 == "both")
    assert(bn > 0 && b * 2 > bn, s"both-class recall $b/$bn")
    // word-order-reversed clones: identical codepoint histogram -> image
    // dup by construction (Hamming 0); shingles all new -> caption clean
    val (io, ion) = found(50L, 20000000L)(e => e._1 == 1 && e._2 == 0)
    assert(ion > 0 && io * 2 > ion, s"image_only recall $io/$ion")
    // tail-word-append clones: 11 parity flips > 6 -> image clean; most
    // minhash bands survive a 3-shingle tail edit -> caption dup
    val (co, con) = found(25L, 30000000L)(e => e._1 == 0 && e._2 == 1)
    assert(con > 0 && co * 2 > con, s"caption_only recall $co/$con")
  }

  test("scan_stats_sidecar_append: commit-time sidecar update, prune correct against it") {
    import operators.Scans
    val base = Scans.statsSidecarAppendTable(spark, sfDir)
    val v0 = Scans.readLog(spark, f"$base/_log/v00000.stats")
    val v1 = Scans.readLog(spark, f"$base/_log/v00001.stats")
    // the commit APPENDED: v0's lines survive byte-identical as a prefix
    assert(v1.take(v0.size) === v0,
      "append commit must not rewrite the existing sidecar entries")
    assert(v1.size === v0.size + 4, s"expected 4 new stats lines, v0=${v0.size} v1=${v1.size}")
    assert(v1.size === Scans.readManifest(spark, base, 1).size,
      "one stats line per manifest file")
    // prune against the UPDATED sidecar: strict subset, both commits hit
    val ranges = Seq((1000L, 5000L), (10000100L, 10001200L))
    val stats = Scans.readStats(spark, base, 1)
    val live = stats.filter(f =>
      ranges.exists { case (lo, hi) => f.max >= lo && f.min <= hi })
    assert(live.size < stats.size, "prune must exclude at least one file")
    assert(live.exists(_.path.contains("/data/c0/")) &&
      live.exists(_.path.contains("/data/c1/")),
      s"prune must keep files from BOTH commits: ${live.map(_.path)}")
    // soundness: every excluded file provably cannot match either range
    stats.filterNot(f => live.exists(_.path == f.path)).foreach { f =>
      assert(ranges.forall { case (lo, hi) => f.max < lo || f.min > hi }) }
    // the pruned read equals the unpruned filtered read of the v1 table
    val pred = col("o_orderkey").between(1000L, 5000L) ||
      col("o_orderkey").between(10000100L, 10001200L)
    val pruned = spark.read.parquet(live.map(_.path): _*).filter(pred)
      .agg(count(lit(1)), sum("o_orderkey")).collect().toSeq
    val full = spark.read.parquet(Scans.readManifest(spark, base, 1): _*)
      .filter(pred).agg(count(lit(1)), sum("o_orderkey")).collect().toSeq
    assert(pruned === full)
  }

  test("text_bpe_apply: fertility sheet equals a recomputation from the trained vocab") {
    val (_, vocab) = llm.TextOps.bpeTrainFull(spark, sfDir)
    val nsym = vocab.toMap
    // independent apply: plain Scala fold over the corpus words. Words
    // below the r18 training floor are OOV to the trained dict and encode
    // at CHAR level (r19, ADVICE r18: n_sym = n_char fallback), so the
    // fertility sums cover the FULL word mass and the OOV share is an
    // explicit column.
    val perLang = Tables.load(spark, sfDir, "documents")
      .select(col("lang"), col("text")).as[(String, String)].collect()
      .flatMap { case (lang, text) => text.split(" ").iterator
        .filter(w => w.length >= 2 &&
          w.forall(c => (c >= '0' && c <= '9') || (c >= 'a' && c <= 'z')))
        .map(w => (lang, w)) }
      .groupBy(_._1).map { case (lang, ws) =>
        val words = ws.map(_._2)
        val nWords = words.length.toLong
        val nChars = words.map(_.length.toLong).sum
        val nToks = words.map(w => nsym.getOrElse(w, w.length).toLong).sum
        val nOov = words.count(w => !nsym.contains(w)).toLong
        (lang, (nWords, nChars, nToks, nOov, nToks * 1000L / nWords,
          nChars * 1000000L / nToks, nOov * 1000000L / nWords))
      }
    val got = q("text_bpe_apply").collect().map(r =>
      r.getString(0) -> ((r.getAs[Long]("n_words"), r.getAs[Long]("n_chars"),
        r.getAs[Long]("n_tokens"), r.getAs[Long]("n_oov_words"),
        r.getAs[Long]("tokens_per_kword"), r.getAs[Long]("chars_per_token_ppm"),
        r.getAs[Long]("oov_word_ppm")))).toMap
    assert(got === perLang)
  }
}
