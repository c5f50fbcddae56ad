package graft.llm

import graft.{OpRegistry, Pin}
import graft.Helpers._
import graft.functions.GraftExpressions.termCounts
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** §2.11 LLM-data-pipeline text operators: exact dedup, exact n-gram
  * Jaccard, wordcount, tf-idf, language profiling, quality scoring, token
  * counting, bag-of-words fingerprinting.
  *
  * Scale design: every pair-generating op is candidate-restricted (shared
  * shingle) so the join is linear in the posting lists, not quadratic in
  * documents; tf-idf joins its vocab-sized document-frequency side back
  * without a hint, so AQE picks broadcast or shuffle by measured size.
  */
object TextOps extends OpRegistry {

  /** Shared stopword list for quality scoring/filtering and the capstone
    * pipeline — one copy so the composed pipeline cannot drift from the
    * unit ops it claims to compose (their oracle twins list the same words
    * literally). */
  private[graft] val StopWords = Seq("the", "of", "and", "a", "to", "in", "is", "data")

  /** Each doc's distinct terms with their counts, and its length:
    * (doc_id, dl, term, tf), one row per (doc, term) from one `Generate`
    * over the term-count kernel. */
  private[graft] def termPostings(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("dl"),
      inline(termCounts(split(col("text"), " "))))

  /** The BM25 (Okapi, k1 = 6/5, b = 3/4) kernel of `text_bm25_topk` and
    * `docs_hybrid_retrieval`: (qid, doc_id, score_micro, n_terms) for every
    * doc holding a term of query qid. Inputs: a (doc_id, text) corpus and
    * a small (qid, term) query frame, broadcast.
    *
    * The broadcast query terms prune the postings map-side, so only
    * query-term postings reach a shuffle; the full inverted index is never
    * materialized. df is the number of docs holding a term. A term may sit
    * in several queries, so its posting rows are df × #queries; the rows of
    * its smallest qid enumerate each doc once, so df counts those, in one
    * window over the pruned postings.
    *
    * Score math: the tf-normalization tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl))
    * multiplies out over the common denominator 10·L (L = corpus token
    * count, avgdl = L/N) to 22·tf·L / (10·L·tf + 3·L + 9·dl·N), and idf is
    * the positive Robertson form ln((2N+2)/(2df+1)). The product is taken
    * in DOUBLE from the first multiply: the int64 form tf·L·22 would wrap
    * (non-ANSI Spark) past L·tf ≈ 4.2e17 while DuckDB errors. The oracles
    * mirror the cast points and the left-associative order, so both engines
    * share any rounding above 2^53. Each term's score is floored to
    * micro-units and integer-summed per (query, doc): no double
    * accumulation, so no ordering sensitivity. */
  private[graft] def bm25Scores(docs: DataFrame, queryTerms: DataFrame): DataFrame = {
    val tot = docs.select(size(split(col("text"), " ")).cast("long").as("dl"))
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("len_total"))
    val wt = Window.partitionBy("term")
    val idf = log((col("n_docs") * 2L + 2L).cast("double") / (col("df") * 2L + 1L))
    val tfd = col("tf").cast("double")
    val ltd = col("len_total").cast("double")
    val tfn = tfd * ltd * lit(22.0d) /
      (tfd * ltd * lit(10.0d) + ltd * lit(3.0d) +
        col("dl").cast("double") * col("n_docs").cast("double") * lit(9.0d))
    termPostings(docs).join(broadcast(queryTerms), Seq("term"))
      .withColumn("minq", min(col("qid")).over(wt))
      .withColumn("df", count(when(col("qid") === col("minq"), lit(1))).over(wt))
      .crossJoin(broadcast(tot))
      .select(col("qid"), col("doc_id"),
        floor(idf * tfn * lit(1e6)).cast("long").as("s_micro"))
      .groupBy("qid", "doc_id")
      .agg(sum(col("s_micro")).as("score_micro"),
        count(lit(1)).cast("int").as("n_terms"))
  }

  /** `text_bm25_topk` over any (doc_id, text) frame: [[bm25Scores]] for a
    * panel of five 2-term queries drawn from the global occurrence ranking,
    * top-10 docs per query, tiebreak doc_id asc.
    *
    * The panel is collected while the frame is built (10 rows, bounded
    * model state), so construction runs a Spark job; production receives
    * the panel as input. */
  private[graft] def bm25TopK(s: SparkSession, docs: DataFrame): DataFrame = {
    val topTerms = termPostings(docs).groupBy("term").agg(sum(col("tf")).as("cnt"))
      .orderBy(col("cnt").desc, col("term")).limit(10)
      .select("term").collect().map(_.getString(0))
    import s.implicits._
    val qterms = topTerms.toSeq.zipWithIndex
      .map { case (t, i) => (i / 2, t) }.toDF("qid", "term")
    val w = Window.partitionBy("qid").orderBy(col("score_micro").desc, col("doc_id"))
    bm25Scores(docs, qterms).withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 10)
      .select(col("qid"), col("rn").cast("int").as("rn"), col("doc_id"),
        col("score_micro"), col("n_terms"))
      .orderBy("qid", "rn")
  }

  /** Shared scrub/normalize kernel: digit runs → `<num>`, whitespace
    * collapsed — used by text_scrub and pipeline_clean_corpus. */
  private def scrubExpr(text: Column): Column =
    trim(regexp_replace(regexp_replace(text, "[0-9]+", "<num>"), "  +", " "))

  /** Skew guard for the shared-shingle candidate join: a shingle present in
    * B documents expands to B² candidate rows, so one corpus-common
    * "stop-shingle" is a quadratic hot key at 100 TB. Shingles above this
    * document frequency are excluded from the WHOLE computation — both the
    * intersection join and the per-doc set sizes, so inter/uni/jac are an
    * internally consistent Jaccard over the capped shingle universe (ADVICE
    * r2: capping only the intersection understated jac and was not a
    * Jaccard of anything). Mirrored exactly in the oracle SQL. Visible to
    * tests (private[graft]) so they can assert their corpora stay sub-cap,
    * where capped == exact Jaccard. */
  private[graft] val MaxShingleDf = 100

  /** The exact shingle-overlap kernel, part 1: the df-capped posting list
    * (doc_id, sh_h) of a (doc_id, text) frame — its distinct hashed 3-token
    * shingles, minus every shingle present in more than [[MaxShingleDf]]
    * docs.
    *
    * Keyed by xxhash64(shingle), not the string: the shuffle/join moves
    * 8-byte keys instead of ~25-byte text and equality is one word compare.
    * A 64-bit collision would merge two shingles (P ≈ pairs²/2^64 ≈ 1e-10
    * at sf0.1) — the same trade minhash makes. The cap runs as a
    * count-window over sh_h (measured: 2× faster than a separate hot-set
    * aggregate + anti-join, which re-tokenizes the corpus for a second full
    * pass).
    *
    * [[overlapPairs]] reads the list four times (both self-join sides and
    * both size lookups), and AQE's exchange reuse does not fire across
    * them, so its callers pin it ([[Pin.shared]]). */
  private[graft] def cappedPostings(docs: DataFrame): DataFrame = {
    val sh = docs.select(col("doc_id"), explode(
      Shingling.shingleArray(col("text"), hashed = true)(docs.sparkSession)).as("sh_h"))
    sh.withColumn("df", count(lit(1)).over(Window.partitionBy("sh_h")))
      .filter(col("df") <= MaxShingleDf).drop("df")
  }

  /** Part 2: (id1, id2, inter, n1, n2) for every pair id1 < id2 sharing a
    * posting of a (doc_id, sh_h) list — inter shared postings, n1 and n2
    * each doc's posting count. Sizes and intersection come from the SAME
    * list, so a score over them is a consistent set measure of the capped
    * universe. `probe`, a subset of `postings`, restricts the pairs to those
    * whose id2 posting is a probe row; the probe join costs
    * probe-occurrences × ≤cap posting length.
    *
    * No broadcast hint on the sizes: they are doc-count-sized, not a
    * bounded dim. AQE broadcasts them while small and switches to a shuffle
    * join past the threshold. */
  private[graft] def overlapPairs(postings: DataFrame,
      probe: Option[DataFrame] = None): DataFrame = {
    val sizes = postings.groupBy("doc_id").agg(count(lit(1)).as("n"))
    postings.as("a").join(probe.getOrElse(postings).as("b"),
        col("a.sh_h") === col("b.sh_h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id"), col("n").as("n1")), col("id1") === col("doc_id")).drop("doc_id")
      .join(sizes.select(col("doc_id"), col("n").as("n2")), col("id2") === col("doc_id")).drop("doc_id")
  }

  /** Jaccard edges of [[overlapPairs]]: (id1, id2, inter, uni) with
    * inter / uni > 0.1. */
  private[graft] def jaccardFilter(pairs: DataFrame): DataFrame =
    pairs.withColumn("uni", col("n1") + col("n2") - col("inter"))
      .filter(col("inter").cast("double") / col("uni") > 0.1)
      .select(col("id1"), col("id2"), col("inter"), col("uni"))

  /** Containment edges of [[overlapPairs]]: |A∩B| / min(|A|,|B|) > 0.5 as
    * the exact rational compare 2·inter > least(n1, n2) — the ASYMMETRIC
    * near-dup test that catches a small document embedded in a large one
    * (quote farms, boilerplate wrappers), which Jaccard structurally
    * misses: a doc fully contained in one 10× its size has jac ≤ 0.1 but
    * containment 1.0. */
  private[graft] def containmentFilter(pairs: DataFrame): DataFrame =
    pairs.filter(col("inter") * 2 > least(col("n1"), col("n2")))

  /** Clears ALL landed artifacts (candidate edges + the graph family's
    * co-trade edges) — the per-pass honest-measurement hook Bench and
    * ScaleProbe call; see [[graft.CorpusArtifacts]]. */
  private[graft] def clearCandidateArtifacts(): Unit =
    graft.CorpusArtifacts.clear()

  /** Landed candidate-pair artifact (VERDICT r10 #2): the df-capped
    * exact-Jaccard edge list `(id1, id2, inter, uni)` written ONCE per
    * (session, corpus dir) as parquet and re-read by every consumer —
    * `jaccard_pairs`, `text_fuzzy_pairs`, `dedup_components`, and
    * `docs_split_leakage` previously each re-ran the whole shingle →
    * df-cap → self-join candidate pass (the single most expensive text
    * kernel; 10.9× growth at the 100× probe for split_leakage alone). A
    * real pipeline lands this table once per corpus snapshot and fans it
    * out to the dedup graph, the leakage QA gate, and the fuzzy verifier;
    * at 100 TB it would be bucketed by id1 so those consumers join
    * shuffle-free. The first consumer in a session pays the build (timed
    * honestly — Bench/ScaleProbe clear the memo each pass via
    * [[clearCandidateArtifacts]]); the rest pay a parquet read of a
    * pair-count-sized table. DuckDB re-derives the same edges
    * independently, so the artifact never self-certifies. */
  private[graft] def candidatePairs(s: SparkSession, dir: String): DataFrame =
    graft.CorpusArtifacts.parquet(s, "edges", dir)(
      jaccardFilter(overlapPairs(Pin.shared(cappedPostings(tWide(s, dir)("documents"))))))

  /** The landed bpe_vocab artifact — the full trainer's merge-table
    * product, (w, n_sym, n_char) per trained word (r17 review; factored
    * r18 so corpus_ingest_index can land it): a production apply
    * consumes a stored merge-table product, it never re-trains. */
  private[graft] def bpeVocabArtifact(s: SparkSession, dir: String): DataFrame =
    graft.CorpusArtifacts.parquet(s, "bpe_vocab", dir) {
      import s.implicits._
      val (_, vocabSyms) = bpeTrainFull(s, dir)
      vocabSyms.toDF("w", "n_sym0")
        .select(col("w"), col("n_sym0").cast("long").as("n_sym"),
          length(col("w")).cast("long").as("n_char"))
    }

  /** Production merge budget for the driver-side trainer — the "≥256"
    * scale a Spark job per merge round could not reach (per-merge jobs +
    * unbounded lineage). The fixture's 30-word vocab exhausts at merge 89,
    * so the budget is a CAP the trainer runs under, not a row-count
    * promise. */
  private[graft] val BpeMergeBudget = 256

  /** Word-frequency floor on the training collapse (r18, VERDICT r17 #2):
    * the word dict is vocab-bounded MODEL state, but an open-vocabulary
    * web corpus has ~1e8+ distinct words — a min-count floor (HF
    * `min_frequency` / SentencePiece hygiene) bounds the driver collect
    * before it happens, dropping the hapax tail that contributes nothing
    * to merge counts anyway. 300 is ACTIVE on the fixture at every SF
    * (the planted rare word `dup` sits at 26-255 occurrences across
    * sf0.001-0.1 while every other word clears 840+), so the oracle
    * replays the floor, not just the constant. Recorded in
    * text_bpe_train_full's output (`word_floor`). */
  private[graft] val BpeWordFloor = 300L

  /** Driver-side full-vocab BPE trainer (r17, VERDICT r16 #2): collapse
    * the corpus ONCE to the word-frequency dict — the only corpus-sized
    * pass; classic BPE trains on the word dict, which is vocab-bounded
    * MODEL state by construction (the vec_kmeans_iter collect rationale,
    * and how real tokenizer trainers work: HuggingFace/SentencePiece both
    * collect the word-count table) — then run every merge round
    * in-memory. Zero Spark jobs per merge and zero lineage growth, where
    * a distributed loop runs one argmax job and adds one plan level per
    * round.
    *
    * Pair counts are maintained INCREMENTALLY: merging (a,b) only changes
    * the pair multiset of words that currently contain (a,b) adjacently
    * (tracked in an occurrence index), so a round costs
    * O(words containing the pair × their length), not O(vocab) — the
    * standard trainer optimization; a full recount per round would be
    * O(vocab·len·budget) at production vocab sizes.
    *
    * Semantics are BIT-IDENTICAL to the unrolled oracle chain: counts
    * sum word frequency over ALL adjacent positions (overlaps included),
    * argmax ties break lexicographically on (lhs, rhs) in binary string
    * order, and the rewrite is the leftmost non-overlapping scan —
    * exactly what DuckDB/Java replace("(A)(B)" → "(AB)") does on the
    * guarded symbol string. Round17Spec checks the merge table against a
    * naive full recount on seeded corpora, floored and unfloored, plus an
    * overlapping-pair hand corpus.
    *
    * @return (merge table rows, final vocab word → symbol count) */
  private[graft] def bpeTrainFull(s: SparkSession, dir: String)
      : (Seq[(Int, String, String, Long)], Seq[(String, Int)]) =
    bpeTrainFullDocs(tWide(s, dir)("documents"), BpeWordFloor)

  /** [[bpeTrainFull]] re-rooted on a passed doc frame so Round17Spec can
    * drive hand corpora (overlap counting, tie-breaks, exhaustion; floor
    * defaults to 1 there). The production path passes [[BpeWordFloor]],
    * applied BEFORE the collect so driver heap is bounded by the
    * above-floor vocab, never the open-vocabulary tail. */
  private[graft] def bpeTrainFullDocs(docs: DataFrame, floor: Long = 1L)
      : (Seq[(Int, String, String, Long)], Seq[(String, Int)]) = {
    val words: Array[(String, Long)] = docs
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) >= 2 && col("w").rlike("^[a-z0-9]+$"))
      .groupBy("w").agg(count(lit(1)).as("n"))
      .filter(col("n") >= floor)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val freq = words.toMap
    val syms = scala.collection.mutable.Map[String, Array[String]]()
    words.foreach { case (w, _) => syms(w) = w.map(_.toString).toArray }
    val counts = scala.collection.mutable.Map[(String, String), Long]()
    val occurs = scala.collection.mutable.Map[(String, String),
      scala.collection.mutable.Set[String]]()
    def addWord(w: String, sign: Long): Unit = {
      val a = syms(w); val n = freq(w) * sign
      var i = 0
      while (i < a.length - 1) {
        val p = (a(i), a(i + 1))
        val c = counts.getOrElse(p, 0L) + n
        if (c == 0L) counts.remove(p) else counts(p) = c
        if (sign > 0) occurs.getOrElseUpdate(p,
          scala.collection.mutable.Set.empty) += w
        i += 1
      }
      if (sign < 0) {
        // rebuilt below from the post-merge symbols; drop stale entries
        var j = 0
        while (j < a.length - 1) {
          occurs.get((a(j), a(j + 1))).foreach { set =>
            set -= w; if (set.isEmpty) occurs.remove((a(j), a(j + 1)))
          }
          j += 1
        }
      }
    }
    words.foreach { case (w, _) => addWord(w, 1L) }
    val merges = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    var r = 1
    var exhausted = false
    while (r <= BpeMergeBudget && !exhausted) {
      if (counts.isEmpty) exhausted = true
      else {
        // argmax with (count desc, lhs, rhs) tie-break — binary string
        // order, same as both engines' ORDER BY on [a-z0-9] symbols
        var best: ((String, String), Long) = null
        counts.foreach { e =>
          if (best == null || e._2 > best._2 ||
              (e._2 == best._2 && (e._1._1 < best._1._1 ||
                (e._1._1 == best._1._1 && e._1._2 < best._1._2))))
            best = e
        }
        val ((la, lb), cnt) = best
        merges += ((r, la, lb, cnt))
        val affected = occurs.getOrElse((la, lb),
          scala.collection.mutable.Set.empty[String]).toArray
        affected.foreach { w =>
          addWord(w, -1L)
          val a = syms(w)
          val out = scala.collection.mutable.ArrayBuffer[String]()
          var i = 0
          while (i < a.length) {
            if (i < a.length - 1 && a(i) == la && a(i + 1) == lb) {
              out += la + lb; i += 2
            } else { out += a(i); i += 1 }
          }
          syms(w) = out.toArray
          addWord(w, 1L)
        }
        r += 1
      }
    }
    (merges.toSeq, words.map { case (w, _) => (w, syms(w).length) }.toSeq)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_containment" -> ((s, dir) =>
      // Sub-document duplication screen (round 12): shingle-set
      // containment over the capped universe — see [[containmentFilter]]
      // for why this is a different operator from jaccard_pairs, not a
      // threshold change. Scale shape identical to the jaccard kernel
      // (df-capped posting self-join; candidate volume bounded per
      // shingle cell), so the probe findings for jaccard steer this op
      // too; at 100 TB the minhash/LSH pass steers candidates here the
      // same way.
      containmentFilter(overlapPairs(
          Pin.shared(cappedPostings(tWide(s, dir)("documents")))))
        .select(col("id1"), col("id2"), col("inter"), col("n1"), col("n2"),
          r6(col("inter").cast("double") / least(col("n1"), col("n2")))
            .as("cont6"))
        .orderBy("id1", "id2")),

    "dedup_exact" -> ((s, dir) =>
      tWide(s, dir)("documents")
        .select(sha2(lower(trim(col("text"))), 256).as("h"), col("doc_id"))
        .groupBy("h")
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("dup_cnt"))
        .orderBy("doc_id")),

    // NOTE (100 TB guidance, SURVEY §4.2.6): exact-pair semantics are
    // inherently df²-below-cap — on a saturating-vocab corpus the
    // candidate set grows superlinearly no matter the plan (16.1× at the
    // 200× sweep). The scale-safe near-dup default is dedup_near_minhash
    // (4.6× at 200×); this op is its oracle-checkable exact twin, fed from
    // the shared landed artifact.
    "jaccard_pairs" -> ((s, dir) =>
      candidatePairs(s, dir)
        .select(col("id1"), col("id2"), col("inter"), col("uni"),
          r6(col("inter").cast("double") / col("uni")).as("jac"))
        .orderBy("id1", "id2")),

    "text_keyness_llr" -> ((s, dir) => {
      // Corpus-comparison keyness (round 12): Dunning's log-likelihood G²
      // per word between the two largest language slices — the "which
      // words are over-represented in THIS corpus vs that one" screen
      // used for domain drift, register checks, and contamination triage.
      // Determinism: the 2×2 G² decomposes as G²/2 = ΣO·lnO − ΣR·lnR −
      // ΣC·lnC + N·lnN, where every argument is an INTEGER count — so
      // each ln floor-quantizes to micro-nats (the text_entropy D-rule)
      // and g2_u is an exact long. Same acknowledged 1-ULP libm residual
      // as the other quantized-ln ops; counts multiply a floored ln
      // (c·lnq), the text_js_divergence amplification caveat applies.
      // Scale: the occurrence explode collapses map-side into the vocab-
      // sized (word, side) agg; the 1-row totals frame broadcasts; top-30
      // rank is a TakeOrderedAndProject, never a global sort.
      val docs = tWide(s, dir)("documents")
      val top2 = docs.groupBy("lang").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("lang")).limit(2)
        .collect().map(_.getString(0)) // 2-element model state (bounded)
      val (la, lb) = (top2(0), top2(1))
      def tq(k: Column): Column = when(k > 0,
        k * floor(log(k.cast("double")) * lit(1000000d)).cast("long"))
        .otherwise(0L)
      val wc = docs.filter(col("lang").isin(la, lb))
        .select(col("lang"), explode(split(col("text"), " ")).as("word"))
        .groupBy("word")
        .agg(sum(when(col("lang") === la, 1L).otherwise(0L)).as("c_a"),
          sum(when(col("lang") === lb, 1L).otherwise(0L)).as("c_b"))
      val totals = wc.agg(sum("c_a").as("na"), sum("c_b").as("nb"))
      wc.crossJoin(broadcast(totals))
        .filter(col("c_a") + col("c_b") >= 5)
        .withColumn("g2_u", lit(2L) * (tq(col("c_a")) + tq(col("c_b"))
          + tq(col("na") - col("c_a")) + tq(col("nb") - col("c_b"))
          - tq(col("c_a") + col("c_b"))
          - tq(col("na") + col("nb") - col("c_a") - col("c_b"))
          - tq(col("na")) - tq(col("nb")) + tq(col("na") + col("nb"))))
        .select(col("word"), col("c_a"), col("c_b"), col("g2_u"),
          when(col("c_a") * col("nb") > col("c_b") * col("na"), lit(la))
            .otherwise(lit(lb)).as("key_lang"))
        .orderBy(col("g2_u").desc, col("word")).limit(30)
    }),

    "text_wordcount" -> ((s, dir) =>
      tWide(s, dir)("documents")
        .select(col("lang"), explode(split(col("text"), " ")).as("token"))
        .groupBy("lang", "token")
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("lang"), col("token"))
        .limit(50)),

    "text_tfidf_top" -> ((s, dir) => {
      // tf: one (doc, term, tf) row per distinct term of a doc, counted in
      // the row by the term-count kernel — no (doc_id, term) hash
      // aggregate, so no corpus-sized shuffle. df: a vocab-sized count of
      // those rows per term, joined back without a hint (AQE broadcasts it
      // while the vocabulary is small and shuffle-joins at scale). No
      // window is partitioned by term: such a partition grows with the
      // term's df, and a stop-word would put the whole corpus in one.
      // nDocs is one row at any scale, so it stays hinted.
      val tf = tWide(s, dir)("documents")
        .select(col("doc_id"), inline(termCounts(split(col("text"), " "))))
      val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val nDocs = t(s, dir)("documents").agg(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy("doc_id").orderBy(col("score_raw").desc, col("term"))
      tf.join(df, "term")
        .crossJoin(broadcast(nDocs))
        .withColumn("score_raw", col("tf") * log(col("n_docs").cast("double") / col("df")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("doc_id"), col("term"), col("tf"), col("df"),
          r6(col("score_raw")).as("score"), col("rn").cast("int").as("rn"))
        .orderBy("doc_id", "rn")
    }),

    "text_bm25_topk" -> ((s, dir) => {
      // BM25 (Okapi, k1=1.2 b=0.75) ranked retrieval — the sparse half of
      // hybrid retrieval (vec_rank_fusion fuses two DENSE rankers; this is
      // the posting-list ranker practitioners fuse them WITH). Query panel:
      // five 2-term queries drawn from the global occurrence ranking
      // (ranks 1–2, 3–4, …, 9–10 by count desc, term asc) — corpus-derived,
      // so both engines reconstruct the identical panel with no fixture
      // literals. The 10-term panel is bounded MODEL state (the
      // text_keyness_llr top-2-langs discipline), collected once.
      //
      // Determinism and score math: see [[bm25Scores]]; the ln carries the
      // acknowledged 1-ULP libm residual of every quantized-ln op.
      //
      // Scale: the query side is ≤10 rows at ANY corpus size → broadcast;
      // tf comes per doc from the term-count kernel and df from one window
      // over the query-term postings (posting join, never a corpus scan per
      // query); the rank → filter(rn≤10) pair lowers to a map-side partial
      // WindowGroupLimit (the knn_cosine_topk adjudication), so no
      // data-sized frame funnels into the 5 qid partitions.
      bm25TopK(s, tWide(s, dir)("documents"))
    }),

    // no tWide: pure scalar-column agg, no per-row text work to spread
    "text_lang_profile" -> ((s, dir) =>
      t(s, dir)("documents")
        .groupBy("lang")
        .agg(count(lit(1)).as("docs"),
          sum(col("n_chars")).as("sum_chars"),
          countDistinct(col("source")).as("d_sources"),
          min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
        .orderBy("lang")),

    "text_quality_score" -> ((s, dir) => {
      val stop = StopWords
      val toks = split(col("text"), " ")
      tWide(s, dir)("documents").select(
        col("doc_id"), col("n_chars"),
        size(toks).as("n_tokens"),
        r6(length(col("text")).cast("double") / size(toks)).as("avg_tok_len"),
        length(regexp_replace(col("text"), "[a-z0-9 ]", "")).as("punct_cnt"),
        size(filter(toks, x => x.isin(stop: _*))).as("stop_cnt"),
        r6(size(filter(toks, x => x.isin(stop: _*))).cast("double") / size(toks)).as("stop_ratio"))
        .orderBy("doc_id")
    }),

    "text_readability" -> ((s, dir) => {
      // Flesch reading-ease per document (round 12) — the readability
      // gate pretraining quality filters run (FineWeb-edu-class
      // pipelines screen on exactly this family of scores). All three
      // inputs are integer counts: words = whitespace tokens, sentences
      // = [.!?]+ runs floored at 1 (the fixture corpus is unpunctuated
      // word soup — the floor IS the contract, not a fixture dodge),
      // syllables ≈ vowel groups (the standard heuristic). Groups count
      // via the length DELTA of replace-group-with-one-char vs
      // replace-with-nothing, so no regex-count function is needed and
      // the single greedy pattern behaves identically in both engines.
      // score6 = 206.835 − 1.015·w/s − 84.6·syl/w evaluated once in
      // double from exact integers — a fixed IEEE op sequence the
      // oracle mirrors literally (left-assoc, same casts). Map-side
      // only: the op is scan-shaped, no shuffle at any scale.
      def groups(pat: String): Column =
        length(regexp_replace(col("text"), pat, "@")) -
          length(regexp_replace(col("text"), pat, ""))
      val w = size(split(col("text"), " "))
      val sent = greatest(groups("[.!?]+"), lit(1))
      val syl = groups("[aeiou]+")
      tWide(s, dir)("documents").select(col("doc_id"),
          w.as("n_words"), sent.as("n_sentences"), syl.as("n_syllables"),
          r6(lit(206.835)
            - lit(1.015) * (w.cast("double") / sent)
            - lit(84.6) * (syl.cast("double") / w)).as("flesch6"))
        .orderBy("doc_id")
    }),

    "text_token_count" -> ((s, dir) =>
      tWide(s, dir)("documents").select(
        col("doc_id"),
        size(split(col("text"), " ")).as("ws_tokens"),
        expr("size(regexp_extract_all(text, '[a-z]+|[0-9]+', 0))").as("bpe_ish_tokens"))
        .orderBy("doc_id")),

    "docs_token_fertility" -> ((s, dir) => {
      // Tokenizer fertility by language — the chars-per-token compression
      // table every multilingual corpus audit runs before fixing a token
      // budget: a language whose fertility is 2× the corpus mean gets half
      // the effective context for the same token spend, so mix weights and
      // per-lang budgets are set off THIS table. Tokenizers are
      // text_token_count's exact pair (whitespace + the bpe-ish [a-z]+|[0-9]+
      // run regex), so the two ops can never disagree on what a token is.
      // Map-side tokenize + one lang-sized agg — scan-shaped at any corpus
      // size; ratios are r4-displayed doubles guarded against empty-token
      // languages (NULL, never a cross-engine inf).
      val tok = tWide(s, dir)("documents").select(col("lang"), col("n_chars"),
        size(split(col("text"), " ")).cast("long").as("ws_tokens"),
        expr("size(regexp_extract_all(text, '[a-z]+|[0-9]+', 0))")
          .cast("long").as("bpe_tokens"))
      tok.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"),
          sum("ws_tokens").as("sum_ws_tokens"),
          sum("bpe_tokens").as("sum_bpe_tokens"))
        .select(col("lang"), col("n_docs"), col("sum_chars"),
          col("sum_ws_tokens"), col("sum_bpe_tokens"),
          when(col("sum_bpe_tokens") > 0,
            r4(col("sum_chars").cast("double") / col("sum_bpe_tokens")))
            .as("chars_per_bpe4"),
          when(col("sum_ws_tokens") > 0,
            r4(col("sum_chars").cast("double") / col("sum_ws_tokens")))
            .as("chars_per_ws4"))
        .orderBy("lang")
    }),

    "docs_tokenize_offsets" -> ((s, dir) => {
      // Token → character-offset alignment table — the structure every
      // annotation/span-labeling pipeline needs next to its token stream
      // (NER spans, citation attribution, highlight rendering all map
      // token indices back to source text). With the corpus's
      // single-space separator the offsets are exactly recoverable from
      // token lengths: start(i) = Σ len(token_j<i) + i (the i separators),
      // end = start + len — computed as ONE cumulative window per doc
      // ordered by token index (the per-doc window class, linear at any
      // corpus size). Output is token-grain (the table's purpose); spec
      // pins substring(text, start+1, len) == token for every row.
      val sh = tWide(s, dir)("documents")
        .select(col("doc_id"), posexplode(split(col("text"), " "))
          .as(Seq("idx", "token")))
      val w = Window.partitionBy("doc_id").orderBy("idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      sh.withColumn("cum_len", sum(length(col("token")).cast("long")).over(w))
        .select(col("doc_id"), col("idx"), col("token"),
          (col("cum_len") - length(col("token")) + col("idx")).as("start_off"),
          (col("cum_len") + col("idx")).as("end_off"))
        .orderBy("doc_id", "idx")
    }),

    "text_winnowing_fingerprints" -> ((s, dir) => {
      // Winnowing fingerprints (Schleimer, Wilkerson, Aiken — SIGMOD'03,
      // the MOSS algorithm): per doc, POSITIONAL 3-token k-grams (order
      // kept, duplicates kept — unlike the distinct shingle kernel), each
      // hashed with the portable rolling 31-fold; in every window of w=4
      // consecutive k-gram hashes, select the minimum — the winnowing
      // guarantee is that any shared run of ≥ w+k−1 tokens yields at
      // least one shared selected fingerprint, with density ~2/(w+1)
      // instead of every-k-gram (minhash has no locality guarantee at
      // all; this is the local-match detector). Fingerprints dedup by
      // VALUE per doc; a fingerprint seen in ≥2 docs marks local overlap,
      // reported per doc as integer-ppm share. Scale: the window runs
      // per-doc over doc-length rows (the per-user window class); the
      // sharing pass is fingerprint-vocabulary-sized. Oracle replays the
      // identical fold + frame in SQL.
      val w = 4
      val docs = tWide(s, dir)("documents")
      // r16: positional k-gram hashes via the fused native kernel
      // (distinct=false keeps order + duplicates — winnowing needs the
      // positional stream); bit-identical to the r15 per-shingle
      // slice/array_join/rollingHash31 chain (Round16Spec differential),
      // posexplode's pos = the old sequence(0, n-3) index.
      val sh = docs.select(col("doc_id"),
          posexplode(graft.functions.GraftExpressions.shingleRolling31(
            col("text"), distinct = false)).as(Seq("i", "h")))
      val wspec = Window.partitionBy("doc_id").orderBy("i").rowsBetween(0, w - 1)
      val fps = sh.withColumn("fp", min("h").over(wspec))
        .withColumn("nf", count(lit(1)).over(wspec))
        .filter(col("nf") === w)
        .select("doc_id", "fp").distinct()
      // sharing count as ONE window pass (r20, guide §2.4 — the bm25 df
      // restructure): docCnt derived FROM fps, so the join re-ran the
      // whole posexplode + winnowing-window + distinct subtree a second
      // time. fps is already distinct per (doc_id, fp), so count(*) over
      // (fp) IS the distinct-doc count. Same values, one kernel pass.
      val wfp = Window.partitionBy("fp")
      val perDoc = fps.withColumn("n_docs_fp", count(lit(1)).over(wfp))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_fps"),
          sum(when(col("n_docs_fp") >= 2, 1L).otherwise(0L)).as("n_shared"))
      docs.select(col("doc_id"),
          greatest(size(split(col("text"), " ")) - 2, lit(0))
            .cast("long").as("n_shingles"))
        .join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_shingles"),
          coalesce(col("n_fps"), lit(0L)).as("n_fps"),
          coalesce(col("n_shared"), lit(0L)).as("n_shared"),
          when(coalesce(col("n_fps"), lit(0L)) > 0,
            call_function("div", coalesce(col("n_shared"), lit(0L)) * lit(1000000L),
              col("n_fps"))).as("shared_ppm"))
        .orderBy("doc_id")
    }),

    "dedup_assign_canonical" -> ((s, dir) => {
      // Dedup as ASSIGNMENT rather than filtering: every row maps to the
      // retained representative (min doc_id of its exact-hash group) — the
      // form a pipeline needs to propagate labels/weights from dropped
      // duplicates onto survivors. One window over the hash.
      val h = sha2(lower(trim(col("text"))), 256)
      tWide(s, dir)("documents").select(col("doc_id"), h.as("h"))
        .withColumn("canonical_id", min(col("doc_id")).over(Window.partitionBy("h")))
        .select(col("doc_id"), col("canonical_id"),
          (col("doc_id") === col("canonical_id")).as("is_canonical"))
        .orderBy("doc_id")
    }),

    "text_quality_filter" -> ((s, dir) => {
      // Composite cleaning filter (the keep-set of a training-data pipeline):
      // token count floor, stopword-ratio and punctuation-ratio ceilings.
      // All thresholds are INTEGER inequalities (stop_cnt*2 <= n_tokens
      // instead of ratio <= 0.5) — zero float-comparison dialect risk.
      val stop = StopWords
      val toks = split(col("text"), " ")
      tWide(s, dir)("documents")
        .select(col("doc_id"), col("lang"), col("n_chars"),
          size(toks).as("n_tokens"),
          size(filter(toks, x => x.isin(stop: _*))).as("stop_cnt"),
          length(regexp_replace(col("text"), "[a-z0-9 ]", "")).as("punct_cnt"))
        .filter(col("n_tokens") >= 5
          && col("stop_cnt") * 2 <= col("n_tokens")
          && col("punct_cnt") * 10 <= col("n_chars"))
        .orderBy("doc_id")
    }),

    "text_scrub" -> ((s, dir) =>
      // Normalization/masking pass: digit runs -> <num>, whitespace
      // collapsed; emits the scrubbed text, a mask count, and the content
      // hash a downstream exact-dedup would key on. Patterns restricted to
      // the regex subset Java and RE2 interpret identically.
      tWide(s, dir)("documents").select(
        col("doc_id"),
        scrubExpr(col("text")).as("scrubbed"),
        size(expr("regexp_extract_all(text, '[0-9]+', 0)")).as("n_masked"))
        .withColumn("scrub_sha", sha2(col("scrubbed"), 256))
        .orderBy("doc_id")),

    "docs_curation_funnel" -> ((s, dir) => {
      // Curation FUNNEL — the stage-by-stage survivor report every
      // pipeline publishes next to its cleaned corpus (how much did each
      // gate cost): raw → quality gate → exact-dedup canonical, THE SAME
      // gates pipeline_clean_corpus applies (same StopWords, same integer
      // thresholds, same scrub + sha canonical rule — the funnel counts
      // and the cleaned corpus can never disagree). One conditional-agg
      // scan covers raw+quality; the dedup stage rides the kept frame's
      // content-hash window (the only shuffle). kept_ppm is integer ppm
      // vs RAW (the budget owner's view: how much of the crawl survives).
      val stop = StopWords
      val toks = split(col("text"), " ")
      val base = tWide(s, dir)("documents")
        .withColumn("n_tokens", size(toks))
        .withColumn("stop_cnt", size(filter(toks, x => x.isin(stop: _*))))
        .withColumn("punct_cnt",
          length(regexp_replace(col("text"), "[a-z0-9 ]", "")))
        .withColumn("q_pass", col("n_tokens") >= 5
          && col("stop_cnt") * 2 <= col("n_tokens")
          && col("punct_cnt") * 10 <= col("n_chars"))
      val s01 = base.agg(
        count(lit(1)).as("raw_docs"), sum("n_chars").as("raw_chars"),
        sum(when(col("q_pass"), 1L).otherwise(0L)).as("q_docs"),
        sum(when(col("q_pass"), col("n_chars")).otherwise(0L)).as("q_chars"))
      val canon = base.filter(col("q_pass"))
        .withColumn("scrubbed", scrubExpr(col("text")))
        .withColumn("canonical_id",
          min(col("doc_id")).over(Window.partitionBy(sha2(col("scrubbed"), 256))))
        .filter(col("doc_id") === col("canonical_id"))
        .agg(count(lit(1)).as("d_docs"), sum("n_chars").as("d_chars"))
      s01.join(broadcast(canon))
        .select(explode(array(
          struct(lit(0L).as("stage"), lit("raw").as("stage_name"),
            col("raw_docs").as("n_docs"), col("raw_chars").as("n_chars")),
          struct(lit(1L).as("stage"), lit("quality").as("stage_name"),
            col("q_docs").as("n_docs"), col("q_chars").as("n_chars")),
          struct(lit(2L).as("stage"), lit("dedup").as("stage_name"),
            col("d_docs").as("n_docs"), col("d_chars").as("n_chars"))))
          .as("r"), col("raw_docs"))
        .select(col("r.stage").as("stage"), col("r.stage_name").as("stage_name"),
          col("r.n_docs").as("n_docs"), col("r.n_chars").as("n_chars"),
          call_function("div", col("r.n_docs") * lit(1000000L),
            col("raw_docs")).as("kept_ppm"))
        .orderBy("stage")
    }),

    "pipeline_clean_corpus" -> ((s, dir) => {
      // Capstone composite: the whole training-data cleaning pipeline in one
      // plan — quality filter (integer thresholds) → scrub/normalize →
      // exact-dedup keep-canonical → per-lang survivor stats. Everything is
      // narrow or single-shuffle: filter+scrub are per-row, dedup is one
      // window over the content hash, stats one aggregation.
      val stop = StopWords
      val toks = split(col("text"), " ")
      val kept = tWide(s, dir)("documents")
        .withColumn("n_tokens", size(toks))
        .withColumn("stop_cnt", size(filter(toks, x => x.isin(stop: _*))))
        .withColumn("punct_cnt", length(regexp_replace(col("text"), "[a-z0-9 ]", "")))
        .filter(col("n_tokens") >= 5
          && col("stop_cnt") * 2 <= col("n_tokens")
          && col("punct_cnt") * 10 <= col("n_chars"))
        .withColumn("scrubbed", scrubExpr(col("text")))
      val canon = kept
        .withColumn("canonical_id",
          min(col("doc_id")).over(Window.partitionBy(sha2(col("scrubbed"), 256))))
        .filter(col("doc_id") === col("canonical_id"))
      canon.groupBy("lang")
        .agg(count(lit(1)).as("kept_docs"),
          sum(col("n_chars")).as("kept_chars"),
          countDistinct(col("source")).as("d_sources"))
        .orderBy("lang")
    }),

    "docs_sample_stratified" -> ((s, dir) => {
      // Deterministic ~50% sample via the first md5 hex digit of the doc id
      // (identical text->hash in any engine, no RNG state): per-lang totals
      // vs sampled counts. The primitive behind reproducible train/eval
      // splits at corpus scale.
      val inSample = substring(md5(col("doc_id").cast("string")), 1, 1)
        .isin("0", "1", "2", "3", "4", "5", "6", "7")
      t(s, dir)("documents")
        .groupBy("lang")
        .agg(count(lit(1)).as("total_docs"),
          sum(when(inSample, 1L).otherwise(0L)).as("sampled_docs"))
        .withColumn("ratio6",
          r6(col("sampled_docs").cast("double") / col("total_docs")))
        .orderBy("lang")
    }),

    "docs_topk_quality_per_lang" -> ((s, dir) => {
      // Training-mix selection: the best K documents per language by a
      // deterministic quality score (token count penalized by stopword and
      // punctuation counts — integer arithmetic only, so the rank order is
      // dialect-proof). The per-group top-k is a rank window: one shuffle
      // on lang, partial sort per partition — the shape that holds when
      // "per language" is 10 TB each.
      // r15 re-plan (retro probe sweep, VERDICT r14 #2): the single
      // rank window partitioned by the 5-value lang sorted the WHOLE doc
      // frame in ≤5 tasks — the limit_topk_with_ties scale-killer shape.
      // k=10 is bounded, so the two-level top-k applies: a deterministic
      // 64-way salt (hash of doc_id — no spark_partition_id
      // nondeterminism) makes the first rank window partition on
      // (lang, salt) = 320 balanced groups that GROW with nothing (fixed
      // fan-out, each ~N/320); its survivors are ≤ langs×64×k = 3,200
      // rows at ANY corpus size, and only that bounded frame meets the
      // final per-lang window. Output provably identical: the global
      // top-10 of each lang survives its salt's local top-10.
      val toks = split(col("text"), " ")
      val scored = tWide(s, dir)("documents").select(
        col("doc_id"), col("lang"),
        (size(toks).cast("long") * 10
          - size(filter(toks, x => x.isin(StopWords: _*))).cast("long") * 5
          - length(regexp_replace(col("text"), "[a-z0-9 ]", "")).cast("long"))
          .as("quality"))
        .withColumn("salt", pmod(xxhash64(col("doc_id")), lit(64L)))
      val wLocal = Window.partitionBy("lang", "salt")
        .orderBy(col("quality").desc, col("doc_id"))
      val w = Window.partitionBy("lang").orderBy(col("quality").desc, col("doc_id"))
      scored.withColumn("lrk", row_number().over(wLocal))
        .filter(col("lrk") <= 10)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 10)
        .select(col("lang"), col("rk").cast("int").as("rk"), col("doc_id"), col("quality"))
        .orderBy("lang", "rk")
    }),

    "text_ngram_freq" -> ((s, dir) =>
      // Character-trigram frequency table per language — the n-gram stats a
      // langid/quality model trains on. Map-side transform+explode, one
      // partial+final agg, global top-100 with a total tiebreak order.
      tWide(s, dir)("documents")
        .select(col("lang"), explode(expr(
          """transform(
               CASE WHEN length(text) >= 3 THEN sequence(1, length(text) - 2)
                    ELSE array() END,
               i -> substring(text, i, 3))""")).as("tri"))
        .groupBy("lang", "tri")
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("lang"), col("tri"))
        .limit(100)),

    "text_fuzzy_pairs" -> ((s, dir) => {
      // Edit-distance refinement of the candidate pairs: levenshtein is
      // O(len²) per pair, so it NEVER runs doc × doc — only on the
      // jaccard-candidate pairs (shared-shingle bounded), the
      // cheap-filter-then-expensive-verify shape every fuzzy-match pipeline
      // uses at scale. sim6 = 1 - dist/max(len) in safe-rounded double.
      val docs = tWide(s, dir)("documents").select(col("doc_id"), col("text"))
      val pairs = candidatePairs(s, dir).select("id1", "id2")
      pairs
        .join(docs.select(col("doc_id"), col("text").as("t1")), col("id1") === col("doc_id")).drop("doc_id")
        .join(docs.select(col("doc_id"), col("text").as("t2")), col("id2") === col("doc_id")).drop("doc_id")
        .select(col("id1"), col("id2"),
          levenshtein(col("t1"), col("t2")).as("edit_dist"),
          greatest(length(col("t1")), length(col("t2"))).as("max_len"))
        .withColumn("sim6",
          r6(lit(1.0) - col("edit_dist").cast("double") / col("max_len")))
        .orderBy("id1", "id2")
    }),

    "docs_length_buckets" -> ((s, dir) => {
      // Token-length histogram per language — the stats a batch-packing /
      // curriculum scheduler reads before deciding sequence budgets. Bucket
      // width 20 tokens, capped at bucket 10. Pure integer math; one
      // partial+final aggregate.
      val nTok = size(split(col("text"), " ")).cast("long")
      tWide(s, dir)("documents")
        .select(col("lang"), nTok.as("n_tokens"))
        .withColumn("bucket", least(floor(col("n_tokens") / 20).cast("long"), lit(10L)))
        .groupBy("lang", "bucket")
        .agg(count(lit(1)).as("n_docs"),
          min(col("n_tokens")).as("min_tok"), max(col("n_tokens")).as("max_tok"),
          sum(col("n_tokens")).as("sum_tok"))
        .orderBy("lang", "bucket")
    }),

    "docs_chunk_sliding_windows" -> ((s, dir) => {
      // Sliding-window chunking (round 13) — the RAG/embedding prep step
      // the corpus family lacked: each document splits into 64-token
      // windows at stride 48 (16-token overlap, so no boundary sentence
      // is ever lost to a hard cut — the standard retrieval-chunking
      // trade). Chunk count is DEFINED exactly as 1 + ceil(max(n−64,0)/48)
      // (ceil via integer (x+47) div 48), so both engines generate the
      // identical window set with a possibly-short final window; each
      // chunk carries its token span and a portable sha256 fingerprint
      // (the dedup_exact discipline — chunk-level dedup joins on it).
      // Scale shape: pure map-side explode, amplification bounded by the
      // 64/48 overlap factor (≤1.34× tokens); no shuffle before the
      // output sort.
      val toks = split(col("text"), " ")
      val n = size(toks)
      val nChunks = (lit(1) + call_function("div",
        greatest(n - lit(64), lit(0)).cast("long") + lit(47L), lit(48L))).cast("int")
      tWide(s, dir)("documents")
        .select(col("doc_id"), toks.as("toks"), n.as("n_tok_doc"),
          nChunks.as("nc"))
        .select(col("doc_id"), col("toks"), col("n_tok_doc"),
          explode(sequence(lit(0), col("nc") - 1)).as("chunk_idx"))
        .select(col("doc_id"), col("chunk_idx"),
          (col("chunk_idx") * 48).as("start_tok"),
          slice(col("toks"), col("chunk_idx") * 48 + 1, lit(64)).as("ctoks"))
        .select(col("doc_id"), col("chunk_idx"), col("start_tok"),
          size(col("ctoks")).as("n_tok"),
          sha2(concat_ws(" ", col("ctoks")), 256).as("chunk_sha"))
        .orderBy("doc_id", "chunk_idx")
    }),

    "docs_chunk_dup_rate" -> ((s, dir) => {
      // Chunk-level duplication rate (round 13) — the C4/RefinedWeb
      // boilerplate screen at window granularity: what fraction of each
      // document's sliding chunks also appear (by sha) in ANOTHER
      // document? Headers, navboxes, and license blocks duplicate at
      // chunk level long before whole-doc dedup sees anything. Rides the
      // docs_chunk_sliding_windows kernel: chunks → per-sha distinct-doc
      // count (map-side partial agg; the sha frame is chunk-vocabulary-
      // sized) → join back → integer-ppm shared-chunk fraction per doc.
      // The fixture corpus is all-distinct, so nonzero rows here are a
      // red flag by design — the spec plants a shared chunk to prove the
      // detector fires.
      val toks = split(col("text"), " ")
      val n = size(toks)
      val nChunks = (lit(1) + call_function("div",
        greatest(n - lit(64), lit(0)).cast("long") + lit(47L), lit(48L))).cast("int")
      val chunks = tWide(s, dir)("documents")
        .select(col("doc_id"), toks.as("toks"), nChunks.as("nc"))
        .select(col("doc_id"),
          explode(sequence(lit(0), col("nc") - 1)).as("chunk_idx"),
          col("toks"))
        .select(col("doc_id"),
          sha2(concat_ws(" ",
            slice(col("toks"), col("chunk_idx") * 48 + 1, lit(64))), 256)
            .as("chunk_sha"))
      val bySha = chunks.groupBy("chunk_sha")
        .agg(countDistinct(col("doc_id")).as("n_docs_with"))
      chunks.join(bySha, Seq("chunk_sha"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("n_docs_with") > 1, 1L).otherwise(0L)).as("n_shared"))
        .select(col("doc_id"), col("n_chunks"), col("n_shared"),
          call_function("div", col("n_shared") * lit(1000000L), col("n_chunks"))
            .as("shared_ppm"))
        .orderBy("doc_id")
    }),

    "docs_pack_greedy" -> ((s, dir) => {
      // Sequence packing for training batches: within each language, docs
      // (ordered by doc_id) fill batches of ~2000 tokens — batch id =
      // floor(exclusive-prefix-sum / budget), so a batch may overflow by at
      // most one document (greedy fill). The window and the final groupBy
      // both key on lang: one shuffle, prefix sums run locally per
      // partition — the shape that survives per-language corpora of
      // billions of docs.
      // r15 re-plan (retro probe sweep, VERDICT r14 #2): the prefix sum
      // ran in ONE window partitioned by the 5-value lang — the whole doc
      // frame sorted sequentially in ≤5 tasks. A prefix sum distributes
      // as the classic two-level scan: docs fold into doc_id-contiguous
      // BLOCKS (div(doc_id, 65536) — order-preserving), level 1 is one
      // map-side hash agg to per-(lang, block) token totals, level 2
      // cumulates those totals per lang (a window over the 65,536×-
      // collapsed block frame — the declared bound; the pattern recurses
      // if a corpus ever outgrows it), level 3 is the block-LOCAL running
      // sum — a window partitioned by (lang, block), high-cardinality,
      // each group ≤ 65,536 rows by construction. cum = block offset +
      // local running sum, identical to the single-window form.
      val budget = 2000L
      val blk = call_function("div", col("doc_id"), lit(65536L))
      val docs = tWide(s, dir)("documents")
        .select(col("lang"), col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
        .withColumn("blk", blk)
      val wOff = Window.partitionBy("lang").orderBy("blk")
        .rowsBetween(Window.unboundedPreceding, -1)
      val offsets = docs.groupBy("lang", "blk")
        .agg(sum(col("n_tokens")).as("blk_tok"))
        .withColumn("off", coalesce(sum(col("blk_tok")).over(wOff), lit(0L)))
        .select("lang", "blk", "off")
      val wLoc = Window.partitionBy("lang", "blk").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      docs
        .withColumn("loc_cum", sum(col("n_tokens")).over(wLoc))
        .join(offsets, Seq("lang", "blk"))
        .withColumn("cum", col("off") + col("loc_cum"))
        .withColumn("batch_id", floor((col("cum") - col("n_tokens")) / budget).cast("long"))
        .groupBy("lang", "batch_id")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"),
          min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
        .orderBy("lang", "batch_id")
    }),

    "text_dup_ngram_rate" -> ((s, dir) => {
      // Within-document repetition metric (the Gopher-style quality signal):
      // share of token trigrams that are repeats of an earlier trigram in
      // the same doc. total = n_tokens - 2 occurrences, uniq = distinct
      // trigram count (the shared Shingling kernel), rep6 = 1 - uniq/total.
      // Entirely map-side per doc; the only shuffle is the output sort.
      val nTok = size(split(col("text"), " "))
      val total = greatest(nTok - 2, lit(0)).cast("long")
      val uniq = size(Shingling.shingleArray(col("text"), hashed = false)(s)).cast("long")
      tWide(s, dir)("documents")
        .select(col("doc_id"), total.as("total_tri"), uniq.as("uniq_tri"))
        .withColumn("rep6",
          when(col("total_tri") > 0,
            r6(lit(1.0) - col("uniq_tri").cast("double") / col("total_tri")))
            .otherwise(lit(0.0)))
        .orderBy("doc_id")
    }),

    "text_repetition_signals" -> ((s, dir) => {
      // Repetition-CONCENTRATION signals, the other half of the Gopher
      // repetition family next to text_dup_ngram_rate's trigram
      // uniqueness: the most frequent word and word-bigram per document
      // and the fraction of occurrences each claims — the top-n-gram
      // boilerplate/spam thresholds a pretraining pipeline filters on.
      // Both tops are counted inside the row by the term-count kernel and
      // picked by array_min over struct(-tf, token) — (tf DESC, token ASC)
      // by struct ordering — so the op is map-side per doc; the only
      // shuffle is the output sort. The oracle states the same semantics
      // as row_number rk=1. A NULL text has no words, so no row (the
      // explode-based oracle drops it too).
      def top(tokens: Column): Column = array_min(transform(termCounts(tokens),
        x => struct((-x("tf")).as("nc"), x("term").as("t"))))
      // sequence(1, size-1) DESCENDS for single-word docs (the standing
      // sequence footgun) — guard to an empty array instead
      val ws = col("ws")
      val bgArr = when(size(ws) >= 2,
        transform(sequence(lit(1), size(ws) - 1),
          i => concat_ws(" ", element_at(ws, i), element_at(ws, i + 1))))
        .otherwise(array().cast("array<string>"))
      tWide(s, dir)("documents")
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .filter(ws.isNotNull)
        .select(col("doc_id"), size(ws).cast("long").as("n_words"),
          top(ws).as("mw"), top(bgArr).as("mb"))
        .select(col("doc_id"), col("n_words"),
          col("mw.t").as("top_word"), (-col("mw.nc")).as("top_word_cnt"),
          coalesce(col("mb.t"), lit("")).as("top_bigram"),
          coalesce(-col("mb.nc"), lit(0L)).as("top_bigram_cnt"))
        .select(col("doc_id"), col("n_words"), col("top_word"), col("top_word_cnt"),
          r6(col("top_word_cnt").cast("double") / col("n_words")).as("top_word_frac6"),
          col("top_bigram"), col("top_bigram_cnt"),
          when(col("n_words") > 1,
            r6(col("top_bigram_cnt").cast("double") / (col("n_words") - 1)))
            .otherwise(lit(0.0)).as("top_bigram_frac6"))
        .orderBy("doc_id")
    }),

    "text_entropy" -> ((s, dir) => {
      // Shannon entropy of the per-doc WORD distribution (nats) — the
      // low-entropy side of the quality family (repetitive/spam text
      // scores near 0, diverse text near ln(n_words)). Identity used:
      // H = ln N − (Σ c_w·ln c_w)/N, so ln touches only per-(doc,word)
      // COUNTS. Determinism is the D-rule recipe: each ln is floor-
      // quantized to integer micro-nats immediately, the accumulation is
      // a pure integer sum, and the single double division + r6 at the
      // end is bit-stable cross-engine. Residual (same acknowledged one
      // as docs_lm_quality_filter): ln itself is not correctly rounded —
      // a 1-ULP libm divergence at an exact quantization boundary could
      // shift one micro-nat. Plan: the word counts come from the
      // term-count kernel inside the row, so the op is map-side per doc;
      // the only shuffle is the output sort. A NULL text has no words,
      // so no row (as in the oracle).
      def lnq(x: Column): Column =
        floor(log(x.cast("double")) * lit(1000000d)).cast("long")
      tWide(s, dir)("documents")
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .filter(col("ws").isNotNull)
        .select(col("doc_id"), size(col("ws")).cast("long").as("n_words"),
          aggregate(termCounts(col("ws")), lit(0L),
            (acc, x) => acc + x("tf") * lnq(x("tf"))).as("sum_c_lnc_u"))
        .select(col("doc_id"), col("n_words"), col("sum_c_lnc_u"),
          r6((lnq(col("n_words")) * col("n_words") - col("sum_c_lnc_u")).cast("double")
            / (col("n_words").cast("double") * lit(1000000d))).as("entropy6"))
        .orderBy("doc_id")
    }),

    "text_hashed_features" -> ((s, dir) => {
      // Feature hashing (the hashing trick): every token maps to one of
      // k=16 buckets by the portable rollingHash31 content hash, giving
      // each doc a fixed-width count vector regardless of vocabulary size
      // — the fixed-dimension featurization a streaming classifier needs
      // when the vocab is unbounded. Emits the compact per-doc summary
      // (nnz buckets, argmax bucket with lowest-bucket tie-break) rather
      // than the raw array so the oracle hash-compares scalar columns.
      // Pure per-row map work: one char fold per token, then k bounded
      // array passes over the 16-element bucket list — embarrassingly
      // parallel, no shuffle at all before the output sort. Same
      // documented ASCII hash domain as docs_split_assign.
      val k = 16
      val toks = split(col("text"), " ")
      val buckets = transform(toks,
        t => pmod(PipelineOps.rollingHash31(t), lit(k.toLong)).cast("int"))
      val counts = transform(sequence(lit(0), lit(k - 1)),
        b => size(filter(col("bks"), x => x === b)))
      // fold (count, bucket) pairs ascending: strict > keeps the lowest
      // bucket on count ties, matching the oracle's ORDER BY c DESC, b
      val top = aggregate(
        zip_with(counts, sequence(lit(0), lit(k - 1)),
          (c, b) => struct(c.as("c"), b.as("b"))),
        struct(lit(-1).as("c"), lit(-1).as("b")),
        (acc, x) => when(x("c") > acc("c"), x).otherwise(acc))
      tWide(s, dir)("documents")
        .select(col("doc_id"), size(toks).as("n_tokens"), buckets.as("bks"))
        .select(col("doc_id"), col("n_tokens"),
          size(array_distinct(col("bks"))).as("nnz_buckets"),
          top("b").as("top_bucket"), top("c").as("top_bucket_cnt"))
        .orderBy("doc_id")
    }),

    "text_zipf_slope" -> ((s, dir) => {
      // Zipf fit over the corpus: least-squares slope of ln(freq) vs
      // ln(rank) for the top-100 words — the sanity statistic a corpus
      // curator checks before training (natural text slopes ≈ −1;
      // generated/spam corpora drift). Determinism: both lns are floor-
      // quantized to integer micro-nats immediately, all four regression
      // moments (Σx, Σy, Σxy, Σx²) accumulate as exact 64-bit integers
      // (bounds: x ≤ ln(100)·1e6 ≈ 4.6e6, y ≤ ln(cnt)·1e6; n=100 keeps
      // every moment ≤ ~5e17 < 2^63), and the single double division +
      // r6 at the end is bit-stable cross-engine. Same acknowledged ln
      // 1-ULP residual as text_entropy. Plan: word count is a partial+
      // final agg; the top-100 cut is a global limit over the tiny
      // aggregate; the regression is a 1-row reduction — nothing
      // corpus-sized crosses the wire after the first agg.
      val docs = tWide(s, dir)("documents")
      def lnq(x: Column): Column =
        floor(log(x.cast("double")) * lit(1000000d)).cast("long")
      val top = docs
        .select(explode(split(col("text"), " ")).as("word"))
        .filter(col("word") =!= "")
        .groupBy("word").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("word"))
        .limit(100)
        .withColumn("rnk",
          row_number().over(Window.orderBy(col("cnt").desc, col("word"))))
      top
        .select(lnq(col("rnk")).as("x"), lnq(col("cnt")).as("y"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
        .select(col("n").as("n_top"),
          r6((col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
            / (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
            .as("slope6"))
    }),

    "text_ngram_novelty" -> ((s, dir) => {
      // Per-document bigram novelty: what fraction of a doc's distinct
      // word-bigrams appear in NO lower-numbered document — the marginal-
      // contribution statistic an incremental corpus builder uses to
      // decide whether a new crawl slice adds anything. First-occurrence
      // attribution is a min(doc_id) per bigram; novelty is then counted
      // per doc with the ratio in exact integer ppm (novel·1e6 div
      // total), never float. Plan: distinct (doc, bigram) pairs shuffle
      // by bigram for the min, join back bigram-keyed (same partitioning,
      // reused exchange), then one per-doc agg — no pairwise doc×doc
      // work anywhere; everything is linear in distinct pairs.
      val toks = tWide(s, dir)("documents")
        .select(col("doc_id"), split(col("text"), " ").as("ts"))
      val bg = toks.select(col("doc_id"), explode(expr(
        """transform(
             CASE WHEN size(ts) >= 2 THEN sequence(1, size(ts) - 1)
                  ELSE array() END,
             i -> concat(element_at(ts, i), ' ', element_at(ts, i + 1)))"""))
          .as("bg"))
        .distinct()
      val firstDoc = bg.groupBy("bg").agg(min(col("doc_id")).as("first_doc"))
      bg.join(firstDoc, "bg")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
        .withColumn("novelty_ppm",
          expr("CAST(n_novel * 1000000 DIV n_bigrams AS BIGINT)"))
        .orderBy("doc_id")
    }),

    "docs_char_lm" -> ((s, dir) => {
      // Count-based character bigram LM per language: transition
      // probability P(c2|c1) = count(c1c2) / count(c1·) — the statistic a
      // char-level language/quality model trains on. Two aggregations over
      // one bigram explode; the unigram denominator re-derives map-side
      // from the bigram's first char (no second corpus pass). Top-5
      // transitions per lang by probability (ties → bigram asc).
      val bg = tWide(s, dir)("documents")
        .select(col("lang"),
          explode(Shingling.charBigramArray(col("text"))).as("bg"))
      val cnt2 = bg.groupBy("lang", "bg").agg(count(lit(1)).as("c2"))
      val cnt1 = cnt2.groupBy(col("lang"), substring(col("bg"), 1, 1).as("c1"))
        .agg(sum(col("c2")).as("c1cnt"))
      val w = Window.partitionBy("lang").orderBy(col("p6").desc, col("bg"))
      // cnt1 derives from cnt2, so the join is a self-join by lineage —
      // alias both sides explicitly
      cnt2.as("n2").join(cnt1.as("n1"),
          col("n2.lang") === col("n1.lang")
            && substring(col("n2.bg"), 1, 1) === col("n1.c1"))
        .select(col("n2.lang").as("lang"), col("n2.bg").as("bg"),
          col("n2.c2").as("c2"), col("n1.c1cnt").as("c1cnt"),
          r6(col("n2.c2").cast("double") / col("n1.c1cnt")).as("p6"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("lang"), col("rk").cast("int").as("rk"), col("bg"),
          col("c2"), col("c1cnt"), col("p6"))
        .orderBy("lang", "rk")
    }),

    "text_bpe_pair_stats" -> ((s, dir) => {
      // BPE merge-candidate statistics (round 11): the tokenizer-training
      // primitive — per language, the 10 most frequent WORD-INTERNAL
      // adjacent character pairs with corpus counts and share of all
      // word-internal pairs in exact integer ppm. The word-boundary rule
      // (pairs never span whitespace) is what real BPE training enforces,
      // and what separates this from docs_char_lm's whole-text transition
      // model. One occurrence-sized explode partially aggregates onto
      // (lang, pair) — charset²-vocab-bounded — and both windows run over
      // that bounded frame, so the plan is scan-bound at any corpus size.
      val words = tWide(s, dir)("documents")
        .select(col("lang"), explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) >= 2)
      val cnt = words
        .select(col("lang"), explode(Shingling.charBigramArray(col("w"))).as("pair"))
        .groupBy("lang", "pair").agg(count(lit(1)).as("n"))
      val wl = Window.partitionBy("lang")
      val wr = Window.partitionBy("lang").orderBy(col("n").desc, col("pair"))
      cnt.withColumn("lang_total", sum("n").over(wl))
        .withColumn("rk", row_number().over(wr))
        .filter(col("rk") <= 10)
        .select(col("lang"), col("rk").cast("int").as("rk"), col("pair"), col("n"),
          call_function("div", col("n") * lit(1000000L), col("lang_total"))
            .as("share_ppm"))
        .orderBy("lang", "rk")
    }),

    "text_bpe_merge_train" -> ((s, dir) => {
      // Iterative BPE merge TRAINING — the missing piece of the tokenizer
      // story: text_bpe_pair_stats is the round-0 pair census; this op
      // ships the first 6 rows of the merge table, the artifact a
      // tokenizer build ships. The rows are [[bpeTrainFull]]'s: one
      // corpus-sized pass collapses the corpus to the word-frequency dict,
      // and the merge rounds run on the driver over that bounded model
      // state. Its oracle is a 6-round replay of the guarded-string chain
      // ([[bpeCtes]]), so it checks the trainer's first 6 merges on the
      // fixture independently of text_bpe_train_full's 256-round replay.
      // Determinism: exact integer pair counts; ties break
      // lexicographically on (lhs, rhs) — same ASCII order both engines.
      import s.implicits._
      val (merges, _) = bpeTrainFull(s, dir)
      merges.take(6).toDF("merge_round", "lhs", "rhs", "pair_count")
        .select(col("merge_round").cast("int").as("merge_round"),
          col("lhs"), col("rhs"),
          concat(col("lhs"), col("rhs")).as("merged"), col("pair_count"))
        .orderBy("merge_round")
    }),

    "text_bpe_train_full" -> ((s, dir) => {
      // Driver-side full-vocab BPE training (r17, VERDICT r16 #2): the
      // production-merge-count path — one corpus collapse to the word
      // dict, then the whole ≥256-merge budget trained in-memory with
      // incremental pair-count maintenance (see [[bpeTrainFull]]);
      // text_bpe_merge_train ships the first 6 rows of the same table.
      // The fixture's small vocab exhausts well before the 256 budget, so
      // the output is the full merge table UNTIL exhaustion — the oracle
      // replays all 256 unrolled rounds and freezes identically (empty
      // m_r → vocab unchanged). Scale: driver state is the word dict +
      // pair index — vocab-bounded model state FLOORED at [[BpeWordFloor]]
      // occurrences before the collect (r18, VERDICT r17 #2), never a
      // data collect; zero Spark jobs per merge round. The active cutoff
      // ships in every output row (`word_floor`), oracle-mirrored.
      import s.implicits._
      val (merges, _) = bpeTrainFull(s, dir)
      merges.toDF("merge_round", "lhs", "rhs", "pair_count")
        .select(col("merge_round").cast("int").as("merge_round"),
          col("lhs"), col("rhs"),
          concat(col("lhs"), col("rhs")).as("merged"), col("pair_count"),
          lit(BpeWordFloor).as("word_floor"))
        .orderBy("merge_round")
    }),

    "text_bpe_apply" -> ((s, dir) => {
      // Tokenizer APPLY (r16; r17 rewired to the FULL trainer per
      // VERDICT r16 #2) — the other half of the train→apply story:
      // encode the corpus with the 256-budget driver-trained vocab and
      // report per-lang compression (tokens per 1000 words, chars per
      // token in ppm) — the fertility sheet that decides if a tokenizer
      // ships, the BPE analog of docs_token_fertility. Scale shape: the
      // trained dict already carries each word's post-merge symbol count
      // and BROADCASTS as the merge-table product (vocab-bounded model
      // state), so applying is ONE (lang, word) collapse over the corpus
      // joined to the dict — no per-occurrence re-tokenization ever runs.
      // Same [a-z0-9]+/len≥2 word universe as training (documented: the
      // tokenizer only covers what it trained on). The trained dict is
      // LANDED as the bpe_vocab corpus artifact (r17 review): a
      // production apply consumes a stored merge-table product, it never
      // re-trains — the same amortization the IVF index artifacts won;
      // the first consumer of a Bench/Probe pass still pays the training
      // honestly (memo cleared per pass).
      // OOV fallback (r19, ADVICE r18): the trained dict is FLOORED at
      // BpeWordFloor occurrences, so an inner join would silently drop
      // the sub-floor word mass — exactly the rare words with the highest
      // fertility, biasing the sheet optimistically. Untrained words
      // encode at CHAR level (n_sym = n_char: every base char is a
      // symbol — the standard byte/char-fallback a floored BPE tokenizer
      // ships with), so n_words/n_chars/n_tokens cover the FULL word
      // mass again, and the OOV share lands as an explicit column so the
      // coverage is visible instead of implied.
      val nSym = bpeVocabArtifact(s, dir)
      val lw = tWide(s, dir)("documents")
        .select(col("lang"), explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) >= 2 && col("w").rlike("^[a-z0-9]+$"))
        .groupBy("lang", "w").agg(count(lit(1)).as("cnt"))
      lw.join(nSym.select(col("w"), col("n_sym")), Seq("w"), "left")
        .select(col("lang"), col("cnt"),
          length(col("w")).cast("long").as("n_char"),
          coalesce(col("n_sym"), length(col("w")).cast("long")).as("n_sym"),
          col("n_sym").isNull.as("oov"))
        .groupBy("lang")
        .agg(sum(col("cnt")).as("n_words"),
          sum(col("cnt") * col("n_char")).as("n_chars"),
          sum(col("cnt") * col("n_sym")).as("n_tokens"),
          sum(when(col("oov"), col("cnt")).otherwise(0L)).as("n_oov_words"))
        .withColumn("tokens_per_kword",
          call_function("div", col("n_tokens") * lit(1000L), col("n_words")))
        .withColumn("chars_per_token_ppm",
          call_function("div", col("n_chars") * lit(1000000L), col("n_tokens")))
        .withColumn("oov_word_ppm",
          call_function("div", col("n_oov_words") * lit(1000000L), col("n_words")))
        .orderBy("lang")
    }),

    "text_token_length_profile" -> ((s, dir) => {
      // Token-length profile per language (r15) — the table a tokenizer
      // designer reads before picking vocab/merge budgets: token count,
      // mean length (integer ppm), exact p50/p90 via the bounded value
      // histogram (length domain, never a row sort — the
      // q_ship_lag_percentiles discipline), and the long-token (≥15
      // chars) rate that flags unsegmented scripts / URLs / code. One
      // explode + one (lang × len) domain-bounded agg; everything after
      // is histogram-sized. Nearest-rank: smallest len with
      // 100·cum ≥ n·pct (the repo convention).
      val toks = tWide(s, dir)("documents")
        .select(col("lang"), explode(split(col("text"), " ")).as("w"))
        .select(col("lang"), length(col("w")).cast("long").as("len"))
      val hist = toks.groupBy("lang", "len").agg(count(lit(1)).as("c"))
      val tot = hist.groupBy("lang").agg(sum(col("c")).as("n"),
        sum(col("len") * col("c")).as("sum_len"),
        sum(when(col("len") >= 15, col("c")).otherwise(0L)).as("n_long"))
      val wcum = Window.partitionBy("lang").orderBy("len")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      def pick(pct: Int) =
        min(when(col("cum") * 100 >= col("n") * pct, col("len"))).as(s"p$pct")
      hist.withColumn("cum", sum(col("c")).over(wcum))
        .join(broadcast(tot), "lang")
        .groupBy("lang")
        .agg(max(col("n")).as("n_tokens"), pick(50), pick(90),
          max(col("sum_len")).as("sum_len"), max(col("n_long")).as("n_long"))
        .select(col("lang"), col("n_tokens"), col("p50"), col("p90"),
          call_function("div", col("sum_len") * lit(1000000L), col("n_tokens"))
            .as("mean_len_ppm"),
          call_function("div", col("n_long") * lit(1000000L), col("n_tokens"))
            .as("long_ppm"))
        .orderBy("lang")
    }),

    "text_ngram_coverage_target" -> ((s, dir) => {
      // Vocab sizing by coverage TARGET (r15) — the inverse of
      // text_vocab_coverage's fixed-K mass: the smallest vocabulary K
      // covering 95% of token occurrences per language, the number that
      // actually sizes a tokenizer budget. Same COUNT-LEVEL histogram
      // discipline: every word at one count level carries identical
      // mass, so the boundary level is the unique level where the
      // descending cumulative mass crosses target = ceil(95%·total), and
      // K95 = words above it + ceil(remaining/level) — all exact integer
      // arithmetic, the window runs on the level histogram (bounded by
      // distinct count VALUES, not vocab), never a vocab-wide rank.
      val lev = tWide(s, dir)("documents")
        .select(col("lang"), explode(split(col("text"), " ")).as("w"))
        .groupBy("lang", "w").agg(count(lit(1)).as("c"))
        .groupBy("lang", "c").agg(count(lit(1)).as("n_words"))
      val tot = lev.groupBy("lang").agg(
        sum(col("c") * col("n_words")).as("total_occ"),
        sum(col("n_words")).as("vocab"))
      val wAbove = Window.partitionBy("lang").orderBy(col("c").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      lev
        .withColumn("mass_above",
          coalesce(sum(col("c") * col("n_words")).over(wAbove), lit(0L)))
        .withColumn("words_above",
          coalesce(sum(col("n_words")).over(wAbove), lit(0L)))
        .join(broadcast(tot), "lang")
        .withColumn("target",
          call_function("div", col("total_occ") * 95 + 99, lit(100L)))
        .filter(col("mass_above") < col("target") &&
          col("mass_above") + col("c") * col("n_words") >= col("target"))
        .select(col("lang"), col("vocab"), col("total_occ"),
          (col("words_above") + call_function("div",
            col("target") - col("mass_above") + col("c") - 1, col("c")))
            .as("k95"))
        .withColumn("k95_ppm",
          call_function("div", col("k95") * lit(1000000L), col("vocab")))
        .orderBy("lang")
    }),

    "text_fingerprint" -> ((s, dir) =>
      // Content-defined fingerprint: hash of the sorted distinct token bag.
      tWide(s, dir)("documents").select(
        col("doc_id"),
        md5(concat_ws(" ", sort_array(array_distinct(split(col("text"), " "))))).as("fp_bow"),
        size(array_distinct(split(col("text"), " "))).as("n_distinct_tokens"))
        .orderBy("doc_id")),

    "sketch_cms_topk" -> ((s, dir) => {
      // Count-min sketch heavy hitters (round 4): 4 rows × 256 buckets,
      // PORTABLE hashing — ((a_j·x + b_j) mod (2^61−1)) mod 256 over a
      // 31-bit rolling token hash, every constant a literal — so a second
      // engine replays the sketch bit-for-bit (unlike the HLL ops, whose
      // private seeds force self-verification). Bucket counts aggregate
      // from per-token exact counts (vocab-sized, not occurrence-sized);
      // the top-20 exact heavy hitters are then estimated from the
      // sketch: est = min_j bucket[h_j]. CMS guarantees est ≥ exact; the
      // overcount column shows collision noise. At 100 TB the 4×256 longs
      // ARE the point: the sketch is the fixed-size mergeable summary a
      // coordinator can hold for any stream cardinality.
      val toks = tWide(s, dir)("documents")
        .select(explode(split(col("text"), " ")).as("token"))
        .filter(length(col("token")) > 0)
      val cnts = toks.groupBy("token").agg(count(lit(1)).as("exact_cnt"))
      val x31 = expr(
        """aggregate(
             transform(sequence(1, length(token)), i -> ascii(substring(token, i, 1))),
             CAST(17 AS BIGINT),
             (acc, c) -> (acc * 31 + c) % CAST(2147483648 AS BIGINT))""")
      val aLit = typedlit(Seq(1000000007L, 1000000021L, 1000000033L, 1000000087L))
      val bLit = typedlit(Seq(12345L, 67891L, 24680L, 13579L))
      val p = 2305843009213693951L // 2^61 - 1
      val hashed = cnts.withColumn("x31", x31)
        .withColumn("j", explode(array((0 until 4).map(lit): _*)))
        .withColumn("bucket",
          (element_at(aLit, col("j") + 1) * col("x31") + element_at(bLit, col("j") + 1))
            % p % 256)
      val buckets = hashed.groupBy("j", "bucket").agg(sum("exact_cnt").as("bcnt"))
      val top = cnts.orderBy(col("exact_cnt").desc, col("token")).limit(20)
      top.join(hashed.select("token", "j", "bucket"), "token")
        .join(broadcast(buckets), Seq("j", "bucket"))
        .groupBy("token", "exact_cnt")
        .agg(min("bcnt").as("cms_est"))
        .select(col("token"), col("exact_cnt"), col("cms_est"),
          (col("cms_est") - col("exact_cnt")).as("overcount"))
        .orderBy(col("exact_cnt").desc, col("token"))
    }),

    "text_collocations" -> ((s, dir) => {
      // Collocation mining (round 11): adjacent word-pair LIFT — the
      // statistic behind multi-word-expression detection and tokenizer
      // merge decisions beyond raw counts (text_bpe_pair_stats ranks char
      // pairs by frequency; lift normalizes away unigram popularity,
      // separating "of the" from a genuine collocation). Row membership
      // and rank stay in exact integers (support filter c12 >= 3, order
      // c12 desc then pair) — lift is emitted as a safe-rounded display
      // ratio only, so the row set is dialect-proof. Both aggregates are
      // occurrence-sized explodes collapsing onto vocab-bounded frames
      // (scan-bound at any corpus size); the unigram sides join against a
      // provably-50-row top list and a 1-row totals frame, both broadcast.
      val d = tWide(s, dir)("documents").select(split(col("text"), " ").as("ts"))
      val uni = d.select(explode(col("ts")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
      val pairs = d.select(explode(expr(
          """transform(
               CASE WHEN size(ts) >= 2 THEN sequence(0, size(ts) - 2)
                    ELSE array() END,
               i -> struct(ts[i] AS w1, ts[i + 1] AS w2))""")).as("p"))
        .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
        .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      val totals = uni.agg(sum("c").as("n_tok"))
        .crossJoin(pairs.agg(sum("c12").as("n_pair")))
      val top = pairs.filter(col("c12") >= 3)
        .orderBy(col("c12").desc, col("w1"), col("w2")).limit(50)
      val c1 = uni.select(col("w").as("w1"), col("c").as("c1"))
      val c2 = uni.select(col("w").as("w2"), col("c").as("c2"))
      broadcast(top).join(c1, "w1").join(c2, "w2")
        .crossJoin(broadcast(totals))
        .select(col("w1"), col("w2"), col("c12"), col("c1"), col("c2"),
          r6(col("c12").cast("double") * col("n_tok") * col("n_tok")
            / col("n_pair") / col("c1") / col("c2")).as("lift6"))
        .orderBy(col("c12").desc, col("w1"), col("w2"))
    }),

    "text_js_divergence" -> ((s, dir) => {
      // Pairwise per-language Jensen-Shannon divergence of the unigram
      // distributions (round 11) — the domain-shift metric a curator
      // checks between corpus slices (0 = identical mix, ln 2 = disjoint
      // vocabularies). Determinism is the text_entropy recipe taken one
      // step further: with p = c_a/t_a, q = c_b/t_b, every ln argument is
      // rewritten to an INTEGER — 2p/(p+q) = 2A/(A+B) where A = c_a·t_b,
      // B = c_b·t_a — so each word contributes the exact integer
      // c_a·(lnq(2A) − lnq(A+B)) to S_a (ditto S_b), the accumulations
      // (Amplification caveat, ADVICE r11: unlike text_entropy's per-term
      // use, the floored lnq is MULTIPLIED by counts here, so a 1-ulp
      // JVM-Math.log vs DuckDB-std::log disagreement at a value landing
      // within ~1e-9·ǀlnǀ of an integer micro-nat boundary would flip
      // s_a/s_b by ±c_a. Both resolve to the same correctly-rounded
      // libm on this host — a dual-SF oracle break after a host/libm
      // change should be diagnosed HERE first.)
      // are pure integer sums (order-independent), and the only doubles
      // are the two final divisions + r6. One-sided words need no special
      // case beyond the 0·ln guard: c_b = 0 makes the term c_a·lnq-diff
      // of 2A vs A — exactly ln 2. A words×langs dense grid (vocab ×
      // ǀlangsǀ, both bounded) gives the pair join full-outer coverage
      // declaratively. A = c·t products assume c·t < 2^63 — a declared
      // bound (rescale counts at ~1e12-token corpora).
      val lnq = (x: Column) =>
        floor(log(x.cast("double")) * lit(1000000d)).cast("long")
      val cnts = tWide(s, dir)("documents")
        .select(col("lang"), explode(split(col("text"), " ")).as("word"))
        .groupBy("lang", "word").agg(count(lit(1)).as("c"))
      val tot = cnts.groupBy("lang").agg(sum("c").as("t"))
      val grid = cnts.select("word").distinct()
        .crossJoin(broadcast(tot.select("lang")))
        .join(cnts, Seq("lang", "word"), "left")
        .na.fill(0L, Seq("c"))
      val a = grid.select(col("word"), col("lang").as("lang_a"), col("c").as("c_a"))
      val b = grid.select(col("word"), col("lang").as("lang_b"), col("c").as("c_b"))
      val bigA = col("c_a") * col("t_b")
      val bigB = col("c_b") * col("t_a")
      a.join(b, Seq("word")).filter(col("lang_a") < col("lang_b"))
        .join(broadcast(tot.select(col("lang").as("lang_a"), col("t").as("t_a"))),
          Seq("lang_a"))
        .join(broadcast(tot.select(col("lang").as("lang_b"), col("t").as("t_b"))),
          Seq("lang_b"))
        .groupBy("lang_a", "lang_b")
        .agg(
          max(col("t_a")).as("t_a"), max(col("t_b")).as("t_b"),
          sum(when(col("c_a") > 0 || col("c_b") > 0, 1L).otherwise(0L))
            .as("n_words_union"),
          sum(when(col("c_a") > 0,
            col("c_a") * (lnq(bigA * 2) - lnq(bigA + bigB))).otherwise(0L))
            .as("s_a"),
          sum(when(col("c_b") > 0,
            col("c_b") * (lnq(bigB * 2) - lnq(bigA + bigB))).otherwise(0L))
            .as("s_b"))
        .select(col("lang_a"), col("lang_b"), col("n_words_union"),
          col("s_a"), col("s_b"),
          r6((col("s_a").cast("double") / col("t_a")
            + col("s_b").cast("double") / col("t_b")) / lit(2000000d))
            .as("js6"))
        .orderBy("lang_a", "lang_b")
    }),

    "text_vocab_coverage" -> ((s, dir) => {
      // Vocabulary coverage curve (round 11): what fraction of corpus
      // token mass do the top-K words cover (K = 10/100/1000) — the
      // statistic that sizes a tokenizer vocab or stopword list. The naive
      // form ranks the whole vocab in one global window; here a
      // COUNT-LEVEL histogram cumulates instead: every word at one count
      // level carries identical mass, so exact top-K mass = full levels
      // above the boundary + (K − words_above) × boundary count —
      // alphabetic tie order inside a level provably cannot change the
      // answer. The cumulating window therefore runs over DISTINCT COUNT
      // VALUES (≤ O(√tokens) levels — Σ distinct counts ≤ total), not the
      // vocab, so the single-partition frame stays bounded at any corpus
      // size (same histogram pre-cut idea as docs_token_budget_fill).
      import s.implicits._
      val uni = tWide(s, dir)("documents")
        .select(explode(split(col("text"), " ")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
      val levels = uni.groupBy("c").agg(count(lit(1)).as("nw"))
      val wl = Window.orderBy(col("c").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = levels
        .withColumn("cum_words", sum("nw").over(wl))
        .withColumn("cum_mass", sum(col("c") * col("nw")).over(wl))
      val totals = uni.agg(sum("c").as("total_tokens"),
        count(lit(1)).as("vocab_size"))
      val ks = Seq(10L, 100L, 1000L).toDF("k")
      // boundary level = the unique row with the smallest cum_words >= k
      // (cum_words is strictly increasing in the level order)
      val hit = ks.join(cum, col("cum_words") >= col("k"), "left")
        .groupBy("k")
        .agg(min(struct(col("cum_words"), col("c"), col("cum_mass"))).as("b"))
      hit.crossJoin(broadcast(totals))
        .select(col("k"),
          least(col("k"), col("vocab_size")).as("top_words"),
          // k > vocab ⇒ no boundary level matched; min(struct) then yields
          // a STRUCT OF NULLS (never a null struct), so test the field
          when(col("b.cum_words").isNull, col("total_tokens"))
            .otherwise(col("b.cum_mass") - (col("b.cum_words") - col("k")) * col("b.c"))
            .as("covered_tokens"),
          col("total_tokens"))
        .withColumn("coverage_ppm",
          call_function("div", col("covered_tokens") * lit(1000000L),
            col("total_tokens")))
        .orderBy("k")
    }),
    "text_char_class_profile" -> ((s, dir) => {
      // Character-class mix per language — the encoding-corruption / OCR-
      // artifact screen a crawl pipeline runs before any model-side
      // signal: mojibake, binary bleed, and broken decoders all surface
      // as a jump in the non-[a-z0-9 space] share on one lang slice long
      // before perplexity moves. Per-doc class counts come from length
      // differences after class-targeted regexp_replace (all integer, no
      // tokenization), the per-lang rollup is one partial+final agg over
      // a langs-bounded frame, and shares are integer ppm (div) — exact
      // cross-engine by construction. Pure scan-shaped map work: scales
      // embarrassingly; tWide spreads the single-file fixture scan.
      val d = tWide(s, dir)("documents")
      def classCount(re: String): Column =
        (length(col("text")) - length(regexp_replace(col("text"), re, ""))).cast("long")
      val perDoc = d.select(col("lang"),
        length(col("text")).cast("long").as("n"),
        classCount("[a-z]").as("n_alpha"),
        classCount("[0-9]").as("n_digit"),
        classCount(" ").as("n_space"))
      perDoc.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n")).as("n_chars"),
          sum(col("n_alpha")).as("s_alpha"),
          sum(col("n_digit")).as("s_digit"),
          sum(col("n_space")).as("s_space"))
        .select(col("lang"), col("n_docs"), col("n_chars"),
          call_function("div", col("s_alpha") * lit(1000000L), col("n_chars")).as("alpha_ppm"),
          call_function("div", col("s_digit") * lit(1000000L), col("n_chars")).as("digit_ppm"),
          call_function("div", col("s_space") * lit(1000000L), col("n_chars")).as("space_ppm"),
          call_function("div",
            (col("n_chars") - col("s_alpha") - col("s_digit") - col("s_space")) * lit(1000000L),
            col("n_chars")).as("other_ppm"))
        .orderBy("lang")
    }),
    "docs_vocab_growth_heaps" -> ((s, dir) => {
      // Heaps-law vocabulary growth: cumulative distinct-token count vs
      // cumulative token count at ten corpus prefixes in doc_id order —
      // the diversity curve read before scaling a mix (a flattening
      // curve = the source is saturating its domain; still-steep at full
      // size = under-sampled, dedup won't bite yet). Scale shape: the
      // prefix bucket is a MAP-SIDE integer from the broadcast 1-row
      // [min,max] doc_id span (never a global row_number window, which
      // would be one task over the corpus); a token's first occurrence
      // is min(bucket) on the vocab-sized frame; everything after lives
      // on a 10-row frame. All counts exact integers.
      val d = tWide(s, dir)("documents")
      val span = d.agg(min("doc_id").as("min_id"), max("doc_id").as("max_id"))
      val withB = d.join(broadcast(span))
        .withColumn("bucket", call_function("div",
          (col("doc_id") - col("min_id")) * lit(10L),
          col("max_id") - col("min_id") + lit(1L)))
      val sizes = withB.groupBy("bucket").agg(
        count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
      val vocabNew = withB
        .select(col("bucket"), explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
        .groupBy("w").agg(min("bucket").as("fb"))
        .groupBy("fb").agg(count(lit(1)).as("vocab_new"))
      val wl = Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      sizes.join(vocabNew, col("bucket") === col("fb"), "left")
        .select(col("bucket"), col("n_docs"), col("n_tokens"),
          coalesce(col("vocab_new"), lit(0L)).as("vocab_new"))
        .withColumn("docs_cum", sum("n_docs").over(wl))
        .withColumn("tokens_cum", sum("n_tokens").over(wl))
        .withColumn("vocab_cum", sum("vocab_new").over(wl))
        .orderBy("bucket")
    }),
    "docs_source_overlap_jaccard" -> ((s, dir) => {
      // Source-pair vocabulary overlap: exact token-set Jaccard for every
      // source pair sharing ≥1 token — the domain-similarity screen
      // behind mixing and dedup decisions (two crawl seeds with jac over
      // ~0.5 are one site mirrored; a near-zero pair is safe to upsample
      // independently). Scale shape: after the per-(source, token)
      // distinct collapse the frame is ≤ ǀsourcesǀ·ǀvocabǀ and the
      // token-keyed self-join amplifies each token by ≤ C(ǀsourcesǀ,2) —
      // sources are a DIMENSION (20 here, O(100s) real), so the pair
      // stream stays vocab-bounded at any corpus size, never
      // doc-quadratic. Union via inclusion–exclusion from the
      // source-sized vocab-size table (broadcast); integer ppm.
      val d = tWide(s, dir)("documents")
      val st = d.select(col("source"), explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "").distinct()
      val sizes = st.groupBy("source").agg(count(lit(1)).as("v"))
      val inter = st.as("a").join(st.as("b"),
          col("a.w") === col("b.w") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
        .agg(count(lit(1)).as("inter"))
      inter
        .join(broadcast(sizes.select(col("source").as("src_a"), col("v").as("va"))), "src_a")
        .join(broadcast(sizes.select(col("source").as("src_b"), col("v").as("vb"))), "src_b")
        .select(col("src_a"), col("src_b"), col("inter"), col("va"), col("vb"),
          call_function("div", col("inter") * lit(1000000L),
            col("va") + col("vb") - col("inter")).as("jac_ppm"))
        .orderBy("src_a", "src_b")
    }),
    "docs_length_outliers" -> ((s, dir) => {
      // Length-outlier gate per language — the truncation/concatenation
      // QA screen beside the ratio-based text_quality_filter: a doc far
      // below its language's typical length is a navbox/boilerplate
      // fragment, far above is a crawl concatenation or minified blob;
      // both poison token budgets before any content signal moves.
      // events_anomaly_mad's robust med2/MAD recipe keyed by lang, split
      // by direction: medians come from the VALUE HISTOGRAM (cumulative
      // window over distinct char-lengths per lang — bounded by the
      // length domain, never a row sort), deviations stay at 2× scale in
      // exact longs, the 3-MAD cut 2·dev > 3·mad4 is pure integer — no
      // float anywhere, bit-identical cross-engine.
      val d = tWide(s, dir)("documents")
        .select(col("lang"), col("n_chars").cast("long").as("v"))
      def med2ByLang(df: DataFrame, c: String): DataFrame = {
        val hist = df.groupBy(col("lang"), col(c)).agg(count(lit(1)).as("cnt"))
        val wv = Window.partitionBy("lang").orderBy(c)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wn = Window.partitionBy("lang")
        hist.withColumn("cum", sum("cnt").over(wv))
          .withColumn("n", sum("cnt").over(wn))
          .groupBy("lang")
          .agg((min(when(col("cum") >=
              call_function("div", col("n") + 1, lit(2L)), col(c))) +
            min(when(col("cum") >=
              call_function("div", col("n"), lit(2L)) + 1, col(c)))).as("m2"))
      }
      val med = med2ByLang(d, "v").withColumnRenamed("m2", "med2")
      val dev = d.join(broadcast(med), Seq("lang"))
        .select(col("lang"), col("med2"),
          (col("v") * 2 - col("med2")).as("sdev"))
        .withColumn("dev", abs(col("sdev")))
      val mad = med2ByLang(dev.select(col("lang"), col("dev").as("v")), "v")
        .withColumnRenamed("m2", "mad4")
      dev.join(broadcast(mad), Seq("lang"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          max(col("med2")).as("med2_chars"),
          max(col("mad4")).as("mad4_chars"),
          sum(when(col("dev") * 2 > col("mad4") * 3 && col("sdev") < 0, 1L)
            .otherwise(0L)).as("n_short"),
          sum(when(col("dev") * 2 > col("mad4") * 3 && col("sdev") > 0, 1L)
            .otherwise(0L)).as("n_long"))
        .withColumn("n_outliers", col("n_short") + col("n_long"))
        .orderBy("lang")
    }),

    "docs_boilerplate_spans" -> ((s, dir) => {
      // Cross-document boilerplate detection (round 14) — the C4-style
      // span-dedup complement to the WITHIN-doc text_dup_ngram_rate and
      // the chunk-granularity docs_chunk_dup_rate: a token TRIGRAM
      // appearing in ≥5 DISTINCT docs is boilerplate (navigation chrome,
      // legal footers, template scaffolding), and each source is scored
      // by the ppm of its trigram OCCURRENCES that hit a boilerplate
      // span. Two fact-sized passes over the exploded trigram stream
      // (one for df, one for the per-source hit count via a broadcastable
      // join against the boilerplate set — its size is df-thresholded,
      // never corpus-proportional); occurrences keep multiplicity, df
      // counts distinct docs, both exactly as the twin replays.
      // Trigram identity travels as xxhash64(tok,tok,tok) LONGS, never as
      // concatenated strings, and the trigram stream is generated by
      // transforming an arrays_zip OF SLICES — the lambda touches ONLY its
      // own element. The first formulation (transform over sequence(1,n)
      // with element_at(toks, i) in the lambda) re-evaluated the free
      // `toks` expression — the full split(text) — on EVERY element
      // access: ~240 re-splits per doc, probe-measured at 189 s per pass
      // pair at 100×; the zip form is 34 s (5.5×) with bit-identical
      // output (§4.2.19 — lambda bodies must reference the lambda
      // variable, never an expensive free expression). The hash key is
      // injective modulo 2⁻⁶⁴ birthday collisions (~4e-5 at 40M distinct
      // trigrams, corpus-deterministic — never flaky); the DuckDB twin
      // works on the trigram strings themselves, so the differential gate
      // checks exactly the output contract.
      val toks = split(col("text"), " ")
      val nTri = greatest(size(toks) - 2, lit(0))
      val trisH = transform(
        arrays_zip(slice(toks, lit(1), nTri), slice(toks, lit(2), nTri),
          slice(toks, lit(3), nTri)),
        e => xxhash64(e.getField("0"), e.getField("1"), e.getField("2")))
      val occ = tWide(s, dir)("documents")
        .select(col("doc_id"), col("source"), explode(trisH).as("h"))
      val boiler = occ.select("h", "doc_id").distinct()
        .groupBy("h").agg(count(lit(1)).as("df"))
        .filter(col("df") >= 5)
        .select(col("h").as("bh"))
      // no broadcast hint: the boiler set is df-thresholded (≤ occ/5) and
      // tiny on any realistic corpus, but a fully-templated corpus can
      // make it distinct-trigram-sized — AQE picks broadcast at runtime
      // from the ACTUAL post-filter size (the q_part_margin_spread
      // forced-broadcast lesson, §4.2.19)
      occ.join(boiler, col("h") === col("bh"), "left_outer")
        .groupBy("source")
        .agg(count(lit(1)).as("n_spans"),
          sum(when(col("bh").isNotNull, 1L).otherwise(0L)).as("n_boiler_hits"))
        .withColumn("boiler_ppm",
          call_function("div", col("n_boiler_hits") * lit(1000000L),
            col("n_spans")))
        .orderBy("source")
    }),

    "text_inverted_postings" -> ((s, dir) => {
      // Inverted-index posting-list statistics (round 14) — the IR-index
      // build sheet: per word, document frequency (df), collection
      // frequency (cf), and the heaviest posting (top doc by tf, doc-asc
      // ties) — what sizes posting lists, picks compression schemes, and
      // flags stopword-like terms before an index build. One explode →
      // (word, doc) tf agg → vocab-sized rollup with the struct-min
      // argmax (no per-word sort); top-200 by cf via
      // TakeOrderedAndProject, full (cf desc, word) order.
      val tf = tWide(s, dir)("documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        .groupBy("word", "doc_id").agg(count(lit(1)).as("tf"))
      tf.groupBy("word")
        .agg(count(lit(1)).as("df"), sum("tf").as("cf"),
          min(struct((-col("tf")).as("nt"), col("doc_id").as("d"))).as("m"))
        .select(col("word"), col("df"), col("cf"),
          col("m.d").as("top_doc"), (-col("m.nt")).as("top_tf"))
        .orderBy(col("cf").desc, col("word"))
        .limit(200)
    }),

    "docs_token_gini" -> ((s, dir) => {
      // Per-language Gini coefficient of doc token counts (round 14) —
      // the inequality statistic behind corpus-balance audits: a lang
      // whose token mass concentrates in a few giant docs packs, samples,
      // and trains differently from one with uniform doc sizes, and the
      // Gini is the single number curators compare across snapshots.
      // Exact rank formula G = (2·Σi·x(i) − (n+1)·Σx) / (n·Σx) on the
      // ASC-sorted counts. r15 re-plan (the tiny-domain window detector's
      // first catch): the r14 form ranked the FULL doc frame in a 5-value
      // lang window — the ≤5-task sort that dies at 100 TB. Within a tie
      // group (equal tok) Σi·x is rank-order-invariant, so the rank sum
      // is exactly computable from the (lang × tok) VALUE HISTOGRAM:
      // a cell with c docs at value tok after cb smaller-valued docs
      // contributes tok·(c·cb + c(c+1)/2). One fact agg collapses to the
      // domain-bounded cell table; the cumulative window runs on that
      // frame only (the segmentRanked discipline). Output identical.
      // Output in MILLI (×1e3, the sqrt-weight precedent): the ppm form's
      // numerator 2Σi·x·1e6 overflows int64 near 3e5 docs/lang; milli is
      // exact to ~1e7 docs/lang × 80 tokens (declared bound). Numerator
      // is non-negative by the Chebyshev sum inequality, so div never
      // sees a sign (the signed-div dialect trap never arises).
      val cells = tWide(s, dir)("documents")
        .select(col("lang"), size(split(col("text"), " ")).cast("long").as("tok"))
        .groupBy("lang", "tok").agg(count(lit(1)).as("c"))
      val wBefore = Window.partitionBy("lang").orderBy("tok")
        .rowsBetween(Window.unboundedPreceding, -1)
      cells
        .withColumn("cb", coalesce(sum(col("c")).over(wBefore), lit(0L)))
        .withColumn("cell_siw", col("tok") * (col("c") * col("cb") +
          call_function("div", col("c") * (col("c") + 1L), lit(2L))))
        .groupBy("lang")
        .agg(sum(col("c")).as("n_docs"),
          sum(col("tok") * col("c")).as("sum_tokens"),
          sum(col("cell_siw")).as("siw"))
        .withColumn("gini_milli", call_function("div",
          (lit(2L) * col("siw") - (col("n_docs") + 1L) * col("sum_tokens"))
            * lit(1000L),
          col("n_docs") * col("sum_tokens")))
        .select("lang", "n_docs", "sum_tokens", "gini_milli")
        .orderBy("lang")
    }),
  )

  /** The shared BPE CTE chain (word dict → v0 → rounds×(pair census p_r,
    * argmax m_r, rewrite v_r)), mirrored from [[bpeTrainFull]]
    * — the train oracles read the m_r rows, the apply oracle reads
    * v<rounds>, and sharing the chain means they can never drift. Every
    * CTE is MATERIALIZED (r17): DuckDB inlines plain CTEs, and a
    * 256-round chain inlined exponentially exhausts file handles before
    * it even plans; materialization makes the chain exactly the 256
    * sequential vocab-sized passes it describes (~19 s measured at
    * either fixture SF). */
  private def bpeCtes(rounds: Int): String =
    s"""wrd AS MATERIALIZED (
        SELECT w, CAST(COUNT(1) AS BIGINT) AS n FROM (
          SELECT unnest(string_split(text,' ')) AS w FROM documents)
        WHERE length(w) >= 2 AND regexp_matches(w, '^[a-z0-9]+$$')
        GROUP BY 1
        HAVING COUNT(1) >= $BpeWordFloor),
      v0 AS MATERIALIZED (SELECT w, regexp_replace(w, '(.)', '(\\1)', 'g') AS s, n FROM wrd),
      """ +
    (1 to rounds).map(r =>
      s"""p$r AS MATERIALIZED (SELECT ls[i] AS lhs, ls[i+1] AS rhs,
             CAST(SUM(n) AS BIGINT) AS pair_count
           FROM (SELECT string_split(trim(s, '()'), ')(') AS ls, n
                 FROM v${r - 1}) t,
                unnest(range(1, len(ls))) AS u(i)
           GROUP BY 1, 2),
      m$r AS MATERIALIZED (SELECT lhs, rhs, pair_count FROM p$r
              ORDER BY pair_count DESC, lhs, rhs LIMIT 1),
      v$r AS MATERIALIZED (SELECT w,
                CASE WHEN m.lhs IS NOT NULL
                  THEN replace(s, '('||m.lhs||')('||m.rhs||')',
                               '('||m.lhs||m.rhs||')')
                  ELSE s END AS s, n
              FROM v${r - 1} LEFT JOIN m$r m ON TRUE)""").mkString(",\n      ")
    // ^ LEFT JOIN ON TRUE, not a cross join: when a round's pair census is
    // EMPTY (merges exhausted before the budget — every word a single
    // symbol; the FIXTURE exhausts at round 89 of 256) the engine freezes
    // the vocab and stops; a cross join with the empty m_r would DELETE
    // the oracle's vocab instead. Round16Spec pins the degenerate corpus.

  private val BpeCtes: String = bpeCtes(6)

  /** 256-round train oracle: the m_r union is CHUNKED 16×16 — a flat
    * 256-way UNION ALL parses as a left-deep tree past DuckDB's
    * max_expression_depth (1000); two levels keep the depth ~32. */
  private val bpeTrainFullOracleSql: String = {
    val n = BpeMergeBudget
    require(n % 16 == 0, s"chunked union assumes a multiple of 16, got $n")
    def grp(lo: Int, hi: Int) = (lo to hi).map(r =>
      s"SELECT CAST($r AS INT) AS merge_round, lhs, rhs, " +
        s"lhs||rhs AS merged, pair_count, " +
        s"CAST($BpeWordFloor AS BIGINT) AS word_floor FROM m$r")
      .mkString(" UNION ALL ")
    val union = (0 until n / 16).map(g =>
      s"SELECT * FROM (${grp(g * 16 + 1, g * 16 + 16)})")
      .mkString(" UNION ALL ")
    "WITH " + bpeCtes(n) +
      s"\n      SELECT * FROM ($union) ORDER BY merge_round"
  }

  def oracleSql: Map[String, String] = Map(
    "docs_length_outliers" -> """
      WITH e AS (SELECT lang, CAST(n_chars AS BIGINT) AS v FROM documents),
      r1 AS (SELECT lang, v,
                    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY v) AS rn,
                    COUNT(1) OVER (PARTITION BY lang) AS n FROM e),
      med AS (SELECT lang,
                     MAX(CASE WHEN rn = (n + 1) // 2 THEN v END)
                       + MAX(CASE WHEN rn = n // 2 + 1 THEN v END) AS med2
              FROM r1 GROUP BY lang),
      d AS (SELECT e.lang, med.med2, e.v * 2 - med.med2 AS sdev,
                   abs(e.v * 2 - med.med2) AS dev
            FROM e JOIN med ON e.lang = med.lang),
      r2 AS (SELECT lang, dev,
                    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY dev) AS rn,
                    COUNT(1) OVER (PARTITION BY lang) AS n FROM d),
      mad AS (SELECT lang,
                     MAX(CASE WHEN rn = (n + 1) // 2 THEN dev END)
                       + MAX(CASE WHEN rn = n // 2 + 1 THEN dev END) AS mad4
              FROM r2 GROUP BY lang)
      SELECT d.lang, COUNT(1) AS n_docs,
             MAX(d.med2) AS med2_chars, MAX(mad.mad4) AS mad4_chars,
             CAST(SUM(CASE WHEN d.dev * 2 > mad.mad4 * 3 AND d.sdev < 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_short,
             CAST(SUM(CASE WHEN d.dev * 2 > mad.mad4 * 3 AND d.sdev > 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_long,
             CAST(SUM(CASE WHEN d.dev * 2 > mad.mad4 * 3 AND d.sdev <> 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      FROM d JOIN mad ON d.lang = mad.lang
      GROUP BY d.lang ORDER BY d.lang""",
    "docs_vocab_growth_heaps" -> """
      WITH span AS (SELECT MIN(doc_id) AS mn, MAX(doc_id) AS mx FROM documents),
      d AS (SELECT doc_id, text,
                   CAST((doc_id - mn) * 10 // (mx - mn + 1) AS BIGINT) AS bucket
            FROM documents, span),
      sizes AS (SELECT bucket, COUNT(1) AS n_docs,
                       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
                FROM d GROUP BY bucket),
      w AS (SELECT bucket, unnest(string_split(text, ' ')) AS w FROM d),
      fb AS (SELECT w, MIN(bucket) AS fb FROM w WHERE w <> '' GROUP BY w),
      vn AS (SELECT fb AS bucket, COUNT(1) AS vocab_new FROM fb GROUP BY fb)
      SELECT s.bucket, s.n_docs, s.n_tokens,
             CAST(COALESCE(vn.vocab_new, 0) AS BIGINT) AS vocab_new,
             CAST(SUM(s.n_docs) OVER (ORDER BY s.bucket) AS BIGINT) AS docs_cum,
             CAST(SUM(s.n_tokens) OVER (ORDER BY s.bucket) AS BIGINT) AS tokens_cum,
             CAST(SUM(COALESCE(vn.vocab_new, 0)) OVER (ORDER BY s.bucket) AS BIGINT) AS vocab_cum
      FROM sizes s LEFT JOIN vn ON s.bucket = vn.bucket
      ORDER BY s.bucket""",
    "docs_source_overlap_jaccard" -> """
      WITH st AS (SELECT DISTINCT source, w
                  FROM (SELECT source, unnest(string_split(text, ' ')) AS w
                        FROM documents)
                  WHERE w <> ''),
      sz AS (SELECT source, COUNT(1) AS v FROM st GROUP BY source),
      i AS (SELECT a.source AS src_a, b.source AS src_b, COUNT(1) AS inter
            FROM st a JOIN st b ON a.w = b.w AND a.source < b.source
            GROUP BY 1, 2)
      SELECT i.src_a, i.src_b, i.inter, sa.v AS va, sb.v AS vb,
             CAST(i.inter * 1000000 // (sa.v + sb.v - i.inter) AS BIGINT) AS jac_ppm
      FROM i JOIN sz sa ON i.src_a = sa.source
             JOIN sz sb ON i.src_b = sb.source
      ORDER BY src_a, src_b""",
    "text_char_class_profile" -> """
      WITH per AS (SELECT lang, CAST(length(text) AS BIGINT) AS n,
             CAST(length(text) - length(regexp_replace(text, '[a-z]', '', 'g')) AS BIGINT) AS a,
             CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS d,
             CAST(length(text) - length(regexp_replace(text, ' ', '', 'g')) AS BIGINT) AS sp
           FROM documents)
      SELECT lang, COUNT(1) AS n_docs, CAST(SUM(n) AS BIGINT) AS n_chars,
             CAST(SUM(a) * 1000000 // SUM(n) AS BIGINT) AS alpha_ppm,
             CAST(SUM(d) * 1000000 // SUM(n) AS BIGINT) AS digit_ppm,
             CAST(SUM(sp) * 1000000 // SUM(n) AS BIGINT) AS space_ppm,
             CAST((SUM(n) - SUM(a) - SUM(d) - SUM(sp)) * 1000000 // SUM(n) AS BIGINT) AS other_ppm
      FROM per GROUP BY lang ORDER BY lang""",
    "docs_chunk_dup_rate" -> """
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks,
                        len(string_split(text, ' ')) AS n
                 FROM documents),
      c AS (SELECT doc_id, toks,
                   CAST(1 + (GREATEST(n - 64, 0) + 47) // 48 AS INT) AS nc
            FROM t),
      x AS (SELECT doc_id, toks,
                   CAST(unnest(generate_series(0, nc - 1)) AS INT) AS chunk_idx
            FROM c),
      ch AS (SELECT doc_id,
                    sha256(array_to_string(
                      list_slice(toks, chunk_idx * 48 + 1, chunk_idx * 48 + 64),
                      ' ')) AS chunk_sha
             FROM x),
      bysha AS (SELECT chunk_sha, COUNT(DISTINCT doc_id) AS n_docs_with
                FROM ch GROUP BY 1),
      j AS (SELECT ch.doc_id, bysha.n_docs_with
            FROM ch JOIN bysha USING (chunk_sha))
      SELECT doc_id, COUNT(1) AS n_chunks,
             CAST(SUM(CASE WHEN n_docs_with > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_shared,
             (CAST(SUM(CASE WHEN n_docs_with > 1 THEN 1 ELSE 0 END) AS BIGINT)
               * 1000000) // COUNT(1) AS shared_ppm
      FROM j GROUP BY doc_id ORDER BY doc_id""",

    "docs_chunk_sliding_windows" -> """
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks,
                        len(string_split(text, ' ')) AS n
                 FROM documents),
      c AS (SELECT doc_id, toks, n,
                   CAST(1 + (GREATEST(n - 64, 0) + 47) // 48 AS INT) AS nc
            FROM t),
      x AS (SELECT doc_id, toks,
                   CAST(unnest(generate_series(0, nc - 1)) AS INT) AS chunk_idx
            FROM c),
      w AS (SELECT doc_id, chunk_idx, chunk_idx * 48 AS start_tok,
                   list_slice(toks, chunk_idx * 48 + 1, chunk_idx * 48 + 64)
                     AS ctoks
            FROM x)
      SELECT doc_id, chunk_idx, start_tok,
             CAST(len(ctoks) AS INT) AS n_tok,
             sha256(array_to_string(ctoks, ' ')) AS chunk_sha
      FROM w ORDER BY doc_id, chunk_idx""",
    "text_collocations" -> s"""
      WITH d AS (SELECT string_split(text, ' ') AS ts FROM documents),
      uni AS (SELECT unnest(ts) AS w FROM d),
      uc AS (SELECT w, COUNT(1) AS c FROM uni GROUP BY w),
      pr AS (SELECT ts[i] AS w1, ts[i + 1] AS w2
             FROM (SELECT ts, unnest(range(1, len(ts))) AS i FROM d
                   WHERE len(ts) >= 2)),
      pc AS (SELECT w1, w2, COUNT(1) AS c12 FROM pr GROUP BY 1, 2),
      tot AS (SELECT (SELECT CAST(SUM(c) AS BIGINT) FROM uc) AS n_tok,
                     (SELECT CAST(SUM(c12) AS BIGINT) FROM pc) AS n_pair),
      top AS (SELECT w1, w2, c12 FROM pc WHERE c12 >= 3
              ORDER BY c12 DESC, w1, w2 LIMIT 50)
      SELECT w1, w2, c12, u1.c AS c1, u2.c AS c2,
             ${r6Sql("CAST(c12 AS DOUBLE) * n_tok * n_tok / n_pair / u1.c / u2.c")} AS lift6
      FROM top JOIN uc u1 ON u1.w = top.w1 JOIN uc u2 ON u2.w = top.w2
        CROSS JOIN tot
      ORDER BY c12 DESC, w1, w2""",

    "text_js_divergence" -> """
      WITH cnts AS (SELECT lang, w AS word, COUNT(1) AS c
                    FROM (SELECT lang, unnest(string_split(text, ' ')) AS w
                          FROM documents)
                    GROUP BY 1, 2),
      tot AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS t FROM cnts GROUP BY lang),
      grid AS (SELECT w.word, l.lang, COALESCE(c.c, 0) AS c
               FROM (SELECT DISTINCT word FROM cnts) w
                 CROSS JOIN (SELECT lang FROM tot) l
                 LEFT JOIN cnts c ON c.word = w.word AND c.lang = l.lang),
      p AS (SELECT a.word, a.lang AS lang_a, b.lang AS lang_b,
                   a.c AS c_a, b.c AS c_b, ta.t AS t_a, tb.t AS t_b,
                   a.c * tb.t AS biga, b.c * ta.t AS bigb
            FROM grid a JOIN grid b ON a.word = b.word AND a.lang < b.lang
              JOIN tot ta ON ta.lang = a.lang
              JOIN tot tb ON tb.lang = b.lang),
      g AS (SELECT lang_a, lang_b, MAX(t_a) AS t_a, MAX(t_b) AS t_b,
             CAST(SUM(CASE WHEN c_a > 0 OR c_b > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_words_union,
             CAST(SUM(CASE WHEN c_a > 0 THEN c_a *
                 (CAST(floor(ln(CAST(biga * 2 AS DOUBLE)) * 1000000) AS BIGINT)
                  - CAST(floor(ln(CAST(biga + bigb AS DOUBLE)) * 1000000) AS BIGINT))
               ELSE 0 END) AS BIGINT) AS s_a,
             CAST(SUM(CASE WHEN c_b > 0 THEN c_b *
                 (CAST(floor(ln(CAST(bigb * 2 AS DOUBLE)) * 1000000) AS BIGINT)
                  - CAST(floor(ln(CAST(biga + bigb AS DOUBLE)) * 1000000) AS BIGINT))
               ELSE 0 END) AS BIGINT) AS s_b
            FROM p GROUP BY lang_a, lang_b)
      SELECT lang_a, lang_b, n_words_union, s_a, s_b,
             floor((CAST(s_a AS DOUBLE) / t_a + CAST(s_b AS DOUBLE) / t_b)
               / 2000000 * 1000000 + 0.5) / 1000000 AS js6
      FROM g ORDER BY lang_a, lang_b""",

    "text_vocab_coverage" -> """
      WITH uni AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
      uc AS (SELECT w, COUNT(1) AS c FROM uni GROUP BY w),
      lv AS (SELECT c, COUNT(1) AS nw FROM uc GROUP BY c),
      cum AS (SELECT c, nw,
               CAST(SUM(nw) OVER (ORDER BY c DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                 AS cum_words,
               CAST(SUM(c * nw) OVER (ORDER BY c DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                 AS cum_mass
              FROM lv),
      tot AS (SELECT CAST(SUM(c) AS BIGINT) AS total_tokens,
                     CAST(COUNT(1) AS BIGINT) AS vocab_size FROM uc),
      ks(k) AS (VALUES (CAST(10 AS BIGINT)), (100), (1000)),
      b AS (SELECT k, MIN(cum_words) AS bw
            FROM ks JOIN cum ON cum_words >= k GROUP BY k),
      hb AS (SELECT b.k, c.c, c.cum_words, c.cum_mass
             FROM b JOIN cum c ON c.cum_words = b.bw)
      SELECT k.k, least(k.k, t.vocab_size) AS top_words,
             COALESCE(h.cum_mass - (h.cum_words - k.k) * h.c,
                      t.total_tokens) AS covered_tokens,
             t.total_tokens,
             COALESCE(h.cum_mass - (h.cum_words - k.k) * h.c,
                      t.total_tokens) * 1000000 // t.total_tokens
               AS coverage_ppm
      FROM ks k LEFT JOIN hb h ON h.k = k.k CROSS JOIN tot t
      ORDER BY k.k""",
    "sketch_cms_topk" -> """
      WITH toks AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
      t AS (SELECT token FROM toks WHERE length(token) > 0),
      cnts AS (SELECT token, COUNT(1) AS exact_cnt FROM t GROUP BY token),
      hx AS (SELECT token, exact_cnt,
                    list_reduce(list_prepend(CAST(17 AS BIGINT),
                      list_transform(range(1, length(token) + 1),
                        i -> CAST(ord(substring(token, i, 1)) AS BIGINT))),
                      (a, c) -> (a * 31 + c) % 2147483648) AS x31
             FROM cnts),
      params(j, a, b) AS (VALUES
        (0, 1000000007, 12345), (1, 1000000021, 67891),
        (2, 1000000033, 24680), (3, 1000000087, 13579)),
      bx AS (SELECT token, exact_cnt, j,
                    ((a * x31 + b) % 2305843009213693951) % 256 AS bucket
             FROM hx CROSS JOIN params),
      buckets AS (SELECT j, bucket, CAST(SUM(exact_cnt) AS BIGINT) AS bcnt
                  FROM bx GROUP BY j, bucket),
      top AS (SELECT token, exact_cnt FROM cnts
              ORDER BY exact_cnt DESC, token LIMIT 20)
      SELECT t.token, t.exact_cnt, MIN(b.bcnt) AS cms_est,
             MIN(b.bcnt) - t.exact_cnt AS overcount
      FROM top t
        JOIN bx ON t.token = bx.token
        JOIN buckets b ON bx.j = b.j AND bx.bucket = b.bucket
      GROUP BY t.token, t.exact_cnt
      ORDER BY t.exact_cnt DESC, t.token""",
    "dedup_exact" -> """
      SELECT sha256(lower(trim(text))) AS h, MIN(doc_id) AS doc_id, COUNT(1) AS dup_cnt
      FROM documents GROUP BY 1 ORDER BY doc_id""",
    "text_containment" -> s"""
      WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      sh0 AS (SELECT doc_id, array_to_string(ts[i:i+2], ' ') AS shingle
              FROM (SELECT doc_id, ts, unnest(range(1, len(ts) - 1)) AS i FROM tok)),
      sh AS (SELECT DISTINCT doc_id, shingle FROM sh0),
      shc AS (SELECT doc_id, shingle FROM (
                SELECT doc_id, shingle,
                       COUNT(1) OVER (PARTITION BY shingle) AS df FROM sh)
              WHERE df <= 100),
      sz AS (SELECT doc_id, COUNT(1) AS n FROM shc GROUP BY doc_id),
      ix AS (SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(1) AS inter
             FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
             GROUP BY 1, 2)
      SELECT id1, id2, inter, s1.n AS n1, s2.n AS n2,
             ${r6Sql("CAST(inter AS DOUBLE) / least(s1.n, s2.n)")} AS cont6
      FROM ix JOIN sz s1 ON id1 = s1.doc_id JOIN sz s2 ON id2 = s2.doc_id
      WHERE inter * 2 > least(s1.n, s2.n)
      ORDER BY id1, id2""",
    "jaccard_pairs" -> s"""
      WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      sh0 AS (SELECT doc_id, array_to_string(ts[i:i+2], ' ') AS shingle
              FROM (SELECT doc_id, ts, unnest(range(1, len(ts) - 1)) AS i FROM tok)),
      sh AS (SELECT DISTINCT doc_id, shingle FROM sh0),
      shc AS (SELECT doc_id, shingle FROM (
                SELECT doc_id, shingle,
                       COUNT(1) OVER (PARTITION BY shingle) AS df FROM sh)
              WHERE df <= 100),
      sz AS (SELECT doc_id, COUNT(1) AS n FROM shc GROUP BY doc_id),
      ix AS (SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(1) AS inter
             FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
             GROUP BY 1, 2)
      SELECT id1, id2, inter, (s1.n + s2.n - inter) AS uni,
             ${r6Sql("CAST(inter AS DOUBLE) / (s1.n + s2.n - inter)")} AS jac
      FROM ix JOIN sz s1 ON id1 = s1.doc_id JOIN sz s2 ON id2 = s2.doc_id
      WHERE CAST(inter AS DOUBLE) / (s1.n + s2.n - inter) > 0.1
      ORDER BY id1, id2""",
    "text_keyness_llr" -> {
      def t(k: String) = s"(CASE WHEN ($k) > 0 THEN ($k) * " +
        s"CAST(floor(ln(CAST(($k) AS DOUBLE)) * 1000000) AS BIGINT) ELSE 0 END)"
      s"""
      WITH ranked AS (SELECT lang, ROW_NUMBER() OVER (ORDER BY COUNT(1) DESC,
                        lang) AS rk
                      FROM documents GROUP BY lang),
      ab AS (SELECT MAX(CASE WHEN rk = 1 THEN lang END) AS la,
                    MAX(CASE WHEN rk = 2 THEN lang END) AS lb FROM ranked),
      w AS (SELECT d.lang, unnest(string_split(d.text, ' ')) AS word
            FROM documents d, ab WHERE d.lang IN (ab.la, ab.lb)),
      wc AS (SELECT word,
               CAST(SUM(CASE WHEN lang = (SELECT la FROM ab) THEN 1 ELSE 0 END)
                 AS BIGINT) AS c_a,
               CAST(SUM(CASE WHEN lang = (SELECT lb FROM ab) THEN 1 ELSE 0 END)
                 AS BIGINT) AS c_b
             FROM w GROUP BY word),
      tot AS (SELECT CAST(SUM(c_a) AS BIGINT) AS na,
                     CAST(SUM(c_b) AS BIGINT) AS nb FROM wc),
      g AS (SELECT word, c_a, c_b, na, nb,
                   2 * (${t("c_a")} + ${t("c_b")} + ${t("na - c_a")}
                      + ${t("nb - c_b")} - ${t("c_a + c_b")}
                      - ${t("na + nb - c_a - c_b")} - ${t("na")} - ${t("nb")}
                      + ${t("na + nb")}) AS g2_u
            FROM wc, tot WHERE c_a + c_b >= 5)
      SELECT word, c_a, c_b, CAST(g2_u AS BIGINT) AS g2_u,
             CASE WHEN c_a * nb > c_b * na THEN (SELECT la FROM ab)
                  ELSE (SELECT lb FROM ab) END AS key_lang
      FROM g ORDER BY g2_u DESC, word LIMIT 30"""
    },
    "text_wordcount" -> """
      SELECT lang, token, COUNT(1) AS cnt
      FROM (SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents)
      GROUP BY lang, token
      ORDER BY cnt DESC, lang, token LIMIT 50""",
    "text_tfidf_top" -> s"""
      WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      tf AS (SELECT doc_id, term, COUNT(1) AS tf FROM toks GROUP BY doc_id, term),
      dfreq AS (SELECT term, COUNT(1) AS df FROM tf GROUP BY term),
      n AS (SELECT COUNT(1) AS n_docs FROM documents),
      scored AS (
        SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
               tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dfreq.df) AS score_raw
        FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN n),
      ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                     ORDER BY score_raw DESC, term) AS rn
        FROM scored)
      SELECT doc_id, term, tf, df, ${r6Sql("score_raw")} AS score, CAST(rn AS INT) AS rn
      FROM ranked WHERE rn <= 3 ORDER BY doc_id, rn""",
    "text_bm25_topk" -> """
      WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      tf AS (SELECT doc_id, term, COUNT(1) AS tf FROM toks GROUP BY 1, 2),
      dl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl FROM documents),
      tot AS (SELECT COUNT(1) AS n_docs, SUM(dl) AS len_total FROM dl),
      tr AS (SELECT term, COUNT(1) AS cnt FROM toks GROUP BY 1),
      topt AS (SELECT term, ROW_NUMBER() OVER (ORDER BY cnt DESC, term) - 1 AS i
               FROM tr ORDER BY cnt DESC, term LIMIT 10),
      qterms AS (SELECT CAST(i // 2 AS INT) AS qid, term FROM topt),
      qtf AS (SELECT q.qid, q.term, tf.doc_id, tf.tf
              FROM tf JOIN qterms q ON tf.term = q.term),
      dfr AS (SELECT qid, term, COUNT(1) AS df FROM qtf GROUP BY 1, 2),
      sc AS (SELECT qtf.qid, qtf.doc_id,
               CAST(floor(
                 ln(CAST(tot.n_docs * 2 + 2 AS DOUBLE) / (dfr.df * 2 + 1))
                 * (CAST(qtf.tf AS DOUBLE) * tot.len_total * 22
                    / (CAST(qtf.tf AS DOUBLE) * tot.len_total * 10
                       + CAST(tot.len_total AS DOUBLE) * 3
                       + CAST(dl.dl AS DOUBLE) * tot.n_docs * 9))
                 * 1000000.0) AS BIGINT) AS s_micro
             FROM qtf
               JOIN dfr ON qtf.qid = dfr.qid AND qtf.term = dfr.term
               JOIN dl ON dl.doc_id = qtf.doc_id
               CROSS JOIN tot),
      agg AS (SELECT qid, doc_id, CAST(SUM(s_micro) AS BIGINT) AS score_micro,
                     CAST(COUNT(1) AS INT) AS n_terms
              FROM sc GROUP BY 1, 2),
      r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                        ORDER BY score_micro DESC, doc_id) AS rn
            FROM agg)
      SELECT qid, CAST(rn AS INT) AS rn, doc_id, score_micro, n_terms
      FROM r WHERE rn <= 10 ORDER BY qid, rn""",
    "text_lang_profile" -> """
      SELECT lang, COUNT(1) AS docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
             COUNT(DISTINCT source) AS d_sources,
             MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
      FROM documents GROUP BY lang ORDER BY lang""",
    "text_quality_score" -> s"""
      SELECT doc_id, n_chars,
             CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
             ${r6Sql("CAST(length(text) AS DOUBLE) / len(string_split(text, ' '))")} AS avg_tok_len,
             CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS INT) AS punct_cnt,
             CAST(len(list_filter(string_split(text, ' '),
               x -> x IN ('the','of','and','a','to','in','is','data'))) AS INT) AS stop_cnt,
             ${r6Sql("CAST(len(list_filter(string_split(text, ' '), x -> x IN ('the','of','and','a','to','in','is','data'))) AS DOUBLE) / len(string_split(text, ' '))")} AS stop_ratio
      FROM documents ORDER BY doc_id""",
    "text_readability" -> s"""
      WITH c AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS INT) AS n_words,
               CAST(GREATEST(length(regexp_replace(text, '[.!?]+', '@', 'g'))
                   - length(regexp_replace(text, '[.!?]+', '', 'g')),
                 1) AS INT) AS n_sentences,
               CAST(length(regexp_replace(text, '[aeiou]+', '@', 'g'))
                   - length(regexp_replace(text, '[aeiou]+', '', 'g')) AS INT)
                 AS n_syllables
        FROM documents)
      SELECT doc_id, n_words, n_sentences, n_syllables,
             ${r6Sql("206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)" +
               " - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words)")} AS flesch6
      FROM c ORDER BY doc_id""",

    "text_token_count" -> """
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS INT) AS ws_tokens,
             CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS INT) AS bpe_ish_tokens
      FROM documents ORDER BY doc_id""",
    "docs_token_fertility" -> s"""
      WITH tok AS (SELECT lang, n_chars,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
             CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS BIGINT) AS bpe_tokens
           FROM documents),
      a AS (SELECT lang, COUNT(1) AS n_docs,
                   CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
                   CAST(SUM(ws_tokens) AS BIGINT) AS sum_ws_tokens,
                   CAST(SUM(bpe_tokens) AS BIGINT) AS sum_bpe_tokens
            FROM tok GROUP BY lang)
      SELECT lang, n_docs, sum_chars, sum_ws_tokens, sum_bpe_tokens,
             CASE WHEN sum_bpe_tokens > 0 THEN
               ${r4Sql("CAST(sum_chars AS DOUBLE) / sum_bpe_tokens")} END AS chars_per_bpe4,
             CASE WHEN sum_ws_tokens > 0 THEN
               ${r4Sql("CAST(sum_chars AS DOUBLE) / sum_ws_tokens")} END AS chars_per_ws4
      FROM a ORDER BY lang""",
    "docs_tokenize_offsets" -> """
      WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token,
                         generate_subscripts(string_split(text, ' '), 1) - 1 AS idx
                  FROM documents),
      c AS (SELECT doc_id, idx, token,
                   CAST(SUM(length(token)) OVER (PARTITION BY doc_id ORDER BY idx
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS BIGINT) AS cum_len
            FROM tk)
      SELECT doc_id, CAST(idx AS INT) AS idx, token,
             cum_len - length(token) + idx AS start_off,
             cum_len + idx AS end_off
      FROM c ORDER BY doc_id, idx""",

    "text_winnowing_fingerprints" -> """
      WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      pos AS (SELECT doc_id, unnest(range(1, greatest(len(tk) - 2, 0) + 1)) AS i, tk
              FROM toks),
      sh0 AS (SELECT doc_id, i, array_to_string(tk[i:i+2], ' ') AS sg FROM pos),
      sh AS (SELECT doc_id, i,
               list_reduce(list_prepend(CAST(17 AS BIGINT),
                 list_transform(range(1, length(sg) + 1),
                   j -> CAST(ord(substring(sg, j, 1)) AS BIGINT))),
                 (a, c) -> (a * 31 + c) % 2147483648) AS h
             FROM sh0),
      win AS (SELECT doc_id,
                MIN(h) OVER (PARTITION BY doc_id ORDER BY i
                             ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
                COUNT(1) OVER (PARTITION BY doc_id ORDER BY i
                               ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS nf
              FROM sh),
      fps AS (SELECT DISTINCT doc_id, fp FROM win WHERE nf = 4),
      dc AS (SELECT fp, COUNT(DISTINCT doc_id) AS n_docs_fp FROM fps GROUP BY fp),
      pd AS (SELECT f.doc_id, COUNT(1) AS n_fps,
                    CAST(SUM(CASE WHEN dc.n_docs_fp >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                      AS n_shared
             FROM fps f JOIN dc ON f.fp = dc.fp GROUP BY f.doc_id),
      base AS (SELECT doc_id,
                      CAST(greatest(len(string_split(text, ' ')) - 2, 0) AS BIGINT)
                        AS n_shingles
               FROM documents)
      SELECT b.doc_id, b.n_shingles,
             COALESCE(n_fps, 0) AS n_fps, COALESCE(n_shared, 0) AS n_shared,
             CASE WHEN COALESCE(n_fps, 0) > 0
               THEN COALESCE(n_shared, 0) * 1000000 // n_fps END AS shared_ppm
      FROM base b LEFT JOIN pd ON b.doc_id = pd.doc_id
      ORDER BY b.doc_id""",

    "dedup_assign_canonical" -> """
      SELECT doc_id,
             MIN(doc_id) OVER (PARTITION BY sha256(lower(trim(text)))) AS canonical_id,
             doc_id = MIN(doc_id) OVER (PARTITION BY sha256(lower(trim(text)))) AS is_canonical
      FROM documents ORDER BY doc_id""",
    "text_quality_filter" -> """
      SELECT doc_id, lang, n_chars, n_tokens, stop_cnt, punct_cnt FROM (
        SELECT doc_id, lang, n_chars,
               CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
               CAST(len(list_filter(string_split(text, ' '),
                 x -> x IN ('the','of','and','a','to','in','is','data'))) AS INT) AS stop_cnt,
               CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS INT) AS punct_cnt
        FROM documents)
      WHERE n_tokens >= 5 AND stop_cnt * 2 <= n_tokens AND punct_cnt * 10 <= n_chars
      ORDER BY doc_id""",
    "text_scrub" -> """
      SELECT doc_id, scrubbed, n_masked, sha256(scrubbed) AS scrub_sha FROM (
        SELECT doc_id,
               trim(regexp_replace(regexp_replace(text, '[0-9]+', '<num>', 'g'), '  +', ' ', 'g')) AS scrubbed,
               CAST(len(regexp_extract_all(text, '[0-9]+')) AS INT) AS n_masked
        FROM documents)
      ORDER BY doc_id""",
    "docs_curation_funnel" -> """
      WITH staged AS (
        SELECT doc_id, n_chars, text,
               CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
               CAST(len(list_filter(string_split(text, ' '),
                 x -> x IN ('the','of','and','a','to','in','is','data'))) AS INT) AS stop_cnt,
               CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS INT) AS punct_cnt
        FROM documents),
      flagged AS (
        SELECT doc_id, n_chars, text,
               (n_tokens >= 5 AND stop_cnt * 2 <= n_tokens
                AND punct_cnt * 10 <= n_chars) AS q_pass
        FROM staged),
      s01 AS (SELECT COUNT(1) AS raw_docs,
                     CAST(SUM(n_chars) AS BIGINT) AS raw_chars,
                     CAST(SUM(CASE WHEN q_pass THEN 1 ELSE 0 END) AS BIGINT) AS q_docs,
                     CAST(SUM(CASE WHEN q_pass THEN n_chars ELSE 0 END) AS BIGINT) AS q_chars
              FROM flagged),
      canon AS (
        SELECT COUNT(1) AS d_docs, CAST(SUM(n_chars) AS BIGINT) AS d_chars
        FROM (
          SELECT doc_id, n_chars, MIN(doc_id) OVER (PARTITION BY sha256(
            trim(regexp_replace(regexp_replace(text, '[0-9]+', '<num>', 'g'),
                                '  +', ' ', 'g')))) AS canonical_id
          FROM flagged WHERE q_pass)
        WHERE doc_id = canonical_id)
      SELECT stage, stage_name, n_docs, n_chars,
             n_docs * 1000000 // raw_docs AS kept_ppm
      FROM (
        SELECT CAST(0 AS BIGINT) AS stage, 'raw' AS stage_name,
               raw_docs AS n_docs, raw_chars AS n_chars, raw_docs FROM s01
        UNION ALL
        SELECT 1, 'quality', q_docs, q_chars, raw_docs FROM s01
        UNION ALL
        SELECT 2, 'dedup', d_docs, d_chars, raw_docs FROM s01, canon)
      ORDER BY stage""",

    "pipeline_clean_corpus" -> """
      WITH staged AS (
        SELECT doc_id, lang, source, n_chars, text,
               CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
               CAST(len(list_filter(string_split(text, ' '),
                 x -> x IN ('the','of','and','a','to','in','is','data'))) AS INT) AS stop_cnt,
               CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS INT) AS punct_cnt
        FROM documents),
      kept AS (
        SELECT doc_id, lang, source, n_chars,
               trim(regexp_replace(regexp_replace(text, '[0-9]+', '<num>', 'g'), '  +', ' ', 'g')) AS scrubbed
        FROM staged
        WHERE n_tokens >= 5 AND stop_cnt * 2 <= n_tokens AND punct_cnt * 10 <= n_chars),
      canon AS (
        SELECT * FROM (
          SELECT *, MIN(doc_id) OVER (PARTITION BY sha256(scrubbed)) AS canonical_id
          FROM kept)
        WHERE doc_id = canonical_id)
      SELECT lang, COUNT(1) AS kept_docs,
             CAST(SUM(n_chars) AS BIGINT) AS kept_chars,
             COUNT(DISTINCT source) AS d_sources
      FROM canon GROUP BY lang ORDER BY lang""",
    "docs_sample_stratified" -> s"""
      SELECT lang, total_docs, sampled_docs,
             ${r6Sql("CAST(sampled_docs AS DOUBLE) / total_docs")} AS ratio6
      FROM (SELECT lang, COUNT(1) AS total_docs,
                   CAST(SUM(CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                            IN ('0','1','2','3','4','5','6','7') THEN 1 ELSE 0 END) AS BIGINT) AS sampled_docs
            FROM documents GROUP BY lang)
      ORDER BY lang""",
    "docs_topk_quality_per_lang" -> """
      WITH scored AS (
        SELECT doc_id, lang,
               CAST(len(string_split(text, ' ')) AS BIGINT) * 10
                 - CAST(len(list_filter(string_split(text, ' '),
                     x -> x IN ('the','of','and','a','to','in','is','data'))) AS BIGINT) * 5
                 - CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS BIGINT)
                 AS quality
        FROM documents)
      SELECT lang, CAST(rk AS INT) AS rk, doc_id, quality FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
                                     ORDER BY quality DESC, doc_id) AS rk
        FROM scored)
      WHERE rk <= 10 ORDER BY lang, rk""",
    "text_ngram_freq" -> """
      SELECT lang, tri, COUNT(1) AS cnt FROM (
        SELECT lang, substring(text, i, 3) AS tri
        FROM (SELECT lang, text, unnest(range(1, length(text) - 1)) AS i
              FROM documents WHERE length(text) >= 3))
      GROUP BY lang, tri
      ORDER BY cnt DESC, lang, tri LIMIT 100""",
    "text_fuzzy_pairs" -> s"""
      WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      sh0 AS (SELECT doc_id, array_to_string(ts[i:i+2], ' ') AS shingle
              FROM (SELECT doc_id, ts, unnest(range(1, len(ts) - 1)) AS i FROM tok)),
      sh AS (SELECT DISTINCT doc_id, shingle FROM sh0),
      shc AS (SELECT doc_id, shingle FROM (
                SELECT doc_id, shingle,
                       COUNT(1) OVER (PARTITION BY shingle) AS df FROM sh)
              WHERE df <= 100),
      sz AS (SELECT doc_id, COUNT(1) AS n FROM shc GROUP BY doc_id),
      ix AS (SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(1) AS inter
             FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
             GROUP BY 1, 2),
      pairs AS (SELECT id1, id2
                FROM ix JOIN sz s1 ON id1 = s1.doc_id JOIN sz s2 ON id2 = s2.doc_id
                WHERE CAST(inter AS DOUBLE) / (s1.n + s2.n - inter) > 0.1)
      SELECT p.id1, p.id2,
             CAST(levenshtein(d1.text, d2.text) AS INT) AS edit_dist,
             CAST(GREATEST(length(d1.text), length(d2.text)) AS INT) AS max_len,
             ${r6Sql("1.0 - CAST(levenshtein(d1.text, d2.text) AS DOUBLE) / GREATEST(length(d1.text), length(d2.text))")} AS sim6
      FROM pairs p JOIN documents d1 ON p.id1 = d1.doc_id
                   JOIN documents d2 ON p.id2 = d2.doc_id
      ORDER BY p.id1, p.id2""",
    "docs_length_buckets" -> """
      SELECT lang, bucket, COUNT(1) AS n_docs,
             MIN(n_tokens) AS min_tok, MAX(n_tokens) AS max_tok,
             CAST(SUM(n_tokens) AS BIGINT) AS sum_tok
      FROM (SELECT lang,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                   LEAST(CAST(floor(CAST(len(string_split(text, ' ')) AS BIGINT) / 20) AS BIGINT),
                         10) AS bucket
            FROM documents)
      GROUP BY lang, bucket ORDER BY lang, bucket""",
    "docs_pack_greedy" -> """
      WITH d AS (SELECT lang, doc_id,
                        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
                 FROM documents),
      c AS (SELECT lang, doc_id, n_tokens,
                   CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
            FROM d)
      SELECT lang, CAST(floor((cum - n_tokens) / 2000) AS BIGINT) AS batch_id,
             COUNT(1) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
             MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
      FROM c GROUP BY lang, batch_id ORDER BY lang, batch_id""",
    "text_dup_ngram_rate" -> s"""
      WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      base AS (SELECT doc_id,
                      GREATEST(CAST(len(ts) AS BIGINT) - 2, 0) AS total_tri
               FROM tok),
      sh0 AS (SELECT doc_id, array_to_string(ts[i:i+2], ' ') AS shingle
              FROM (SELECT doc_id, ts, unnest(range(1, len(ts) - 1)) AS i FROM tok)),
      u AS (SELECT doc_id, COUNT(DISTINCT shingle) AS uniq_tri FROM sh0 GROUP BY doc_id)
      SELECT b.doc_id, b.total_tri,
             CAST(COALESCE(u.uniq_tri, 0) AS BIGINT) AS uniq_tri,
             CASE WHEN b.total_tri > 0
                  THEN ${r6Sql("1.0 - CAST(COALESCE(u.uniq_tri, 0) AS DOUBLE) / b.total_tri")}
                  ELSE 0.0 END AS rep6
      FROM base b LEFT JOIN u ON b.doc_id = u.doc_id
      ORDER BY b.doc_id""",
    "text_repetition_signals" -> s"""
      WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      w AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words, unnest(ws) AS word
            FROM tok),
      wc AS (SELECT doc_id, n_words, word, COUNT(1) AS cnt FROM w GROUP BY 1, 2, 3),
      wtop AS (SELECT doc_id, n_words, word, cnt,
                      row_number() OVER (PARTITION BY doc_id
                                         ORDER BY cnt DESC, word) AS rk
               FROM wc),
      bg AS (SELECT doc_id, array_to_string(ws[i:i+1], ' ') AS bigram
             FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i
                   FROM tok WHERE len(ws) >= 2)),
      bc AS (SELECT doc_id, bigram, COUNT(1) AS cnt FROM bg GROUP BY 1, 2),
      btop AS (SELECT doc_id, bigram, cnt,
                      row_number() OVER (PARTITION BY doc_id
                                         ORDER BY cnt DESC, bigram) AS rk
               FROM bc)
      SELECT w.doc_id, w.n_words, w.word AS top_word,
             CAST(w.cnt AS BIGINT) AS top_word_cnt,
             ${r6Sql("CAST(w.cnt AS DOUBLE) / w.n_words")} AS top_word_frac6,
             COALESCE(b.bigram, '') AS top_bigram,
             CAST(COALESCE(b.cnt, 0) AS BIGINT) AS top_bigram_cnt,
             CASE WHEN w.n_words > 1
                  THEN ${r6Sql("CAST(COALESCE(b.cnt, 0) AS DOUBLE) / (w.n_words - 1)")}
                  ELSE 0.0 END AS top_bigram_frac6
      FROM (SELECT * FROM wtop WHERE rk = 1) w
      LEFT JOIN (SELECT * FROM btop WHERE rk = 1) b ON w.doc_id = b.doc_id
      ORDER BY w.doc_id""",
    "text_entropy" -> s"""
      WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      w AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words, unnest(ws) AS word
            FROM tok),
      wc AS (SELECT doc_id, n_words, word, COUNT(1) AS c FROM w GROUP BY 1, 2, 3),
      agg AS (SELECT doc_id, n_words,
                     CAST(SUM(c * CAST(floor(ln(CAST(c AS DOUBLE)) * 1000000)
                                       AS BIGINT)) AS BIGINT) AS sum_c_lnc_u
              FROM wc GROUP BY 1, 2)
      SELECT doc_id, n_words, sum_c_lnc_u,
             ${r6Sql("(CAST(floor(ln(CAST(n_words AS DOUBLE)) * 1000000) AS BIGINT)" +
               " * n_words - sum_c_lnc_u) / (CAST(n_words AS DOUBLE) * 1000000)")}
               AS entropy6
      FROM agg ORDER BY doc_id""",
    "text_hashed_features" -> """
      WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
                   FROM documents),
      bk AS (SELECT doc_id,
               ((list_reduce(list_prepend(CAST(17 AS BIGINT),
                   list_transform(range(1, length(t) + 1),
                     i -> CAST(ord(substring(t, i, 1)) AS BIGINT))),
                   (a, c) -> (a * 31 + c) % 2147483648) % 16) + 16) % 16 AS b
             FROM tok),
      cnt AS (SELECT doc_id, b, COUNT(1) AS c FROM bk GROUP BY 1, 2),
      top AS (SELECT doc_id, b, c,
                ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY c DESC, b) AS rn
              FROM cnt),
      nz AS (SELECT doc_id, CAST(COUNT(1) AS INT) AS nnz_buckets
             FROM cnt GROUP BY 1)
      SELECT d.doc_id,
             CAST(len(string_split(d.text, ' ')) AS INT) AS n_tokens,
             nz.nnz_buckets,
             CAST(t.b AS INT) AS top_bucket,
             CAST(t.c AS INT) AS top_bucket_cnt
      FROM documents d
        JOIN nz ON d.doc_id = nz.doc_id
        JOIN top t ON d.doc_id = t.doc_id AND t.rn = 1
      ORDER BY d.doc_id""",
    "text_zipf_slope" -> s"""
      WITH w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
      c AS (SELECT word, COUNT(1) AS cnt FROM w WHERE word <> ''
            GROUP BY word ORDER BY cnt DESC, word LIMIT 100),
      r AS (SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, word) AS rnk
            FROM c),
      q AS (SELECT CAST(floor(ln(CAST(rnk AS DOUBLE)) * 1000000) AS BIGINT) AS x,
                   CAST(floor(ln(CAST(cnt AS DOUBLE)) * 1000000) AS BIGINT) AS y
            FROM r),
      s AS (SELECT COUNT(1) AS n, CAST(SUM(x) AS BIGINT) AS sx,
                   CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(x * y) AS BIGINT) AS sxy,
                   CAST(SUM(x * x) AS BIGINT) AS sxx
            FROM q)
      SELECT n AS n_top,
             ${r6Sql("CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)")} AS slope6
      FROM s""",
    "text_ngram_novelty" -> """
      WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      bg0 AS (SELECT doc_id, array_to_string(ts[i:i+1], ' ') AS bg
              FROM (SELECT doc_id, ts, unnest(range(1, len(ts))) AS i FROM tok)),
      bg AS (SELECT DISTINCT doc_id, bg FROM bg0),
      fd AS (SELECT bg, MIN(doc_id) AS first_doc FROM bg GROUP BY bg)
      SELECT b.doc_id, COUNT(1) AS n_bigrams,
             CAST(SUM(CASE WHEN f.first_doc = b.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
             CAST(SUM(CASE WHEN f.first_doc = b.doc_id THEN 1 ELSE 0 END) * 1000000
                  // COUNT(1) AS BIGINT) AS novelty_ppm
      FROM bg b JOIN fd f ON b.bg = f.bg
      GROUP BY b.doc_id ORDER BY b.doc_id""",

    "docs_char_lm" -> s"""
      WITH bg AS (SELECT lang, substring(text, i, 2) AS bg
                  FROM (SELECT lang, text, unnest(range(1, length(text))) AS i
                        FROM documents WHERE length(text) >= 2)),
      cnt2 AS (SELECT lang, bg, COUNT(1) AS c2 FROM bg GROUP BY lang, bg),
      cnt1 AS (SELECT lang, substring(bg, 1, 1) AS c1,
                      CAST(SUM(c2) AS BIGINT) AS c1cnt
               FROM cnt2 GROUP BY 1, 2),
      scored AS (SELECT cnt2.lang, cnt2.bg, cnt2.c2, cnt1.c1cnt,
                        ${r6Sql("CAST(cnt2.c2 AS DOUBLE) / cnt1.c1cnt")} AS p6
                 FROM cnt2 JOIN cnt1
                   ON cnt2.lang = cnt1.lang AND substring(cnt2.bg, 1, 1) = cnt1.c1)
      SELECT lang, CAST(rk AS INT) AS rk, bg, c2, c1cnt, p6 FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
                                     ORDER BY p6 DESC, bg) AS rk
        FROM scored)
      WHERE rk <= 5 ORDER BY lang, rk""",
    "text_ngram_coverage_target" -> """
      WITH cnt AS (SELECT lang, w, COUNT(1) AS c FROM (
                     SELECT lang, unnest(string_split(text, ' ')) AS w
                     FROM documents) GROUP BY 1, 2),
      lev AS (SELECT lang, c, COUNT(1) AS n_words FROM cnt GROUP BY 1, 2),
      tot AS (SELECT lang, CAST(SUM(c * n_words) AS BIGINT) AS total_occ,
                     CAST(SUM(n_words) AS BIGINT) AS vocab
              FROM lev GROUP BY 1),
      cum AS (SELECT lang, c, n_words,
                     CAST(COALESCE(SUM(c * n_words) OVER w, 0) AS BIGINT)
                       AS mass_above,
                     CAST(COALESCE(SUM(n_words) OVER w, 0) AS BIGINT)
                       AS words_above
              FROM lev
              WINDOW w AS (PARTITION BY lang ORDER BY c DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
      b AS (SELECT cum.lang, vocab, total_occ,
                   (total_occ * 95 + 99) // 100 AS target,
                   mass_above, words_above, c
            FROM cum JOIN tot ON cum.lang = tot.lang
            WHERE mass_above < (total_occ * 95 + 99) // 100
              AND mass_above + c * n_words >= (total_occ * 95 + 99) // 100)
      SELECT lang, vocab, total_occ,
             words_above + (target - mass_above + c - 1) // c AS k95,
             (words_above + (target - mass_above + c - 1) // c) * 1000000
               // vocab AS k95_ppm
      FROM b ORDER BY lang""",

    "text_token_length_profile" -> """
      WITH tok AS (SELECT lang, CAST(length(w) AS BIGINT) AS len
                   FROM (SELECT lang, unnest(string_split(text, ' ')) AS w
                         FROM documents)),
      hist AS (SELECT lang, len, COUNT(1) AS c FROM tok GROUP BY 1, 2),
      tot AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS n,
                     CAST(SUM(len * c) AS BIGINT) AS sum_len,
                     CAST(SUM(CASE WHEN len >= 15 THEN c ELSE 0 END)
                       AS BIGINT) AS n_long
              FROM hist GROUP BY 1),
      cum AS (SELECT lang, len,
                     CAST(SUM(c) OVER (PARTITION BY lang ORDER BY len
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS BIGINT) AS cum
              FROM hist)
      SELECT lang, t.n AS n_tokens,
             MIN(CASE WHEN cum * 100 >= t.n * 50 THEN len END) AS p50,
             MIN(CASE WHEN cum * 100 >= t.n * 90 THEN len END) AS p90,
             t.sum_len * 1000000 // t.n AS mean_len_ppm,
             t.n_long * 1000000 // t.n AS long_ppm
      FROM cum JOIN tot t USING (lang)
      GROUP BY lang, t.n, t.sum_len, t.n_long
      ORDER BY lang""",

    "text_fingerprint" -> """
      SELECT doc_id,
             md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp_bow,
             CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_distinct_tokens
      FROM documents ORDER BY doc_id""",
    "text_bpe_pair_stats" -> """
      WITH wrd AS (SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents),
      p AS (SELECT lang, substring(w, i, 2) AS pair
            FROM (SELECT lang, w, unnest(range(1, length(w))) AS i
                  FROM wrd WHERE length(w) >= 2)),
      cnt AS (SELECT lang, pair, COUNT(1) AS n FROM p GROUP BY 1, 2),
      rk AS (SELECT lang, pair, n,
                    CAST(SUM(n) OVER (PARTITION BY lang) AS BIGINT) AS lang_total,
                    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, pair) AS rk
             FROM cnt)
      SELECT lang, CAST(rk AS INT) AS rk, pair, n,
             CAST(n * 1000000 // lang_total AS BIGINT) AS share_ppm
      FROM rk WHERE rk <= 10 ORDER BY lang, rk""",

    // 6 unrolled merge rounds (a recursive CTE cannot carry the argmax +
    // rewrite alternation); each round = pair census over the current
    // symbol strings -> deterministic argmax -> guarded string replace.
    "text_bpe_merge_train" -> (
      "WITH " + BpeCtes + "\n      " +
      (1 to 6).map(r =>
        s"""SELECT CAST($r AS INT) AS merge_round, lhs, rhs,
              lhs||rhs AS merged, pair_count FROM m$r""")
        .mkString(" UNION ALL ") +
      " ORDER BY merge_round"),

    "text_bpe_train_full" -> bpeTrainFullOracleSql,

    // r17: apply consumes the FULL 256-budget trained vocab (v256), not
    // text_bpe_merge_train's v6 — same shared chain, deeper unroll. r19
    // (ADVICE r18): LEFT join + char-level fallback for sub-floor words
    // (n_sym = length(w)) so the sheet covers the full word mass, with
    // the OOV share explicit.
    "text_bpe_apply" -> (
      "WITH " + bpeCtes(BpeMergeBudget) + s""",
      ns AS (SELECT w,
               CAST(len(string_split(trim(s, '()'), ')(')) AS BIGINT)
                 AS n_sym FROM v$BpeMergeBudget),
      lw AS (SELECT lang, w, CAST(COUNT(1) AS BIGINT) AS cnt FROM (
               SELECT lang, unnest(string_split(text,' ')) AS w
               FROM documents)
             WHERE length(w) >= 2 AND regexp_matches(w, '^[a-z0-9]+$$')
             GROUP BY 1, 2),
      enc AS (SELECT lang, cnt,
                CAST(length(w) AS BIGINT) AS n_char,
                COALESCE(ns.n_sym, CAST(length(w) AS BIGINT)) AS n_sym,
                (ns.n_sym IS NULL) AS oov
              FROM lw LEFT JOIN ns USING (w))
      SELECT lang, CAST(SUM(cnt) AS BIGINT) AS n_words,
             CAST(SUM(cnt * n_char) AS BIGINT) AS n_chars,
             CAST(SUM(cnt * n_sym) AS BIGINT) AS n_tokens,
             CAST(SUM(CASE WHEN oov THEN cnt ELSE 0 END) AS BIGINT)
               AS n_oov_words,
             CAST(SUM(cnt * n_sym) * 1000 // SUM(cnt) AS BIGINT)
               AS tokens_per_kword,
             CAST(SUM(cnt * n_char) * 1000000 // SUM(cnt * n_sym) AS BIGINT)
               AS chars_per_token_ppm,
             CAST(SUM(CASE WHEN oov THEN cnt ELSE 0 END) * 1000000
               // SUM(cnt) AS BIGINT) AS oov_word_ppm
      FROM enc GROUP BY lang ORDER BY lang"""),

    "docs_boilerplate_spans" -> """
      WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS t
                    FROM documents),
      occ AS (SELECT doc_id, source,
                     t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS tri
              FROM toks, unnest(range(1, len(t) - 1)) AS u(i)),
      boiler AS (SELECT tri FROM (
                   SELECT tri, COUNT(DISTINCT doc_id) AS df
                   FROM occ GROUP BY 1)
                 WHERE df >= 5)
      SELECT source, COUNT(1) AS n_spans,
             CAST(SUM(CASE WHEN b.tri IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_boiler_hits,
             CAST(SUM(CASE WHEN b.tri IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) * 1000000 // COUNT(1) AS boiler_ppm
      FROM occ o LEFT JOIN boiler b ON o.tri = b.tri
      GROUP BY source ORDER BY source""",

    "text_inverted_postings" -> """
      WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
                    FROM documents),
      tf AS (SELECT word, doc_id, COUNT(1) AS tf FROM toks GROUP BY 1, 2),
      p AS (SELECT word, COUNT(1) AS df, CAST(SUM(tf) AS BIGINT) AS cf,
                   MIN(struct_pack(nt := -tf, d := doc_id)) AS m
            FROM tf GROUP BY 1)
      SELECT word, df, cf, m.d AS top_doc, CAST(-m.nt AS BIGINT) AS top_tf
      FROM p ORDER BY cf DESC, word LIMIT 200""",

    "docs_token_gini" -> """
      WITH tok AS (SELECT lang, doc_id,
                          CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
                   FROM documents),
      r AS (SELECT lang, tok,
                   ROW_NUMBER() OVER (PARTITION BY lang
                     ORDER BY tok, doc_id) AS i
            FROM tok),
      g AS (SELECT lang, COUNT(1) AS n_docs,
                   CAST(SUM(tok) AS BIGINT) AS sum_tokens,
                   CAST(SUM(i * tok) AS BIGINT) AS siw
            FROM r GROUP BY 1)
      SELECT lang, n_docs, sum_tokens,
             ((2 * siw - (n_docs + 1) * sum_tokens) * 1000)
               // (n_docs * sum_tokens) AS gini_milli
      FROM g ORDER BY lang""",
  )
}
