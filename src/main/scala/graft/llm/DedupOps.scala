package graft.llm

import graft.{OpRegistry, Pin, Store}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** §2.11 near-duplicate detection + language ID.
  *
  * Candidate contract (two regimes): for band buckets at or below
  * MaxBandBucket, candidates cover EVERY pair sharing a band (and hence, by
  * the banding construction, every pair with exact Jaccard >= 0.8 w.h.p. —
  * asserted by LlmOpsSpec on fixture + planted corpora); buckets above the
  * cap guarantee CONNECTIVITY only (star links to the bucket minimum), not
  * direct pair coverage — the downstream dedup group-assignment is
  * unaffected, the full pair list within a giant cluster is deliberately
  * not materialized (it is quadratic).
  *
  * Scale design: minhash-LSH is the canonical 100 TB dedup shape — band
  * buckets bound the candidate join (linear in bucket occupancy), never a
  * doc x doc cross product. Simhash banding (16-bit chunks) does the same
  * for Hamming-space lookup.
  */
object DedupOps extends OpRegistry {

  private val NumHashes = 32
  private val Bands = 8
  private val RowsPerBand = 4 // Bands * RowsPerBand == NumHashes
  /** Band buckets larger than this switch from the all-pairs self-join to a
    * STAR link (every member → the bucket's min doc_id): a bucket shared by
    * B docs yields B² pairs, so one giant duplicate cluster turns the join
    * quadratic at scale — but dropping the bucket outright would lose the
    * highest-signal case entirely (201 copies of the same boilerplate is
    * exactly what a 100 TB dedup must catch; review r2 finding). The star
    * keeps the cluster connected in O(B) pairs. */
  private[graft] val MaxBandBucket = 200

  // ——— Portable arithmetic minhash (r15, VERDICT r14 #5) ———
  /** 8-row minhash whose every constant is a LITERAL and whose token hash
    * is the seedless portable char fold ([[PipelineOps.rollingHash31]]) —
    * so the DuckDB oracle replays the signature bit-for-bit, unlike the
    * xxhash64 signature below (Spark-private seeds force
    * self-verification). Universal-hash rows (a_j·h + b_j) mod (2^31−1):
    * h < 2^31 and a_j < 2^32 keep every product under 2^63 on BOTH engines
    * (DuckDB errors on BIGINT overflow rather than wrapping), and the
    * 31-bit PRIME modulus makes the product wrap ~2^32 times — proper
    * Carter-Wegman mixing. (The first cut modded by 2^61−1: the product
    * wraps at most 3× there, the map stays piecewise-monotone in h, every
    * row's min collapses onto the globally-smallest token hash, and the
    * whole corpus shared ~20 band keys — measured, not hypothetical.) */
  private[graft] val PortableRows = 8
  private[graft] val PortA = Seq(2654435761L, 2246822519L, 3266489917L,
    668265263L, 374761393L, 2869860233L, 3203477941L, 1640531527L)
  private[graft] val PortB = Seq(97L, 193L, 389L, 769L, 1543L, 3079L,
    6151L, 12289L)
  private[graft] val PortP = 2147483647L // 2^31 − 1 (prime)
  private[graft] val M31 = 2147483648L

  /** The r15 incremental/eval doc universe: the fixture corpus with
    * PLANTED re-delivered near-dups (the fn_collate self-planting
    * discipline — the word-soup fixture has no natural cross-batch dups,
    * so without planting the reject path would never execute): every doc
    * with doc_id % 50 = 7 (a batch doc under the % 10 = 7 split) carries
    * the TEXT of its base-corpus neighbor doc_id − 1. Mirrored verbatim
    * in the oracles' `d` CTE. */
  /** [[plantedDocs]] landed once per corpus dir: six dedup ops consume the
    * same join-built planted frame, so it outlives an op and is a corpus
    * artifact, not a pin (first consumer per bench pass pays the build;
    * consumers' id filters push down on the parquet read). */
  private[graft] def landedPlantedDocs(s: SparkSession, dir: String): DataFrame =
    graft.CorpusArtifacts.parquet(s, "planted_docs", dir)(
      plantedDocs(tWide(s, dir)("documents").select("doc_id", "text")))

  private[graft] def plantedDocs(docs: DataFrame): DataFrame = {
    val neighbor = docs.select((col("doc_id") + 1).as("doc_id"),
      col("text").as("prev_text"))
    docs.join(neighbor, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(pmod(col("doc_id"), lit(50L)) === 7 && col("prev_text").isNotNull,
          col("prev_text")).otherwise(col("text")).as("text"))
  }

  /** stream_dedup_bands' ingestion universe: [[plantedDocs]] PLUS
    * cross-WAVE batch-internal near-dups — every doc with doc_id % 100 =
    * 97 (a batch doc under the % 10 = 7 split) re-delivers the TEXT of
    * doc_id − 10 (also a batch doc, and in a DIFFERENT % 3 wave), so one
    * wave's admitted fingerprints must reject a later wave's copy (or the
    * copy lands first and rejects the original, when the source wave
    * sorts later — both directions occur on the fixture and both are
    * deterministic given wave order). Without this the batch-vs-batch
    * path of the cumulative store would never execute: plantedDocs' dups
    * are all batch-vs-BASE. Mirrored verbatim in the oracle's d CTE. */
  private[graft] def plantedStreamDocs(docs: DataFrame): DataFrame = {
    val n10 = docs.select((col("doc_id") + 10).as("doc_id"),
      col("text").as("p10_text"))
    plantedDocs(docs).join(n10, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(pmod(col("doc_id"), lit(100L)) === 97 && col("p10_text").isNotNull,
          col("p10_text")).otherwise(col("text")).as("text"))
  }

  /** (doc_id, pm0..pm7): the portable signature — one shingle explode +
    * ONE map-side-combined aggregate of 8 mins. Minhash runs over 3-token
    * SHINGLES (the repo-wide dedup granularity), not unigrams: the fixture
    * corpus has only 31 distinct tokens, so unigram Jaccard averages 0.61
    * and a unigram signature calls everything a near-dup (measured — 49/50
    * batch docs rejected); trigram identity is what separates documents. */
  private[graft] def portableSignature(docs: DataFrame): DataFrame = {
    // r16 (VERDICT r15 #1): the shingle hash rides the FUSED native kernel
    // ([[graft.functions.ShingleRolling31]]) — bit-identical to the r15
    // declarative explode(shingleArray(hashed=false)) → rollingHash31 chain
    // (Round16Spec differential), but no shingle strings materialize and
    // each token's chars fold once instead of three times. This was the
    // measured cost center of the portable family's 100× probes.
    val sh = docs.select(col("doc_id"),
      explode(graft.functions.GraftExpressions.shingleRolling31(
        col("text"), distinct = true)).as("h"))
    val aggs = (0 until PortableRows).map(j =>
      min((col("h") * lit(PortA(j)) + lit(PortB(j))) % lit(PortP)).as(s"pm$j"))
    sh.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** (doc_id, band, bh): 2 bands × 4 rows; the band hash folds the four
    * (pm mod 2^31) values through the same portable 31-fold, so a band
    * matches iff all four of its minhash rows match (modulo the 2^-31
    * fold collision, mirrored exactly in the oracle). */
  private[graft] def portableBands(sig: DataFrame): DataFrame = {
    def fold(cols: Seq[Column]): Column =
      cols.foldLeft(lit(17L): Column)((acc, c) =>
        (acc * lit(31L) + c % lit(M31)) % lit(M31))
    val bands = (0 until PortableRows / 4).map { b =>
      struct(lit(b).cast("int").as("band"),
        fold((0 until 4).map(i => col(s"pm${b * 4 + i}"))).as("bh"))
    }
    sig.select(col("doc_id"), explode(array(bands: _*)).as("e"))
      .select(col("doc_id"), col("e.band").as("band"), col("e.bh").as("bh"))
  }

  /** Distinct hashed 3-token shingles per doc: (doc_id, h) with
    * h = xxhash64(shingle) straight from the fused kernel
    * ([[Shingling.shingleArray]] hashed=true) — no string shingles
    * materialize at all on this path. */
  private def shingles(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      explode(Shingling.shingleArray(col("text"), hashed = true)(docs.sparkSession)).as("h"))

  /** doc_id + 32 minhash signature columns mh0..mh31.
    *
    * Perf (VERDICT r1: 41.8 s at sf0.1): hashing the shingle string once
    * (inside the shingle kernel) and deriving the 32 per-seed hashes by
    * re-hashing that 64-bit value replaces 32 string concat+hash passes per
    * shingle with 32 cheap long hashes — same min-hash independence
    * properties (xxhash64 mixes the seed position). */
  private def minhashSignature(sh: DataFrame): DataFrame = {
    val aggs = (0 until NumHashes).map(seed =>
      min(xxhash64(col("h"), lit(seed))).as(s"mh$seed"))
    sh.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** Distributed connected components via alternating large-star/small-star
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC 2014): converges in O(log n) rounds where plain min-label
    * propagation needs O(diameter) — on a 100 TB near-dup graph each round
    * is a full shuffle of the edge set, so the round count IS the cost.
    *
    * large-star(u): every neighbor v > u re-links to m = min(Γ(u) ∪ {u});
    * small-star(u): every neighbor v < u, and u itself, re-link to m.
    * Both are one groupBy + one join over the (bidirectional) edges. At the
    * fixpoint every component is a star centered at its minimum node, so the
    * label of u is min(u, min Γ(u)). Convergence check is ONE aggregate per
    * round — (count, Σ(a+b) as DECIMAL): each relink maps an edge (u,v) to
    * (m,v) with m <= u and dedup only removes rows, so the potential Σ(a+b)
    * is non-increasing and strictly decreases whenever the set changed;
    * equal count + equal potential therefore proves the fixpoint without
    * the extra shuffle-heavy `except` job a set-equality check costs.
    * Lineage is truncated per round ([[Pin.shared]]), or the plan would
    * double every iteration.
    *
    * @param nodes single column `node` — every vertex, including isolated
    * @param pairs canonical distinct edges, columns `a` < `b`
    * @return (labels with columns `node`, `label`; rounds taken)
    */
  private[graft] def connectedComponents(nodes: DataFrame,
      pairs: DataFrame): (DataFrame, Int) = {
    def bidir(e: DataFrame): DataFrame =
      e.select(col("a").as("u"), col("b").as("v"))
        .union(e.select(col("b").as("u"), col("a").as("v")))
    // m(u) = min(Γ(u) ∪ {u})
    def mOf(bd: DataFrame): DataFrame =
      bd.groupBy("u").agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("mv"), col("u")).as("m"))
    // (edge count, Σ(a+b)) in one job; DECIMAL(38,0) so the sum cannot
    // overflow even with 2^63-scale node ids over a huge edge set
    def potential(e: DataFrame): (Long, java.math.BigDecimal) = {
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      val r = e.agg(count(lit(1)),
        sum(col("a").cast(dec) + col("b").cast(dec))).head()
      (r.getLong(0),
        if (r.isNullAt(1)) java.math.BigDecimal.ZERO else r.getDecimal(1))
    }
    var edges = Pin.shared(pairs)
    var (edgeCount, edgePot) = potential(edges)
    var rounds = 0
    var converged = false
    val MaxRounds = 50 // loud failure instead of silent non-fixpoint labels
    while (!converged && rounds < MaxRounds) {
      // large-star: (u,v), v > u  →  (m, v); m <= u < v so (m,v) is canonical
      val bd1 = bidir(edges)
      val ls = bd1.join(mOf(bd1), "u").filter(col("v") > col("u"))
        .select(col("m").as("a"), col("v").as("b"))
        .filter(col("a") =!= col("b")).distinct()
      // small-star: (u,v), v < u  →  (m, v), plus (m, u); m <= v < u
      val bd2 = bidir(ls)
      val m2 = mOf(bd2)
      val ss = bd2.join(m2, "u").filter(col("v") < col("u"))
        .select(col("m").as("a"), col("v").as("b"))
        .union(m2.select(col("m").as("a"), col("u").as("b")))
        .filter(col("a") =!= col("b")).distinct()
        .transform(Pin.shared)
      val (n2, pot2) = potential(ss)
      converged = n2 == edgeCount && pot2.compareTo(edgePot) == 0
      edges = ss
      edgeCount = n2
      edgePot = pot2
      rounds += 1
    }
    require(converged,
      s"connectedComponents did not reach the star fixpoint in $MaxRounds rounds")
    val nbrMin = bidir(edges).groupBy("u").agg(min(col("v")).as("mn"))
    val labels = nodes.join(nbrMin, nodes("node") === nbrMin("u"), "left")
      .select(col("node"),
        least(col("node"), coalesce(col("mn"), col("node"))).as("label"))
    (labels, rounds)
  }

  /** The fixture's nightly split, shared by the incremental dedup and the
    * streaming CC ops: doc_id % 10 = 7 is tonight's batch, every other doc
    * is the landed base corpus. */
  private[graft] def isBatch(c: Column): Column = pmod(c, lit(10L)) === 7

  /** Lands the base state of an incremental label merge under `dir`:
    * `dir/edges` holds the near-dup edges (`a` < `b`) of all of `docs`,
    * `dir/labels/v0` the CC labels (`doc_id`, `label`) of the base docs
    * (not [[isBatch]]) over the base-base edges. Three consumers read the
    * edge list, so it is landed once instead of re-running the pair kernel
    * per branch. Returns the edges read back. */
  private[graft] def landBaseStore(docs: DataFrame, dir: String): DataFrame = {
    val s = docs.sparkSession
    TextOps.jaccardFilter(TextOps.overlapPairs(Pin.shared(TextOps.cappedPostings(docs))))
      .select(col("id1").as("a"), col("id2").as("b"))
      .write.mode("overwrite").parquet(s"$dir/edges")
    val edges = graft.Tables.readParquet(s, s"$dir/edges")
    val baseNodes = docs.filter(!isBatch(col("doc_id")))
      .select(col("doc_id").as("node"))
    val baseEdges = edges.filter(!isBatch(col("a")) && !isBatch(col("b")))
    connectedComponents(baseNodes, baseEdges)._1
      .select(col("node").as("doc_id"), col("label"))
      .write.mode("overwrite").parquet(s"$dir/labels/v0")
    edges
  }

  /** Merges new edges into landed component labels without a rebuild.
    * Each edge endpoint contracts to its landed label (sound: a labelled
    * component is already connected through its label); self-loops drop
    * and the rest canonicalise to distinct `a` < `b`; CC then runs on
    * `nodes` ∪ the touched labels only. Min-label identity: every landed
    * label is its component's minimum, so the merged group's minimum over
    * {labels, new ids} is the minimum over all its members — the labels a
    * full rebuild over the union would give.
    *
    * The contracted edges and the sub-labels are pinned ([[Pin.shared]]):
    * both are bounded by the new edges, and each is read more than once
    * (the edges by the touched set and the CC, the sub-labels by the
    * caller's output branches).
    *
    * @param labels landed labels, columns `doc_id`, `label`
    * @param edges new edges, columns `a`, `b`; each endpoint is a labelled
    *   doc or one of `nodes`
    * @param nodes the new docs, single column `node`
    * @return sub-labels (`node`, `label`) of `nodes` and of every touched
    *   landed label; a touched label with `node` ≠ `label` is relabelled
    */
  private[graft] def mergeComponents(labels: DataFrame, edges: DataFrame,
      nodes: DataFrame): DataFrame = {
    val contracted = edges
      .join(labels.select(col("doc_id").as("a"), col("label").as("la")),
        Seq("a"), "left")
      .join(labels.select(col("doc_id").as("b"), col("label").as("lb")),
        Seq("b"), "left")
      .select(coalesce(col("la"), col("a")).as("u"),
        coalesce(col("lb"), col("b")).as("v"))
      .filter(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("a"),
        greatest(col("u"), col("v")).as("b")).distinct()
      .transform(Pin.shared)
    val touched = contracted.select(col("a").as("node"))
      .union(contracted.select(col("b").as("node"))).distinct()
    Pin.shared(connectedComponents(nodes.union(touched).distinct(), contracted)._1)
  }

  /** Full labels (`doc_id`, `component_id`) after a [[mergeComponents]]:
    * the new nodes' sub-labels ∪ every landed row relabelled through the
    * sub-labels (an untouched component passes through the left join). */
  private[graft] def mergedLabels(labels: DataFrame, nodes: DataFrame,
      sub: DataFrame): DataFrame = {
    val nodeOut = nodes.join(sub, "node")
      .select(col("node").as("doc_id"), col("label").as("component_id"))
    val baseOut = labels
      .join(sub.select(col("node").as("label"), col("label").as("relabel")),
        Seq("label"), "left")
      .select(col("doc_id"),
        coalesce(col("relabel"), col("label")).as("component_id"))
    nodeOut.unionByName(baseOut)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_near_minhash" -> ((s, dir) => {
      val sig = minhashSignature(shingles(tWide(s, dir)("documents")))
      // band hash = hash of the band's 4 signature slots
      val bandCols = (0 until Bands).map { b =>
        val slots = (0 until RowsPerBand).map(r => col(s"mh${b * RowsPerBand + r}"))
        xxhash64(slots: _*)
      }
      val banded = sig.select(col("doc_id"),
          posexplode(array(bandCols: _*)).as(Seq("band_idx", "band_hash")))
      // bucket-size switch: all-pairs below the cap, star above (see
      // MaxBandBucket) — one window pass computes both size and min
      val wb = Window.partitionBy("band_idx", "band_hash")
      val sized = banded
        .withColumn("bsz", count(lit(1)).over(wb))
        .withColumn("bmin", min(col("doc_id")).over(wb))
      val small = sized.filter(col("bsz") <= MaxBandBucket)
        .select("doc_id", "band_idx", "band_hash")
      val pairs = small.as("a").join(small.as("b"),
          col("a.band_idx") === col("b.band_idx")
            && col("a.band_hash") === col("b.band_hash")
            && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      val star = sized
        .filter(col("bsz") > MaxBandBucket && col("doc_id") =!= col("bmin"))
        .select(col("bmin").as("id1"), col("doc_id").as("id2"))
      pairs.union(star).distinct().orderBy("id1", "id2")
    }),

    "dedup_simhash" -> ((s, dir) => {
      // 64-bit simhash over token xxhash64s: per bit, majority vote of
      // +1/-1 contributions. One explode + 64 conditional sums (single
      // aggregation pass), then bit-assembly — no per-bit shuffle.
      val toks = tWide(s, dir)("documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
        .withColumn("h", xxhash64(col("token")))
      val bitSums = (0 until 64).map(i =>
        sum(when(shiftright(col("h"), i).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L))
          .as(s"s$i"))
      val agg = toks.groupBy("doc_id")
        .agg(bitSums.head, bitSums.tail :+ count(lit(1)).as("n_tokens"): _*)
      val simhash = (0 until 64).map(i =>
        when(col(s"s$i") > 0, lit(if (i == 63) Long.MinValue else 1L << i)).otherwise(lit(0L)))
        .reduce(_ + _)
      agg.select(col("doc_id"), simhash.as("simhash"), col("n_tokens"))
        .orderBy("doc_id")
    }),

    "dedup_components" -> ((s, dir) => {
      // Connected components over the near-dup graph — the clustering step
      // after candidate generation: a dedup group is a COMPONENT, not a
      // pair list (A~B, B~C must put A and C in one group even when A~C was
      // never scored). Alternating large-star/small-star (see
      // connectedComponents below): O(log n) rounds vs O(diameter) for
      // plain min-label propagation — the round count is what dominates at
      // 100 TB, where each round is a full shuffle over the edge set.
      // Edges: capped-universe Jaccard pairs (jac > 0.1) — SQL-expressible,
      // so DuckDB re-derives the same components with a recursive CTE and
      // the op is fully oracle-checked. Consumes the session-landed
      // candidate-pair artifact (TextOps.candidatePairs) shared with
      // jaccard_pairs / docs_split_leakage / text_fuzzy_pairs, so the
      // fact-sized candidate pass runs once per corpus, not per consumer;
      // the CC iterations pin the pair-count-sized edges.
      componentLabels(s, dir).orderBy("doc_id")
    }),

    "docs_dedup_weight" -> ((s, dir) => {
      // Soft-dedup training weights (round 11): instead of DROPPING
      // near-duplicates, weight each document by 1/|its near-dup cluster|
      // in exact integer ppm, so every distinct content unit contributes
      // equal total loss mass — the downweight-don't-delete curation
      // policy. After the shared CC artifact nothing fact-sized runs:
      // one component-sized agg plus a label-keyed join back to labels.
      val labels = componentLabels(s, dir)
      val sizes = labels.groupBy("component_id")
        .agg(count(lit(1)).as("cluster_size"))
      labels.join(sizes, "component_id")
        .select(col("doc_id"), col("component_id"), col("cluster_size"),
          call_function("div", lit(1000000L), col("cluster_size"))
            .as("weight_ppm"))
        .orderBy("doc_id")
    }),

    "dedup_cluster_stats" -> ((s, dir) => {
      // Dup-cluster size histogram (round 11): n_clusters and doc mass per
      // cluster size — the one-screen answer to "how duplicated is this
      // corpus" (singleton share, largest clique, redundant doc mass =
      // n_docs − n_clusters). Two bounded aggs over the landed labels;
      // output is at most |distinct sizes| rows.
      val sizes = componentLabels(s, dir).groupBy("component_id")
        .agg(count(lit(1)).as("cluster_size"))
      sizes.groupBy("cluster_size")
        .agg(count(lit(1)).as("n_clusters"))
        .withColumn("n_docs", col("cluster_size") * col("n_clusters"))
        .orderBy("cluster_size")
    }),

    "docs_cross_lang_dups" -> ((s, dir) => {
      // Cross-language near-dup QA (round 11): near-duplicate pairs whose
      // two docs carry DIFFERENT lang labels — in a crawled corpus these
      // are machine-translation boilerplate, mislabeled langid, or
      // copy-paste contamination, and they silently leak content across
      // per-language training mixes. Same landed candidate artifact as
      // docs_split_leakage (the lang boundary instead of the split
      // boundary); everything after the edge join is pair-count-sized,
      // output is the ≤ ǀlangsǀ² cell matrix with a cross flag.
      val langs = t(s, dir)("documents").select(col("doc_id"), col("lang"))
      TextOps.candidatePairs(s, dir)
        .join(langs.select(col("doc_id").as("id1"), col("lang").as("l1")),
          Seq("id1"))
        .join(langs.select(col("doc_id").as("id2"), col("lang").as("l2")),
          Seq("id2"))
        .select(least(col("l1"), col("l2")).as("lang_a"),
          greatest(col("l1"), col("l2")).as("lang_b"))
        .groupBy("lang_a", "lang_b")
        .agg(count(lit(1)).as("n_pairs"))
        .withColumn("is_cross", (col("lang_a") =!= col("lang_b")).cast("int"))
        .orderBy("lang_a", "lang_b")
    }),

    "text_langid" -> ((s, dir) =>
      // Two-pass n-gram language ID: learn top-20 character bigrams per
      // lang from the corpus, score each doc by profile overlap, predict
      // argmax (ties -> lang asc). Self-verified: deterministic and
      // exercises the full train/apply pipeline shape. Served from the
      // landed prediction artifact (r20, [[langIdPred]]); orderBy
      // re-applied over the read.
      langIdPred(s, dir).orderBy("doc_id")),

    "docs_langid_confusion" -> ((s, dir) => {
      // Language-ID QA gate (round 13): the CONFUSION MATRIX of the
      // classifier the corpus mix depends on — actual label × predicted
      // lang cell counts plus each cell's integer-ppm share of its actual
      // row (the diagonal is per-language recall). A quality pipeline
      // ships langid WITH this table: a collapsed row (e.g. everything
      // predicted 'en') silently skews the training mix long before any
      // downstream metric moves. Reuses the text_langid kernel verbatim;
      // everything after the per-doc argmax is ǀlangsǀ²-bounded, and the
      // row totals come from a re-agg of the matrix, never a second doc
      // pass. No float division (integer ppm). Served from the landed
      // prediction artifact (r20, [[langIdPred]]) — the kernel itself runs
      // once per corpus, not once per consumer.
      val pred = langIdPred(s, dir)
      val m = pred.groupBy(col("actual_lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n_docs"))
      val tot = m.groupBy("actual_lang").agg(sum("n_docs").as("n_actual"))
      m.join(tot, Seq("actual_lang"))
        .select(col("actual_lang"), col("pred_lang"), col("n_docs"),
          col("n_actual"),
          call_function("div", col("n_docs") * lit(1000000L), col("n_actual"))
            .as("cell_ppm"))
        .orderBy("actual_lang", "pred_lang")
    }),

    "dedup_incremental" -> ((s, dir) => {
      // Incremental-ingest dedup (round 4): a new batch (doc_id % 10 = 7)
      // is admitted only if its content fingerprint is unseen in the
      // already-ingested corpus — LEFT ANTI join on an md5 over the
      // normalized 5-token prefix. This is the batch-over-batch shape of
      // a training-data pipeline: the seen-fingerprint side is a compact
      // (fp)-only projection that at 100 TB lives as a bucketed
      // fingerprint store, so each nightly batch joins against it without
      // rescanning text; the anti join itself is broadcastable whenever
      // the NEW batch is small, and the fingerprint is engine-portable
      // (md5, not a seeded private hash).
      val d = tWide(s, dir)("documents")
      val norm = lower(regexp_replace(col("text"), "\\s+", " "))
      val fp = md5(array_join(slice(split(norm, " "), 1, 5), " ").cast("binary"))
      val withFp = d.withColumn("fp", fp)
      val seen = withFp.filter(col("doc_id") % 10 =!= 7)
        .select(col("fp").as("seen_fp"))
      withFp.filter(col("doc_id") % 10 === 7)
        .join(seen, col("fp") === col("seen_fp"), "left_anti")
        .select(col("doc_id"), col("lang"), col("fp"))
        .orderBy("doc_id")
    }),

    "dedup_prefix" -> ((s, dir) => {
      // Prefix-key dedup (round 14): cluster docs by their first 40 chars
      // — the cheap screen that catches templated/boilerplate-prefixed
      // near-dups exact-hash dedup misses (same opening, divergent tails:
      // wire-copy rewrites, mirrored articles with appended chrome).
      // One hash agg on the prefix key — partial+final, no pairs, no
      // shuffle of full texts (only the 40-char key + doc id move);
      // canonical = min doc_id (the keep-first rule); clusters of 1 are
      // dropped (they ARE the canonical set). 24/500 fixture docs share a
      // prefix at sf0.01, so the output is exercised, not vacuous.
      tWide(s, dir)("documents")
        .select(col("doc_id"), substring(col("text"), 1, 40).as("prefix"))
        .groupBy("prefix")
        .agg(count(lit(1)).as("n_docs"), min("doc_id").as("canonical_doc"))
        .filter(col("n_docs") >= 2)
        .orderBy("prefix")
    }),

    "docs_dup_quality_contingency" -> ((s, dir) => {
      // Dup × quality contingency (round 14): are duplicated docs also
      // the low-quality ones? The 2×2 table + odds ratio behind the
      // curation-policy question "does dedup double as a quality
      // filter?" — if the odds ratio ≈ 1, dedup and quality gating are
      // independent signals and you need BOTH. Dup = shares a 40-char
      // prefix with another doc (dedup_prefix's key — exercised on this
      // corpus where exact-hash dup is vacuously zero); quality proxy =
      // length at-or-above the corpus mean, compared by integer
      // cross-multiplication (n_chars·n_docs ≥ Σchars — no division).
      // One prefix-count window over the doc frame + one 4-cell agg;
      // odds ratio in milli, integer-exact, NULL when a margin is empty.
      val d = tWide(s, dir)("documents")
        .select(col("doc_id"), col("n_chars"),
          substring(col("text"), 1, 40).as("prefix"))
        .withColumn("pn", count(lit(1)).over(Window.partitionBy("prefix")))
      val tot = d.agg(count(lit(1)).as("nd"), sum("n_chars").as("tc"))
      d.crossJoin(broadcast(tot))
        .select(
          (col("pn") >= 2).as("is_dup"),
          (col("n_chars") * col("nd") >= col("tc")).as("above"))
        .agg(
          sum(when(col("is_dup") && col("above"), 1L).otherwise(0L)).as("a_dup_hi"),
          sum(when(col("is_dup") && !col("above"), 1L).otherwise(0L)).as("b_dup_lo"),
          sum(when(!col("is_dup") && col("above"), 1L).otherwise(0L)).as("c_uni_hi"),
          sum(when(!col("is_dup") && !col("above"), 1L).otherwise(0L)).as("d_uni_lo"))
        .withColumn("odds_milli",
          when(col("b_dup_lo") * col("c_uni_hi") > 0,
            call_function("div",
              col("a_dup_hi") * col("d_uni_lo") * lit(1000L),
              col("b_dup_lo") * col("c_uni_hi"))))
    }),

    "docs_dedup_rate_by_source" -> ((s, dir) => {
      // Near-dup rate per source (r15): the curation view that decides
      // which crawls/feeds to renegotiate — share of each source's docs
      // sitting in a ≥2-doc near-dup cluster, exact integer ppm. After
      // the shared CC artifact nothing fact-sized runs: one
      // component-sized agg, a label join, and a ≤|sources| rollup.
      val labels = componentLabels(s, dir)
      val sizes = labels.groupBy("component_id")
        .agg(count(lit(1)).as("csz"))
      val flag = labels.join(sizes, "component_id")
        .select(col("doc_id"), (col("csz") >= 2).as("is_dup"))
      tWide(s, dir)("documents").select(col("doc_id"), col("source"))
        .join(flag, "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dup"))
        .withColumn("dup_ppm",
          call_function("div", col("n_dup") * lit(1000000L), col("n_docs")))
        .orderBy("source")
    }),

    "dedup_incremental_bands" -> ((s, dir) => {
      // THE production dedup loop (r15, VERDICT r14 #5): tonight's batch
      // (doc_id % 10 = 7 — dedup_incremental's split) is admitted only if
      // NO LSH band of its minhash signature already exists in the LANDED
      // fingerprint store built from the base corpus — then the store is
      // re-landed with the admitted docs' bands, ready for tomorrow's
      // batch. The signature is the PORTABLE arithmetic minhash (all
      // literal constants + the seedless char fold), so unlike
      // dedup_near_minhash this op is fully DuckDB-oracle-checked. Cost
      // model at 100 TB: the store build is the once-per-corpus landed
      // artifact (amortized across nights — in production it IS last
      // night's output); the nightly marginal cost is batch hashing + one
      // AQE-sized probe join on (band, bh) — it scales with the BATCH,
      // not the corpus. Output is the one-row ingest receipt.
      // landed artifact: consumed by the key build and the batch-membership filter
      val docs = landedPlantedDocs(s, dir)
      // land the per-doc band keys ONCE (production stores signatures — it
      // never re-derives them per consumer): without this the shingle +
      // signature pipeline re-executes under every downstream branch
      // (store build, batch probe, re-land) — the first probe measured
      // ratio 21.4 at 100× from exactly that triple build; landed-once it
      // runs a single occurrence-sized pass.
      val keysPath = Store.dir(s, "band_keys")
      portableBands(portableSignature(docs))
        .write.mode("overwrite").parquet(keysPath)
      val keys = graft.Tables.readParquet(s, keysPath)
      val storePath = Store.dir(s, "band_store")
      keys.filter(!isBatch(col("doc_id")))
        .select("band", "bh").distinct()
        .write.mode("overwrite").parquet(storePath)
      val store = graft.Tables.readParquet(s, storePath)
      val batchKeys = keys.filter(isBatch(col("doc_id")))
      val rejected = batchKeys.join(store, Seq("band", "bh"), "left_semi")
        .select("doc_id").distinct()
      val batchDocs = docs.filter(isBatch(col("doc_id")))
        .select("doc_id")
      val admitted = batchDocs.join(rejected, Seq("doc_id"), "left_anti")
      val updated = store.unionByName(
        batchKeys.join(admitted, Seq("doc_id"), "left_semi")
          .select("band", "bh")).distinct()
      batchDocs.agg(count(lit(1)).as("n_batch"))
        .crossJoin(rejected.agg(count(lit(1)).as("n_rejected")))
        .crossJoin(admitted.agg(count(lit(1)).as("n_admitted")))
        .crossJoin(store.agg(count(lit(1)).as("n_store_before")))
        .crossJoin(updated.agg(count(lit(1)).as("n_store_after")))
    }),

    "dedup_components_incremental" -> ((s, dir) => {
      // Incremental CC-label maintenance, one level deeper than
      // dedup_incremental_bands: that op decides ADMIT for a nightly
      // batch; this one merges the batch's near-dup edges into the landed
      // base labels ([[isBatch]] split; in production last night's output)
      // without a corpus-wide CC rebuild. [[mergeComponents]] runs CC on
      // the batch docs + touched labels only, so cost scales with the
      // batch's touched components, never the corpus; untouched components
      // pass through a left join. The oracle's full-rebuild recursive CTE
      // over the unioned corpus computes the same labels (min-label
      // identity). Edges are the df-capped exact trigram-Jaccard pairs
      // (> 0.1) over the planted universe: batch docs with doc_id % 50 = 7
      // re-deliver their base neighbor's text, or no batch-base merge would
      // ever fire. The planted frame is a landed artifact: the edge build
      // and the base/batch node filters all read it.
      val docs = landedPlantedDocs(s, dir)
      val store = Store.fresh(s, "cc_inc")
      val edges = landBaseStore(docs, store)
      val baseLab = graft.Tables.readParquet(s, s"$store/labels/v0")
      val batchNodes = docs.filter(isBatch(col("doc_id")))
        .select(col("doc_id").as("node"))
      val subLab = mergeComponents(baseLab,
        edges.filter(isBatch(col("a")) || isBatch(col("b"))), batchNodes)
      mergedLabels(baseLab, batchNodes, subLab)
        .select(col("doc_id"), col("component_id"),
          isBatch(col("doc_id")).as("is_batch"))
        .orderBy("doc_id")
    }),

    "docs_split_by_component" -> ((s, dir) => {
      // Leakage-FREE train/val/test split (r16): assignment at near-dup
      // COMPONENT granularity — every member of a dedup component gets the
      // canonical member's split, so no near-dup pair can straddle the
      // train/eval boundary BY CONSTRUCTION. This is the fix-side
      // composition of three existing ops: docs_split_assign hashes per
      // doc (and leaks — its twin may land across the boundary, which is
      // exactly what docs_split_leakage measures), dedup_components
      // provides the groups, and this op closes the loop (the spec
      // asserts zero cross-split candidate pairs). Bucket = the SAME
      // portable content hash as docs_split_assign (rollingHash31 pmod
      // 100 → 80/10/10) applied to the CANONICAL member's text —
      // content-addressed, so re-ingestion/reordering cannot move a
      // component, and consistent with the per-doc op's rule when a
      // component is a singleton (the common case: the two ops then agree
      // on ~97% of docs, disagreeing only where the per-doc rule leaks).
      // Scale: rides the landed CC-label artifact (once per corpus); the
      // canonical-text fetch is a self-equi-join on doc_id=component_id;
      // everything else is a label-sized broadcast-ish join + map work.
      val labels = componentLabels(s, dir)
      val canonBucket = tWide(s, dir)("documents").select(col("doc_id"), col("text"))
        .join(labels.filter(col("doc_id") === col("component_id"))
          .select(col("doc_id")), Seq("doc_id"))
        .select(col("doc_id").as("component_id"),
          pmod(PipelineOps.rollingHash31(col("text")), lit(100L)).cast("int")
            .as("bucket"))
      labels.join(canonBucket, Seq("component_id"))
        .withColumn("split",
          when(col("bucket") < 80, lit("train"))
            .when(col("bucket") < 90, lit("val"))
            .otherwise(lit("test")))
        .select(col("doc_id"), col("component_id"), col("bucket"), col("split"))
        .orderBy("doc_id")
    }),

    "dedup_lsh_eval" -> ((s, dir) => {
      // LSH quality eval (r15): on an id-capped doc universe (< 200 — the
      // vec-family demo discipline; the at-scale candidate generator is
      // the banded store / candidate artifact), the confusion table of
      // the portable 2-band×4-row LSH predictor vs EXACT shingle Jaccard
      // ≥ 0.5: TP/FP/FN/TN + integer-ppm precision/recall — the measured
      // evidence behind a band-geometry choice, the minhash analog of
      // vec_ann_recall_curve. The threshold compares as 2·|∩| ≥ |∪| in
      // exact integers, so no float boundary can flip a pair.
      val docs = landedPlantedDocs(s, dir).filter(col("doc_id") < 200)
      val sh = docs.select(col("doc_id"),
        Shingling.shingleArray(col("text"), hashed = true)(s).as("shs"))
      val bnd = portableBands(portableSignature(docs))
        .groupBy("doc_id")
        .agg(collect_list(struct(col("band"), col("bh"))).as("bnds"))
      val side = sh.join(bnd, "doc_id")
      val a = side.select(col("doc_id").as("id1"), col("shs").as("sh1"),
        col("bnds").as("b1"))
      val b = side.select(col("doc_id").as("id2"), col("shs").as("sh2"),
        col("bnds").as("b2"))
      val pairs = a.join(broadcast(b), col("id1") < col("id2"))
        .select(
          (size(array_intersect(col("sh1"), col("sh2"))) * 2 >=
            size(col("sh1")) + size(col("sh2")) -
              size(array_intersect(col("sh1"), col("sh2"))) &&
            size(col("sh1")) + size(col("sh2")) > 0).as("pos"),
          arrays_overlap(col("b1"), col("b2")).as("pred"))
      pairs.agg(count(lit(1)).as("n_pairs"),
          sum(when(col("pos"), 1L).otherwise(0L)).as("n_pos"),
          sum(when(col("pred"), 1L).otherwise(0L)).as("n_pred"),
          sum(when(col("pos") && col("pred"), 1L).otherwise(0L)).as("tp"),
          sum(when(!col("pos") && col("pred"), 1L).otherwise(0L)).as("fp"),
          sum(when(col("pos") && !col("pred"), 1L).otherwise(0L)).as("fn"))
        .withColumn("precision_ppm", when(col("n_pred") > 0,
          call_function("div", col("tp") * lit(1000000L), col("n_pred"))))
        .withColumn("recall_ppm", when(col("n_pos") > 0,
          call_function("div", col("tp") * lit(1000000L), col("n_pos"))))
    }),

    "dedup_minhash_estimate_error" -> ((s, dir) => {
      // Minhash estimator calibration (r15): per matching-row count k
      // (0..8), how far is the signature's Jaccard estimate k/8 from the
      // EXACT shingle Jaccard — the variance table you read before
      // trusting an 8-row signature for threshold decisions (more rows =
      // tighter; this measures how much). Same id-capped planted universe
      // as dedup_lsh_eval; estimates and errors in exact integer ppm
      // (est = k·125000); output ≤ 9 rows. The pm-row melt self-joins on
      // the row index — 8 rows/doc, pairs bounded by the id cap.
      val docs = landedPlantedDocs(s, dir).filter(col("doc_id") < 200)
      val sh = docs.select(col("doc_id"),
        Shingling.shingleArray(col("text"), hashed = true)(s).as("shs"))
        .filter(size(col("shs")) > 0)
      val sig = portableSignature(docs)
      val side = sh.join(sig, "doc_id")
      def sideAs(n: Int) = side.select(col("doc_id").as(s"id$n"),
        col("shs").as(s"sh$n"),
        struct((0 until PortableRows).map(j => col(s"pm$j")): _*).as(s"s$n"))
      val pairs = sideAs(1).join(broadcast(sideAs(2)), col("id1") < col("id2"))
        .select(
          (0 until PortableRows).map(j =>
            when(col("s1").getField(s"pm$j") === col("s2").getField(s"pm$j"),
              1L).otherwise(0L)).reduce(_ + _).as("k"),
          size(array_intersect(col("sh1"), col("sh2"))).cast("long").as("inter"),
          (size(col("sh1")) + size(col("sh2"))).cast("long").as("szsum"))
        .withColumn("exact_ppm", call_function("div",
          col("inter") * lit(1000000L), col("szsum") - col("inter")))
        .withColumn("abs_err_ppm",
          abs(col("k") * lit(125000L) - col("exact_ppm")))
      pairs.groupBy(col("k").cast("int").as("k_rows"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("exact_ppm")).as("sum_exact"),
          sum(col("abs_err_ppm")).as("sum_abs_err"))
        .select(col("k_rows"), col("n_pairs"),
          call_function("div", col("sum_exact"), col("n_pairs"))
            .as("mean_exact_ppm"),
          call_function("div", col("sum_abs_err"), col("n_pairs"))
            .as("mean_abs_err_ppm"))
        .orderBy("k_rows")
    }),

    "dedup_band_occupancy" -> ((s, dir) => {
      // Band-store health report (r15): the occupancy histogram of the
      // (band, bh) buckets — the table an operator reads BEFORE a nightly
      // dedup run, because one giant bucket is the operational risk the
      // MaxBandBucket star-cap exists for (a bucket of B docs means B
      // probe hits per matching batch doc). One signature pass + two
      // bounded aggregates; output is ≤ distinct-occupancy rows.
      val docs = landedPlantedDocs(s, dir)
      portableBands(portableSignature(docs))
        .groupBy("band", "bh").agg(count(lit(1)).as("occ"))
        .groupBy("occ").agg(count(lit(1)).as("n_buckets"))
        .orderBy("occ")
    }),

    "docs_dup_threshold_curve" -> ((s, dir) => {
      // Dup-rate threshold curve (r15): for τ ∈ {30,…,90} percent, how
      // many pairs and how many distinct docs sit at exact shingle
      // Jaccard ≥ τ — the curve a curator reads to PICK a dedup
      // threshold (the integral view dedup_lsh_eval's single-τ confusion
      // can't give). Same id-capped planted universe; the threshold
      // compares as 100·|∩| ≥ τ·|∪| in exact integers, so no pair can
      // flip on a float boundary; output is 7 rows.
      val docs = landedPlantedDocs(s, dir).filter(col("doc_id") < 200)
      val sh = docs.select(col("doc_id"),
        Shingling.shingleArray(col("text"), hashed = true)(s).as("shs"))
        .filter(size(col("shs")) > 0)
      val a = sh.select(col("doc_id").as("id1"), col("shs").as("sh1"))
      val b = sh.select(col("doc_id").as("id2"), col("shs").as("sh2"))
      val pairs = a.join(broadcast(b), col("id1") < col("id2"))
        .select(col("id1"), col("id2"),
          size(array_intersect(col("sh1"), col("sh2"))).cast("long").as("inter"),
          (size(col("sh1")) + size(col("sh2"))).cast("long").as("szsum"))
        .withColumn("uni", col("szsum") - col("inter"))
        .filter(col("inter") > 0)
      val byTau = pairs
        .select(col("id1"), col("id2"), col("inter"), col("uni"),
          explode(sequence(lit(30), lit(90), lit(10))).as("tau"))
        .filter(col("inter") * 100 >= col("tau") * col("uni"))
      byTau.select(col("tau"), col("id1").as("d")).unionByName(
          byTau.select(col("tau"), col("id2").as("d")))
        .groupBy(col("tau").cast("int").as("tau"))
        .agg(call_function("div", count(lit(1)), lit(2L)).as("n_pairs"),
          countDistinct(col("d")).as("n_docs"))
        .orderBy("tau")
    }),

    "dedup_span_repeats" -> ((s, dir) => {
      // Exact substring dedup at SPAN granularity (r15, VERDICT r14 #6 —
      // the Lee-et-al complement to dedup_prefix and
      // docs_boilerplate_spans): per doc, the tokens covered by MAXIMAL
      // cross-document repeated 8-token spans — "how much of this doc
      // would exact substring dedup remove". An 8-gram is repeated iff it
      // occurs in ≥ 2 distinct docs; repeated positions ≤ 7 apart merge
      // into maximal spans, so coverage is the EXACT union of [p, p+7]
      // windows (adjacent windows stay contiguous). The fixture corpus is
      // word-soup with no natural cross-doc 8-grams, so the op PLANTS its
      // signal (the fn_collate discipline): docs with doc_id % 20 = 3
      // carry a fixed 12-token boilerplate footer. Gram identity travels
      // as one xxhash64 over the 8 zip-sliced token slots (§4.2.19 — no
      // string 8-grams materialize); the oracle replays string 8-grams
      // (the jaccard 2^-64 trade). One explode + df agg (map-side
      // combined), AQE join-back of the df≥2 set, islands via per-doc
      // (high-cardinality) windows.
      val footer = "copyright footer terms of service all rights " +
        "reserved contact us legal notice"
      val docs = tWide(s, dir)("documents").select(col("doc_id"),
        when(pmod(col("doc_id"), lit(20L)) === 3,
          concat(col("text"), lit(" " + footer)))
          .otherwise(col("text")).as("text"))
      val toks = split(col("text"), " ")
      val base = docs
        .select(col("doc_id"), toks.as("ts"), size(toks).cast("long").as("n_tok"))
        .filter(col("n_tok") >= 8)
      val grams = base.select(col("doc_id"), col("n_tok"),
        posexplode(arrays_zip((1 to 8).map(k =>
          slice(col("ts"), lit(k), (col("n_tok") - 7).cast("int"))): _*)))
        .select(col("doc_id"), col("n_tok"),
          (col("pos") + 1).cast("long").as("p"),
          xxhash64((0 to 7).map(i => col("col").getField(i.toString)): _*).as("g"))
      val rep = grams.groupBy("g")
        .agg(countDistinct(col("doc_id")).as("df"))
        .filter(col("df") >= 2).select("g")
      val hits = grams.join(rep, Seq("g"), "left_semi")
      val wd = Window.partitionBy("doc_id").orderBy("p")
      val wRun = wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      hits
        .withColumn("ni", when(col("p") - lag("p", 1).over(wd) > 7, 1L)
          .when(lag("p", 1).over(wd).isNull, 1L).otherwise(0L))
        .withColumn("isl", sum(col("ni")).over(wRun))
        .groupBy(col("doc_id"), col("n_tok"), col("isl"))
        .agg((max(col("p")) - min(col("p")) + 8).as("cov"))
        .groupBy("doc_id", "n_tok")
        .agg(count(lit(1)).as("n_spans"), max(col("cov")).as("max_span_tok"),
          sum(col("cov")).as("covered_tok"))
        .withColumn("covered_ppm",
          call_function("div", col("covered_tok") * lit(1000000L), col("n_tok")))
        .orderBy("doc_id")
    }),
  )

  /** Component labels over the near-dup graph, landed once per corpus
    * ([[graft.CorpusArtifacts]]): dedup_components, docs_dedup_weight and
    * dedup_cluster_stats all consume the same label table, so the
    * O(log n)-round CC iteration runs once per corpus snapshot instead of
    * per consumer — the land-once shape of the candidate-pair artifact
    * extended one derivation deeper (edges → labels). Bench/ScaleProbe
    * clear the memo per pass, so the first consumer pays the full build. */
  private[graft] def componentLabels(s: SparkSession, dir: String): DataFrame =
    graft.CorpusArtifacts.parquet(s, "components", dir) {
      // no pin: connectedComponents pins its input itself, and nothing
      // outside the CC call reads `pairs`
      val pairs = TextOps.candidatePairs(s, dir)
        .select(col("id1").as("a"), col("id2").as("b"))
      val docs = t(s, dir)("documents").select(col("doc_id").as("node"))
      val (labels, _) = connectedComponents(docs, pairs)
      labels.select(col("node").as("doc_id"), col("label").as("component_id"))
    }

  /** text_langid implementation (separate for readability).
    *
    * Perf shape (was 6.5 s at sf0.1): the per-doc DISTINCT bigram set is
    * computed map-side with array_distinct BEFORE exploding — the previous
    * explode-then-global-distinct shuffled every bigram occurrence (~n_chars
    * rows per doc) across the cluster. The profile ranks bigrams by DOCUMENT
    * frequency (docs containing the bigram per lang), which both passes
    * share. (Deliberately NOT cached: the op returns a lazy frame, so a
    * cache would outlive the query and bloat executor storage for every
    * later query in a session — the map-side distinct makes recompute
    * cheaper than the cache churn it caused.) */
  /** [[langId]] LANDED once per corpus dir (r20): text_langid and
    * docs_langid_confusion both ran the full two-pass bigram kernel
    * (profile build + scoring — the most expensive part of either op);
    * a production pipeline lands the classifier's predictions once and
    * fans them out to the mix report and the QA gate. Honest measurement
    * as with every artifact: cleared per bench pass, first consumer pays;
    * both oracles re-derive the prediction from raw text, so the artifact
    * never self-certifies. */
  private[graft] def langIdPred(s: SparkSession, dir: String): DataFrame =
    graft.CorpusArtifacts.parquet(s, "langid_pred", dir)(
      langId(tWide(s, dir)("documents")))

  private def langId(docs: DataFrame): DataFrame = {
    val docBg = docs.select(col("doc_id"), col("lang").as("actual_lang"),
      explode(array_distinct(
        Shingling.charBigramArray(col("text")))).as("bigram"))
    // Profile learned on a deterministic 10% sample (doc_id % 10 = 0):
    // top-20-bigram profiles are stable under sampling, the filter pushes
    // below the explode (pass 1 expands only the sampled docs), and the
    // modulus is exactly mirrorable in the oracle SQL.
    val profile = docBg.filter(col("doc_id") % 10 === 0)
      .groupBy(col("actual_lang").as("lang"), col("bigram"))
      .agg(count(lit(1)).as("cnt")) // doc frequency: docBg is doc-distinct
    val w = Window.partitionBy("lang").orderBy(col("cnt").desc, col("bigram"))
    val top = profile.withColumn("rn", row_number().over(w)).filter(col("rn") <= 20)
      .select(col("lang").as("profile_lang"), col("bigram"))
    val scores = docBg.join(broadcast(top), "bigram")
      .groupBy("doc_id", "actual_lang", "profile_lang")
      .agg(count(lit(1)).as("overlap"))
    val w2 = Window.partitionBy("doc_id").orderBy(col("overlap").desc, col("profile_lang"))
    scores.withColumn("rn", row_number().over(w2)).filter(col("rn") === 1)
      .select(col("doc_id"), col("actual_lang"),
        col("profile_lang").as("pred_lang"),
        (col("actual_lang") === col("profile_lang")).as("correct"))
      .orderBy("doc_id")
  }

  /** Differential components check, shared by the three CC-consuming
    * oracles: DuckDB re-derives the same edge set (capped-universe Jaccard
    * pairs, mirroring the jaccard_pairs oracle) and computes components by
    * transitive closure in a recursive CTE — reach(node, label) accumulates
    * every label reachable from node, and MIN over it is exactly the
    * min-label-propagation fixpoint. Splice after WITH RECURSIVE. */
  /** Re-based on [[jaccardPairCtesFrom]] (r17 review): the df-cap and
    * Jaccard threshold live in ONE chain shared with the streaming-CC
    * and incremental-CC oracles, so the three can never drift; this
    * builder appends only the bidir/reach/comp closure tail. */
  private def ccCtesTail(dCte: String): String =
    jaccardPairCtesFrom(dCte) + """,
      bidir AS (SELECT id1 AS a, id2 AS b FROM pairs
                UNION ALL SELECT id2, id1 FROM pairs),
      reach(node, label) AS (
        SELECT doc_id, doc_id FROM d
        UNION
        SELECT b.b, r.label FROM reach r JOIN bidir b ON r.node = b.a),
      comp AS (SELECT node AS doc_id, MIN(label) AS component_id
               FROM reach GROUP BY node)"""

  private val CcCteSql: String =
    ccCtesTail("d AS (SELECT doc_id, text FROM documents)")

  // minhash/simhash stay self-verified (xxhash64 is Spark-private), but
  // text_langid is pure deterministic SQL logic since the r2 rewrite — the
  // doc-frequency profile and argmax scoring mirror exactly in DuckDB.
  /** The portable-minhash CTE chain (token char-fold → 8 universal-hash
    * rows → 2 band folds), shared by the r15 store/eval oracles so the
    * two can never drift. Every constant mirrors PortA/PortB/PortP/M31.
    * `docFilter` narrows the doc universe (the eval op is id-capped). */
  private def portableBandCtes(docFilter: String): String =
    portableBandCtesFrom(s"""
      d AS MATERIALIZED (
        SELECT a.doc_id,
               CASE WHEN a.doc_id % 50 = 7 AND b.text IS NOT NULL
                 THEN b.text ELSE a.text END AS text
        FROM documents a LEFT JOIN documents b ON b.doc_id = a.doc_id - 1)""",
      docFilter)

  /** df-capped trigram-Jaccard pairs CTE chain over a supplied d CTE —
    * tok/sh/shc/sz/ix/pairs, the same edges as [[TextOps.candidatePairs]]
    * over d (hashed-join vs string-join asymmetry aside — the shared 2^-64
    * xxhash64-collision trade every pair oracle makes). Used by the
    * streaming CC oracle (stream-planted d); splice after WITH RECURSIVE.
    * shc/pairs MATERIALIZED: four stage subgraphs re-read them. */
  private[graft] def jaccardPairCtesFrom(dCte: String): String = s"""
      $dCte,
      tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM d),
      sh0 AS (SELECT doc_id, array_to_string(ts[i:i+2], ' ') AS shingle
              FROM (SELECT doc_id, ts, unnest(range(1, len(ts) - 1)) AS i
                    FROM tok)),
      sh AS (SELECT DISTINCT doc_id, shingle FROM sh0),
      shc AS MATERIALIZED (SELECT doc_id, shingle FROM (
                SELECT doc_id, shingle,
                       COUNT(1) OVER (PARTITION BY shingle) AS df FROM sh)
              WHERE df <= 100),
      sz AS (SELECT doc_id, COUNT(1) AS n FROM shc GROUP BY doc_id),
      ix AS (SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(1) AS inter
             FROM shc a JOIN shc b
               ON a.shingle = b.shingle AND a.doc_id < b.doc_id
             GROUP BY 1, 2),
      pairs AS MATERIALIZED (SELECT id1, id2
                FROM ix JOIN sz s1 ON id1 = s1.doc_id
                        JOIN sz s2 ON id2 = s2.doc_id
                WHERE CAST(inter AS DOUBLE) / (s1.n + s2.n - inter) > 0.1)"""

  /** stream_dedup_bands' d CTE: [[plantedStreamDocs]] in SQL — the % 100
    * = 97 cross-wave planting layered over the % 50 = 7 base planting
    * (the two id classes are disjoint: 97 mod 50 = 47). */
  private[graft] val streamPlantedDCte = """
      d AS MATERIALIZED (
        SELECT a.doc_id,
               CASE WHEN a.doc_id % 100 = 97 AND c.text IS NOT NULL
                 THEN c.text
               WHEN a.doc_id % 50 = 7 AND b.text IS NOT NULL
                 THEN b.text ELSE a.text END AS text
        FROM documents a
        LEFT JOIN documents b ON b.doc_id = a.doc_id - 1
        LEFT JOIN documents c ON c.doc_id = a.doc_id - 10)"""

  private[graft] def portableBandCtesFrom(dCte: String,
      docFilter: String): String = s"""
      $dCte,
      tok AS MATERIALIZED (
        SELECT doc_id, list_reduce(list_prepend(CAST(17 AS BIGINT),
               list_transform(range(1, length(sh) + 1),
                 i -> CAST(ord(substring(sh, i, 1)) AS BIGINT))),
               (acc, c) -> (acc * 31 + c) % 2147483648) AS h
        FROM (SELECT DISTINCT doc_id, array_to_string(ts[i:i+2], ' ') AS sh
              FROM (SELECT doc_id, ts, unnest(range(1, len(ts) - 1)) AS i
                    FROM (SELECT doc_id, string_split(text, ' ') AS ts
                          FROM d $docFilter)))),
      sig AS MATERIALIZED (
        SELECT doc_id, t.j,
               MIN((h * ([2654435761,2246822519,3266489917,668265263,
                          374761393,2869860233,3203477941,1640531527])[t.j + 1]
                 + ([97,193,389,769,1543,3079,6151,12289])[t.j + 1])
                 % 2147483647) AS mh
        FROM tok CROSS JOIN range(0, 8) t(j)
        GROUP BY 1, 2),
      piv AS MATERIALIZED (
        SELECT doc_id, CAST(j // 4 AS INT) AS band,
               list_reduce(list_prepend(CAST(17 AS BIGINT),
                 list(mh % 2147483648 ORDER BY j)),
                 (acc, v) -> (acc * 31 + v) % 2147483648) AS bh
        FROM sig GROUP BY doc_id, j // 4)"""

  def oracleSql: Map[String, String] = Map(
    // full-rebuild CC over the planted union corpus — the ground truth the
    // incremental label merge must reproduce exactly
    "dedup_components_incremental" -> s"""
      WITH RECURSIVE
      ${ccCtesTail("""d AS MATERIALIZED (
        SELECT a.doc_id,
               CASE WHEN a.doc_id % 50 = 7 AND b.text IS NOT NULL
                 THEN b.text ELSE a.text END AS text
        FROM documents a LEFT JOIN documents b ON b.doc_id = a.doc_id - 1)""")}
      SELECT doc_id, component_id, doc_id % 10 = 7 AS is_batch
      FROM comp ORDER BY doc_id""",

    "dedup_incremental_bands" -> s"""
      WITH ${portableBandCtes("")},
      store AS MATERIALIZED (
        SELECT DISTINCT band, bh FROM piv WHERE doc_id % 10 <> 7),
      batch AS MATERIALIZED (
        SELECT doc_id, band, bh FROM piv WHERE doc_id % 10 = 7),
      rejected AS MATERIALIZED (
        SELECT DISTINCT b.doc_id FROM batch b JOIN store s USING (band, bh)),
      batchdocs AS (SELECT doc_id FROM documents WHERE doc_id % 10 = 7),
      admitted AS MATERIALIZED (
        SELECT doc_id FROM batchdocs
        WHERE doc_id NOT IN (SELECT doc_id FROM rejected)),
      updated AS (SELECT DISTINCT band, bh FROM (
        SELECT band, bh FROM store
        UNION ALL
        SELECT band, bh FROM batch
        WHERE doc_id IN (SELECT doc_id FROM admitted)))
      SELECT (SELECT COUNT(1) FROM batchdocs) AS n_batch,
             (SELECT COUNT(1) FROM rejected) AS n_rejected,
             (SELECT COUNT(1) FROM admitted) AS n_admitted,
             (SELECT COUNT(1) FROM store) AS n_store_before,
             (SELECT COUNT(1) FROM updated) AS n_store_after""",

    "dedup_lsh_eval" -> s"""
      WITH ${portableBandCtes("WHERE doc_id < 200")},
      ts0 AS MATERIALIZED (SELECT doc_id, string_split(text, ' ') AS ts
                           FROM d WHERE doc_id < 200),
      shs AS MATERIALIZED (
        SELECT DISTINCT doc_id, array_to_string(ts[i:i+2], ' ') AS shingle
        FROM (SELECT doc_id, ts, unnest(range(1, len(ts) - 1)) AS i FROM ts0)),
      sz AS (SELECT doc_id, COUNT(1) AS n FROM shs GROUP BY 1),
      ix AS MATERIALIZED (
        SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(1) AS inter
        FROM shs a JOIN shs b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      bm AS MATERIALIZED (
        SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
        FROM piv a JOIN piv b
          ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
      pairs AS MATERIALIZED (
        SELECT d1.doc_id AS id1, d2.doc_id AS id2,
               COALESCE(ix.inter, 0) AS inter,
               COALESCE(s1.n, 0) + COALESCE(s2.n, 0) - COALESCE(ix.inter, 0)
                 AS uni,
               (bm.id1 IS NOT NULL) AS pred
        FROM ts0 d1
        JOIN ts0 d2 ON d1.doc_id < d2.doc_id
        LEFT JOIN ix ON ix.id1 = d1.doc_id AND ix.id2 = d2.doc_id
        LEFT JOIN sz s1 ON s1.doc_id = d1.doc_id
        LEFT JOIN sz s2 ON s2.doc_id = d2.doc_id
        LEFT JOIN bm ON bm.id1 = d1.doc_id AND bm.id2 = d2.doc_id),
      lab AS (SELECT (2 * inter >= uni AND uni > 0) AS pos, pred FROM pairs),
      agg AS (SELECT COUNT(1) AS n_pairs,
               CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
               CAST(SUM(CASE WHEN pred THEN 1 ELSE 0 END) AS BIGINT) AS n_pred,
               CAST(SUM(CASE WHEN pos AND pred THEN 1 ELSE 0 END) AS BIGINT)
                 AS tp,
               CAST(SUM(CASE WHEN NOT pos AND pred THEN 1 ELSE 0 END)
                 AS BIGINT) AS fp,
               CAST(SUM(CASE WHEN pos AND NOT pred THEN 1 ELSE 0 END)
                 AS BIGINT) AS fn
              FROM lab)
      SELECT n_pairs, n_pos, n_pred, tp, fp, fn,
             CASE WHEN n_pred > 0 THEN tp * 1000000 // n_pred END
               AS precision_ppm,
             CASE WHEN n_pos > 0 THEN tp * 1000000 // n_pos END AS recall_ppm
      FROM agg""",

    "dedup_minhash_estimate_error" -> s"""
      WITH ${portableBandCtes("WHERE doc_id < 200")},
      ts0 AS MATERIALIZED (SELECT doc_id, string_split(text, ' ') AS ts
                           FROM d WHERE doc_id < 200),
      shs AS MATERIALIZED (
        SELECT DISTINCT doc_id, array_to_string(ts[i:i+2], ' ') AS shingle
        FROM (SELECT doc_id, ts, unnest(range(1, len(ts) - 1)) AS i FROM ts0)),
      sz AS (SELECT doc_id, COUNT(1) AS n FROM shs GROUP BY 1),
      ix AS MATERIALIZED (
        SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(1) AS inter
        FROM shs a JOIN shs b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      km AS MATERIALIZED (
        SELECT a.doc_id AS id1, b.doc_id AS id2,
               CAST(SUM(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) AS BIGINT)
                 AS k
        FROM sig a JOIN sig b ON a.j = b.j AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      pairs AS (
        SELECT km.k, COALESCE(ix.inter, 0) AS inter,
               s1.n + s2.n - COALESCE(ix.inter, 0) AS uni
        FROM sz s1 JOIN sz s2 ON s1.doc_id < s2.doc_id
        JOIN km ON km.id1 = s1.doc_id AND km.id2 = s2.doc_id
        LEFT JOIN ix ON ix.id1 = s1.doc_id AND ix.id2 = s2.doc_id),
      e AS (SELECT k, inter * 1000000 // uni AS exact_ppm,
                   abs(k * 125000 - inter * 1000000 // uni) AS abs_err
            FROM pairs)
      SELECT CAST(k AS INT) AS k_rows, COUNT(1) AS n_pairs,
             CAST(SUM(exact_ppm) AS BIGINT) // COUNT(1) AS mean_exact_ppm,
             CAST(SUM(abs_err) AS BIGINT) // COUNT(1) AS mean_abs_err_ppm
      FROM e GROUP BY 1 ORDER BY k_rows""",

    "dedup_band_occupancy" -> s"""
      WITH ${portableBandCtes("")},
      o AS (SELECT band, bh, COUNT(1) AS occ FROM piv GROUP BY 1, 2)
      SELECT occ, COUNT(1) AS n_buckets FROM o GROUP BY 1 ORDER BY occ""",

    "docs_dup_threshold_curve" -> """
      WITH d AS MATERIALIZED (
        SELECT a.doc_id,
               CASE WHEN a.doc_id % 50 = 7 AND b.text IS NOT NULL
                 THEN b.text ELSE a.text END AS text
        FROM documents a LEFT JOIN documents b ON b.doc_id = a.doc_id - 1),
      ts0 AS MATERIALIZED (SELECT doc_id, string_split(text, ' ') AS ts
                           FROM d WHERE doc_id < 200),
      shs AS MATERIALIZED (
        SELECT DISTINCT doc_id, array_to_string(ts[i:i+2], ' ') AS shingle
        FROM (SELECT doc_id, ts, unnest(range(1, len(ts) - 1)) AS i FROM ts0)),
      sz AS (SELECT doc_id, COUNT(1) AS n FROM shs GROUP BY 1),
      ix AS MATERIALIZED (
        SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(1) AS inter
        FROM shs a JOIN shs b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      p AS (SELECT id1, id2, inter, s1.n + s2.n - inter AS uni
            FROM ix JOIN sz s1 ON id1 = s1.doc_id
                    JOIN sz s2 ON id2 = s2.doc_id
            WHERE inter > 0),
      bt AS (SELECT t.t AS tau, id1, id2 FROM p
             CROSS JOIN range(30, 100, 10) t(t)
             WHERE inter * 100 >= t.t * uni),
      u AS (SELECT tau, id1 AS dd FROM bt
            UNION ALL SELECT tau, id2 FROM bt)
      SELECT CAST(tau AS INT) AS tau, COUNT(1) // 2 AS n_pairs,
             COUNT(DISTINCT dd) AS n_docs
      FROM u GROUP BY 1 ORDER BY tau""",

    "dedup_span_repeats" -> """
      WITH d AS MATERIALIZED (
        SELECT doc_id,
               CASE WHEN doc_id % 20 = 3 THEN text ||
                 ' copyright footer terms of service all rights reserved contact us legal notice'
               ELSE text END AS text
        FROM documents),
      t0 AS MATERIALIZED (SELECT doc_id, string_split(text, ' ') AS ts FROM d),
      g AS MATERIALIZED (
        SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tok, p,
               array_to_string(ts[p:p+7], ' ') AS gram
        FROM (SELECT doc_id, ts, unnest(range(1, len(ts) - 6)) AS p
              FROM t0 WHERE len(ts) >= 8)),
      rep AS MATERIALIZED (SELECT gram FROM (
        SELECT gram, COUNT(DISTINCT doc_id) AS df FROM g GROUP BY 1)
        WHERE df >= 2),
      hits AS MATERIALIZED (
        SELECT doc_id, n_tok, p FROM g
        WHERE gram IN (SELECT gram FROM rep)),
      flagged AS (
        SELECT doc_id, n_tok, p,
               CASE WHEN p - LAG(p) OVER w > 7 THEN 1
                    WHEN LAG(p) OVER w IS NULL THEN 1 ELSE 0 END AS ni
        FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY p)),
      isl AS (
        SELECT doc_id, n_tok, p,
               CAST(SUM(ni) OVER (PARTITION BY doc_id ORDER BY p
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                 AS isl
        FROM flagged),
      spans AS (SELECT doc_id, n_tok, isl, MAX(p) - MIN(p) + 8 AS cov
                FROM isl GROUP BY 1, 2, 3)
      SELECT doc_id, n_tok, COUNT(1) AS n_spans,
             CAST(MAX(cov) AS BIGINT) AS max_span_tok,
             CAST(SUM(cov) AS BIGINT) AS covered_tok,
             CAST(SUM(cov) AS BIGINT) * 1000000 // n_tok AS covered_ppm
      FROM spans GROUP BY 1, 2 ORDER BY doc_id""",

    "dedup_incremental" -> """
      WITH f AS (
        SELECT doc_id, lang,
               md5(array_to_string(list_slice(
                 string_split(lower(regexp_replace(text, '\s+', ' ', 'g')), ' '),
                 1, 5), ' ')) AS fp
        FROM documents)
      SELECT b.doc_id, b.lang, b.fp
      FROM f b
      WHERE b.doc_id % 10 = 7
        AND NOT EXISTS (SELECT 1 FROM f s
                        WHERE s.doc_id % 10 <> 7 AND s.fp = b.fp)
      ORDER BY b.doc_id""",
    // Differential components check: DuckDB re-derives the same edge set
    // (capped-universe Jaccard pairs, mirroring the jaccard_pairs oracle)
    // and computes components by transitive closure in a recursive CTE —
    // reach(node, label) accumulates every label reachable from node, and
    // MIN over it is exactly the min-label-propagation fixpoint.
    "dedup_components" -> s"""
      WITH RECURSIVE $CcCteSql
      SELECT doc_id, component_id FROM comp ORDER BY doc_id""",
    "docs_split_by_component" -> s"""
      WITH RECURSIVE $CcCteSql,
      cb AS (SELECT c.component_id,
               ((list_reduce(list_prepend(CAST(17 AS BIGINT),
                 list_transform(range(1, length(d.text) + 1),
                   i -> CAST(ord(substring(d.text, i, 1)) AS BIGINT))),
                 (a, ch) -> (a * 31 + ch) % 2147483648) % 100) + 100) % 100
                 AS bucket
             FROM comp c JOIN documents d ON d.doc_id = c.doc_id
             WHERE c.doc_id = c.component_id)
      SELECT c.doc_id, c.component_id, CAST(cb.bucket AS INT) AS bucket,
             CASE WHEN cb.bucket < 80 THEN 'train'
                  WHEN cb.bucket < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM comp c JOIN cb USING (component_id) ORDER BY c.doc_id""",
    "docs_dedup_weight" -> s"""
      WITH RECURSIVE $CcCteSql,
      csz AS (SELECT component_id, COUNT(1) AS cluster_size
              FROM comp GROUP BY 1)
      SELECT c.doc_id, c.component_id, s.cluster_size,
             1000000 // s.cluster_size AS weight_ppm
      FROM comp c JOIN csz s USING (component_id)
      ORDER BY c.doc_id""",
    "docs_dedup_rate_by_source" -> s"""
      WITH RECURSIVE $CcCteSql,
      csz AS (SELECT component_id, COUNT(1) AS csz
              FROM comp GROUP BY 1)
      SELECT d.source, COUNT(1) AS n_docs,
             CAST(SUM(CASE WHEN s.csz >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup,
             CAST(SUM(CASE WHEN s.csz >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               * 1000000 // COUNT(1) AS dup_ppm
      FROM comp c JOIN csz s USING (component_id)
                  JOIN documents d ON d.doc_id = c.doc_id
      GROUP BY d.source ORDER BY d.source""",

    "dedup_cluster_stats" -> s"""
      WITH RECURSIVE $CcCteSql,
      csz AS (SELECT component_id, COUNT(1) AS cluster_size
              FROM comp GROUP BY 1)
      SELECT cluster_size, CAST(COUNT(1) AS BIGINT) AS n_clusters,
             CAST(cluster_size * COUNT(1) AS BIGINT) AS n_docs
      FROM csz GROUP BY cluster_size ORDER BY cluster_size""",
    // cross-lang QA re-derives the same capped-universe edge set (shared
    // CTE prefix; `pairs` is the edge list) and joins the lang labels
    "docs_cross_lang_dups" -> s"""
      WITH RECURSIVE $CcCteSql
      SELECT least(d1.lang, d2.lang) AS lang_a,
             greatest(d1.lang, d2.lang) AS lang_b,
             COUNT(1) AS n_pairs,
             CAST(least(d1.lang, d2.lang) <> greatest(d1.lang, d2.lang) AS INT)
               AS is_cross
      FROM pairs JOIN documents d1 ON id1 = d1.doc_id
                 JOIN documents d2 ON id2 = d2.doc_id
      GROUP BY 1, 2 ORDER BY lang_a, lang_b""",
    "text_langid" -> s"""
      WITH $langIdCtes
      SELECT doc_id, actual_lang, pred_lang,
             (actual_lang = pred_lang) AS correct
      FROM pred WHERE rn = 1 ORDER BY doc_id""",
    "docs_langid_confusion" -> s"""
      WITH $langIdCtes,
      p AS (SELECT doc_id, actual_lang, pred_lang FROM pred WHERE rn = 1),
      m AS (SELECT actual_lang, pred_lang, COUNT(1) AS n_docs
            FROM p GROUP BY 1, 2),
      tot AS (SELECT actual_lang, CAST(SUM(n_docs) AS BIGINT) AS n_actual
              FROM m GROUP BY 1)
      SELECT m.actual_lang, m.pred_lang, m.n_docs, tot.n_actual,
             (m.n_docs * 1000000) // tot.n_actual AS cell_ppm
      FROM m JOIN tot USING (actual_lang)
      ORDER BY m.actual_lang, m.pred_lang""",

    "dedup_prefix" -> """
      SELECT substring(text, 1, 40) AS prefix, COUNT(1) AS n_docs,
             MIN(doc_id) AS canonical_doc
      FROM documents
      GROUP BY 1 HAVING COUNT(1) >= 2
      ORDER BY prefix""",

    "docs_dup_quality_contingency" -> """
      WITH d AS (SELECT doc_id, n_chars,
                        COUNT(1) OVER (PARTITION BY substring(text, 1, 40))
                          AS pn
                 FROM documents),
      tot AS (SELECT COUNT(1) AS nd, CAST(SUM(n_chars) AS BIGINT) AS tc
              FROM d),
      cells AS (SELECT
          CAST(SUM(CASE WHEN pn >= 2 AND n_chars * nd >= tc
            THEN 1 ELSE 0 END) AS BIGINT) AS a_dup_hi,
          CAST(SUM(CASE WHEN pn >= 2 AND NOT (n_chars * nd >= tc)
            THEN 1 ELSE 0 END) AS BIGINT) AS b_dup_lo,
          CAST(SUM(CASE WHEN pn < 2 AND n_chars * nd >= tc
            THEN 1 ELSE 0 END) AS BIGINT) AS c_uni_hi,
          CAST(SUM(CASE WHEN pn < 2 AND NOT (n_chars * nd >= tc)
            THEN 1 ELSE 0 END) AS BIGINT) AS d_uni_lo
        FROM d CROSS JOIN tot)
      SELECT a_dup_hi, b_dup_lo, c_uni_hi, d_uni_lo,
             CASE WHEN b_dup_lo * c_uni_hi > 0 THEN
               (a_dup_hi * d_uni_lo * 1000) // (b_dup_lo * c_uni_hi)
             END AS odds_milli
      FROM cells""",
  )

  /** The text_langid kernel's oracle CTE chain, shared with the r13
    * confusion-matrix oracle so the two can never drift apart. */
  private val langIdCtes = """bg AS (
        SELECT DISTINCT doc_id, lang AS actual_lang, substring(text, i, 2) AS bigram
        FROM (SELECT doc_id, lang, text, unnest(range(1, length(text))) AS i
              FROM documents WHERE length(text) >= 2)),
      profile AS (SELECT actual_lang AS lang, bigram, COUNT(1) AS cnt
                  FROM bg WHERE doc_id % 10 = 0 GROUP BY 1, 2),
      top AS (SELECT lang AS profile_lang, bigram FROM (
                SELECT lang, bigram,
                       ROW_NUMBER() OVER (PARTITION BY lang
                                          ORDER BY cnt DESC, bigram) AS rn
                FROM profile) WHERE rn <= 20),
      scores AS (SELECT doc_id, actual_lang, profile_lang, COUNT(1) AS overlap
                 FROM bg JOIN top USING (bigram) GROUP BY 1, 2, 3),
      pred AS (SELECT doc_id, actual_lang, profile_lang AS pred_lang,
                      ROW_NUMBER() OVER (PARTITION BY doc_id
                                         ORDER BY overlap DESC, profile_lang) AS rn
               FROM scores)"""
}
