package graft.llm

import graft.{OpRegistry, Pin}
import graft.Helpers._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** §2.11 similarity search + multimodal operators.
  *
  * Determinism design: float dot products are sensitive to summation order
  * and engine float-promotion rules, so the scored kernel quantizes each
  * embedding element to integer micro-units (floor(x*1e6+0.5) — same IEEE
  * formula both engines) and sums 64-bit integer products: exact,
  * order-independent, hash-stable. Embeddings are L2-normalized
  * (FIXTURES.md) so the quantized dot is cosine * 1e12 within ~1e-4.
  *
  * Scale design: the brute-force kernel is the correctness baseline over a
  * bounded query set; `knn_ivf_topk` is the 100 TB path — a coarse inverted
  * index (sign-bit LSH cells) prunes candidates before exact re-ranking.
  */
object VectorOps extends OpRegistry {

  /** embedding -> array<long> of micro-unit quantized elements. */
  private def quantize(emb: Column): Column =
    transform(emb, x => floor(x.cast("double") * lit(1e6) + lit(0.5)))

  /** exact integer dot product of two quantized vectors — the native fused
    * codegen expression (graft.functions.DotQ); see GraftExpressions for why
    * it replaces aggregate(zip_with(...)). */
  private def dotQ(s: SparkSession, a: Column, b: Column): Column =
    graft.functions.GraftExpressions.dotQ(s, a, b)

  /** Hybrid sparse+dense retrieval kernel for `docs_hybrid_retrieval`,
    * factored so the spec can pin the full fusion math on a hand corpus.
    * Input: (doc_id, text) docs + (vec_id, embedding) vectors; the
    * candidate universe is their doc_id = vec_id join. Queries = docs with
    * doc_id < 5. Sparse = BM25 ([[TextOps.bm25Scores]], text_bm25_topk's
    * kernel) over the query doc's distinct terms; dense = exact quantized
    * dot; both top-20, RRF-fused (1e6 div (rank+60)), top-5 per query. */
  private[graft] def hybridRetrieval(s: SparkSession, docsIn: DataFrame,
      embIn: DataFrame,
      pin: DataFrame => DataFrame = Pin.shared): DataFrame = {
    // `pin` holds the doc⋈vector universe once for the four consumers
    // below; the registry op lands it as a corpus artifact (a
    // hybrid-search deployment's serving store IS this co-located table)
    val u = pin(hybridUniverseOf(docsIn, embIn))
    // dense branch: broadcast 5 query vectors, exact dot, top-20
    val qv = u.filter(col("doc_id") < 5)
      .select(col("doc_id").as("qid"), col("qe").as("qv"))
    val dense = broadcast(qv).join(u, col("doc_id") =!= col("qid"))
      .select(col("qid"), col("doc_id").as("did"),
        dotQ(s, col("qv"), col("qe")).as("dot_q"))
    val wd = Window.partitionBy("qid").orderBy(col("dot_q").desc, col("did"))
    val rdk = dense.withColumn("rd", row_number().over(wd).cast("long"))
      .filter(col("rd") <= 20).select(col("qid"), col("did"), col("rd"))
    // sparse branch: BM25 of each query doc's distinct terms over the
    // universe. The query panel (5 docs' distinct terms, bounded by their
    // length) is collected while the frame is built, as text_bm25_topk's
    // is; df counts the whole universe, so a query doc's own row is
    // dropped after scoring (a filter on group keys keeps the other groups)
    import s.implicits._
    val qterms = TextOps.termPostings(u.filter(col("doc_id") < 5))
      .select(col("doc_id"), col("term")).as[(Long, String)].collect()
      .toSeq.toDF("qid", "term")
    val sparse = TextOps.bm25Scores(u, qterms)
      .filter(col("doc_id") =!= col("qid"))
      .select(col("qid"), col("doc_id").as("did"), col("score_micro"))
    val ws = Window.partitionBy("qid").orderBy(col("score_micro").desc, col("did"))
    val rsk = sparse.withColumn("rs", row_number().over(ws).cast("long"))
      .filter(col("rs") <= 20).select(col("qid"), col("did"), col("rs"))
    // RRF fusion over the union of the two top-20 lists
    val rrf =
      coalesce(call_function("div", lit(1000000L), col("rs") + 60), lit(0L)) +
      coalesce(call_function("div", lit(1000000L), col("rd") + 60), lit(0L))
    val wr = Window.partitionBy("qid").orderBy(col("rrf").desc, col("did"))
    rsk.join(rdk, Seq("qid", "did"), "full_outer")
      .withColumn("rrf", rrf)
      .withColumn("rn", row_number().over(wr))
      .filter(col("rn") <= 5)
      .select(col("qid"), col("rn").cast("int").as("rn"),
        col("did").as("doc_id"),
        coalesce(col("rs"), lit(-1L)).as("rs"),
        coalesce(col("rd"), lit(-1L)).as("rd"), col("rrf"))
      .orderBy("qid", "rn")
  }

  private val IvfTables = 4
  private val IvfPlanes = 6

  /** Deterministic zero-mean integer hyperplane for sign-LSH (knn_ivf_topk):
    * splitmix64 (public-domain mixing constants) keyed by plane index — no
    * RNG state, reproducible across runs and engines.
    *
    * Each plane draws from a DISJOINT stride of the splitmix counter
    * (positions planeIdx*dim+1 .. planeIdx*dim+dim). Seeding with
    * `planeIdx+1` and stepping by the same increment would make component i
    * of plane k depend only on k+i — every plane a one-element shift of its
    * neighbor, and the "independent" tables almost fully correlated (review
    * r2 finding; the recall math assumes independence). */
  private def planeComponents(planeIdx: Int, dim: Int): Array[Long] = {
    var x = 0x9E3779B97F4A7C15L * (planeIdx.toLong * dim)
    Array.fill(dim) {
      x += 0x9E3779B97F4A7C15L
      var z = x
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z = z ^ (z >>> 31)
      // floorMod: plain % keeps the sign of z, which would bias every plane
      // negative (the round-1 hash-derived planes had exactly this defect)
      math.floorMod(z, 1001L) - 500L
    }
  }

  /** The LANDED IVF index (r17, VERDICT r16 #1) — (vec_id, tbl, cell)
    * POSTINGS, one row per vector per LSH table: the sign pattern of the
    * vector against each table's IvfPlanes deterministic hyperplanes,
    * planes baked in as literals (no per-row hashing). Built ONCE per
    * (session, corpus) via [[graft.CorpusArtifacts]] and read as parquet
    * by every later consumer — a production vector store persists its
    * index; re-deriving cells per query was the measured dominant cost of
    * the whole retrieval family (the CC-labels amortization, applied to
    * ANN). The artifact stores postings ONLY, never vectors: consumers
    * that re-rank fetch full vectors by a keyed join against the
    * embeddings table (at 100 TB the index is GBs while vectors are TBs —
    * carrying qe in the index would 4× the vector footprint). THE kernel
    * behind knn_ivf_topk (the index), vec_ivf_cell_stats /
    * vec_ivf_balance_gini (index health), and vec_ivf_probe_cost — one
    * definition, so the diagnosed index is provably the served index.
    * Honest measurement: Bench/ScaleProbe clear the artifact memo per
    * pass, so the first retrieval consumer's median pays the index build.
    * Embedding dim comes from the data via a one-row probe (a literal-
    * plane/array length mismatch would silently null projections). */
  private[graft] def ivfCellsFrame(s: SparkSession, dir: String): DataFrame =
    graft.CorpusArtifacts.parquet(s, "ivf_cells", dir) {
      val e = quantizedVectors(s, dir)
      val dim = embeddingDim(s, dir)
      def cellOf(qe: Column, tb: Int): Column =
        (0 until IvfPlanes).map { p =>
          val plane = planeComponents(tb * IvfPlanes + p, dim)
          val proj = dotQ(s, qe, lit(plane))
          when(proj >= 0, lit(1L << p)).otherwise(lit(0L))
        }.reduce(_ + _)
      e.select(col("vec_id"),
        posexplode(array((0 until IvfTables).map(tb => cellOf(col("qe"), tb)): _*))
          .as(Seq("tbl", "cell")))
    }

  /** The embedding dimension of `dir`'s vector store: a one-row probe over
    * the plain scan (a repartitioned one would shuffle the table for one
    * row), run once per (application, store path, [[Tables.fingerprint]])
    * like [[Tables.readParquet]]'s schema, so a second corpus, or one
    * rewritten in place, is probed afresh. */
  private[graft] def embeddingDim(s: SparkSession, dir: String): Int = {
    val path = s"$dir/embeddings.parquet"
    def probe = t(s, dir)("embeddings").select(size(col("embedding"))).head().getInt(0)
    graft.Tables.fingerprint(s, path).fold(probe) { files =>
      graft.Tables.embeddingDimMemo.getOrElseUpdate(
        Seq(s.sparkContext.applicationId, path, files).mkString("|"), probe)
    }
  }

  /** (vec_id, qe): one scan+quantize of the vector store — the keyed-fetch
    * side every index consumer joins for exact re-ranking. */
  private[graft] def quantizedVectors(s: SparkSession, dir: String): DataFrame =
    tWide(s, dir)("embeddings")
      .select(col("vec_id"), quantize(col("embedding")).as("qe"))

  /** IVF-PQ artifact kernel (r18, factored out of knn_ivfpq_topk so
    * corpus_ingest_index can land the index without running a query):
    * (1) PQ codebook TRAINING — one deterministic Lloyd round over the
    * fixed splitmix seeds (assignment → per-(subspace, code) component
    * means; K×M×subDim MODEL state), landed as the ivfpq_codebook
    * artifact; the driver collect below is the vec_kmeans_iter
    * model-state pattern, never a data collect. (2) The (postings +
    * codes) ivfpq_index artifact — (vec_id, tbl, cell, codes), landed
    * once per corpus; it never carries vectors (the ivfCellsFrame
    * storage rationale — codes are the 32×-smaller stand-in ADC scores
    * from). PQ encode is the native PqEncode expression (the previous
    * declarative M×K literal-tree lowering blew the JVM 64 KB method
    * limit and ran interpreted — round-6 weak flag). `e0` is the
    * caller-pinned quantized store. Returns (trained codebook, codebook
    * frame, index frame). */
  private[graft] def ivfPqArtifacts(s: SparkSession, dir: String,
      e0: DataFrame): (Array[Array[Array[Long]]], DataFrame, DataFrame) = {
    val NumTables = IvfTables
    val Planes = IvfPlanes
    val M = IvfPqSubspaces
    val dim = embeddingDim(s, dir)
    // ivfpqOracleSql pins dim=64 in generated SQL literals — fail loudly
    // on a fixture change instead of silently diverging from the oracle
    // dim==64 implies divisibility by M=16, so a separate dim % M check
    // would be dead code (round-6 advice)
    require(dim == 64,
      s"ivfPqArtifacts: fixture dim=$dim but the generated oracle assumes dim=64 with $M subspaces")
    val subDim = dim / M
    val fixedCb: Array[Array[Array[Long]]] =
      Array.tabulate(M, PqCodebook)((m, k) => pqCentroid(m, k, subDim))
    val cbDf = graft.CorpusArtifacts.parquet(s, "ivfpq_codebook", dir) {
      val assigned = e0.withColumn("codes0",
        graft.functions.GraftExpressions.pqEncode(col("qe"), fixedCb))
      val perM = array((0 until M).map { m =>
        struct(element_at(col("codes0"), m + 1).as("k"),
          slice(col("qe"), m * subDim + 1, subDim).as("sub"))
      }: _*)
      val stats = assigned.select(posexplode(perM).as(Seq("m", "st")))
        .select(col("m"), col("st.k").as("k"), posexplode(col("st.sub")).as(Seq("i", "v")))
        .groupBy("m", "k", "i").agg(sum("v").as("sv"), count(lit(1)).as("cn"))
      import s.implicits._
      val seeds = (for { m <- 0 until M; k <- 0 until PqCodebook; i <- 0 until subDim }
        yield (m, k, i, fixedCb(m)(k)(i))).toDF("m", "k", "i", "seed")
      seeds.join(stats, Seq("m", "k", "i"), "left")
        .select(col("m"), col("k"), col("i"),
          coalesce(
            floor(col("sv").cast("double") / col("cn") + lit(0.5)).cast("long"),
            col("seed")).as("comp"))
    }
    val trained = Array.tabulate(M, PqCodebook)((m, k) => fixedCb(m)(k).clone())
    cbDf.collect().foreach { r =>
      trained(r.getAs[Int]("m"))(r.getAs[Int]("k"))(r.getAs[Int]("i")) =
        r.getAs[Long]("comp")
    }
    def cellOf(qe: Column, tb: Int): Column =
      (0 until Planes).map { p =>
        val plane = planeComponents(tb * Planes + p, dim)
        val proj = dotQ(s, qe, lit(plane))
        when(proj >= 0, lit(1L << p)).otherwise(lit(0L))
      }.reduce(_ + _)
    val cells = graft.CorpusArtifacts.parquet(s, "ivfpq_index", dir) {
      e0.withColumn("codes",
          graft.functions.GraftExpressions.pqEncode(col("qe"), trained))
        .select(col("vec_id"), col("codes"),
          posexplode(array((0 until NumTables).map(tb => cellOf(col("qe"), tb)): _*))
            .as(Seq("tbl", "cell")))
    }
    (trained, cbDf, cells)
  }

  /** The hybrid-retrieval serving universe — documents co-located with
    * their quantized vectors, ONE shared definition (r18) so
    * docs_hybrid_retrieval and corpus_ingest_index can never drift on
    * what the hybrid_universe artifact contains. */
  private[graft] def hybridUniverseOf(docsIn: DataFrame,
      embIn: DataFrame): DataFrame =
    docsIn.select(col("doc_id"), col("text"))
      .join(embIn.select(col("vec_id").as("doc_id"),
        quantize(col("embedding")).as("qe")), Seq("doc_id"))

  /** The payload parity sketch as FOUR 16-bit LSH bands — 64-bit parity of
    * the codepoint histogram (bucket = cp % 64, bit = count parity),
    * multimodal_phash_dedup's kernel factored out (r17) so the cross-modal
    * pair op provably shares it. Codepoints, not UTF-8 bytes, so the
    * sketch agrees with DuckDB's char-positional ord on any text. */
  private def phashBands(aug: DataFrame): DataFrame = {
    val s = aug.sparkSession
    import s.implicits._
    aug.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val par = new Array[Long](64)
          if (text != null)
            text.codePoints().forEach(cp => par(cp % 64) ^= 1L)
          def band(k: Int): Long =
            (0 until 16).foldLeft(0L)((a, j) => a | (par(k * 16 + j) << j))
          (id, band(0), band(1), band(2), band(3))
        }
      }
      .toDF("doc_id", "b0", "b1", "b2", "b3")
  }

  private val PqSubspaces = 8
  private val PqCodebook = 16
  /** knn_ivfpq_topk uses finer subspaces than vec_pq_codes (16×4-dim vs
    * 8×8-dim): the fixture embeddings have low neighbor contrast (top-5
    * cos ≈ 0.4), so the coarser split's quantization error swamps the
    * neighbor gaps — measured recall 0.46 at M=8 vs 0.86 at M=16 with one
    * training round and a 64-candidate shortlist. */
  private val IvfPqSubspaces = 16
  /** FLOOR of the per-query shortlist; the op re-ranks
    * max(this, ncand/32) — a fixed 64 collapsed recall@5 to 0.58 once the
    * candidate set hit 200k at the 100× probe scale. */
  private val IvfPqShortlist = 64

  private val JlDims = 16
  /** Rademacher ±1 projection signs for vec_jl_projection (Achlioptas-style
    * database-friendly JL): ±1 entries keep every projected component ≤
    * 64·1e6 in magnitude, so the 16-term projected dot product stays
    * < 2^57 — exact 64-bit integer math end to end, NO rescaling (a scale
    * step would hit the integer-division dialect trap on negatives).
    * splitmix64 stride offset +128: disjoint from the IVF planes (0..23)
    * and the near-embedding tables (+64). */
  private def jlSigns(planeIdx: Int, dim: Int): Array[Long] = {
    var x = 0x9E3779B97F4A7C15L * ((128 + planeIdx).toLong * dim)
    Array.fill(dim) {
      x += 0x9E3779B97F4A7C15L
      var z = x
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z = z ^ (z >>> 31)
      math.floorMod(z, 2L) * 2L - 1L
    }
  }

  /** Deterministic PQ codebook centroid (quantized micro-units): splitmix64
    * keyed by (subspace, code) with a different multiplier than the LSH
    * planes so the two ops share no pseudo-random structure. Components span
    * ±150000 µ-units ≈ ±0.15, the realistic component range of an
    * L2-normalized 64-dim vector. Real PQ k-means-trains the codebook; a
    * fixed one still exercises the full encode path (subvector split, exact
    * argmin assignment, code packing) and keeps both engines differential. */
  private def pqCentroid(m: Int, k: Int, subDim: Int): Array[Long] = {
    var x = 0xC2B2AE3D27D4EB4FL * ((m.toLong * PqCodebook + k) * subDim + 1)
    Array.fill(subDim) {
      x += 0x9E3779B97F4A7C15L
      var z = x
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z = z ^ (z >>> 31)
      math.floorMod(z, 300001L) - 150000L
    }
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "vec_pq_codes" -> ((s, dir) => {
      // Product quantization encode — the 100 TB embedding-compression
      // primitive: 64 dims × 4 bytes shrink to 8 one-byte codes (32× less
      // storage/IO for ANN shortlists). Exact integer kernel: per subspace m,
      // code = argmin_k ||sub_m - c_{m,k}||² over quantized BIGINTs, expanded
      // as ||sub||² - 2<sub,c> + ||c||² so the data-dependent part is one
      // DotQ per (m,k) — all codegen, no shuffle; the only shuffle is the
      // final global sort for output determinism. Ties break on smallest k
      // (struct ordering), mirrored by the oracle's ORDER BY dist, k.
      val dim = embeddingDim(s, dir)
      val subDim = dim / PqSubspaces
      val e = quantizedVectors(s, dir)
      val perSub = (0 until PqSubspaces).map { m =>
        val sub = slice(col("qe"), m * subDim + 1, subDim)
        val subsq = dotQ(s, sub, sub)
        val best = array_min(array((0 until PqCodebook).map { k =>
          val c = pqCentroid(m, k, subDim)
          val cSq = c.map(v => v * v).sum
          struct((lit(cSq) - lit(2L) * dotQ(s, sub, lit(c))).as("s"), lit(k).as("k"))
        }: _*))
        struct((subsq + best.getField("s")).as("err"), best.getField("k").as("code"))
      }
      e.select(col("vec_id"), array(perSub: _*).as("ps"))
        .select(col("vec_id"),
          array_join(transform(col("ps"), p => p.getField("code")), ",").as("codes"),
          aggregate(col("ps"), lit(0L), (a, p) => a + p.getField("err")).as("qerr"))
        .orderBy("vec_id")
    }),

    "knn_cosine_topk" -> ((s, dir) => {
      val e = quantizedVectors(s, dir)
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("qe").as("qv"))
      val scored = broadcast(q).join(e, col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id").as("vid"), dotQ(s, col("qv"), col("qe")).as("dot_q"))
      val w = Window.partitionBy("qid").orderBy(col("dot_q").desc, col("vid"))
      scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select(col("qid"), col("vid"), col("dot_q"),
          r4(col("dot_q").cast("double") / lit(1e12)).as("cos4"),
          col("rn").cast("int").as("rn"))
        .orderBy("qid", "rn")
    }),

    "vec_hamming_recall" -> ((s, dir) => {
      // 1-bit binary-quantization eval (round 11): pack each embedding's
      // 64 coordinate signs into ONE 64-bit word and measure what
      // Hamming-top-10 retrieval keeps of the exact cosine top-10. The
      // storage story is 64 floats → 8 bytes (32×), and XOR+popcount is
      // the cheapest distance any hardware computes — the binary-sketch
      // first pass a 100 TB vector store runs before exact re-rank. One
      // scored pass joins the bounded query set against the corpus
      // computing BOTH orders (the packed word rides the same row); the
      // two rank windows share the qid exchange; the verdict agg
      // collapses to |queries| rows. Bit i set ⇔ qe[i] ≥ 0 — an exact
      // integer comparison on the shared ×1e6 quantization, so the
      // signature is engine-portable (bit 63's power is the Long.MinValue
      // literal: non-overlapping bit terms add without carries, the same
      // construction dedup_simhash uses).
      val sigBits = (0 until 64).map(i =>
        when(element_at(col("qe"), i + 1) >= 0,
          lit(if (i == 63) Long.MinValue else 1L << i)).otherwise(lit(0L)))
        .reduce(_ + _)
      val e = quantizedVectors(s, dir)
        .withColumn("sig", sigBits)
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("qe").as("qv"), col("sig").as("qsig"))
      val scored = broadcast(q).join(e, col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id").as("vid"),
          dotQ(s, col("qv"), col("qe")).as("dot_q"),
          call_function("bit_count", col("qsig").bitwiseXOR(col("sig"))).as("ham"))
      // n_hit = |top10_dot ∩ top10_ham| — computed as two PRUNED top-list
      // branches joined on (qid, vid), the vec_rank_fusion shape (round
      // 12): ranking both orders inside one aggregate forces FULL ranks
      // (no adjacent filter → no WindowGroupLimit prune → per-qid
      // single-task sorts of the whole corpus; 21 s at the 100× probe),
      // while each rank→filter branch prunes to 10/qid map-side. Ties
      // break on vid in both forms, so the intersection is identical.
      val wf = Window.partitionBy("qid").orderBy(col("dot_q").desc, col("vid"))
      val wh = Window.partitionBy("qid").orderBy(col("ham").asc, col("vid"))
      val topF = scored.withColumn("rf", row_number().over(wf))
        .filter(col("rf") <= 10).select(col("qid"), col("vid"))
      val topH = scored.withColumn("rh", row_number().over(wh))
        .filter(col("rh") <= 10).select(col("qid"), col("vid"))
      val hits = topF.join(topH, Seq("qid", "vid"))
        .groupBy("qid").agg(count(lit(1)).cast("int").as("n_hit"))
      q.select(col("qid")).join(hits, Seq("qid"), "left")
        .select(col("qid"), coalesce(col("n_hit"), lit(0)).as("n_hit"))
        .withColumn("recall_ppm", col("n_hit").cast("long") * lit(100000L))
        .orderBy("qid")
    }),

    "vec_rank_fusion" -> ((s, dir) => {
      // Reciprocal-rank fusion (round 11): fuse the exact-cosine TOP-64
      // LIST with the binary-Hamming TOP-64 LIST per query — the
      // canonical hybrid-retrieval combiner exactly as practitioners run
      // it (RRF fuses the lists each ranker RETURNED; a doc absent from
      // a list contributes 0 for it). Scores are exact integer
      // millionths (1000000 div (60+rank)) so the fused order is
      // dialect-proof. Plan shape (measured, r11 200× probe): each
      // top-list is the knn_cosine_topk pattern — exchange → rank →
      // adjacent filter, which Spark rewrites into a PARTIAL
      // WindowGroupLimit on the map side, pruning to ~64/qid per split
      // BEFORE the shuffle; the two branches shuffle the SAME scored
      // frame by qid, so AQE reuses one exchange. The naive form (three
      // stacked windows + one final rank filter over the full scored
      // frame) hit the Final-only WindowGroupLimit path at 4M rows:
      // 39.4 s at 200× vs 3.5 s for this shape. The fused frame is
      // ≤ 128 rows/query before the final re-rank.
      val sigBits = (0 until 64).map(i =>
        when(element_at(col("qe"), i + 1) >= 0,
          lit(if (i == 63) Long.MinValue else 1L << i)).otherwise(lit(0L)))
        .reduce(_ + _)
      val e = quantizedVectors(s, dir)
        .withColumn("sig", sigBits)
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("qe").as("qv"), col("sig").as("qsig"))
      val scored = broadcast(q).join(e, col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id").as("vid"),
          dotQ(s, col("qv"), col("qe")).as("dot_q"),
          call_function("bit_count", col("qsig").bitwiseXOR(col("sig"))).as("ham"))
      val wf = Window.partitionBy("qid").orderBy(col("dot_q").desc, col("vid"))
      val wh = Window.partitionBy("qid").orderBy(col("ham").asc, col("vid"))
      val topF = scored.withColumn("rf", row_number().over(wf).cast("long"))
        .filter(col("rf") <= 64).select(col("qid"), col("vid"), col("rf"))
      val topH = scored.withColumn("rh", row_number().over(wh).cast("long"))
        .filter(col("rh") <= 64).select(col("qid"), col("vid"), col("rh"))
      val rrf =
        coalesce(call_function("div", lit(1000000L), col("rf") + 60), lit(0L)) +
        coalesce(call_function("div", lit(1000000L), col("rh") + 60), lit(0L))
      val wr = Window.partitionBy("qid").orderBy(col("rrf").desc, col("vid"))
      topF.join(topH, Seq("qid", "vid"), "full_outer")
        .withColumn("rrf", rrf)
        .withColumn("rn", row_number().over(wr))
        .filter(col("rn") <= 5)
        .select(col("qid"), col("rn").cast("int").as("rn"), col("vid"),
          coalesce(col("rf"), lit(-1L)).as("rf"),
          coalesce(col("rh"), lit(-1L)).as("rh"), col("rrf"))
        .orderBy("qid", "rn")
    }),

    "vec_centroid_drift" -> ((s, dir) => {
      // Embedding-drift monitor (round 11): per label, the L2 distance
      // between the centroids of two corpus halves (vec_id parity — in
      // production, yesterday's snapshot vs today's) — the drift alarm
      // before a stale ANN index or classifier silently degrades. The
      // rational centroids never materialize: with per-half integer sums
      // s1,s2 and counts n1,n2, ǀǀc1−c2ǀǀ² = Σ_d (s1_d·n2 − s2_d·n1)² /
      // (n1·n2)², so the numerator accumulates EXACTLY in DECIMAL(38,0)
      // (HUGEINT on the oracle side). Declared bound (ADVICE r11): the
      // term that must fit 1e38 is the SUMMED t², not t — with ǀxǀ ≤ 1e6
      // per quantized component, ǀtǀ ≤ 2·n²·1e6 and Σ_64 t² < 1e38 needs
      // ǀtǀ < ~1.2e18, i.e. n ≲ 8e5 rows per label per half; beyond that
      // rescale the quantization (mirrors vec_pca_deflate's ~9e7 bound) —
      // non-ANSI Spark would null silently while the oracle errors. And
      // the single sqrt + divisions run once per label on the exact
      // scalars. One explode pass → (label, dim, half) partial sums →
      // label-sized frames only.
      import org.apache.spark.sql.types.DecimalType
      val d380 = DecimalType(38, 0)
      val e = tWide(s, dir)("embeddings")
        .select(col("label"), (col("vec_id") % 2).as("half"),
          posexplode(quantize(col("embedding"))).as(Seq("i", "x")))
      val sums = e.groupBy("label", "half", "i").agg(sum("x").as("sd"))
      val a = sums.filter(col("half") === 0)
        .select(col("label"), col("i"), col("sd").as("s1"))
      val b = sums.filter(col("half") === 1)
        .select(col("label"), col("i"), col("sd").as("s2"))
      val n = tWide(s, dir)("embeddings").groupBy("label")
        .agg(sum(when(col("vec_id") % 2 === 0, 1L).otherwise(0L)).as("n1"),
          sum(when(col("vec_id") % 2 === 1, 1L).otherwise(0L)).as("n2"))
      a.join(b, Seq("label", "i"))
        .join(broadcast(n), Seq("label"))
        .withColumn("t", col("s1") * col("n2") - col("s2") * col("n1"))
        .groupBy("label")
        .agg(max(col("n1")).as("n1"), max(col("n2")).as("n2"),
          sum((col("t").cast(d380) * col("t").cast(d380))).as("num"))
        .select(col("label"), col("n1"), col("n2"),
          r6(sqrt(col("num").cast("double")) / (col("n1") * col("n2"))
            / lit(1000000d)).as("drift6"))
        .orderBy("label")
    }),

    "vec_matryoshka_recall" -> ((s, dir) => {
      // Matryoshka/MRL truncation eval: does the 16-dim PREFIX of each
      // embedding preserve the full 64-dim top-5 neighbor set? Per query:
      // |top5_full ∩ top5_prefix| and whether the top-1 survives — the
      // measured evidence behind serving truncated vectors (4× cheaper
      // storage/ANN) at corpus scale. ONE scored pass computes both dots
      // (the prefix dot is a slice of the same quantized array — exact
      // integers, identical in any engine); both rank windows share the
      // qid exchange; the verdict agg collapses to |queries| rows.
      val e = quantizedVectors(s, dir)
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("qe").as("qv"))
      val scored = broadcast(q).join(e, col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id").as("vid"),
          dotQ(s, col("qv"), col("qe")).as("dot_full"),
          dotQ(s, slice(col("qv"), 1, 16), slice(col("qe"), 1, 16))
            .as("dot_pref"))
      val wf = Window.partitionBy("qid").orderBy(col("dot_full").desc, col("vid"))
      val wp = Window.partitionBy("qid").orderBy(col("dot_pref").desc, col("vid"))
      scored
        .withColumn("rf", row_number().over(wf))
        .withColumn("rp", row_number().over(wp))
        .groupBy("qid")
        .agg(
          sum(when(col("rf") <= 5 && col("rp") <= 5, 1L).otherwise(0L))
            .as("n_overlap"),
          max(when(col("rf") === 1 && col("rp") === 1, 1).otherwise(0))
            .as("top1_same"))
        .orderBy("qid")
    }),

    "sim_threshold_pairs" -> ((s, dir) => {
      val e = quantizedVectors(s, dir).filter(col("vec_id") < 100)
      val a = e.select(col("vec_id").as("id1"), col("qe").as("q1"))
      val b = e.select(col("vec_id").as("id2"), col("qe").as("q2"))
      a.join(broadcast(b), col("id1") < col("id2"))
        .select(col("id1"), col("id2"), dotQ(s, col("q1"), col("q2")).as("dot_q"))
        .filter(col("dot_q") > 250000000000L)
        .select(col("id1"), col("id2"), col("dot_q"),
          r4(col("dot_q").cast("double") / lit(1e12)).as("cos4"))
        .orderBy("id1", "id2")
    }),

    "vec_cosine_histogram" -> ((s, dir) => {
      // Embedding-geometry diagnostic (round 13): the DISTRIBUTION of
      // pairwise cosine similarity over an id-capped probe sample — the
      // hubness / collapsed-encoder screen run before any ANN index is
      // trusted (a healthy normalized corpus piles mass near 0; a
      // collapsed encoder piles it near 1, and no top-k metric shows
      // that). The ≤200-id sample is the op's declared semantics,
      // mirrored in the oracle (the sim_threshold_pairs cap discipline —
      // a geometry histogram needs a sample, not all-pairs). Integer
      // determinism end-to-end: native DotQ integer dot (denominator
      // 1e12), bucket = non-negative integer floor-div into 0.05-wide
      // cells ((dot+1e12) div 5e10 ∈ 0..40 — shifting first keeps both
      // engines' integer division identical), cos_lo6 a display from the
      // small-int bucket only.
      val e = quantizedVectors(s, dir).filter(col("vec_id") < 200)
      val a = e.select(col("vec_id").as("id1"), col("qe").as("q1"))
      val b = e.select(col("vec_id").as("id2"), col("qe").as("q2"))
      a.join(broadcast(b), col("id1") < col("id2"))
        .select(dotQ(s, col("q1"), col("q2")).as("dot_q"))
        .select(call_function("div", col("dot_q") + lit(1000000000000L),
          lit(50000000000L)).as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("n_pairs"))
        .select(col("bucket"), col("n_pairs"),
          r6(col("bucket").cast("double") * lit(0.05) - lit(1.0)).as("cos_lo6"))
        .orderBy("bucket")
    }),

    "vec_norm_stats" -> ((s, dir) => {
      val e = tWide(s, dir)("embeddings")
        .withColumn("qe", quantize(col("embedding")))
        .withColumn("sumsq_q", dotQ(s, col("qe"), col("qe")))
        .withColumn("norm_q",
          floor(sqrt(col("sumsq_q").cast("double") / lit(1e12)) * lit(1e6) + lit(0.5)))
      e.groupBy("label")
        .agg(count(lit(1)).as("cnt"),
          sum(col("norm_q")).as("sum_norm_q"),
          min(size(col("embedding"))).as("dim_min"),
          max(size(col("embedding"))).as("dim_max"))
        .withColumn("mean_norm",
          r6(col("sum_norm_q").cast("double") / col("cnt") / lit(1e6)))
        .orderBy("label")
    }),

    "multimodal_join" -> ((s, dir) => {
      val tt = t(s, dir) _
      tt("documents").join(tt("embeddings"), col("doc_id") === col("vec_id"))
        .select(col("doc_id"), col("lang"), col("n_chars"), col("label"),
          size(col("embedding")).as("dim"),
          sha2(col("text"), 256).as("text_sha"))
        .orderBy("doc_id")
    }),

    "multimodal_label_text" -> ((s, dir) => {
      val tt = t(s, dir) _
      val j = tt("documents").join(tt("embeddings"), col("doc_id") === col("vec_id"))
        .select("doc_id", "lang", "n_chars", "label")
      val perLabel = j.groupBy("label")
        .agg(count(lit(1)).as("cnt"), sum(col("n_chars")).as("sum_chars"))
      val langCnt = j.groupBy("label", "lang").agg(count(lit(1)).as("lcnt"))
      val w = Window.partitionBy("label").orderBy(col("lcnt").desc, col("lang"))
      val dom = langCnt.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("label").as("label2"), col("lang").as("dom_lang"))
      perLabel.join(dom, col("label") === col("label2")).drop("label2")
        .select(col("label"), col("cnt"), col("sum_chars"),
          r4(col("sum_chars").cast("double") / col("cnt")).as("avg_chars"),
          col("dom_lang"))
        .orderBy("label")
    }),

    "knn_ivf_topk" -> ((s, dir) => {
      // Scale path (generated-literal DuckDB twin + recall unit tests):
      // multi-table sign-LSH — L=4 independent tables of 6 hyperplanes each,
      // multiprobe up to Hamming distance 2 (1+6+15 = 22 cells per table),
      // exact quantized re-rank over the union of candidates. Round 1 used
      // one 8-plane table with Hamming-1 probing and measured recall 0.26
      // (VERDICT r1 #5). On this fixture the true top-5 neighbors have
      // per-bit sign agreement p ≈ 0.63 (cos ≈ 0.4), so per-table
      // P(H<=2 over 6 planes) ≈ 0.6 and 4 independent tables give
      // 1-(1-0.6)^4 ≈ 0.97 recall — while the candidate set stays bounded
      // by cell occupancy (never doc × doc). At larger corpora, add planes
      // per table: cell count scales exponentially, probe count stays 22L.
      val Planes = IvfPlanes
      // r17: cells is the LANDED postings artifact (vec_id, tbl, cell) —
      // built once per corpus, parquet-read here; the query panel joins
      // its own vectors in (10 rows), candidates carry IDS ONLY through
      // banding+dedup, and the exact re-rank fetches candidate vectors by
      // a keyed join against the store — the IO discipline of a real
      // vector store (index reads never drag vectors along).
      val cells = ivfCellsFrame(s, dir)
      val e = quantizedVectors(s, dir)
      val q = cells.filter(col("vec_id") < 10)
        .join(e.filter(col("vec_id") < 10).withColumnRenamed("qe", "qv"),
          Seq("vec_id"))
        .select(col("vec_id").as("qid"), col("qv"),
          col("tbl").as("qtbl"), col("cell").as("qcell"))
      // multiprobe cells: exact + Hamming-1 + Hamming-2 flips
      val flips: Seq[Column] =
        col("qcell") +:
        ((0 until Planes).map(b => col("qcell").bitwiseXOR(lit(1L << b))) ++
         (for { a <- 0 until Planes; b <- a + 1 until Planes }
           yield col("qcell").bitwiseXOR(lit((1L << a) | (1L << b)))))
      val qx = q.withColumn("cand_cell", explode(array(flips: _*)))
      val cand = broadcast(qx).join(cells,
          col("qtbl") === col("tbl") && col("cand_cell") === col("cell")
            && col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id").as("vid"), col("qv"))
        .dropDuplicates("qid", "vid")
      // keyed vector fetch for the shortlist only — the candidate side is
      // query-panel-bounded at any corpus size, so it broadcasts
      val scored = broadcast(cand)
        .join(e.withColumnRenamed("vec_id", "vid"), Seq("vid"))
        .select(col("qid"), col("vid"), dotQ(s, col("qv"), col("qe")).as("dot_q"))
      val w = Window.partitionBy("qid").orderBy(col("dot_q").desc, col("vid"))
      scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select(col("qid"), col("vid"), col("dot_q"), col("rn").cast("int").as("rn"))
        .orderBy("qid", "rn")
    }),

    "vec_ivf_cell_stats" -> ((s, dir) => {
      // IVF index-health report — the occupancy-balance table a vector
      // store reads before trusting its index (profile_join_skew_report's
      // diagnosis discipline applied to the ANN index): per LSH table,
      // vector/cell counts, the heaviest cell and its occupancy, singleton
      // count, and max/mean occupancy in integer ppm. A saturated cell
      // means candidate lists degenerate toward brute force (the
      // multimodal_phash_dedup cap lesson); a sea of singletons means
      // recall starves. Cells come from ivfCellsFrame — THE same kernel
      // knn_ivf_topk serves from, so the diagnosed index is provably the
      // served one. Work is cell-bounded after one scan: ≤ 2^planes rows
      // per table at any corpus size. skew_ppm = max_occ·1e6 div
      // (n_vecs div n_cells), both divisions integer (overflow-safe at
      // any scale); heavy cell by min-cell tiebreak (never max_by).
      val occ = ivfCellsFrame(s, dir).groupBy("tbl", "cell")
        .agg(count(lit(1)).as("occ"))
      val stats = occ.groupBy("tbl").agg(
        sum("occ").as("n_vecs"), count(lit(1)).as("n_cells"),
        max("occ").as("max_occ"),
        sum(when(col("occ") === 1, 1L).otherwise(0L)).as("singleton_cells"))
      val heavy = occ.join(broadcast(stats.select(col("tbl").as("tbl2"),
          col("max_occ").as("mx"))),
          col("tbl") === col("tbl2") && col("occ") === col("mx"))
        .groupBy("tbl").agg(min("cell").as("heavy_cell"))
      stats.join(heavy, Seq("tbl"))
        .select(col("tbl").cast("long").as("tbl"), col("n_vecs"),
          col("n_cells"), col("max_occ"), col("singleton_cells"),
          col("heavy_cell"),
          call_function("div", col("max_occ") * lit(1000000L),
            call_function("div", col("n_vecs"), col("n_cells")))
            .as("occ_skew_ppm"))
        .orderBy("tbl")
    }),

    "vec_ivf_balance_gini" -> ((s, dir) => {
      // IVF cell-balance Gini (r15): one number per LSH table summarizing
      // occupancy inequality — 0 = perfectly balanced cells, → 1 = one
      // cell owns the corpus (candidate lists degenerate toward brute
      // force). Complements vec_ivf_cell_stats' max/singleton EXTREMES
      // with the full-dispersion summary an index-health dashboard
      // tracks over time. The sorted-rank Gini identity
      // (2·Σ rk·occ − (n+1)·Σ occ) / (n·Σ occ), all-integer at milli
      // scale; the rank window runs on the ≤ 2^planes-row occupancy
      // frame (cell-bounded at any corpus size), and cells come from
      // ivfCellsFrame — the SERVED index, not a re-derivation. Tie
      // ranks ordered by (occ, cell); Σ rk·occ is tie-order-invariant.
      val occ = ivfCellsFrame(s, dir).groupBy("tbl", "cell")
        .agg(count(lit(1)).as("occ"))
      val w = Window.partitionBy("tbl").orderBy(col("occ"), col("cell"))
      occ.withColumn("rk", row_number().over(w).cast("long"))
        .groupBy("tbl")
        .agg(count(lit(1)).as("n_cells"), sum(col("occ")).as("n_vecs"),
          sum(col("rk") * col("occ")).as("s_rank"))
        .select(col("tbl").cast("long").as("tbl"), col("n_cells"),
          col("n_vecs"),
          call_function("div",
            (col("s_rank") * 2 - (col("n_cells") + 1) * col("n_vecs"))
              * lit(1000L),
            col("n_cells") * col("n_vecs")).as("gini_milli"))
        .orderBy("tbl")
    }),

    "vec_dedup_exact" -> ((s, dir) => {
      // Exact-duplicate embedding census (r15): identical vectors (after
      // the shared exact-integer micro-quantization) grouped on the
      // quantized array itself — the screen a vector store runs before
      // indexing, because exact dupes waste index cells and skew ANN
      // candidate lists. One hash agg keyed on the quantized array (the
      // array IS the key — no float compare, no hash seed, so both
      // engines group identically), then a 1-row census. The fixture has
      // no natural exact-dup embeddings, so the op plants re-delivered
      // vectors (vec_id % 50 = 7 carries vec_id−1's embedding — the
      // plantedDocs discipline applied to the vector table).
      val raw = quantizedVectors(s, dir)
      val nb = raw.select((col("vec_id") + 1).as("vec_id"),
        col("qe").as("prev"))
      val v = raw.join(nb, Seq("vec_id"), "left")
        .select(col("vec_id"),
          when(pmod(col("vec_id"), lit(50L)) === 7 && col("prev").isNotNull,
            col("prev")).otherwise(col("qe")).as("qe"))
      v.groupBy("qe").agg(count(lit(1)).as("n"))
        .agg(count(lit(1)).as("n_distinct"),
          sum(col("n")).as("n_vectors"),
          sum(when(col("n") >= 2, 1L).otherwise(0L)).as("n_dup_groups"),
          max(col("n")).as("max_group"),
          sum(when(col("n") >= 2, col("n") - 1).otherwise(0L))
            .as("n_redundant"))
    }),

    "vec_ivf_probe_cost" -> ((s, dir) => {
      // nprobe COST table — the tuning pair of vec_ann_recall_curve
      // (quality) and vec_ivf_cell_stats (balance): per query and probe
      // radius (Hamming 0/1/2), how many index cells the multiprobe hits
      // and how many distinct candidates it pulls — the table read when
      // choosing the recall/latency point (knn_ivf_topk ships radius 2;
      // this op shows what each radius buys). Same ivfCellsFrame kernel,
      // flips tagged with their Hamming distance, candidates deduped at
      // their MINIMUM reach distance so radius counts are cumulative by
      // construction. Everything after the (broadcast) probe join is
      // (queries × radii)-sized. Oracle replays masks+distances from the
      // same generated plane literals.
      val Planes = IvfPlanes
      val cells = ivfCellsFrame(s, dir)
      val q = cells.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("tbl").as("qtbl"),
          col("cell").as("qcell"))
      val flips: Seq[Column] =
        struct(lit(0L).as("d"), col("qcell").as("cand_cell")) +:
        ((0 until Planes).map(b => struct(lit(1L).as("d"),
          col("qcell").bitwiseXOR(lit(1L << b)).as("cand_cell"))) ++
         (for { a <- 0 until Planes; b <- a + 1 until Planes }
           yield struct(lit(2L).as("d"),
             col("qcell").bitwiseXOR(lit((1L << a) | (1L << b))).as("cand_cell"))))
      val qx = q.withColumn("f", explode(array(flips: _*)))
        .select(col("qid"), col("qtbl"), col("f.d").as("d"),
          col("f.cand_cell").as("cand_cell"))
      val hits = broadcast(qx).join(cells,
        col("qtbl") === col("tbl") && col("cand_cell") === col("cell"))
      val candMin = hits.filter(col("vec_id") =!= col("qid"))
        .groupBy(col("qid"), col("vec_id")).agg(min("d").as("dmin"))
      val cellMin = hits.select(col("qid"), col("tbl"), col("cell"), col("d"))
        .groupBy("qid", "tbl", "cell").agg(min("d").as("dmin"))
      val radii = s.range(0, 3).select(col("id").as("radius"))
      val candCnt = candMin.join(broadcast(radii), col("dmin") <= col("radius"))
        .groupBy("qid", "radius").agg(count(lit(1)).as("n_candidates"))
      val cellCnt = cellMin.join(broadcast(radii), col("dmin") <= col("radius"))
        .groupBy("qid", "radius").agg(count(lit(1)).as("cells_hit"))
      q.select("qid").distinct().crossJoin(broadcast(radii))
        .join(cellCnt, Seq("qid", "radius"), "left")
        .join(candCnt, Seq("qid", "radius"), "left")
        .select(col("qid"), col("radius"),
          coalesce(col("cells_hit"), lit(0L)).as("cells_hit"),
          coalesce(col("n_candidates"), lit(0L)).as("n_candidates"))
        .orderBy("qid", "radius")
    }),

    "vec_ann_recall_curve" -> ((s, dir) => {
      // ANN quality-evaluation harness: recall@k (k = 1, 3, 5) of the IVF
      // index against the exact cosine top-5 — the acceptance gate any
      // vector store runs before swapping brute force for an index. Both
      // sides are THE REGISTRY KERNELS invoked verbatim (eval and prod
      // path can never drift; both are independently oracle-checked, so
      // their tie-breaks provably agree), joined on (query, neighbor) and
      // folded to a 3-row curve: n_hits = ǀIVF top-k ∩ exact top-kǀ over
      // the 10-query panel, recall in integer ppm. Everything after the
      // two kernel runs is ≤50 rows; the left join keeps zero-hit k rows
      // honest instead of dropping them.
      val ivf = queries("knn_ivf_topk")(s, dir)
        .select(col("qid"), col("vid"), col("rn").as("rn_i"))
      val brute = queries("knn_cosine_topk")(s, dir)
        .select(col("qid"), col("vid"), col("rn").as("rn_b"))
      val joined = brute.join(ivf, Seq("qid", "vid"))
      val nq = brute.agg(countDistinct("qid").as("n_queries"))
      val ks = s.range(1, 6, 2).select(col("id").as("k"))
      broadcast(ks)
        .join(joined, col("rn_b") <= col("k") && col("rn_i") <= col("k"), "left")
        .groupBy("k")
        .agg(sum(when(col("qid").isNotNull, 1L).otherwise(0L)).as("n_hits"))
        .join(broadcast(nq))
        .select(col("k"), col("n_queries"), col("n_hits"),
          call_function("div", col("n_hits") * lit(1000000L),
            col("k") * col("n_queries")).as("recall_ppm"))
        .orderBy("k")
    }),

    "vec_retrieval_metrics" -> ((s, dir) => {
      // Ranked retrieval quality (r16): MRR and nDCG@5 of the IVF index
      // against the exact cosine top-5. vec_ann_recall_curve measures SET
      // overlap; these are the RANK-sensitive acceptance numbers a vector
      // store publishes next to it (a list with the right 5 items in the
      // wrong order has recall 1.0 but nDCG < 1.0). Both sides are THE
      // REGISTRY KERNELS invoked verbatim — the same no-drift argument as
      // the recall curve. Determinism: the DCG discount w(r) = 1e12 div
      // floor(ln(r+1)/ln(2)·1e6) quantizes the log of an exact small
      // integer once (the shared 1-ULP libm caveat), after which MRR, DCG,
      // ideal DCG, and nDCG are pure integer sums/divs; the kernels'
      // row_number tie-breaks mean no rank ties exist. Scale: post-kernel
      // work is ≤ 10 queries × 5 ranks.
      val ivf = queries("knn_ivf_topk")(s, dir)
        .select(col("qid"), col("vid"), col("rn").cast("long").as("rn_i"))
      val brute = queries("knn_cosine_topk")(s, dir)
        .select(col("qid"), col("vid"), lit(1).as("rel"))
      def lg2u(r: Column): Column =
        floor(log(r.cast("double") + lit(1.0)) / log(lit(2.0)) * lit(1e6))
          .cast("long")
      def disc(r: Column): Column =
        call_function("div", lit(1000000000000L), lg2u(r))
      val perQ = ivf.join(brute, Seq("qid", "vid"), "left")
        .groupBy("qid")
        .agg(
          sum(when(col("rel").isNotNull, 1).otherwise(0)).cast("int")
            .as("n_rel_in_list"),
          min(when(col("rel").isNotNull, col("rn_i"))).as("fr"),
          sum(when(col("rel").isNotNull, disc(col("rn_i"))).otherwise(0L))
            .as("dcg_u"))
      val idcg = s.range(1, 6).agg(sum(disc(col("id"))).as("idcg_u"))
      perQ.crossJoin(broadcast(idcg))
        .select(col("qid"), col("n_rel_in_list"),
          coalesce(col("fr"), lit(-1L)).cast("int").as("first_rank"),
          coalesce(call_function("div", lit(1000000L), col("fr")), lit(0L))
            .as("rr_micro"),
          col("dcg_u"),
          call_function("div", col("dcg_u") * lit(1000000L), col("idcg_u"))
            .as("ndcg_ppm"))
        .orderBy("qid")
    }),

    "knn_ivfpq_topk" -> ((s, dir) => {
      // Composed IVF-PQ — the production 100 TB vector-store ANN shape
      // (IVFADC, Jégou et al., "Product Quantization for Nearest Neighbor
      // Search", TPAMI 2011): (1) IVF routing — the same 4-table/6-plane
      // sign-LSH cells as knn_ivf_topk bound the candidate set, never
      // doc × doc; (2) PQ codebook TRAINING — one deterministic Lloyd round
      // refines the fixed splitmix seeds against the data (assignment →
      // per-(subspace, code) component means; the K×M×subDim model state
      // collects to the driver like vec_kmeans_iter — the legitimate
      // iterative-ML pattern, never a data collect); (3) asymmetric-distance
      // scoring — each candidate is scored from its 16 one-byte PQ codes
      // against a per-QUERY 16×16 lookup table of exact integer subspace
      // distances, so the shortlist phase never touches candidate floats
      // (16× less IO at scale); (4) exact DotQ re-rank fetches full vectors
      // for the shortlist ONLY — max(64, ncand/32) per query, a keyed join
      // back to the store, not a carry-along.
      val Planes = IvfPlanes
      val M = IvfPqSubspaces
      val Shortlist = IvfPqShortlist
      // The trained codebook and the (postings + codes) index are LANDED
      // corpus artifacts ([[ivfPqArtifacts]], shared with
      // corpus_ingest_index); the pinned vector scan serves the two
      // artifact builds plus the query-panel fetch and the exact re-rank.
      val e0 = Pin.shared(quantizedVectors(s, dir))
      val (trained, _, cells) = ivfPqArtifacts(s, dir, e0)
      // per-query ADC lookup table: lut[m][k] = ||q_m - c_{m,k}||² exact —
      // the native PqAdcLut expression (same 64 KB rationale as the encoder)
      val lutCol = graft.functions.GraftExpressions.pqAdcLut(col("qv"), trained)
      val q = cells.filter(col("vec_id") < 10)
        .join(e0.filter(col("vec_id") < 10).withColumnRenamed("qe", "qv"),
          Seq("vec_id"))
        .select(col("vec_id").as("qid"), col("qv"),
          col("tbl").as("qtbl"), col("cell").as("qcell"))
        .withColumn("lut", lutCol)
      val flips: Seq[Column] =
        col("qcell") +:
        ((0 until Planes).map(b => col("qcell").bitwiseXOR(lit(1L << b))) ++
         (for { a <- 0 until Planes; b <- a + 1 until Planes }
           yield col("qcell").bitwiseXOR(lit((1L << a) | (1L << b)))))
      val qx = q.withColumn("cand_cell", explode(array(flips: _*)))
      // candidates carry CODES only (16 bytes), never the candidate vector
      val cand = broadcast(qx).join(cells,
          col("qtbl") === col("tbl") && col("cand_cell") === col("cell")
            && col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id").as("vid"), col("qv"), col("lut"), col("codes"))
        .dropDuplicates("qid", "vid")
      val adc = (0 until M).map { m =>
        element_at(element_at(col("lut"), m + 1), element_at(col("codes"), m + 1) + 1)
      }.reduce(_ + _)
      val wSl = Window.partitionBy("qid").orderBy(col("adc"), col("vid"))
      // ADAPTIVE shortlist: max(Shortlist, ncand/32). A fixed 64 asks the
      // 16×16 ADC to rank true neighbors into the top 0.03% of a 200k-
      // candidate set — measured recall@5 collapsed to 0.58 at the 100×
      // probe scale. A 1/32 fraction only asks for the top ~3%, recovers
      // recall (1.00 at 100×), and keeps the IO argument: the exact
      // re-rank still fetches ≤1/32 of the candidates' full vectors while
      // the shortlist phase reads codes only. Integer div on both engines;
      // on the fixture SFs (ncand ≤ 2k) the bound stays 64, so the oracle
      // twin (which mirrors the same GREATEST) is unchanged there.
      val wCnt = Window.partitionBy("qid")
      val shortlist = cand.withColumn("adc", adc)
        .withColumn("ncand", count(lit(1)).over(wCnt))
        .withColumn("srn", row_number().over(wSl))
        .filter(col("srn") <= greatest(lit(Shortlist.toLong),
          call_function("div", col("ncand"), lit(32L))))
        .select(col("qid"), col("vid"), col("qv"), col("adc"))
      // exact re-rank: keyed fetch of the shortlist's full vectors
      val rer = broadcast(shortlist).join(e0, col("vec_id") === col("vid"))
        .select(col("qid"), col("vid"), col("adc"), dotQ(s, col("qv"), col("qe")).as("dot_q"))
      val w = Window.partitionBy("qid").orderBy(col("dot_q").desc, col("vid"))
      rer.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select(col("qid"), col("vid"), col("dot_q"), col("adc"), col("rn").cast("int").as("rn"))
        .orderBy("qid", "rn")
    }),

    "vec_kmeans_iter" -> ((s, dir) => {
      // Distributed k-means, the canonical iterative-ML shape: model state
      // (K centroid vectors) lives on the driver and broadcasts into each
      // round's assignment expressions; the data never moves — each Lloyd
      // round is one codegen'd argmin map + one (cluster, dim) aggregate.
      // Collecting K×dim longs per round is the legitimate "small model
      // state" pattern (512 values here), not a driver-side data loop.
      // Determinism: init = quantized embeddings of vec_id 0..K-1; argmin
      // on exact integer scores with min-k tie-break; centroid update
      // floor-quantizes the mean (floor(sum/count) on exact ints → same
      // IEEE double → same floor in any engine). Two fixed rounds — a
      // convergence loop would be data-dependent and unmirrorable.
      val K = 8
      val Iters = 2
      val e = Pin.shared(quantizedVectors(s, dir)) // read by every round
      var cents: Seq[(Int, Array[Long])] = e.filter(col("vec_id") < K)
        .orderBy("vec_id").collect()
        .map(r => (r.getLong(0).toInt, r.getSeq[Long](1).toArray)).toSeq
      // argmin_k ||qe-c_k||²: ||qe||² is constant per row, so rank on
      // ||c_k||² - 2<qe,c_k> (exact BIGINT), tie → smallest k
      def assign(cs: Seq[(Int, Array[Long])]) =
        array_min(array(cs.map { case (k, c) =>
          val cSq = c.map(v => v * v).sum
          struct((lit(cSq) - lit(2L) * dotQ(s, col("qe"), lit(c))).as("s"),
            lit(k).as("k"))
        }: _*)).getField("k")
      for (_ <- 0 until Iters) {
        val asg = e.withColumn("cl", assign(cents))
        cents = asg.select(col("cl"), posexplode(col("qe")).as(Seq("i", "v")))
          .groupBy("cl", "i")
          .agg(floor(sum(col("v")).cast("double") / count(lit(1))).cast("long").as("c"))
          .collect()
          .groupBy(_.getAs[Int]("cl"))
          .map { case (cl, rows) =>
            (cl, rows.sortBy(_.getAs[Int]("i")).map(_.getAs[Long]("c")).toArray)
          }.toSeq.sortBy(_._1)
      }
      // final assignment + exact inertia under the round-2 centroids
      val distCols = cents.map { case (k, c) =>
        val cSq = c.map(v => v * v).sum
        struct((dotQ(s, col("qe"), col("qe")) - lit(2L) * dotQ(s, col("qe"), lit(c)) + lit(cSq)).as("d"),
          lit(k).as("k"))
      }
      val best = array_min(array(distCols: _*))
      e.select(col("vec_id"), best.getField("k").as("cluster"), best.getField("d").as("dist_q"))
        .groupBy("cluster")
        .agg(count(lit(1)).as("n_vec"), sum(col("dist_q")).as("inertia_q"))
        .orderBy("cluster")
    }),

    "vec_power_iter" -> ((s, dir) => {
      // Dominant eigenvector of the (uncentered) Gram matrix XᵀX by power
      // iteration — the PCA primitive. Each round is ONE distributed pass:
      // per row compute <x,v> (codegen DotQ against the broadcast v), then
      // aggregate Σ x_i·<x,v> per dimension with exact DECIMAL sums (the
      // per-row product fits int64 at ~8e16, the 2000-row sum does not).
      // Rescale w → ±1000 ints on the driver (64 values of model state,
      // like k-means) from the decimal-exact doubles, so both engines
      // derive identical components. Two fixed rounds; emits both rounds'
      // vectors so convergence is visible.
      import org.apache.spark.sql.types.DecimalType
      val d380 = DecimalType(38, 0)
      val dim = embeddingDim(s, dir)
      val e = Pin.shared(quantizedVectors(s, dir))
      var v: Array[Long] = Array.fill(dim)(1000L)
      val rounds = scala.collection.mutable.ArrayBuffer[Array[Long]]()
      for (_ <- 0 until 2) {
        val w = e.select(dotQ(s, col("qe"), lit(v)).as("dot"),
            posexplode(col("qe")).as(Seq("i", "x")))
          .groupBy("i")
          .agg(sum((col("x") * col("dot")).cast(d380)).cast("double").as("w"))
          .collect().map(r => r.getAs[Int]("i") -> r.getAs[Double]("w")).toMap
        val maxAbs = (0 until dim).map(i => math.abs(w(i))).max
        v = (0 until dim).map(i => math.floor(w(i) / maxAbs * 1000 + 0.5).toLong).toArray
        rounds += v
      }
      import s.implicits._
      (0 until dim).map(i => (i, rounds(0)(i), rounds(1)(i)))
        .toDF("i", "v1_comp", "v2_comp").orderBy("i")
    }),

    "vec_pca_deflate" -> ((s, dir) => {
      // Top-2 PCA directions by DEFLATION (round 11) — the step after
      // vec_power_iter's dominant direction: remove v's span from every
      // row and power-iterate the residuals for the second direction.
      // The residual is kept EXACT-INTEGER by scaling instead of
      // projecting: r_ij = x_ij·(v·v) − (x_i·v)·v_j (|r| ≤ 1.3e14, fits
      // int64), which satisfies r_i·v = 0 identically — so the second
      // direction is orthogonal to the first up to the ±0.5 rounding of
      // the ±1000 normalization (unit-asserted). The residual power step
      // needs NO second explode for its start: with u₀ = 1s,
      // r_i·u₀ = (v·v)·Σx_ij − (x_i·v)·Σv_j — two map-side DotQ scalars.
      // Per-row products r·(r·u₀) reach ~1e30, summed as DECIMAL(38,0)
      // (exact to ~9e7 rows per aggregate — beyond that rescale u₀; the
      // declared-bounds class of note). Driver state is 2×dim ints.
      import org.apache.spark.sql.types.DecimalType
      val d380 = DecimalType(38, 0)
      val dim = embeddingDim(s, dir)
      val e = Pin.shared(quantizedVectors(s, dir))
      def normalize(w: Map[Int, Double]): Array[Long] = {
        val m = (0 until dim).map(i => math.abs(w(i))).max
        (0 until dim).map(i => math.floor(w(i) / m * 1000 + 0.5).toLong).toArray
      }
      val v0 = Array.fill(dim)(1000L)
      val w1 = e.select(dotQ(s, col("qe"), lit(v0)).as("dot"),
          posexplode(col("qe")).as(Seq("i", "x")))
        .groupBy("i")
        .agg(sum((col("x") * col("dot")).cast(d380)).cast("double").as("w"))
        .collect().map(r => r.getAs[Int]("i") -> r.getAs[Double]("w")).toMap
      val v = normalize(w1)
      val vv = v.map(x => x * x).sum
      val sv = v.sum
      val w2 = e.select(dotQ(s, col("qe"), lit(v)).as("dot"),
          dotQ(s, col("qe"), lit(Array.fill(dim)(1L))).as("sx"),
          col("qe"))
        .withColumn("dot2", lit(vv) * col("sx") - col("dot") * lit(sv))
        .select(col("dot"), col("dot2"), posexplode(col("qe")).as(Seq("i", "x")))
        .withColumn("r",
          col("x") * lit(vv) - col("dot") * element_at(lit(v), col("i") + 1))
        .groupBy("i")
        .agg(sum(col("r").cast(d380) * col("dot2").cast(d380))
          .cast("double").as("w"))
        .collect().map(r => r.getAs[Int]("i") -> r.getAs[Double]("w")).toMap
      val u2 = normalize(w2)
      import s.implicits._
      (0 until dim).map(i => (i, v(i), u2(i)))
        .toDF("i", "v_comp", "u2_comp").orderBy("i")
    }),

    "dedup_near_embedding" -> ((s, dir) => {
      // Embedding-cosine near-dup — the semantic-dedup primitive: candidate
      // pairs from sign-LSH buckets (8 tables; plane indices offset +64 so
      // they share no splitmix stride with knn_ivf_topk), exact
      // quantized-cosine threshold (≥0.40 ≈ this fixture's top 0.05% of
      // pairs; a real near-dup corpus uses ≥0.95 — agreement probability
      // rises with cosine, so buckets get MORE selective exactly when the
      // threshold tightens), then star assignment: canonical_id =
      // min(id, neighbors).
      //
      // Round-12 scale fix (found by the 100× probe under the honest noop
      // action): a FIXED 3-plane index has 8 cells, so per-cell occupancy
      // is n/8 and candidate pairs grow QUADRATICALLY — at 200k vectors
      // ~5e9 pairs, each dragging two 64-dim arrays through the pair
      // dedup's shuffle sort (>50 GB of spill, ENOSPC). Two changes:
      // (1) the plane count is occupancy-targeted —
      // planes = max(3, ceil(log2(n/250))) — which keeps expected cell
      // occupancy ≤~250 at any corpus size (measured at 200k vectors:
      // target 512 → 73 s, target 250 → see §4.2.14). At every fixture
      // SF (embeddings ≤ 2000 rows) the formula yields exactly 3, so the
      // static 3-plane DuckDB twin stays exact; above n=2000 the twin
      // would need regenerating at the matching plane count (declared
      // bound — the same generated-literal contract as knn_ivf's twin).
      // Recall note: more planes lowers per-table agreement for WEAK
      // (0.4-cosine) pairs; the production dedup regime (≥0.95, agreement
      // ~0.9 per plane) keeps multi-table recall high, which is the
      // documented intent of this op. (2) the exact dot threshold now
      // runs MAP-SIDE on the cell join's output, BEFORE the id-pair
      // dedup — only (id1, id2) pairs that pass the 0.05%-selective
      // threshold reach a shuffle; the quantized vectors never sort.
      val NumTables = 8
      val Threshold = 400000000000L // 0.40 * 1e12 in quantized dot units
      val dim = embeddingDim(s, dir)
      val nVecs = t(s, dir)("embeddings").count()
      val Planes = math.max(3,
        math.ceil(math.log(nVecs / 250.0) / math.log(2)).toInt)
      val e = quantizedVectors(s, dir)
      // (3) the cell signature is the native SignPlanes kernel — constant
      // generated-code size in the plane count. The unrolled
      // when(dot_q ≥ 0, 1<<p) chain at 10 planes × 8 tables compiled fine
      // under janino but exceeded HotSpot's HugeMethodLimit, so the whole
      // consume method ran un-JIT-compiled: 57 s vs 2.7 s for the cells
      // build alone at 200k vectors (GraftExpressions.SignPlanes scaladoc).
      def cellOf(qe: Column, tb: Int): Column =
        graft.functions.GraftExpressions.signPlanes(s, qe,
          typedLit((0 until Planes).map(p =>
            planeComponents(64 + tb * Planes + p, dim).toSeq)))
      val cells = e.select(col("vec_id"), col("qe"),
        posexplode(array((0 until NumTables).map(tb => cellOf(col("qe"), tb)): _*))
          .as(Seq("tbl", "cell")))
      val a = cells.select(col("vec_id").as("id1"), col("qe").as("q1"), col("tbl"), col("cell"))
      val b = cells.select(col("vec_id").as("id2"), col("qe").as("q2"), col("tbl"), col("cell"))
      val pairs = a.join(b, Seq("tbl", "cell"))
        .filter(col("id1") < col("id2"))
        .filter(dotQ(s, col("q1"), col("q2")) >= Threshold)
        .select(col("id1"), col("id2"))
        .dropDuplicates("id1", "id2")
      val nbrs = pairs.select(col("id1").as("vid"), col("id2").as("nbr"))
        .union(pairs.select(col("id2").as("vid"), col("id1").as("nbr")))
        .groupBy("vid").agg(min(col("nbr")).as("mn"))
      e.select(col("vec_id")).join(nbrs, col("vec_id") === col("vid"), "left")
        .select(col("vec_id"),
          coalesce(least(col("mn"), col("vec_id")), col("vec_id")).as("canonical_id"))
        .withColumn("is_canonical", col("vec_id") === col("canonical_id"))
        .orderBy("vec_id")
    }),

    "docs_hybrid_retrieval" -> ((s, dir) => {
      // Hybrid sparse+dense retrieval (r16 capstone): for each of 5 query
      // documents (doc_id < 5), fuse the BM25 posting-list ranking of the
      // query doc's own terms (more-like-this sparse retrieval) with the
      // exact quantized-cosine dense ranking of its embedding, via
      // reciprocal-rank fusion — the production hybrid-search shape
      // (text_bm25_topk and vec_rank_fusion are the two halves; this op
      // is their cross-table composition over the doc_id = vec_id
      // universe, so both branches rank the SAME candidate set).
      //
      // Determinism: BM25 uses text_bm25_topk's exact-integer kernel
      // (micro-quantized per-term ln, integer sums); the dense branch is
      // DotQ exact integers; RRF contributions are integer millionths
      // (1e6 div (rank+60)); every rank tie-breaks on doc_id. Scale: the
      // query side is 5 docs × ≤vocab terms → broadcast both branches'
      // query state; each branch is rank→filter (map-side partial
      // WindowGroupLimit); the fusion frame is ≤ 40 rows/query. The
      // universe join (documents ⋈ embeddings) is the one fact-sized
      // shuffle, pinned once for the four consumers.
      hybridRetrieval(s, t(s, dir)("documents").select(col("doc_id"), col("text")),
        tWide(s, dir)("embeddings").select(col("vec_id"), col("embedding")),
        u => graft.CorpusArtifacts.parquet(s, "hybrid_universe", dir)(u))
    }),

    "vec_hard_negatives" -> ((s, dir) => {
      // Semi-hard negative mining (the FaceNet band, Schroff et al. 2015,
      // CVPR — the contrastive-training data op): for each query vector,
      // the nearest SAME-label positive, then DIFFERENT-label negatives
      // strictly less similar than the positive but within a margin band
      // (pos − margin < dot < pos) — the negatives that produce useful
      // training gradients (easy negatives below the band teach nothing;
      // ones above the positive destabilize training), top-5 by dot. The
      // missing third piece of the embedding-training story next to
      // vec_knn_label_predict (eval) and vec_centroid_by_label (analysis).
      //
      // Determinism: exact quantized-dot integers end to end; the margin
      // is a dot-unit literal (0.05e12 — measured 11–18 in-band negatives
      // per query across fixture SFs; a query whose band is empty emits no
      // rows, which is faithful: not every anchor has semi-hard negatives).
      // Scale: the established vec-family demo panel (vec_id < 10)
      // broadcasts; ONE scored map-side pass feeds both the per-qid
      // positive argmax (10-row agg, broadcast back) and the band filter;
      // rank → filter(≤5) prunes map-side (WindowGroupLimit).
      val Margin = 50000000000L // 0.05 in quantized dot units
      val e = tWide(s, dir)("embeddings")
        .select(col("vec_id"), col("label"), quantize(col("embedding")).as("qe"))
      val qp = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("label").as("ql"), col("qe").as("qv"))
      val scored = broadcast(qp).join(e, col("vec_id") =!= col("qid"))
        .select(col("qid"), col("ql"), col("vec_id").as("vid"),
          col("label").as("vl"), dotQ(s, col("qv"), col("qe")).as("dot_q"))
      val pos = scored.filter(col("ql") === col("vl"))
        .groupBy("qid")
        .agg(max(struct(col("dot_q"), (-col("vid")).as("nv"))).as("m"))
        .select(col("qid"), col("m.dot_q").as("pos_dot_q"),
          (-col("m.nv")).as("pos_id"))
      val neg = scored.filter(col("ql") =!= col("vl"))
        .join(broadcast(pos), Seq("qid"))
        .filter(col("dot_q") < col("pos_dot_q") &&
          col("dot_q") > col("pos_dot_q") - Margin)
      val w = Window.partitionBy("qid").orderBy(col("dot_q").desc, col("vid"))
      neg.withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
        .select(col("qid"), col("rn").cast("int").as("rn"), col("vid"),
          col("vl").as("neg_label"), col("dot_q"), col("pos_id"),
          col("pos_dot_q"))
        .orderBy("qid", "rn")
    }),

    "docs_decontaminate_semantic" -> ((s, dir) => {
      // Embedding-space decontamination (r16) — the semantic complement of
      // docs_decontaminate's exact-shingle pass: paraphrased benchmark
      // leakage shares no 13-gram but sits next to the eval item in
      // embedding space (the Phi/FineWeb-style decontamination pass). For
      // every TRAIN vector: the max exact quantized dot against ANY
      // benchmark vector plus the argmax bench id; contaminated iff
      // dot_q ≥ 0.35e12 (measured: flags 2.6–8% across fixture SFs).
      // Bench set = vec_id % 50 == 0, the same BenchMod stand-in as the
      // n-gram pass (and the same documented caveat: the REAL deployment's
      // eval suite is FIXED-size, so broadcasting it is the 100-TB
      // contract; the modular stand-in grows with the fixture corpus).
      //
      // Scale: the bounded eval side broadcasts; the train side is checked
      // MAP-SIDE — the broadcast nested-loop scores |eval| dots per train
      // row and partial aggregation collapses to one row per train vector
      // before the only (train-sized) shuffle. No corpus×corpus pair
      // stream exists; this is brute-force exact on purpose — a missed
      // contaminated doc costs more than the |eval| dot products, which is
      // why production decontamination is exact against the eval suite
      // rather than ANN-approximate.
      val Threshold = 350000000000L // 0.35 in quantized dot units
      val e = quantizedVectors(s, dir)
      // the id cap makes the eval suite genuinely FIXED-size (≤40 vectors
      // at any corpus size — the deployed contract); it is a no-op at
      // every fixture SF (max vec_id 1999). Without it the modular
      // stand-in grows with the corpus and the 100× probe measures an
      // N²/50 pair stream (64.1×) instead of the linear scan the
      // fixed-suite shape actually is (re-probed 1.64 after the cap,
      // 1.85 s at 100×).
      val bench = e.filter(pmod(col("vec_id"), lit(50L)) === 0 &&
          col("vec_id") < 2000)
        .select(col("vec_id").as("bid"), col("qe").as("bq"))
      // train side = the EXACT complement of the capped bench set (r17,
      // ADVICE r16): with `% 50 != 0` alone, vectors with vec_id % 50 == 0
      // AND vec_id >= 2000 (possible beyond the fixture, where the cap is
      // active) would fall in NEITHER set and silently skip the scan —
      // the one failure mode a decontamination pass must not have.
      e.filter(pmod(col("vec_id"), lit(50L)) =!= 0 || col("vec_id") >= 2000)
        .crossJoin(broadcast(bench))
        .select(col("vec_id"),
          struct(dotQ(s, col("qe"), col("bq")).as("dot_q"),
            (-col("bid")).as("nb")).as("sc"))
        .groupBy("vec_id").agg(max(col("sc")).as("m"))
        .select(col("vec_id"),
          col("m.dot_q").as("max_dot_q"),
          (-col("m.nb")).as("bench_id"),
          (col("m.dot_q") >= Threshold).cast("int").as("contaminated"))
        .orderBy("vec_id")
    }),

    "vec_centroid_by_label" -> ((s, dir) => {
      // Per-label centroid of the quantized embeddings, emitted as the pair
      // (per-dim SUM vector, vector count) — the D3 sum/count pattern: no
      // division, so no integer-division dialect trap (Spark `div` truncates
      // toward zero, DuckDB `//` floors). Sums are serialized as CSV text
      // (D7). Shape: posexplode → (label, dim) partial+final agg → one
      // shuffle keyed (label, dim); re-assembled with an ordered collect.
      val e = tWide(s, dir)("embeddings")
        .select(col("label"), quantize(col("embedding")).as("qe"))
      val pe = e.select(col("label"), posexplode(col("qe")).as(Seq("i", "v")))
      pe.groupBy("label", "i")
        .agg(sum(col("v")).as("sv"), count(lit(1)).as("nvec"))
        .groupBy("label")
        .agg(
          array_join(transform(
            array_sort(collect_list(struct(col("i"), col("sv")))),
            x => x.getField("sv")), ",").as("centroid_sums"),
          max(col("nvec")).as("n_vec"))
        .orderBy("label")
    }),

    "vec_label_affinity" -> ((s, dir) => {
      // Label-centroid affinity matrix (round 12): cosine between every
      // pair of label centroids — the class-separation readout an
      // embedding QA pipeline checks before training on the labels
      // (near-1 off-diagonal = labels not separable). Works on UNNORMALIZED
      // centroid SUM vectors: cos(mean_a, mean_b) = cos(sum_a, sum_b), so
      // no division ever enters the integer path (D3). Cross terms cast
      // to DECIMAL(38,0) BEFORE multiplying (sv ≤ 1e6·n_vec; sv² sums
      // stay under 1e38 to ~1e11 rows/label — the vec_centroid_drift
      // bound discipline). Everything after the (label × dim) partial agg
      // is labels²-bounded; cos6 is the one double, r6-rounded from
      // exact scalars via IEEE sqrt only.
      import org.apache.spark.sql.types.DecimalType
      val d = DecimalType(38, 0)
      val sums = tWide(s, dir)("embeddings")
        .select(col("label"), quantize(col("embedding")).as("qe"))
        .select(col("label"), posexplode(col("qe")).as(Seq("i", "v")))
        .groupBy("label", "i").agg(sum("v").as("sv"))
      val dots = sums.as("x").join(sums.as("y"),
          col("x.i") === col("y.i") && col("x.label") < col("y.label"))
        .groupBy(col("x.label").as("la"), col("y.label").as("lb"))
        .agg(sum(col("x.sv").cast(d) * col("y.sv").cast(d)).cast(d).as("dot"))
      val norms = sums.groupBy("label")
        .agg(sum(col("sv").cast(d) * col("sv").cast(d)).cast(d).as("nrm2"))
      dots
        .join(norms.select(col("label").as("la"), col("nrm2").as("na")), Seq("la"))
        .join(norms.select(col("label").as("lb"), col("nrm2").as("nb")), Seq("lb"))
        .select(col("la"), col("lb"), col("dot").cast("double").as("dot_d"),
          r6(col("dot").cast("double")
            / (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))))
            .as("cos6"))
        .orderBy("la", "lb")
    }),

    "multimodal_features" -> ((s, dir) => {
      // Multimodal plumbing (no oracle; unit-tested): binary payload column
      // + typed metadata struct + per-partition batched "decode". The real
      // image/audio decode is STUBBED (container has no codec libs) with a
      // deterministic byte-statistics extractor; schema, partitioning and
      // batch shape are the real Spark surface a decode UDF would use.
      val src = tWide(s, dir)("documents")
        .select(col("doc_id"), col("text").cast("binary").as("payload"),
          struct(col("lang"), col("source"), col("n_chars")).as("meta"))
      import s.implicits._
      val decoded = src
        .select(col("doc_id"), col("payload"), col("meta.lang").as("lang"))
        .as[(Long, Array[Byte], String)]
        .mapPartitions { it =>
          it.map { case (id, bytes, lang) =>
            // stubbed "decode": byte stats stand in for pixel stats. The
            // rolling checksum folds mod 2^31 so a SQL engine can recompute
            // it without 64-bit wraparound (DuckDB errors on overflow).
            // NULL payloads propagate NULL stats (rollingHash31 convention)
            // instead of NPE-ing the whole partition.
            if (bytes == null)
              (id, lang, None: Option[Int], None: Option[Long], None: Option[Long])
            else {
              val n = bytes.length
              val sum = bytes.foldLeft(0L)((a, b) => a + (b & 0xff))
              val checksum = bytes.foldLeft(17L)((a, b) => (a * 31 + (b & 0xff)) % 2147483648L)
              (id, lang, Some(n), Some(sum), Some(checksum))
            }
          }
        }
        .toDF("doc_id", "lang", "n_bytes", "byte_sum", "checksum31")
      decoded.orderBy("doc_id")
    }),

    "vec_jl_projection" -> ((s, dir) => {
      // Johnson-Lindenstrauss dimensionality reduction 64 -> 16 via ±1
      // signs: project once per vector (k integer dot products, map-side,
      // model broadcast as literals), then compare pairwise similarity in
      // the REDUCED space against the exact original dot — the
      // compress-then-search shape that turns a 100 TB embedding corpus
      // into a 25 TB one before any pairwise work. Pair set bounded
      // (queries vec_id<10 × candidates vec_id<100).
      val e = quantizedVectors(s, dir)
      val dim = 64
      val projected = e.select(col("vec_id"), col("qe"),
        array((0 until JlDims).map(j =>
          dotQ(s, col("qe"), typedlit(jlSigns(j, dim).toSeq))): _*).as("y"))
      val a = projected.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("qe").as("qe_a"), col("y").as("y_a"))
      val b = projected.filter(col("vec_id") < 100)
        .select(col("vec_id").as("vid"), col("qe").as("qe_b"), col("y").as("y_b"))
      broadcast(a).join(b, col("qid") =!= col("vid"))
        .select(col("qid"), col("vid"),
          dotQ(s, col("qe_a"), col("qe_b")).as("orig_dot"),
          dotQ(s, col("y_a"), col("y_b")).as("proj_dot"))
        .orderBy("qid", "vid")
    }),

    "multimodal_chunks" -> ((s, dir) => {
      // Frame/chunk sampling plumbing (audio-frame / video-frame shape):
      // split each binary payload into 128-byte chunks with a distributed
      // offset explode (sequence from the row's own length — never a
      // driver loop), then per-partition batched "decode" of each chunk,
      // exactly the batch surface a real codec UDF sees. Stub decode =
      // byte stats (no codec libs in the container); the chunk schema,
      // ordering column, and fold are the real contract.
      val src = tWide(s, dir)("documents")
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
        .withColumn("chunk_id",
          explode(sequence(lit(0L),
            ceil(octet_length(col("payload")) / lit(128.0)).cast("long") - 1)))
        .select(col("doc_id"), col("chunk_id"),
          expr("substring(payload, cast(chunk_id * 128 + 1 as int), 128)").as("chunk"))
      import s.implicits._
      src.as[(Long, Long, Array[Byte])]
        .mapPartitions { it =>
          it.map { case (id, cid, bytes) =>
            val checksum = bytes.foldLeft(17L)((acc, b) => (acc * 31 + (b & 0xff)) % 2147483648L)
            (id, cid, bytes.length, checksum)
          }
        }
        .toDF("doc_id", "chunk_id", "n_bytes", "checksum31")
        .orderBy("doc_id", "chunk_id")
    }),

    "multimodal_resample" -> ((s, dir) => {
      // Resize/resample plumbing (image-downscale / audio-decimate shape):
      // stride-4 nearest-neighbor decimation of each payload inside the
      // same per-partition batched "decode" pass a real resize UDF runs
      // in. Stub kernel = codepoint decimation (no codec libs in the
      // container); the batch surface, the stride arithmetic, and the
      // decimated-payload fold are the real contract — and the 4× size
      // drop is the storage story a 100 TB image corpus needs before
      // feature extraction. The kernel strides Unicode CODEPOINTS, not
      // UTF-8 bytes, so it agrees with the DuckDB twin (char-positional
      // ord/substring/length) on any text, not just ASCII (ADVICE r10);
      // NULL payloads propagate NULL stats instead of NPE-ing, matching
      // the oracle's range/list_transform NULL fold (the rollingHash31
      // convention). Pure map work, no shuffle.
      val src = tWide(s, dir)("documents").select(col("doc_id"), col("text"))
      import s.implicits._
      src.as[(Long, String)]
        .mapPartitions { it =>
          it.map { case (id, text) =>
            if (text == null)
              (id, None: Option[Int], None: Option[Int], None: Option[Long])
            else {
              val cps = text.codePoints().toArray
              val sampled = Iterator.range(0, cps.length, 4).map(cps).toArray
              val checksum =
                sampled.foldLeft(17L)((a, c) => (a * 31 + c) % 2147483648L)
              (id, Some(cps.length), Some(sampled.length), Some(checksum))
            }
          }
        }
        .toDF("doc_id", "n_bytes", "n_sampled", "checksum31")
        .orderBy("doc_id")
    }),

    "multimodal_pair_dedup" -> ((s, dir) => {
      // Cross-modal PAIRED dedup (r17, VERDICT r16 #6): a multimodal
      // corpus dedups image-caption PAIRS, not modalities independently —
      // two pairs can share the image (re-crops with new captions), the
      // caption (stock captions on different images), or both (true
      // re-uploads), and the right action differs per class. This op
      // reports the AGREEMENT table of the two existing kernels over the
      // same candidate universe: image side = multimodal_phash_dedup's
      // parity-sketch bands (Hamming ≤ 6 verify — its dup rule), caption
      // side = the portable minhash bands (shared band = the
      // dedup_incremental_bands admission rule). Both sides are banded
      // and occupancy-capped at 64 — never all-pairs. The all-distinct
      // fixture is augmented with one planted clone per class:
      // %100 = 0 → +1e7 copy with an appended '.' (image Hamming 1,
      // shingles nearly intact → BOTH); %100 = 50 → +2e7 copy with the
      // WORD ORDER REVERSED (codepoint histogram identical → image dup;
      // trigram shingles all new → caption clean → IMAGE_ONLY);
      // %100 = 25 → +3e7 copy with an 11-odd-char word appended
      // (11 parity flips > 6 → image clean; most minhash bands survive a
      // 3-shingle tail edit → CAPTION_ONLY, probabilistically — the
      // oracle replays the exact same sketch, so borderline docs agree
      // by construction). Codepoints, not UTF-8 bytes (the
      // multimodal_resample rule), so DuckDB's ord agrees on any text.
      // corpus artifacts: the augmented universe feeds BOTH modality
      // kernels and the image sketch feeds three branches
      val aug = graft.CorpusArtifacts.parquet(s, "mm_pair_universe", dir) {
        val base = tWide(s, dir)("documents").select(col("doc_id"), col("text"))
        base
          .unionByName(base.filter(col("doc_id") % 100 === 0)
            .select((col("doc_id") + 10000000L).as("doc_id"),
              concat(col("text"), lit(".")).as("text")))
          .unionByName(base.filter(col("doc_id") % 100 === 50)
            .select((col("doc_id") + 20000000L).as("doc_id"),
              array_join(reverse(split(col("text"), " ")), " ").as("text")))
          .unionByName(base.filter(col("doc_id") % 100 === 25)
            .select((col("doc_id") + 30000000L).as("doc_id"),
              concat(col("text"), lit(" abcdefghij")).as("text")))
      }
      // image side: parity-sketch bands, cap 64 per cell, Hamming ≤ 6.
      // Landed too: referenced by the band explode AND both verify joins —
      // the per-doc codepoint-histogram sketch is the branch's real cost.
      val ib = graft.CorpusArtifacts.parquet(s, "mm_phash_bands", dir)(
        phashBands(aug))
      val iex = ib.select(col("doc_id"),
        posexplode(array(col("b0"), col("b1"), col("b2"), col("b3")))
          .as(Seq("k", "v")))
      val wI = Window.partitionBy("k", "v").orderBy("doc_id")
      val iCap = iex.withColumn("rn", row_number().over(wI)).filter(col("rn") <= 64)
      val iCand = iCap.as("a").join(iCap.as("b"),
          col("a.k") === col("b.k") && col("a.v") === col("b.v") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
      def bc(x: Column, y: Column): Column =
        bit_count(x.bitwiseXOR(y)).cast("long")
      val img = iCand
        .join(ib.select(col("doc_id").as("doc_a"), col("b0").as("a0"),
          col("b1").as("a1"), col("b2").as("a2"), col("b3").as("a3")), Seq("doc_a"))
        .join(ib.select(col("doc_id").as("doc_b"), col("b0").as("c0"),
          col("b1").as("c1"), col("b2").as("c2"), col("b3").as("c3")), Seq("doc_b"))
        .filter(bc(col("a0"), col("c0")) + bc(col("a1"), col("c1")) +
          bc(col("a2"), col("c2")) + bc(col("a3"), col("c3")) <= 6)
        .select(col("doc_a"), col("doc_b"))
      // caption side: portable minhash bands, cap 64 per cell. Landed like
      // the image sketch (r20, guide §2.4): both self-join sides rebuilt
      // the signature pipeline (shingle explode + 8-min agg) from the aug
      // scan — the after-plan showed two full Generate subtrees; landed
      // once, each side is a band-sized parquet scan.
      import graft.llm.{DedupOps => D}
      val cbands = graft.CorpusArtifacts.parquet(s, "mm_cap_bands", dir)(
        D.portableBands(D.portableSignature(aug)))
      val wC = Window.partitionBy("band", "bh").orderBy("doc_id")
      val cCap = cbands.withColumn("rn", row_number().over(wC)).filter(col("rn") <= 64)
      val cap = cCap.as("x").join(cCap.as("y"),
          col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
        .distinct()
      img.withColumn("img_dup", lit(1))
        .join(cap.withColumn("cap_dup", lit(1)), Seq("doc_a", "doc_b"), "full_outer")
        .select(col("doc_a"), col("doc_b"),
          coalesce(col("img_dup"), lit(0)).as("img_dup"),
          coalesce(col("cap_dup"), lit(0)).as("cap_dup"),
          when(col("img_dup").isNotNull && col("cap_dup").isNotNull, "both")
            .when(col("img_dup").isNotNull, "image_only")
            .otherwise("caption_only").as("category"))
        .orderBy("doc_a", "doc_b")
    }),

    "multimodal_phash_dedup" -> ((s, dir) => {
      // Perceptual-hash-style near-dup detection over payloads — the
      // media twin of dedup_simhash: a 64-bit parity sketch of the
      // payload's codepoint histogram (bucket = cp % 64, bit = count
      // parity) is a locality-sensitive fingerprint for SMALL EDITS — an
      // m-char edit flips ≤ 2m bits where unrelated payloads differ in
      // ~32 — exactly the re-encode/metadata-stamp dup class a crawl's
      // media store carries (a real pHash kernel drops into the same
      // batched decode slot; no codec libs in the container). The sketch
      // lands as FOUR 16-bit band columns: LSH banding yields candidate
      // pairs (share ≥1 band — complete for Hamming ≤ 3 by pigeonhole,
      // the stated recall contract), verified at Hamming ≤ 6 via
      // per-band XOR bit_count. Scale: per-(band, value) occupancy is
      // CAPPED at 64 docs in doc_id order (the join_interval_bucketed
      // discipline, mirrored exactly in the oracle, inactive at fixture
      // SFs); at 100 TB the band width widens with the corpus like any
      // LSH. The all-distinct fixture is augmented with planted clones
      // (doc_id % 100 == 0 gains a +1e7-id copy with one appended char —
      // Hamming 1) so the detector's recall is actually exercised.
      // Codepoints, not UTF-8 bytes, so the sketch agrees with DuckDB's
      // char-positional ord on any text (the multimodal_resample rule).
      val base = tWide(s, dir)("documents").select(col("doc_id"), col("text"))
      val aug = base.unionByName(
        base.filter(col("doc_id") % 100 === 0)
          .select((col("doc_id") + 10000000L).as("doc_id"),
            concat(col("text"), lit(".")).as("text")))
      val bands = phashBands(aug)
      val exploded = bands.select(col("doc_id"),
        posexplode(array(col("b0"), col("b1"), col("b2"), col("b3")))
          .as(Seq("k", "v")))
      val wCell = Window.partitionBy("k", "v").orderBy("doc_id")
      val capped = exploded.withColumn("rn", row_number().over(wCell))
        .filter(col("rn") <= 64)
      val cand = capped.as("a").join(capped.as("b"),
          col("a.k") === col("b.k") && col("a.v") === col("b.v") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
      def bc(x: Column, y: Column): Column =
        bit_count(x.bitwiseXOR(y)).cast("long")
      cand
        .join(bands.select(col("doc_id").as("doc_a"), col("b0").as("a0"),
          col("b1").as("a1"), col("b2").as("a2"), col("b3").as("a3")), Seq("doc_a"))
        .join(bands.select(col("doc_id").as("doc_b"), col("b0").as("c0"),
          col("b1").as("c1"), col("b2").as("c2"), col("b3").as("c3")), Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          (bc(col("a0"), col("c0")) + bc(col("a1"), col("c1")) +
            bc(col("a2"), col("c2")) + bc(col("a3"), col("c3"))).as("hamming"))
        .filter(col("hamming") <= 6)
        .orderBy("doc_a", "doc_b")
    }),

    "vec_dim_stats" -> ((s, dir) => {
      // Per-dimension calibration stats over the whole embedding table —
      // the first pass any quantizer (int8 ranges, PQ codebooks, JL
      // scaling) runs. posexplode streams row×dim tuples but the
      // aggregate combines map-side, so the shuffle carries only |dim|
      // groups × partial states; micro-unit long sums keep the per-dim
      // mean exact and order-independent (D2 recipe on vectors).
      val e = tWide(s, dir)("embeddings")
        .select(posexplode(quantize(col("embedding"))).as(Seq("i0", "v")))
        .select((col("i0") + 1).cast("int").as("dim"), col("v").cast("long").as("vq"))
      e.groupBy("dim")
        .agg(count(lit(1)).as("n"), sum("vq").as("sum_q"),
          min("vq").as("min_q"), max("vq").as("max_q"))
        .select(col("dim"), col("n"), col("sum_q"), col("min_q"), col("max_q"),
          r6(col("sum_q").cast("double") / col("n") / lit(1e6)).as("mean6"))
        .orderBy("dim")
    }),

    "vec_knn_graph" -> ((s, dir) => {
      // Mutual-kNN graph over a bounded node set: an edge survives only
      // if each endpoint ranks the other inside its top-5 — the symmetric
      // pruning that turns raw ANN lists into a navigable graph (NN-Descent
      // / HNSW ground truth). The node set is id-bounded so the candidate
      // square stays broadcastable; at corpus scale the identical shape
      // runs per LSH cell (see knn_ivf_topk) instead of globally.
      val e = quantizedVectors(s, dir).filter(col("vec_id") < 60)
      val pairs = e.select(col("vec_id").as("qid"), col("qe").as("qv"))
        .join(broadcast(e.select(col("vec_id").as("vid"), col("qe").as("ev"))),
          col("qid") =!= col("vid"))
        .select(col("qid"), col("vid"), dotQ(s, col("qv"), col("ev")).as("dot_q"))
      val w = Window.partitionBy("qid").orderBy(col("dot_q").desc, col("vid"))
      val ranked = pairs.withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
      val fwd = ranked.select(col("qid").as("id1"), col("vid").as("id2"), col("dot_q"))
      val rev = ranked.select(col("vid").as("r1"), col("qid").as("r2"))
      fwd.join(rev, col("id1") === col("r1") && col("id2") === col("r2"))
        .filter(col("id1") < col("id2"))
        .select(col("id1"), col("id2"), col("dot_q"),
          r4(col("dot_q").cast("double") / lit(1e12)).as("cos4"))
        .orderBy("id1", "id2")
    }),

    "vec_pq_distortion" -> ((s, dir) => {
      // PQ codebook diagnostics (round 14): per SUBSPACE, the corpus-level
      // quantization health vec_pq_codes' per-vector qerr can't show —
      // total reconstruction error, codebook utilization (distinct codes
      // actually used, of 16), and the hottest code with its occupancy.
      // A subspace with collapsed utilization or one dominant code is a
      // mistrained codebook; this table is what you'd alert on before
      // shipping an index. Same exact-integer encode math as vec_pq_codes
      // (argmin over BIGINT distances, smallest-k ties) but STAGED
      // differently: the subspace slices explode FIRST, and the 16-way
      // argmin runs on the exploded (m, subvector) rows with the centroid
      // selected per-m via element_at on one flat literal — the
      // all-subspaces-in-one-projection form generated a >64 KB codegen
      // method (8×16 inlined dotQ trees), silently falling back to
      // interpreted evaluation (probe: 18 s at 100×); the staged form
      // keeps every stage inside whole-stage codegen at identical FLOPs.
      val dim = embeddingDim(s, dir)
      val subDim = dim / PqSubspaces
      val e = quantizedVectors(s, dir)
      val cents: Seq[Seq[Long]] =
        for { m <- 0 until PqSubspaces; k <- 0 until PqCodebook }
          yield pqCentroid(m, k, subDim).toSeq
      val cSqs: Seq[Long] = cents.map(c => c.map(v => v * v).sum)
      val centsLit = typedlit(cents); val cSqLit = typedlit(cSqs)
      val subs = e.select(posexplode(array(
          (0 until PqSubspaces).map(m =>
            slice(col("qe"), m * subDim + 1, subDim)): _*)).as(Seq("m0", "sub")))
        .select(col("m0").cast("long").as("m"), col("sub"))
      val best = array_min(array((0 until PqCodebook).map { k =>
        val idx = (col("m") * PqCodebook + k + 1).cast("int")
        struct((element_at(cSqLit, idx)
          - lit(2L) * dotQ(s, col("sub"), element_at(centsLit, idx))).as("s"),
          lit(k).as("k"))
      }: _*))
      val assigned = subs.select(col("m"),
        (dotQ(s, col("sub"), col("sub")) + best.getField("s")).as("err"),
        best.getField("k").as("code"))
      val perCode = assigned.groupBy("m", "code")
        .agg(count(lit(1)).as("cnt"), sum("err").as("err_sum"))
      perCode
        .withColumn("rn", row_number().over(
          Window.partitionBy("m").orderBy(col("cnt").desc, col("code"))))
        .groupBy("m")
        .agg(sum("cnt").as("n_vecs"), count(lit(1)).as("n_codes_used"),
          sum("err_sum").as("sum_qerr"),
          max(when(col("rn") === 1, col("code"))).as("top_code"),
          max(when(col("rn") === 1, col("cnt"))).as("top_code_n"))
        .orderBy("m")
    }),

    "multimodal_bytes_entropy" -> ((s, dir) => {
      // Byte-level Shannon entropy of the binary payload per lang (round
      // 14) — the compression-potential / corruption screen a media
      // pipeline runs before paying for decode (an already-compressed
      // blob sits near 8 bits/byte; a stuck encoder near 0). The payload
      // is the documents text as bytes (the multimodal_features stub
      // convention — codec libs absent; plumbing real). Exact micro-nat
      // recipe (events_user_entropy): every ln argument is an integer
      // count, floor-quantized to µnats immediately, so the per-lang
      // entropy is bit-identical cross-engine. One scan explode (linear)
      // into the ≤ langs×256 histogram; everything after is bounded.
      // Empty docs are excluded EXPLICITLY on both sides: Spark's
      // split("", "") yields [""] (a phantom code-0 element) where
      // DuckDB's range(1, 0+1) yields no rows. Character iteration is
      // Spark split-per-UTF16-unit vs DuckDB per-codepoint — identical on
      // the BMP-only fixture; non-BMP payloads are out of this op's
      // declared byte-model contract (real binary goes through the
      // multimodal_features byte path, not text chars).
      def lnq(x: Column): Column =
        floor(log(x.cast("double")) * 1e6).cast("long")
      val hist = tWide(s, dir)("documents")
        .filter(length(col("text")) > 0)
        .select(col("lang"), explode(split(col("text"), "")).as("ch"))
        .select(col("lang"), ascii(col("ch")).cast("long").as("b"))
        .groupBy("lang", "b").agg(count(lit(1)).as("c"))
      hist.groupBy("lang")
        .agg(sum("c").as("n_bytes"), count(lit(1)).as("n_distinct_bytes"),
          sum(col("c") * lnq(col("c"))).as("sum_clnc_u"))
        .select(col("lang"), col("n_bytes"), col("n_distinct_bytes"),
          col("sum_clnc_u"),
          r6((lnq(col("n_bytes")) * col("n_bytes") - col("sum_clnc_u"))
            .cast("double") / (col("n_bytes").cast("double") * lit(1e6)))
            .as("entropy6"))
        .orderBy("lang")
    }),

    "vec_residual_quantize" -> ((s, dir) => {
      // Two-level residual quantization (round 14) — the RQ alternative
      // to PQ's subspace split: level 1 coarse-quantizes the FULL vector
      // against 16 centroids, level 2 quantizes the residual x − c1
      // against a second codebook — additive refinement instead of
      // dimension partitioning (what IVF-RQ / RabitQ-era indexes build
      // on). Same exact-integer encode discipline as vec_pq_codes: both
      // argmins over BIGINT ‖·‖² distances via ‖x‖²−2⟨x,c⟩+‖c‖²,
      // smallest-k ties. Level-2 code 0 is the ZERO vector ("no
      // correction"), which makes err2 ≤ err1 per row BY CONSTRUCTION —
      // every div in the improvement math sees non-negative operands
      // (the signed-div dialect trap never arises). Per-vector errs are
      // floor-divided to kilo-units before the corpus sum (declared
      // quantization; keeps sums ≤ ~1.7e16 at 100× — int64-safe), means
      // per coarse cell, improvement in ppm of mean err removed. Two
      // map-side encode passes + one ≤16-row agg — scan-bound at any SF.
      val dim = embeddingDim(s, dir)
      val e = quantizedVectors(s, dir)
      def cbook(level: Int): IndexedSeq[Array[Long]] =
        (0 until PqCodebook).map { k =>
          if (level == 2 && k == 0) Array.fill(dim)(0L)
          else pqCentroid(100 + level, k, dim)
        }
      val cb1 = cbook(1); val cb2 = cbook(2)
      def best(v: Column, cb: IndexedSeq[Array[Long]]): Column =
        array_min(array(cb.zipWithIndex.map { case (c, k) =>
          val cSq = c.map(x => x * x).sum
          struct((lit(cSq) - lit(2L) * dotQ(s, v, lit(c))).as("sc"),
            lit(k).as("k"))
        }: _*))
      val b1 = best(col("qe"), cb1)
      val a1 = e.select(col("vec_id"), col("qe"),
        (dotQ(s, col("qe"), col("qe")) + b1.getField("sc")).as("err1"),
        b1.getField("k").as("code1"))
      val c1arr = element_at(
        typedlit(cb1.map(_.toSeq)), col("code1") + 1)
      val a2 = a1.withColumn("r", zip_with(col("qe"), c1arr, (a, b) => a - b))
      val b2 = best(col("r"), cb2)
      a2.select(col("code1"),
          call_function("div", col("err1"), lit(1000L)).as("e1k"),
          call_function("div", col("err1") + b2.getField("sc"), lit(1000L))
            .as("e2k"))
        .groupBy("code1")
        .agg(count(lit(1)).as("n_vecs"), sum("e1k").as("s1"), sum("e2k").as("s2"))
        .withColumn("mean_err1_k", call_function("div", col("s1"), col("n_vecs")))
        .withColumn("mean_err2_k", call_function("div", col("s2"), col("n_vecs")))
        .withColumn("improvement_ppm", when(col("mean_err1_k") > 0,
          call_function("div",
            (col("mean_err1_k") - col("mean_err2_k")) * lit(1000000L),
            col("mean_err1_k"))))
        .select("code1", "n_vecs", "mean_err1_k", "mean_err2_k",
          "improvement_ppm")
        .orderBy("code1")
    }),

    "vec_knn_label_predict" -> ((s, dir) => {
      // kNN majority-vote classification accuracy (round 14) — the
      // embedding-quality eval every labeled corpus runs (if 5-NN can't
      // recover the label, the embedding doesn't separate the classes;
      // the per-class table exposes WHICH classes bleed). Leave-one-out
      // over a bounded query set (vec_id < 100 — the knn_cosine_topk
      // discipline: queries broadcast, ONE corpus scan, linear in the
      // corpus at any SF; at full scale the identical shape runs per IVF
      // cell). Exact integer dots; vote = argmax neighbor-label count
      // with (count desc, label asc) tiebreak; output per TRUE label:
      // queries, correct, accuracy ppm.
      val e = tWide(s, dir)("embeddings")
        .select(col("vec_id"), quantize(col("embedding")).as("qe"),
          col("label").cast("long").as("label"))
      val q = e.filter(col("vec_id") < 100)
        .select(col("vec_id").as("qid"), col("qe").as("qv"),
          col("label").as("true_label"))
      val pairs = e.join(broadcast(q), col("qid") =!= col("vec_id"))
        .select(col("qid"), col("true_label"), col("label"),
          dotQ(s, col("qv"), col("qe")).as("dot_q"), col("vec_id"))
      val top5 = pairs.withColumn("rn", row_number().over(
          Window.partitionBy("qid").orderBy(col("dot_q").desc, col("vec_id"))))
        .filter(col("rn") <= 5)
      val votes = top5.groupBy("qid", "true_label", "label")
        .agg(count(lit(1)).as("v"))
      val pred = keepFirst(votes, Seq(col("qid")),
          Seq(col("v").desc, col("label")))
        .select(col("qid"), col("true_label"), col("label").as("pred_label"))
      pred.groupBy(col("true_label"))
        .agg(count(lit(1)).as("n_queries"),
          sum(when(col("pred_label") === col("true_label"), 1L).otherwise(0L))
            .as("n_correct"))
        .withColumn("acc_ppm", call_function("div",
          col("n_correct") * lit(1000000L), col("n_queries")))
        .orderBy("true_label")
    }),
  )

  /** Generated DuckDB twin of vec_jl_projection: the ±1 sign vectors are
    * emitted as SQL literals; DuckDB re-derives projections, projected
    * dots, and exact original dots — all integer math, so equality is
    * exact. */
  private def jlOracleSql: String = {
    val dim = 64
    val vals = (0 until JlDims).map(j =>
      s"($j, [${jlSigns(j, dim).mkString(",")}])").mkString(",\n        ")
    s"""
      WITH q AS (SELECT vec_id, list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS qe
                 FROM embeddings WHERE vec_id < 100),
      planes(j, comps) AS (VALUES
        $vals),
      proj AS (SELECT vec_id, j,
                      CAST(list_sum(list_transform(range(1, ${dim + 1}),
                        i -> qe[i] * comps[i])) AS BIGINT) AS yj
               FROM q CROSS JOIN planes),
      pd AS (SELECT a.vec_id AS qid, b.vec_id AS vid,
                    CAST(SUM(a.yj * b.yj) AS BIGINT) AS proj_dot
             FROM proj a JOIN proj b ON a.j = b.j
             WHERE a.vec_id < 10 AND b.vec_id <> a.vec_id
             GROUP BY 1, 2),
      e AS (SELECT vec_id, unnest(qe) AS v, generate_subscripts(qe, 1) AS i FROM q),
      od AS (SELECT a.vec_id AS qid, b.vec_id AS vid,
                    CAST(SUM(a.v * b.v) AS BIGINT) AS orig_dot
             FROM e a JOIN e b ON a.i = b.i
             WHERE a.vec_id < 10 AND b.vec_id <> a.vec_id
             GROUP BY 1, 2)
      SELECT od.qid, od.vid, od.orig_dot, pd.proj_dot
      FROM od JOIN pd ON od.qid = pd.qid AND od.vid = pd.vid
      ORDER BY od.qid, od.vid"""
  }

  /** Generated DuckDB twin of knn_ivf_topk: the splitmix64 plane vectors are
    * emitted as SQL literals (24 rows of 64 ints), and the whole index —
    * cell assignment, Hamming<=2 multiprobe, candidate union, exact
    * quantized re-rank — is recomputed in pure SQL. Genuinely differential:
    * a second engine re-derives the same ANN result from the same planes.
    * Note: the SQL pins dim=64 (the fixture dim the Spark op discovers at
    * run time). */
  /** Brute-force quantized-dot top-5 twin — also the ground-truth side of
    * vec_ann_recall_curve's composed oracle. */
  private def bruteKnnSql: String = s"""
      WITH q AS (SELECT vec_id, list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS qe
                 FROM embeddings),
      e AS (SELECT vec_id, unnest(qe) AS v, generate_subscripts(qe, 1) AS i FROM q),
      d AS (SELECT a.vec_id AS qid, b.vec_id AS vid,
                   CAST(SUM(a.v * b.v) AS BIGINT) AS dot_q
            FROM e a JOIN e b ON a.i = b.i
            WHERE a.vec_id < 10 AND b.vec_id <> a.vec_id
            GROUP BY 1, 2),
      r AS (SELECT qid, vid, dot_q,
                   ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dot_q DESC, vid) AS rn
            FROM d)
      SELECT qid, vid, dot_q, ${r4Sql("CAST(dot_q AS DOUBLE) / 1000000000000")} AS cos4,
             CAST(rn AS INT) AS rn
      FROM r WHERE rn <= 5 ORDER BY qid, rn"""

  private def ivfOracleSql: String = {
    val dim = 64
    val vals = (for { t <- 0 until IvfTables; p <- 0 until IvfPlanes } yield
      s"($t, $p, [${planeComponents(t * IvfPlanes + p, dim).mkString(",")}])"
    ).mkString(",\n        ")
    val masks = (Seq(0L)
      ++ (0 until IvfPlanes).map(b => 1L << b)
      ++ (for { a <- 0 until IvfPlanes; b <- a + 1 until IvfPlanes }
           yield (1L << a) | (1L << b))).mkString(",")
    s"""
      WITH q AS (SELECT vec_id, list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS qe
                 FROM embeddings),
      planes(tbl, p, comps) AS (VALUES
        $vals),
      proj AS (SELECT vec_id, tbl, p,
                      list_sum(list_transform(range(1, ${dim + 1}), i -> qe[i] * comps[i])) AS pr
               FROM q CROSS JOIN planes),
      cells AS (SELECT vec_id, tbl,
                       CAST(SUM(CASE WHEN pr >= 0 THEN 1 << p ELSE 0 END) AS BIGINT) AS cell
                FROM proj GROUP BY vec_id, tbl),
      qc AS (SELECT vec_id AS qid, tbl, cell AS qcell FROM cells WHERE vec_id < 10),
      probe AS (SELECT qid, tbl, xor(qcell, m.mask) AS cand_cell
                FROM qc CROSS JOIN (SELECT unnest([$masks]) AS mask) m),
      cand AS (SELECT DISTINCT p.qid, c.vec_id AS vid
               FROM probe p JOIN cells c ON p.tbl = c.tbl AND p.cand_cell = c.cell
               WHERE c.vec_id <> p.qid),
      e AS (SELECT vec_id, unnest(qe) AS v, generate_subscripts(qe, 1) AS i FROM q),
      d AS (SELECT cand.qid, cand.vid, CAST(SUM(a.v * b.v) AS BIGINT) AS dot_q
            FROM cand
              JOIN e a ON a.vec_id = cand.qid
              JOIN e b ON b.vec_id = cand.vid AND a.i = b.i
            GROUP BY cand.qid, cand.vid),
      r AS (SELECT qid, vid, dot_q,
                   ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dot_q DESC, vid) AS rn
            FROM d)
      SELECT qid, vid, dot_q, CAST(rn AS INT) AS rn
      FROM r WHERE rn <= 5 ORDER BY qid, rn"""
  }

  /** Generated DuckDB twin of vec_ivf_cell_stats: re-derives the cell
    * assignment from the SAME planeComponents literals ivfOracleSql emits
    * (both strings come from one Scala generator — no hand-copied SQL to
    * drift), then folds to the per-table occupancy stats. */
  private def ivfCellStatsOracleSql: String = {
    val dim = 64
    val vals = (for { t <- 0 until IvfTables; p <- 0 until IvfPlanes } yield
      s"($t, $p, [${planeComponents(t * IvfPlanes + p, dim).mkString(",")}])"
    ).mkString(",\n        ")
    s"""
      WITH q AS (SELECT vec_id, list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS qe
                 FROM embeddings),
      planes(tbl, p, comps) AS (VALUES
        $vals),
      proj AS (SELECT vec_id, tbl, p,
                      list_sum(list_transform(range(1, ${dim + 1}), i -> qe[i] * comps[i])) AS pr
               FROM q CROSS JOIN planes),
      cells AS (SELECT vec_id, tbl,
                       CAST(SUM(CASE WHEN pr >= 0 THEN 1 << p ELSE 0 END) AS BIGINT) AS cell
                FROM proj GROUP BY vec_id, tbl),
      occ AS (SELECT tbl, cell, COUNT(1) AS occ FROM cells GROUP BY 1, 2),
      st AS (SELECT tbl, CAST(SUM(occ) AS BIGINT) AS n_vecs,
                    COUNT(1) AS n_cells, MAX(occ) AS max_occ,
                    CAST(SUM(CASE WHEN occ = 1 THEN 1 ELSE 0 END) AS BIGINT)
                      AS singleton_cells
             FROM occ GROUP BY tbl),
      hv AS (SELECT o.tbl, MIN(o.cell) AS heavy_cell
             FROM occ o JOIN st ON o.tbl = st.tbl AND o.occ = st.max_occ
             GROUP BY o.tbl)
      SELECT CAST(st.tbl AS BIGINT) AS tbl, n_vecs, n_cells, max_occ,
             singleton_cells, heavy_cell,
             CAST(max_occ * 1000000 // (n_vecs // n_cells) AS BIGINT)
               AS occ_skew_ppm
      FROM st JOIN hv ON st.tbl = hv.tbl ORDER BY tbl"""
  }

  /** Generated DuckDB twin of vec_ivf_balance_gini: same cells/occ chain
    * as the stats oracle, then the sorted-rank Gini identity in integer
    * milli. */
  private def ivfBalanceGiniOracleSql: String = {
    val dim = 64
    val vals = (for { t <- 0 until IvfTables; p <- 0 until IvfPlanes } yield
      s"($t, $p, [${planeComponents(t * IvfPlanes + p, dim).mkString(",")}])"
    ).mkString(",\n        ")
    s"""
      WITH q AS (SELECT vec_id, list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS qe
                 FROM embeddings),
      planes(tbl, p, comps) AS (VALUES
        $vals),
      proj AS (SELECT vec_id, tbl, p,
                      list_sum(list_transform(range(1, ${dim + 1}), i -> qe[i] * comps[i])) AS pr
               FROM q CROSS JOIN planes),
      cells AS (SELECT vec_id, tbl,
                       CAST(SUM(CASE WHEN pr >= 0 THEN 1 << p ELSE 0 END) AS BIGINT) AS cell
                FROM proj GROUP BY vec_id, tbl),
      occ AS (SELECT tbl, cell, COUNT(1) AS occ FROM cells GROUP BY 1, 2),
      rk AS (SELECT tbl, occ,
                    CAST(ROW_NUMBER() OVER (PARTITION BY tbl
                      ORDER BY occ, cell) AS BIGINT) AS rk
             FROM occ),
      g AS (SELECT tbl, COUNT(1) AS n_cells, CAST(SUM(occ) AS BIGINT) AS n_vecs,
                   CAST(SUM(rk * occ) AS BIGINT) AS s_rank
            FROM rk GROUP BY 1)
      SELECT CAST(tbl AS BIGINT) AS tbl, n_cells, n_vecs,
             (s_rank * 2 - (n_cells + 1) * n_vecs) * 1000
               // (n_cells * n_vecs) AS gini_milli
      FROM g ORDER BY tbl"""
  }

  /** Generated DuckDB twin of vec_ivf_probe_cost: cells from the same
    * plane literals, masks tagged with their Hamming distance, min-reach
    * dedup, cumulative radius counts. */
  private def ivfProbeCostOracleSql: String = {
    val dim = 64
    val vals = (for { t <- 0 until IvfTables; p <- 0 until IvfPlanes } yield
      s"($t, $p, [${planeComponents(t * IvfPlanes + p, dim).mkString(",")}])"
    ).mkString(",\n        ")
    val maskVals = ((Seq((0L, 0))
      ++ (0 until IvfPlanes).map(b => (1L << b, 1))
      ++ (for { a <- 0 until IvfPlanes; b <- a + 1 until IvfPlanes }
           yield ((1L << a) | (1L << b), 2)))
      .map { case (m, d) => s"($m, $d)" }).mkString(",")
    s"""
      WITH q AS (SELECT vec_id, list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS qe
                 FROM embeddings),
      planes(tbl, p, comps) AS (VALUES
        $vals),
      proj AS (SELECT vec_id, tbl, p,
                      list_sum(list_transform(range(1, ${dim + 1}), i -> qe[i] * comps[i])) AS pr
               FROM q CROSS JOIN planes),
      cells AS (SELECT vec_id, tbl,
                       CAST(SUM(CASE WHEN pr >= 0 THEN 1 << p ELSE 0 END) AS BIGINT) AS cell
                FROM proj GROUP BY vec_id, tbl),
      qc AS (SELECT vec_id AS qid, tbl, cell AS qcell FROM cells WHERE vec_id < 10),
      masks(mask, d) AS (VALUES $maskVals),
      probe AS (SELECT qid, tbl, xor(qcell, m.mask) AS cand_cell,
                       CAST(m.d AS BIGINT) AS d
                FROM qc CROSS JOIN masks m),
      hits AS (SELECT p.qid, c.vec_id AS vid, c.tbl, c.cell, p.d
               FROM probe p JOIN cells c ON p.tbl = c.tbl AND p.cand_cell = c.cell),
      candmin AS (SELECT qid, vid, MIN(d) AS dmin FROM hits
                  WHERE vid <> qid GROUP BY 1, 2),
      cellmin AS (SELECT qid, tbl, cell, MIN(d) AS dmin FROM hits GROUP BY 1, 2, 3),
      radii AS (SELECT CAST(unnest([0, 1, 2]) AS BIGINT) AS radius),
      base AS (SELECT DISTINCT qid, radius FROM qc CROSS JOIN radii),
      cc AS (SELECT qid, radius, COUNT(1) AS n_candidates
             FROM candmin JOIN radii ON dmin <= radius GROUP BY 1, 2),
      ch AS (SELECT qid, radius, COUNT(1) AS cells_hit
             FROM cellmin JOIN radii ON dmin <= radius GROUP BY 1, 2)
      SELECT b.qid, b.radius, COALESCE(ch.cells_hit, 0) AS cells_hit,
             COALESCE(cc.n_candidates, 0) AS n_candidates
      FROM base b
        LEFT JOIN ch ON b.qid = ch.qid AND b.radius = ch.radius
        LEFT JOIN cc ON b.qid = cc.qid AND b.radius = cc.radius
      ORDER BY b.qid, b.radius"""
  }

  /** Generated DuckDB twin of vec_pq_codes: the 8×16 codebook is emitted as
    * SQL literals and the encode — subvector slice, exact integer L2 argmin
    * with (dist, k) tie-break, code packing, total quantization error — is
    * recomputed in pure SQL. Pins dim=64 (fixture dim; Spark discovers it). */
  private def pqOracleSql: String = {
    val dim = 64
    val subDim = dim / PqSubspaces
    val vals = (for { m <- 0 until PqSubspaces; k <- 0 until PqCodebook } yield
      s"($m, $k, [${pqCentroid(m, k, subDim).mkString(",")}])"
    ).mkString(",\n        ")
    s"""
      WITH q AS (SELECT vec_id, list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS qe
                 FROM embeddings),
      cent(m, k, comps) AS (VALUES
        $vals),
      d AS (SELECT vec_id, m, k,
                   list_sum(list_transform(range(1, ${subDim + 1}),
                     i -> (qe[m * $subDim + i] - comps[i])
                        * (qe[m * $subDim + i] - comps[i]))) AS dist
            FROM q CROSS JOIN cent),
      r AS (SELECT vec_id, m, k, dist,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY dist, k) AS rn
            FROM d)
      SELECT vec_id, array_to_string(LIST(k ORDER BY m), ',') AS codes,
             CAST(SUM(dist) AS BIGINT) AS qerr
      FROM r WHERE rn = 1 GROUP BY vec_id ORDER BY vec_id"""
  }

  /** vec_pq_distortion twin — REGENERATED from the same pqCentroid seeds
    * (the IVF-family discipline: extend by regeneration, never hand-copy):
    * identical argmin assignment, then the per-subspace rollup. */
  private def pqDistortionOracleSql: String = {
    val dim = 64
    val subDim = dim / PqSubspaces
    val vals = (for { m <- 0 until PqSubspaces; k <- 0 until PqCodebook } yield
      s"($m, $k, [${pqCentroid(m, k, subDim).mkString(",")}])"
    ).mkString(",\n        ")
    s"""
      WITH q AS (SELECT vec_id, list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS qe
                 FROM embeddings),
      cent(m, k, comps) AS (VALUES
        $vals),
      d AS (SELECT vec_id, m, k,
                   list_sum(list_transform(range(1, ${subDim + 1}),
                     i -> (qe[m * $subDim + i] - comps[i])
                        * (qe[m * $subDim + i] - comps[i]))) AS dist
            FROM q CROSS JOIN cent),
      r AS (SELECT vec_id, m, k, dist,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY dist, k) AS rn
            FROM d),
      a AS (SELECT vec_id, CAST(m AS BIGINT) AS m, k, dist
            FROM r WHERE rn = 1),
      pc AS (SELECT m, k, COUNT(1) AS cnt, CAST(SUM(dist) AS BIGINT) AS err_sum
             FROM a GROUP BY 1, 2),
      rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY m
                         ORDER BY cnt DESC, k) AS rn FROM pc)
      SELECT m, CAST(SUM(cnt) AS BIGINT) AS n_vecs,
             COUNT(1) AS n_codes_used,
             CAST(SUM(err_sum) AS BIGINT) AS sum_qerr,
             MAX(CASE WHEN rn = 1 THEN k END) AS top_code,
             MAX(CASE WHEN rn = 1 THEN cnt END) AS top_code_n
      FROM rk GROUP BY m ORDER BY m"""
  }

  /** vec_residual_quantize twin — both codebooks REGENERATED from the same
    * pqCentroid seeds (level-2 code 0 is the zero vector, exactly as the
    * Spark side builds it); identical two-stage argmin + kilo-unit floor
    * divs + per-cell rollup. */
  private def rqOracleSql: String = {
    val dim = 64
    def rows(level: Int): String =
      (0 until PqCodebook).map { k =>
        val c = if (level == 2 && k == 0) Array.fill(dim)(0L)
                else pqCentroid(100 + level, k, dim)
        s"($k, [${c.mkString(",")}])"
      }.mkString(",\n        ")
    s"""
      WITH q AS (SELECT vec_id, list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS qe
                 FROM embeddings),
      c1(k, comps) AS (VALUES
        ${rows(1)}),
      c2(k, comps) AS (VALUES
        ${rows(2)}),
      d1 AS (SELECT vec_id, qe, c1.k,
                    list_sum(list_transform(range(1, ${dim + 1}),
                      i -> (qe[i] - comps[i]) * (qe[i] - comps[i]))) AS dist
             FROM q CROSS JOIN c1),
      a1 AS (SELECT vec_id, qe, k AS code1, dist AS err1
             FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                     ORDER BY dist, k) AS rn FROM d1)
             WHERE rn = 1),
      res AS (SELECT a1.vec_id, a1.code1, a1.err1,
                     list_transform(range(1, ${dim + 1}),
                       i -> a1.qe[i] - c1.comps[i]) AS r
              FROM a1 JOIN c1 ON a1.code1 = c1.k),
      d2 AS (SELECT vec_id, code1, err1, c2.k,
                    list_sum(list_transform(range(1, ${dim + 1}),
                      i -> (r[i] - comps[i]) * (r[i] - comps[i]))) AS dist2
             FROM res CROSS JOIN c2),
      a2 AS (SELECT code1,
                    CAST(err1 // 1000 AS BIGINT) AS e1k,
                    CAST(dist2 // 1000 AS BIGINT) AS e2k
             FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                     ORDER BY dist2, k) AS rn FROM d2)
             WHERE rn = 1),
      g AS (SELECT code1, COUNT(1) AS n_vecs,
                   CAST(SUM(e1k) AS BIGINT) AS s1,
                   CAST(SUM(e2k) AS BIGINT) AS s2
            FROM a2 GROUP BY 1)
      SELECT code1, n_vecs, s1 // n_vecs AS mean_err1_k,
             s2 // n_vecs AS mean_err2_k,
             CASE WHEN s1 // n_vecs > 0 THEN
               ((s1 // n_vecs - s2 // n_vecs) * 1000000) // (s1 // n_vecs)
             END AS improvement_ppm
      FROM g ORDER BY code1"""
  }

  /** Generated DuckDB twin of knn_ivfpq_topk: re-derives the LSH cells, the
    * one-round Lloyd codebook training (assignment under the seed codebook →
    * per-(m,k) component means, floor(mean+0.5), empty cluster keeps its
    * seed), PQ code assignment under the trained codebook, per-query ADC
    * lookup distances, the adaptive shortlist, and the exact re-rank —
    * all in pure SQL from the same plane/seed literals. Genuinely
    * differential: a second engine re-trains the same codebook from the
    * same seeds and data. Pins dim=64 (fixture dim; Spark discovers it). */
  private def ivfpqOracleSql: String = {
    val dim = 64
    val subDim = dim / IvfPqSubspaces
    val planeVals = (for { t <- 0 until IvfTables; p <- 0 until IvfPlanes } yield
      s"($t, $p, [${planeComponents(t * IvfPlanes + p, dim).mkString(",")}])"
    ).mkString(",\n        ")
    val centVals = (for { m <- 0 until IvfPqSubspaces; k <- 0 until PqCodebook } yield
      s"($m, $k, [${pqCentroid(m, k, subDim).mkString(",")}])"
    ).mkString(",\n        ")
    val masks = (Seq(0L)
      ++ (0 until IvfPlanes).map(b => 1L << b)
      ++ (for { a <- 0 until IvfPlanes; b <- a + 1 until IvfPlanes }
           yield (1L << a) | (1L << b))).mkString(",")
    s"""
      WITH q AS (SELECT vec_id, list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS qe
                 FROM embeddings),
      planes(tbl, p, comps) AS (VALUES
        $planeVals),
      proj AS (SELECT vec_id, tbl, p,
                      list_sum(list_transform(range(1, ${dim + 1}), i -> qe[i] * comps[i])) AS pr
               FROM q CROSS JOIN planes),
      cells AS (SELECT vec_id, tbl,
                       CAST(SUM(CASE WHEN pr >= 0 THEN 1 << p ELSE 0 END) AS BIGINT) AS cell
                FROM proj GROUP BY vec_id, tbl),
      cent(m, k, comps) AS (VALUES
        $centVals),
      pd0 AS (SELECT vec_id, m, k,
                     CAST(list_sum(list_transform(range(1, ${subDim + 1}),
                       i -> (qe[m * $subDim + i] - comps[i])
                          * (qe[m * $subDim + i] - comps[i]))) AS BIGINT) AS dist
              FROM q CROSS JOIN cent),
      codes0 AS (SELECT vec_id, m, k,
                        ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY dist, k) AS crn
                 FROM pd0),
      trainstat AS (SELECT c0.m, c0.k, ii.i,
                           CAST(floor(CAST(SUM(q.qe[c0.m * $subDim + ii.i]) AS DOUBLE)
                                      / COUNT(*) + 0.5) AS BIGINT) AS compr
                    FROM q
                      JOIN codes0 c0 ON c0.vec_id = q.vec_id AND c0.crn = 1
                      CROSS JOIN (SELECT unnest(range(1, ${subDim + 1})) AS i) ii
                    GROUP BY c0.m, c0.k, ii.i),
      rc AS (SELECT cent.m, cent.k, ii.i,
                    COALESCE(ts.compr, cent.comps[ii.i]) AS comp
             FROM cent
               CROSS JOIN (SELECT unnest(range(1, ${subDim + 1})) AS i) ii
               LEFT JOIN trainstat ts
                 ON ts.m = cent.m AND ts.k = cent.k AND ts.i = ii.i),
      pd1 AS (SELECT q.vec_id, rc.m, rc.k,
                     CAST(SUM((q.qe[rc.m * $subDim + rc.i] - rc.comp)
                            * (q.qe[rc.m * $subDim + rc.i] - rc.comp)) AS BIGINT) AS dist
              FROM q CROSS JOIN rc GROUP BY q.vec_id, rc.m, rc.k),
      codes1 AS (SELECT vec_id, m, k, dist,
                        ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY dist, k) AS crn
                 FROM pd1),
      qc AS (SELECT vec_id AS qid, tbl, cell AS qcell FROM cells WHERE vec_id < 10),
      probe AS (SELECT qid, tbl, xor(qcell, m.mask) AS cand_cell
                FROM qc CROSS JOIN (SELECT unnest([$masks]) AS mask) m),
      cand AS (SELECT DISTINCT p.qid, c.vec_id AS vid
               FROM probe p JOIN cells c ON p.tbl = c.tbl AND p.cand_cell = c.cell
               WHERE c.vec_id <> p.qid),
      adc AS (SELECT cand.qid, cand.vid, CAST(SUM(qd.dist) AS BIGINT) AS adc
              FROM cand
                JOIN codes1 cc ON cc.vec_id = cand.vid AND cc.crn = 1
                JOIN pd1 qd ON qd.vec_id = cand.qid AND qd.m = cc.m AND qd.k = cc.k
              GROUP BY cand.qid, cand.vid),
      sl AS (SELECT qid, vid, adc,
                    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc, vid) AS srn,
                    COUNT(*) OVER (PARTITION BY qid) AS ncand
             FROM adc),
      e AS (SELECT vec_id, unnest(qe) AS v, generate_subscripts(qe, 1) AS i FROM q),
      d AS (SELECT sl.qid, sl.vid, sl.adc, CAST(SUM(a.v * b.v) AS BIGINT) AS dot_q
            FROM sl
              JOIN e a ON a.vec_id = sl.qid
              JOIN e b ON b.vec_id = sl.vid AND a.i = b.i
            WHERE sl.srn <= GREATEST($IvfPqShortlist, sl.ncand // 32)
            GROUP BY sl.qid, sl.vid, sl.adc),
      r AS (SELECT qid, vid, dot_q, adc,
                   ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dot_q DESC, vid) AS rn
            FROM d)
      SELECT qid, vid, dot_q, adc, CAST(rn AS INT) AS rn
      FROM r WHERE rn <= 5 ORDER BY qid, rn"""
  }

  /** Generated DuckDB twin of dedup_near_embedding: re-derives the 8×3 LSH
    * plane literals, bucket candidates, exact threshold, and min-id star
    * assignment in pure SQL. Pins dim=64 (fixture dim). */
  private def nearEmbOracleSql: String = {
    val dim = 64
    val tables = 8
    val planes = 3
    val vals = (for { t <- 0 until tables; p <- 0 until planes } yield
      s"($t, $p, [${planeComponents(64 + t * planes + p, dim).mkString(",")}])"
    ).mkString(",\n        ")
    s"""
      WITH q AS (SELECT vec_id, list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS qe
                 FROM embeddings),
      planes(tbl, p, comps) AS (VALUES
        $vals),
      proj AS (SELECT vec_id, tbl, p,
                      list_sum(list_transform(range(1, ${dim + 1}), i -> qe[i] * comps[i])) AS pr
               FROM q CROSS JOIN planes),
      cells AS (SELECT vec_id, tbl,
                       CAST(SUM(CASE WHEN pr >= 0 THEN 1 << p ELSE 0 END) AS BIGINT) AS cell
                FROM proj GROUP BY vec_id, tbl),
      cand AS (SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2
               FROM cells a JOIN cells b
                 ON a.tbl = b.tbl AND a.cell = b.cell AND a.vec_id < b.vec_id),
      e AS (SELECT vec_id, unnest(qe) AS v, generate_subscripts(qe, 1) AS i FROM q),
      d AS (SELECT cand.id1, cand.id2
            FROM cand
              JOIN e a ON a.vec_id = cand.id1
              JOIN e b ON b.vec_id = cand.id2 AND a.i = b.i
            GROUP BY cand.id1, cand.id2
            HAVING SUM(a.v * b.v) >= 400000000000),
      nbr AS (SELECT id1 AS vid, id2 AS nbr FROM d
              UNION ALL SELECT id2, id1 FROM d),
      m AS (SELECT vid, MIN(nbr) AS mn FROM nbr GROUP BY vid)
      SELECT q.vec_id,
             COALESCE(LEAST(m.mn, q.vec_id), q.vec_id) AS canonical_id,
             (COALESCE(LEAST(m.mn, q.vec_id), q.vec_id) = q.vec_id) AS is_canonical
      FROM q LEFT JOIN m ON m.vid = q.vec_id ORDER BY q.vec_id"""
  }

  def oracleSql: Map[String, String] = Map(
    // Differential power iteration: DuckDB replays both rounds — exact
    // HUGEINT matrix-vector sums cast to the same doubles, same
    // floor-rescale to ±1000 — from the same all-1000 start vector.
    "vec_power_iter" -> """
      WITH q AS (SELECT vec_id, list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS qe
                 FROM embeddings),
      e AS (SELECT vec_id, unnest(qe) AS x, generate_subscripts(qe, 1) AS i FROM q),
      d1 AS (SELECT vec_id, CAST(SUM(x * 1000) AS BIGINT) AS dot FROM e GROUP BY vec_id),
      w1 AS (SELECT e.i, CAST(SUM(e.x * d1.dot) AS DOUBLE) AS w
             FROM e JOIN d1 ON e.vec_id = d1.vec_id GROUP BY e.i),
      m1 AS (SELECT MAX(abs(w)) AS m FROM w1),
      v1 AS (SELECT i, CAST(floor(w / (SELECT m FROM m1) * 1000 + 0.5) AS BIGINT) AS c
             FROM w1),
      d2 AS (SELECT e.vec_id, CAST(SUM(e.x * v1.c) AS BIGINT) AS dot
             FROM e JOIN v1 ON e.i = v1.i GROUP BY e.vec_id),
      w2 AS (SELECT e.i, CAST(SUM(e.x * d2.dot) AS DOUBLE) AS w
             FROM e JOIN d2 ON e.vec_id = d2.vec_id GROUP BY e.i),
      m2 AS (SELECT MAX(abs(w)) AS m FROM w2),
      v2 AS (SELECT i, CAST(floor(w / (SELECT m FROM m2) * 1000 + 0.5) AS BIGINT) AS c
             FROM w2)
      SELECT CAST(v1.i - 1 AS INT) AS i, v1.c AS v1_comp, v2.c AS v2_comp
      FROM v1 JOIN v2 ON v1.i = v2.i
      ORDER BY i""",
    // Deflation twin: round 1 is vec_power_iter's d1/w1/v1 verbatim; the
    // residual r = x·(v·v) − dot·v_j stays BIGINT, per-row products go
    // through HUGEINT, and both normalizations replay the same
    // floor(w/max·1000+0.5).
    "vec_pca_deflate" -> """
      WITH q AS (SELECT vec_id, list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS qe
                 FROM embeddings),
      e AS (SELECT vec_id, unnest(qe) AS x, generate_subscripts(qe, 1) AS i FROM q),
      d1 AS (SELECT vec_id, CAST(SUM(x * 1000) AS BIGINT) AS dot FROM e GROUP BY vec_id),
      w1 AS (SELECT e.i, CAST(SUM(e.x * d1.dot) AS DOUBLE) AS w
             FROM e JOIN d1 ON e.vec_id = d1.vec_id GROUP BY e.i),
      m1 AS (SELECT MAX(abs(w)) AS m FROM w1),
      v1 AS (SELECT i, CAST(floor(w / (SELECT m FROM m1) * 1000 + 0.5) AS BIGINT) AS c
             FROM w1),
      vs AS (SELECT CAST(SUM(c * c) AS BIGINT) AS vv, CAST(SUM(c) AS BIGINT) AS sv
             FROM v1),
      d2 AS (SELECT e.vec_id, CAST(SUM(e.x * v1.c) AS BIGINT) AS dot,
                    CAST(SUM(e.x) AS BIGINT) AS sx
             FROM e JOIN v1 ON e.i = v1.i GROUP BY e.vec_id),
      dd AS (SELECT vec_id, dot,
                    (SELECT vv FROM vs) * sx - dot * (SELECT sv FROM vs) AS dot2
             FROM d2),
      w2 AS (SELECT e.i,
                    CAST(SUM(CAST(e.x * (SELECT vv FROM vs)
                                  - dd.dot * v1.c AS HUGEINT) * dd.dot2)
                         AS DOUBLE) AS w
             FROM e JOIN dd ON e.vec_id = dd.vec_id JOIN v1 ON e.i = v1.i
             GROUP BY e.i),
      m2 AS (SELECT MAX(abs(w)) AS m FROM w2),
      u2 AS (SELECT i, CAST(floor(w / (SELECT m FROM m2) * 1000 + 0.5) AS BIGINT) AS c
             FROM w2)
      SELECT CAST(v1.i - 1 AS INT) AS i, v1.c AS v_comp, u2.c AS u2_comp
      FROM v1 JOIN u2 ON v1.i = u2.i
      ORDER BY i""",
    // Differential k-means: DuckDB replays both Lloyd rounds — integer
    // argmin assignment (rank on Σc²-2Σvc, tie → smallest cluster),
    // floor-quantized centroid update, exact integer inertia — from the
    // same vec_id<8 initialization.
    "vec_kmeans_iter" -> """
      WITH q AS (SELECT vec_id, list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS qe
                 FROM embeddings),
      e AS (SELECT vec_id, unnest(qe) AS v, generate_subscripts(qe, 1) AS i FROM q),
      c0 AS (SELECT vec_id AS cl, i, v AS c FROM e WHERE vec_id < 8),
      s1 AS (SELECT e.vec_id, c.cl, SUM(c.c*c.c - 2*e.v*c.c) AS s
             FROM e JOIN c0 c ON e.i = c.i GROUP BY 1, 2),
      a1 AS (SELECT vec_id, cl FROM (
               SELECT vec_id, cl,
                      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s, cl) AS rn
               FROM s1) WHERE rn = 1),
      c1 AS (SELECT a1.cl, e.i,
                    CAST(floor(CAST(SUM(e.v) AS DOUBLE) / COUNT(1)) AS BIGINT) AS c
             FROM e JOIN a1 ON e.vec_id = a1.vec_id GROUP BY 1, 2),
      s2 AS (SELECT e.vec_id, c.cl, SUM(c.c*c.c - 2*e.v*c.c) AS s
             FROM e JOIN c1 c ON e.i = c.i GROUP BY 1, 2),
      a2 AS (SELECT vec_id, cl FROM (
               SELECT vec_id, cl,
                      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s, cl) AS rn
               FROM s2) WHERE rn = 1),
      c2 AS (SELECT a2.cl, e.i,
                    CAST(floor(CAST(SUM(e.v) AS DOUBLE) / COUNT(1)) AS BIGINT) AS c
             FROM e JOIN a2 ON e.vec_id = a2.vec_id GROUP BY 1, 2),
      d AS (SELECT e.vec_id, c.cl, SUM((e.v - c.c) * (e.v - c.c)) AS dist
            FROM e JOIN c2 c ON e.i = c.i GROUP BY 1, 2),
      best AS (SELECT vec_id, cl, dist FROM (
                 SELECT vec_id, cl, dist,
                        ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cl) AS rn
                 FROM d) WHERE rn = 1)
      SELECT CAST(cl AS INT) AS cluster, COUNT(1) AS n_vec,
             CAST(SUM(dist) AS BIGINT) AS inertia_q
      FROM best GROUP BY cl ORDER BY cluster""",
    "knn_ivf_topk" -> ivfOracleSql,
    "vec_ivf_cell_stats" -> ivfCellStatsOracleSql,
    "vec_ivf_balance_gini" -> ivfBalanceGiniOracleSql,
    "vec_dedup_exact" -> """
      WITH q0 AS (SELECT vec_id, list_transform(embedding,
                    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5)
                      AS BIGINT)) AS qe
                  FROM embeddings),
      v AS (SELECT a.vec_id,
                   CASE WHEN a.vec_id % 50 = 7 AND b.qe IS NOT NULL
                     THEN b.qe ELSE a.qe END AS qe
            FROM q0 a LEFT JOIN q0 b ON b.vec_id = a.vec_id - 1),
      g AS (SELECT qe, COUNT(1) AS n FROM v GROUP BY qe)
      SELECT COUNT(1) AS n_distinct,
             CAST(SUM(n) AS BIGINT) AS n_vectors,
             CAST(SUM(CASE WHEN n >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_groups,
             MAX(n) AS max_group,
             CAST(SUM(CASE WHEN n >= 2 THEN n - 1 ELSE 0 END) AS BIGINT)
               AS n_redundant
      FROM g""",
    "vec_ivf_probe_cost" -> ivfProbeCostOracleSql,
    "vec_ann_recall_curve" -> s"""
      WITH ivf AS ($ivfOracleSql),
      brute AS ($bruteKnnSql),
      j AS (SELECT b.qid, b.vid, b.rn AS rn_b, i.rn AS rn_i
            FROM brute b JOIN ivf i ON b.qid = i.qid AND b.vid = i.vid),
      nq AS (SELECT COUNT(DISTINCT qid) AS n_queries FROM brute),
      ks AS (SELECT CAST(unnest([1, 3, 5]) AS BIGINT) AS k)
      SELECT ks.k, nq.n_queries,
             CAST(COALESCE(SUM(CASE WHEN j.rn_b <= ks.k AND j.rn_i <= ks.k
               THEN 1 END), 0) AS BIGINT) AS n_hits,
             CAST(COALESCE(SUM(CASE WHEN j.rn_b <= ks.k AND j.rn_i <= ks.k
               THEN 1 END), 0) * 1000000 // (ks.k * nq.n_queries)
               AS BIGINT) AS recall_ppm
      FROM ks CROSS JOIN nq
      LEFT JOIN j ON j.rn_b <= ks.k AND j.rn_i <= ks.k
      GROUP BY ks.k, nq.n_queries ORDER BY ks.k""",
    "vec_retrieval_metrics" -> s"""
      WITH ivf AS ($ivfOracleSql),
      brute AS ($bruteKnnSql),
      j AS (SELECT i.qid, CAST(i.rn AS BIGINT) AS rn_i,
                   CASE WHEN b.vid IS NOT NULL THEN 1 END AS rel
            FROM ivf i LEFT JOIN brute b ON b.qid = i.qid AND b.vid = i.vid),
      perq AS (SELECT qid,
                 CAST(COALESCE(SUM(rel), 0) AS INT) AS n_rel_in_list,
                 MIN(CASE WHEN rel = 1 THEN rn_i END) AS fr,
                 CAST(COALESCE(SUM(CASE WHEN rel = 1 THEN
                   1000000000000 // CAST(floor(ln(CAST(rn_i AS DOUBLE) + 1.0)
                     / ln(2.0) * 1000000.0) AS BIGINT)
                 END), 0) AS BIGINT) AS dcg_u
               FROM j GROUP BY qid),
      idcg AS (SELECT CAST(SUM(1000000000000
                 // CAST(floor(ln(CAST(r AS DOUBLE) + 1.0)
                   / ln(2.0) * 1000000.0) AS BIGINT)) AS BIGINT) AS idcg_u
               FROM (SELECT unnest(range(1, 6)) AS r))
      SELECT perq.qid, perq.n_rel_in_list,
             CAST(COALESCE(perq.fr, -1) AS INT) AS first_rank,
             CAST(COALESCE(1000000 // perq.fr, 0) AS BIGINT) AS rr_micro,
             perq.dcg_u,
             CAST(perq.dcg_u * 1000000 // idcg.idcg_u AS BIGINT) AS ndcg_ppm
      FROM perq CROSS JOIN idcg ORDER BY perq.qid""",
    "docs_hybrid_retrieval" -> """
      WITH u AS (SELECT d.doc_id, d.text,
                        list_transform(e.embedding,
                          x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS qe
                 FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
      ev AS (SELECT doc_id, unnest(qe) AS v, generate_subscripts(qe, 1) AS i FROM u),
      dd AS (SELECT a.doc_id AS qid, b.doc_id AS did,
                    CAST(SUM(a.v * b.v) AS BIGINT) AS dot_q
             FROM ev a JOIN ev b ON a.i = b.i
             WHERE a.doc_id < 5 AND b.doc_id <> a.doc_id GROUP BY 1, 2),
      rdk AS (SELECT qid, did, rd FROM (
                SELECT qid, did,
                       ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dot_q DESC, did) AS rd
                FROM dd) WHERE rd <= 20),
      toks AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
                      unnest(string_split(text, ' ')) AS term FROM u),
      tf AS (SELECT doc_id, dl, term, COUNT(1) AS tf FROM toks GROUP BY 1, 2, 3),
      tot AS (SELECT COUNT(1) AS n_docs, SUM(dl) AS len_total
              FROM (SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS dl FROM u)),
      dfr AS (SELECT term, COUNT(1) AS df FROM tf GROUP BY 1),
      qt AS (SELECT DISTINCT doc_id AS qid, term FROM toks WHERE doc_id < 5),
      sc AS (SELECT qt.qid, tf.doc_id AS did,
               CAST(floor(
                 ln(CAST(tot.n_docs * 2 + 2 AS DOUBLE) / (dfr.df * 2 + 1))
                 * (CAST(tf.tf AS DOUBLE) * tot.len_total * 22
                    / (CAST(tf.tf AS DOUBLE) * tot.len_total * 10
                       + CAST(tot.len_total AS DOUBLE) * 3
                       + CAST(tf.dl AS DOUBLE) * tot.n_docs * 9))
                 * 1000000.0) AS BIGINT) AS s_micro
             FROM tf JOIN qt ON tf.term = qt.term AND tf.doc_id <> qt.qid
               JOIN dfr ON dfr.term = tf.term CROSS JOIN tot),
      sa AS (SELECT qid, did, CAST(SUM(s_micro) AS BIGINT) AS score_micro
             FROM sc GROUP BY 1, 2),
      rsk AS (SELECT qid, did, rs FROM (
                SELECT qid, did,
                       ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score_micro DESC, did) AS rs
                FROM sa) WHERE rs <= 20),
      f AS (SELECT COALESCE(rsk.qid, rdk.qid) AS qid,
                   COALESCE(rsk.did, rdk.did) AS did, rsk.rs, rdk.rd,
                   COALESCE(1000000 // (rsk.rs + 60), 0)
                     + COALESCE(1000000 // (rdk.rd + 60), 0) AS rrf
            FROM rsk FULL OUTER JOIN rdk
              ON rsk.qid = rdk.qid AND rsk.did = rdk.did),
      r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                        ORDER BY rrf DESC, did) AS rn FROM f)
      SELECT qid, CAST(rn AS INT) AS rn, did AS doc_id,
             CAST(COALESCE(rs, -1) AS BIGINT) AS rs,
             CAST(COALESCE(rd, -1) AS BIGINT) AS rd,
             CAST(rrf AS BIGINT) AS rrf
      FROM r WHERE rn <= 5 ORDER BY qid, rn""",
    "vec_hard_negatives" -> """
      WITH q AS (SELECT vec_id, label, list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS qe
                 FROM embeddings),
      e AS (SELECT vec_id, label, unnest(qe) AS v,
                   generate_subscripts(qe, 1) AS i FROM q),
      d AS (SELECT a.vec_id AS qid, a.label AS ql, b.vec_id AS vid,
                   b.label AS vl, CAST(SUM(a.v * b.v) AS BIGINT) AS dot_q
            FROM e a JOIN e b ON a.i = b.i
            WHERE a.vec_id < 10 AND b.vec_id <> a.vec_id
            GROUP BY 1, 2, 3, 4),
      pos AS (SELECT qid, dot_q AS pos_dot_q, vid AS pos_id FROM (
                SELECT qid, dot_q, vid,
                       ROW_NUMBER() OVER (PARTITION BY qid
                         ORDER BY dot_q DESC, vid) AS rn
                FROM d WHERE ql = vl) WHERE rn = 1),
      neg AS (SELECT d.qid, d.vid, d.vl, d.dot_q, pos.pos_id, pos.pos_dot_q
              FROM d JOIN pos ON d.qid = pos.qid
              WHERE d.ql <> d.vl AND d.dot_q < pos.pos_dot_q
                AND d.dot_q > pos.pos_dot_q - 50000000000),
      r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                        ORDER BY dot_q DESC, vid) AS rn FROM neg)
      SELECT qid, CAST(rn AS INT) AS rn, vid, CAST(vl AS INT) AS neg_label,
             dot_q, pos_id, pos_dot_q
      FROM r WHERE rn <= 5 ORDER BY qid, rn""",
    "docs_decontaminate_semantic" -> """
      WITH q AS (SELECT vec_id, list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS qe
                 FROM embeddings),
      e AS (SELECT vec_id, unnest(qe) AS v, generate_subscripts(qe, 1) AS i FROM q),
      d AS (SELECT a.vec_id AS vid, b.vec_id AS bid,
                   CAST(SUM(a.v * b.v) AS BIGINT) AS dot_q
            FROM e a JOIN e b ON a.i = b.i
            WHERE (a.vec_id % 50 <> 0 OR a.vec_id >= 2000)
              AND b.vec_id % 50 = 0 AND b.vec_id < 2000
            GROUP BY 1, 2),
      m AS (SELECT vid, dot_q, bid,
                   ROW_NUMBER() OVER (PARTITION BY vid
                     ORDER BY dot_q DESC, bid) AS rn
            FROM d)
      SELECT vid AS vec_id, dot_q AS max_dot_q, bid AS bench_id,
             CAST(CASE WHEN dot_q >= 350000000000 THEN 1 ELSE 0 END AS INT)
               AS contaminated
      FROM m WHERE rn = 1 ORDER BY vec_id""",
    "knn_ivfpq_topk" -> ivfpqOracleSql,
    "vec_pq_codes" -> pqOracleSql,
    "dedup_near_embedding" -> nearEmbOracleSql,
    "vec_jl_projection" -> jlOracleSql,
    "multimodal_chunks" -> """
      WITH c AS (SELECT doc_id, text,
                        unnest(range(0, CAST(ceil(length(text) / 128.0) AS BIGINT))) AS chunk_id
                 FROM documents),
      s AS (SELECT doc_id, chunk_id,
                   substring(text, CAST(chunk_id * 128 + 1 AS INT), 128) AS chunk
            FROM c)
      SELECT doc_id, chunk_id, CAST(length(chunk) AS INT) AS n_bytes,
             list_reduce(list_prepend(CAST(17 AS BIGINT),
               list_transform(range(1, length(chunk) + 1),
                 i -> CAST(ord(substring(chunk, i, 1)) AS BIGINT))),
               (a, b) -> (a * 31 + b) % 2147483648) AS checksum31
      FROM s ORDER BY doc_id, chunk_id""",
    // The decode itself is stubbed (no codec libs), but its byte-statistics
    // output is differential: DuckDB re-derives the same stats from the text
    // via a per-character fold (ord == byte on the all-ascii fixture, which
    // LlmOpsSpec asserts via n_bytes == length(text)).
    // Cross-modal agreement table: the parity-sketch chain and the
    // portable-minhash band chain both replayed over the pair-planted
    // universe, capped and banded exactly like the engine, full-outer
    // fused into the three-class verdict.
    "multimodal_pair_dedup" -> s"""
      WITH ${graft.llm.DedupOps.portableBandCtesFrom("""
      d AS MATERIALIZED (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 10000000, text || '.' FROM documents
        WHERE doc_id % 100 = 0
        UNION ALL
        SELECT doc_id + 20000000,
               array_to_string(list_reverse(string_split(text, ' ')), ' ')
        FROM documents WHERE doc_id % 100 = 50
        UNION ALL
        SELECT doc_id + 30000000, text || ' abcdefghij' FROM documents
        WHERE doc_id % 100 = 25)""", "")},
      ch AS (SELECT doc_id,
               unnest(list_transform(range(1, length(text) + 1),
                 i -> ord(substring(text, i, 1)) % 64)) AS bucket
             FROM d),
      par AS (SELECT doc_id, bucket, CAST(COUNT(1) % 2 AS BIGINT) AS p
              FROM ch GROUP BY 1, 2),
      ibands AS MATERIALIZED (SELECT a.doc_id,
          CAST(COALESCE(SUM(CASE WHEN p.bucket // 16 = 0
            THEN p.p * (1 << (p.bucket % 16)) END), 0) AS BIGINT) AS b0,
          CAST(COALESCE(SUM(CASE WHEN p.bucket // 16 = 1
            THEN p.p * (1 << (p.bucket % 16)) END), 0) AS BIGINT) AS b1,
          CAST(COALESCE(SUM(CASE WHEN p.bucket // 16 = 2
            THEN p.p * (1 << (p.bucket % 16)) END), 0) AS BIGINT) AS b2,
          CAST(COALESCE(SUM(CASE WHEN p.bucket // 16 = 3
            THEN p.p * (1 << (p.bucket % 16)) END), 0) AS BIGINT) AS b3
        FROM d a LEFT JOIN par p ON a.doc_id = p.doc_id
        GROUP BY a.doc_id),
      iex AS (SELECT doc_id, 0 AS k, b0 AS v FROM ibands
             UNION ALL SELECT doc_id, 1, b1 FROM ibands
             UNION ALL SELECT doc_id, 2, b2 FROM ibands
             UNION ALL SELECT doc_id, 3, b3 FROM ibands),
      icap AS (SELECT doc_id, k, v FROM (
          SELECT doc_id, k, v,
                 ROW_NUMBER() OVER (PARTITION BY k, v ORDER BY doc_id) AS rn
          FROM iex) WHERE rn <= 64),
      icand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
               FROM icap a JOIN icap b
                 ON a.k = b.k AND a.v = b.v AND a.doc_id < b.doc_id),
      ipairs AS MATERIALIZED (
        SELECT doc_a, doc_b FROM icand
        JOIN ibands x ON icand.doc_a = x.doc_id
        JOIN ibands y ON icand.doc_b = y.doc_id
        WHERE bit_count(xor(x.b0, y.b0)) + bit_count(xor(x.b1, y.b1))
            + bit_count(xor(x.b2, y.b2)) + bit_count(xor(x.b3, y.b3)) <= 6),
      ccap AS (SELECT doc_id, band, bh FROM (
          SELECT doc_id, band, bh,
                 ROW_NUMBER() OVER (PARTITION BY band, bh ORDER BY doc_id) AS rn
          FROM piv) WHERE rn <= 64),
      cpairs AS MATERIALIZED (
        SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        FROM ccap x JOIN ccap y
          ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id)
      SELECT COALESCE(i.doc_a, c.doc_a) AS doc_a,
             COALESCE(i.doc_b, c.doc_b) AS doc_b,
             CAST(CASE WHEN i.doc_a IS NOT NULL THEN 1 ELSE 0 END AS INT)
               AS img_dup,
             CAST(CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END AS INT)
               AS cap_dup,
             CASE WHEN i.doc_a IS NOT NULL AND c.doc_a IS NOT NULL THEN 'both'
                  WHEN i.doc_a IS NOT NULL THEN 'image_only'
                  ELSE 'caption_only' END AS category
      FROM ipairs i FULL OUTER JOIN cpairs c
        ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
      ORDER BY doc_a, doc_b""",

    "multimodal_phash_dedup" -> """
      WITH aug AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 10000000, text || '.' FROM documents
        WHERE doc_id % 100 = 0),
      ch AS (SELECT doc_id,
               unnest(list_transform(range(1, length(text) + 1),
                 i -> ord(substring(text, i, 1)) % 64)) AS bucket
             FROM aug),
      par AS (SELECT doc_id, bucket, CAST(COUNT(1) % 2 AS BIGINT) AS p
              FROM ch GROUP BY 1, 2),
      bands AS (SELECT a.doc_id,
          CAST(COALESCE(SUM(CASE WHEN p.bucket // 16 = 0
            THEN p.p * (1 << (p.bucket % 16)) END), 0) AS BIGINT) AS b0,
          CAST(COALESCE(SUM(CASE WHEN p.bucket // 16 = 1
            THEN p.p * (1 << (p.bucket % 16)) END), 0) AS BIGINT) AS b1,
          CAST(COALESCE(SUM(CASE WHEN p.bucket // 16 = 2
            THEN p.p * (1 << (p.bucket % 16)) END), 0) AS BIGINT) AS b2,
          CAST(COALESCE(SUM(CASE WHEN p.bucket // 16 = 3
            THEN p.p * (1 << (p.bucket % 16)) END), 0) AS BIGINT) AS b3
        FROM aug a LEFT JOIN par p ON a.doc_id = p.doc_id
        GROUP BY a.doc_id),
      ex AS (SELECT doc_id, 0 AS k, b0 AS v FROM bands
             UNION ALL SELECT doc_id, 1, b1 FROM bands
             UNION ALL SELECT doc_id, 2, b2 FROM bands
             UNION ALL SELECT doc_id, 3, b3 FROM bands),
      capped AS (SELECT doc_id, k, v FROM (
          SELECT doc_id, k, v,
                 ROW_NUMBER() OVER (PARTITION BY k, v ORDER BY doc_id) AS rn
          FROM ex) WHERE rn <= 64),
      cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
               FROM capped a JOIN capped b
                 ON a.k = b.k AND a.v = b.v AND a.doc_id < b.doc_id)
      SELECT doc_a, doc_b,
             CAST(bit_count(xor(x.b0, y.b0)) + bit_count(xor(x.b1, y.b1))
                + bit_count(xor(x.b2, y.b2)) + bit_count(xor(x.b3, y.b3))
               AS BIGINT) AS hamming
      FROM cand
      JOIN bands x ON cand.doc_a = x.doc_id
      JOIN bands y ON cand.doc_b = y.doc_id
      WHERE bit_count(xor(x.b0, y.b0)) + bit_count(xor(x.b1, y.b1))
          + bit_count(xor(x.b2, y.b2)) + bit_count(xor(x.b3, y.b3)) <= 6
      ORDER BY doc_a, doc_b""",
    "multimodal_features" -> """
      SELECT doc_id, lang,
             CAST(octet_length(CAST(text AS BLOB)) AS INT) AS n_bytes,
             CAST(list_sum(list_transform(range(1, length(text) + 1),
               i -> ord(substring(text, i, 1)))) AS BIGINT) AS byte_sum,
             list_reduce(list_prepend(CAST(17 AS BIGINT),
               list_transform(range(1, length(text) + 1),
                 i -> CAST(ord(substring(text, i, 1)) AS BIGINT))),
               (a, b) -> (a * 31 + b) % 2147483648) AS checksum31
      FROM documents ORDER BY doc_id""",
    "multimodal_resample" -> """
      WITH s AS (SELECT doc_id, length(text) AS n, text FROM documents)
      SELECT doc_id, CAST(n AS INT) AS n_bytes,
             CAST((n + 3) // 4 AS INT) AS n_sampled,
             list_reduce(list_prepend(CAST(17 AS BIGINT),
               list_transform(range(0, (n + 3) // 4),
                 k -> CAST(ord(substring(text, CAST(k * 4 + 1 AS INT), 1)) AS BIGINT))),
               (a, b) -> (a * 31 + b) % 2147483648) AS checksum31
      FROM s ORDER BY doc_id""",
    "knn_cosine_topk" -> bruteKnnSql,
    "vec_hamming_recall" -> """
      WITH q AS (SELECT vec_id, list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS qe
                 FROM embeddings),
      e AS (SELECT vec_id, unnest(qe) AS v, generate_subscripts(qe, 1) AS i FROM q),
      sig AS (SELECT vec_id,
                     CAST(SUM(CASE WHEN v >= 0 THEN
                       CASE WHEN i = 64 THEN -9223372036854775808
                            ELSE CAST(1 AS BIGINT) << (i - 1) END
                       ELSE 0 END) AS BIGINT) AS sig
              FROM e GROUP BY 1),
      d AS (SELECT a.vec_id AS qid, b.vec_id AS vid,
                   CAST(SUM(a.v * b.v) AS BIGINT) AS dot_q
            FROM e a JOIN e b ON a.i = b.i
            WHERE a.vec_id < 10 AND b.vec_id <> a.vec_id
            GROUP BY 1, 2),
      h AS (SELECT d.qid, d.vid, d.dot_q,
                   bit_count(xor(sa.sig, sb.sig)) AS ham
            FROM d JOIN sig sa ON sa.vec_id = d.qid
                   JOIN sig sb ON sb.vec_id = d.vid),
      r AS (SELECT qid, vid,
                   ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dot_q DESC, vid) AS rf,
                   ROW_NUMBER() OVER (PARTITION BY qid ORDER BY ham ASC, vid) AS rh
            FROM h)
      SELECT qid,
             CAST(SUM(CASE WHEN rf <= 10 AND rh <= 10 THEN 1 ELSE 0 END) AS INT) AS n_hit,
             CAST(SUM(CASE WHEN rf <= 10 AND rh <= 10 THEN 1 ELSE 0 END) AS BIGINT)
               * 100000 AS recall_ppm
      FROM r GROUP BY qid ORDER BY qid""",
    "vec_rank_fusion" -> """
      WITH q AS (SELECT vec_id, list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS qe
                 FROM embeddings),
      e AS (SELECT vec_id, unnest(qe) AS v, generate_subscripts(qe, 1) AS i FROM q),
      sig AS (SELECT vec_id,
                     CAST(SUM(CASE WHEN v >= 0 THEN
                       CASE WHEN i = 64 THEN -9223372036854775808
                            ELSE CAST(1 AS BIGINT) << (i - 1) END
                       ELSE 0 END) AS BIGINT) AS sig
              FROM e GROUP BY 1),
      d AS (SELECT a.vec_id AS qid, b.vec_id AS vid,
                   CAST(SUM(a.v * b.v) AS BIGINT) AS dot_q
            FROM e a JOIN e b ON a.i = b.i
            WHERE a.vec_id < 10 AND b.vec_id <> a.vec_id
            GROUP BY 1, 2),
      h AS (SELECT d.qid, d.vid, d.dot_q,
                   bit_count(xor(sa.sig, sb.sig)) AS ham
            FROM d JOIN sig sa ON sa.vec_id = d.qid
                   JOIN sig sb ON sb.vec_id = d.vid),
      r AS (SELECT qid, vid,
                   CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dot_q DESC, vid)
                     AS BIGINT) AS rf,
                   CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY ham ASC, vid)
                     AS BIGINT) AS rh
            FROM h),
      f AS (SELECT qid, vid,
                   CASE WHEN r.rf <= 64 THEN r.rf ELSE CAST(-1 AS BIGINT) END AS rf,
                   CASE WHEN r.rh <= 64 THEN r.rh ELSE CAST(-1 AS BIGINT) END AS rh,
                   CASE WHEN r.rf <= 64 THEN 1000000 // (r.rf + 60) ELSE 0 END
                     + CASE WHEN r.rh <= 64 THEN 1000000 // (r.rh + 60) ELSE 0 END AS rrf
            FROM r WHERE r.rf <= 64 OR r.rh <= 64),
      t AS (SELECT qid, vid, rf, rh, rrf,
                   ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rrf DESC, vid) AS rn
            FROM f)
      SELECT qid, CAST(rn AS INT) AS rn, vid, rf, rh, rrf
      FROM t WHERE rn <= 5 ORDER BY qid, rn""",
    "vec_centroid_drift" -> """
      WITH q AS (SELECT vec_id, label, list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS qe
                 FROM embeddings),
      e AS (SELECT vec_id, label, vec_id % 2 AS half,
                   unnest(qe) AS x, generate_subscripts(qe, 1) AS i FROM q),
      sums AS (SELECT label, half, i, CAST(SUM(x) AS BIGINT) AS sd
               FROM e GROUP BY 1, 2, 3),
      n AS (SELECT label,
                   CAST(SUM(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
                   CAST(SUM(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n2
            FROM q GROUP BY label),
      cross_t AS (SELECT a.label, a.i,
                         a.sd * n.n2 - b.sd * n.n1 AS t
                  FROM sums a JOIN sums b
                    ON a.label = b.label AND a.i = b.i
                       AND a.half = 0 AND b.half = 1
                    JOIN n ON n.label = a.label),
      agg AS (SELECT c.label, MAX(n.n1) AS n1, MAX(n.n2) AS n2,
                     SUM(CAST(c.t AS HUGEINT) * c.t) AS num
              FROM cross_t c JOIN n ON n.label = c.label
              GROUP BY c.label)
      SELECT label, n1, n2,
             floor(sqrt(CAST(num AS DOUBLE)) / (n1 * n2) / 1000000
               * 1000000 + 0.5) / 1000000 AS drift6
      FROM agg ORDER BY label""",
    "vec_matryoshka_recall" -> """
      WITH q AS (SELECT vec_id, list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS qe
                 FROM embeddings),
      e AS (SELECT vec_id, unnest(qe) AS v, generate_subscripts(qe, 1) AS i FROM q),
      d AS (SELECT a.vec_id AS qid, b.vec_id AS vid,
                   CAST(SUM(a.v * b.v) AS BIGINT) AS dot_full,
                   CAST(SUM(CASE WHEN a.i <= 16 THEN a.v * b.v ELSE 0 END) AS BIGINT) AS dot_pref
            FROM e a JOIN e b ON a.i = b.i
            WHERE a.vec_id < 10 AND b.vec_id <> a.vec_id
            GROUP BY 1, 2),
      r AS (SELECT qid, vid,
                   ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dot_full DESC, vid) AS rf,
                   ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dot_pref DESC, vid) AS rp
            FROM d)
      SELECT qid,
             CAST(SUM(CASE WHEN rf <= 5 AND rp <= 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap,
             CAST(MAX(CASE WHEN rf = 1 AND rp = 1 THEN 1 ELSE 0 END) AS INT) AS top1_same
      FROM r GROUP BY qid ORDER BY qid""",
    "sim_threshold_pairs" -> s"""
      WITH q AS (SELECT vec_id, list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS qe
                 FROM embeddings WHERE vec_id < 100),
      e AS (SELECT vec_id, unnest(qe) AS v, generate_subscripts(qe, 1) AS i FROM q),
      d AS (SELECT a.vec_id AS id1, b.vec_id AS id2,
                   CAST(SUM(a.v * b.v) AS BIGINT) AS dot_q
            FROM e a JOIN e b ON a.i = b.i AND a.vec_id < b.vec_id
            GROUP BY 1, 2)
      SELECT id1, id2, dot_q, ${r4Sql("CAST(dot_q AS DOUBLE) / 1000000000000")} AS cos4
      FROM d WHERE dot_q > 250000000000 ORDER BY id1, id2""",
    "vec_cosine_histogram" -> s"""
      WITH q AS (SELECT vec_id, list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS qe
                 FROM embeddings WHERE vec_id < 200),
      e AS (SELECT vec_id, unnest(qe) AS v, generate_subscripts(qe, 1) AS i FROM q),
      d AS (SELECT a.vec_id AS id1, b.vec_id AS id2,
                   CAST(SUM(a.v * b.v) AS BIGINT) AS dot_q
            FROM e a JOIN e b ON a.i = b.i AND a.vec_id < b.vec_id
            GROUP BY 1, 2),
      h AS (SELECT (dot_q + 1000000000000) // 50000000000 AS bucket,
                   COUNT(1) AS n_pairs
            FROM d GROUP BY 1)
      SELECT bucket, n_pairs,
             ${r6Sql("CAST(bucket AS DOUBLE) * 0.05 - 1.0")} AS cos_lo6
      FROM h ORDER BY bucket""",
    "vec_norm_stats" -> s"""
      WITH q AS (SELECT vec_id, label, embedding, list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS qe
                 FROM embeddings),
      n AS (SELECT vec_id, label, len(embedding) AS dim,
                   CAST(floor(sqrt(CAST(list_sum(list_transform(qe, v -> v * v)) AS DOUBLE)
                     / 1000000000000) * 1000000 + 0.5) AS BIGINT) AS norm_q
            FROM q)
      SELECT label, COUNT(1) AS cnt, CAST(SUM(norm_q) AS BIGINT) AS sum_norm_q,
             CAST(MIN(dim) AS INT) AS dim_min, CAST(MAX(dim) AS INT) AS dim_max,
             ${r6Sql("CAST(SUM(norm_q) AS DOUBLE) / COUNT(1) / 1000000")} AS mean_norm
      FROM n GROUP BY label ORDER BY label""",
    "vec_label_affinity" -> s"""
      WITH q AS (SELECT label, list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS qe
                 FROM embeddings),
      e AS (SELECT label, generate_subscripts(qe, 1) AS i, unnest(qe) AS v FROM q),
      g AS (SELECT label, i, CAST(SUM(v) AS HUGEINT) AS sv FROM e GROUP BY label, i),
      dots AS (SELECT x.label AS la, y.label AS lb,
                      SUM(x.sv * y.sv) AS dot
               FROM g x JOIN g y ON x.i = y.i AND x.label < y.label
               GROUP BY 1, 2),
      nrm AS (SELECT label, SUM(sv * sv) AS nrm2 FROM g GROUP BY label)
      SELECT la, lb, CAST(dot AS DOUBLE) AS dot_d,
             ${r6Sql("CAST(dot AS DOUBLE) / " +
               "(sqrt(CAST(a.nrm2 AS DOUBLE)) * sqrt(CAST(b.nrm2 AS DOUBLE)))")}
               AS cos6
      FROM dots JOIN nrm a ON la = a.label JOIN nrm b ON lb = b.label
      ORDER BY la, lb""",

    "vec_centroid_by_label" -> """
      WITH q AS (SELECT label, list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS qe
                 FROM embeddings),
      e AS (SELECT label, generate_subscripts(qe, 1) AS i, unnest(qe) AS v FROM q),
      g AS (SELECT label, i, CAST(SUM(v) AS BIGINT) AS sv, COUNT(1) AS nvec
            FROM e GROUP BY label, i)
      SELECT label,
             array_to_string(LIST(sv ORDER BY i), ',') AS centroid_sums,
             MAX(nvec) AS n_vec
      FROM g GROUP BY label ORDER BY label""",
    "multimodal_join" -> """
      SELECT doc_id, lang, n_chars, label,
             CAST(len(embedding) AS INT) AS dim, sha256(text) AS text_sha
      FROM documents JOIN embeddings ON doc_id = vec_id
      ORDER BY doc_id""",
    "multimodal_label_text" -> s"""
      WITH j AS (SELECT doc_id, lang, n_chars, label
                 FROM documents JOIN embeddings ON doc_id = vec_id),
      per_label AS (SELECT label, COUNT(1) AS cnt,
                           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
                    FROM j GROUP BY label),
      lc AS (SELECT label, lang, COUNT(1) AS lcnt FROM j GROUP BY label, lang),
      dom AS (SELECT label, lang AS dom_lang FROM (
                SELECT label, lang, ROW_NUMBER() OVER (PARTITION BY label
                       ORDER BY lcnt DESC, lang) AS rn FROM lc)
              WHERE rn = 1)
      SELECT p.label, p.cnt, p.sum_chars,
             ${r4Sql("CAST(p.sum_chars AS DOUBLE) / p.cnt")} AS avg_chars,
             dom.dom_lang
      FROM per_label p JOIN dom ON p.label = dom.label
      ORDER BY p.label""",
    "vec_dim_stats" -> s"""
      WITH q AS (SELECT list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS qe
                 FROM embeddings),
      e AS (SELECT CAST(generate_subscripts(qe, 1) AS INT) AS dim, unnest(qe) AS vq FROM q)
      SELECT dim, COUNT(1) AS n, CAST(SUM(vq) AS BIGINT) AS sum_q,
             CAST(MIN(vq) AS BIGINT) AS min_q, CAST(MAX(vq) AS BIGINT) AS max_q,
             ${r6Sql("CAST(SUM(vq) AS DOUBLE) / COUNT(1) / 1000000")} AS mean6
      FROM e GROUP BY dim ORDER BY dim""",
    "vec_knn_graph" -> s"""
      WITH q AS (SELECT vec_id, list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS qe
                 FROM embeddings WHERE vec_id < 60),
      e AS (SELECT vec_id, unnest(qe) AS v, generate_subscripts(qe, 1) AS i FROM q),
      d AS (SELECT a.vec_id AS qid, b.vec_id AS vid,
                   CAST(SUM(a.v * b.v) AS BIGINT) AS dot_q
            FROM e a JOIN e b ON a.i = b.i
            WHERE a.vec_id <> b.vec_id
            GROUP BY 1, 2),
      r AS (SELECT qid, vid, dot_q,
                   ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dot_q DESC, vid) AS rn
            FROM d),
      k AS (SELECT qid, vid, dot_q FROM r WHERE rn <= 5)
      SELECT a.qid AS id1, a.vid AS id2, a.dot_q,
             ${r4Sql("CAST(a.dot_q AS DOUBLE) / 1000000000000")} AS cos4
      FROM k a JOIN k b ON a.qid = b.vid AND a.vid = b.qid
      WHERE a.qid < a.vid ORDER BY id1, id2""",

    "vec_pq_distortion" -> pqDistortionOracleSql,

    "vec_residual_quantize" -> rqOracleSql,

    "vec_knn_label_predict" -> s"""
      WITH q AS (SELECT vec_id, list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS qe,
                   CAST(label AS BIGINT) AS label
                 FROM embeddings),
      d AS (SELECT a.vec_id AS qid, a.label AS true_label,
                   b.label AS label, b.vec_id AS vid,
                   list_sum(list_transform(range(1, len(a.qe) + 1),
                     i -> a.qe[i] * b.qe[i])) AS dot_q
            FROM q a JOIN q b ON a.vec_id < 100 AND a.vec_id <> b.vec_id),
      t5 AS (SELECT qid, true_label, label FROM (
               SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                 ORDER BY dot_q DESC, vid) AS rn FROM d)
             WHERE rn <= 5),
      votes AS (SELECT qid, true_label, label, COUNT(1) AS v
                FROM t5 GROUP BY 1, 2, 3),
      pred AS (SELECT qid, true_label, label AS pred_label FROM (
                 SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                   ORDER BY v DESC, label) AS rn FROM votes)
               WHERE rn = 1)
      SELECT true_label, COUNT(1) AS n_queries,
             CAST(SUM(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
               AS BIGINT) AS n_correct,
             CAST(SUM(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
               AS BIGINT) * 1000000 // COUNT(1) AS acc_ppm
      FROM pred GROUP BY 1 ORDER BY true_label""",

    "multimodal_bytes_entropy" -> s"""
      WITH ch AS (SELECT lang,
                         unnest(list_transform(range(1, length(text) + 1),
                           i -> CAST(ord(substring(text, i, 1)) AS BIGINT)))
                           AS b
                  FROM documents WHERE length(text) > 0),
      hist AS (SELECT lang, b, COUNT(1) AS c FROM ch GROUP BY 1, 2),
      g AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS n_bytes,
                   COUNT(1) AS n_distinct_bytes,
                   CAST(SUM(c * CAST(floor(ln(CAST(c AS DOUBLE)) * 1000000)
                     AS BIGINT)) AS BIGINT) AS sum_clnc_u
            FROM hist GROUP BY 1)
      SELECT lang, n_bytes, n_distinct_bytes, sum_clnc_u,
             ${r6Sql("CAST(CAST(floor(ln(CAST(n_bytes AS DOUBLE)) * 1000000)" +
               " AS BIGINT) * n_bytes - sum_clnc_u AS DOUBLE)" +
               " / (CAST(n_bytes AS DOUBLE) * 1000000)")} AS entropy6
      FROM g ORDER BY lang""",
  )
}
