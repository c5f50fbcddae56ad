package graft

import org.apache.spark.sql.functions._

/** §2.11 verification for the non-oracle ops: LSH recall vs exact Jaccard,
  * simhash near-dup behavior, approx-distinct error bound, IVF recall vs
  * brute force, quantized-dot correctness.
  */
class LlmOpsSpec extends GraftSuite {
  import spark.implicits._

  test("minhash-LSH candidates cover every Jaccard>=0.8 pair (sub-cap buckets regime)") {
    // jaccard_pairs computes Jaccard over the df-capped shingle universe; on
    // this fixture no shingle reaches the cap (measured max df 9), so jac IS
    // exact Jaccard and remains valid LSH ground truth. Assert that
    // precondition so a fixture change fails loudly here.
    val maxDf = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(explode(graft.llm.Shingling.shingleArray($"text", hashed = true)(spark)).as("h"))
      .groupBy("h").count().agg(max("count")).head().getLong(0)
    assert(maxDf <= graft.llm.TextOps.MaxShingleDf,
      s"fixture max shingle df $maxDf exceeds the cap; jac is no longer exact ground truth")
    val exact = q("jaccard_pairs").filter($"jac" >= 0.8)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    val cand = q("dedup_near_minhash")
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    val missed = exact.diff(cand)
    assert(missed.isEmpty, s"LSH missed high-Jaccard pairs: $missed")
    assert(exact.nonEmpty, "fixture should contain near-duplicate pairs")
  }

  test("minhash-LSH: giant duplicate cluster (over bucket cap) stays connected, bounded") {
    import graft.llm.DedupOps
    val docs = (0L until 250L)
      .map(i => (i, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
      .toSeq :+ ((900L, "totally different content with many unique words present here"))
    val tmp = TestSpark.tempDir("graft_giant_")
    docs.toDF("doc_id", "text").write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val cand = DedupOps.queries("dedup_near_minhash")(spark, tmp)
      .select("id1", "id2").as[(Long, Long)].collect()
    val connected = cand.flatMap(p => Seq(p._1, p._2)).toSet
    (0L until 250L).foreach(i =>
      assert(connected.contains(i), s"doc $i lost from the over-cap duplicate cluster"))
    assert(cand.length < 2500,
      s"pair count must stay linear in cluster size (star links), got ${cand.length}")
  }

  test("approx_count_distinct within 5% of exact") {
    val joined = q("agg_approx_distinct").join(
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .groupBy("l_returnflag")
        .agg(countDistinct($"l_partkey").as("exact_d")),
      "l_returnflag")
    joined.collect().foreach { r =>
      val approx = r.getAs[Long]("approx_parts").toDouble
      val exact = r.getAs[Long]("exact_d").toDouble
      assert(math.abs(approx - exact) / exact < 0.05,
        s"approx $approx vs exact $exact")
    }
  }

  test("quantized dot product in op outputs equals manual computation") {
    // take query 0's top-1 neighbor from the op output and recompute its
    // dot_q by hand — asserts the emitted kernel value, not a re-derivation
    val top = q("knn_cosine_topk").filter($"qid" === 0 && $"rn" === 1).head()
    val vid = top.getAs[Long]("vid")
    val engineDot = top.getAs[Long]("dot_q")
    val vecs = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .filter($"vec_id".isin(0L, vid))
      .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect().toMap
    val (a, b) = (vecs(0L), vecs(vid))
    val manual = a.indices.map { i =>
      val qa = math.floor(a(i).toDouble * 1e6 + 0.5).toLong
      val qb = math.floor(b(i).toDouble * 1e6 + 0.5).toLong
      qa * qb
    }.sum
    assert(engineDot == manual, s"engine $engineDot vs manual $manual")
    // sim_threshold_pairs shares the kernel: any emitted (0, vid) row agrees
    q("sim_threshold_pairs").filter($"id1" === 0 && $"id2" === vid)
      .select("dot_q").as[Long].collect()
      .foreach(v => assert(v == manual, s"sim_threshold_pairs $v vs $manual"))
  }

  test("IVF kNN achieves high recall vs brute force") {
    val brute = q("knn_cosine_topk").select("qid", "vid").as[(Long, Long)].collect().toSet
    val ivf = q("knn_ivf_topk").select("qid", "vid").as[(Long, Long)].collect().toSet
    val recall = brute.intersect(ivf).size.toDouble / brute.size
    assert(recall >= 0.9, s"IVF recall too low: $recall")
  }

  test("IVF-PQ kNN achieves recall >= 0.8 vs brute force; ADC orders sanely") {
    val brute = q("knn_cosine_topk").select("qid", "vid").as[(Long, Long)].collect().toSet
    val ivfpq = q("knn_ivfpq_topk").select("qid", "vid").as[(Long, Long)].collect().toSet
    val recall = brute.intersect(ivfpq).size.toDouble / brute.size
    assert(recall >= 0.8, s"IVF-PQ recall too low: $recall")
    // ADC is an approximation of distance: within each query's final top-5
    // the exact dot must be the ranking key (rn follows dot_q desc), and
    // every emitted adc must be non-negative (it is a sum of squared dists)
    val rows = q("knn_ivfpq_topk")
      .select("qid", "dot_q", "adc", "rn").as[(Long, Long, Long, Int)].collect()
    assert(rows.forall(_._3 >= 0L), "ADC distance must be non-negative")
    rows.groupBy(_._1).values.foreach { g =>
      val byRn = g.sortBy(_._4).map(_._2)
      assert(byRn.sameElements(byRn.sortBy(-_)), "rn must follow exact dot desc")
    }
  }

  test("simhash: near-identical docs collide closely, distinct docs do not") {
    import graft.llm.DedupOps
    // synthetic: doc + its copy with one token changed
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
      (3L, "completely different words entirely unrelated content here now")
    ).toDF("doc_id", "text")
    docs.createOrReplaceTempView("___simhash_in")
    // reuse the op's kernel by writing docs to a temp dir
    val tmp = TestSpark.tempDir("graft_simhash_")
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val sh = DedupOps.queries("dedup_simhash")(spark, tmp)
      .select("doc_id", "simhash").as[(Long, Long)].collect().toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sh(1L), sh(2L)) < hamming(sh(1L), sh(3L)),
      s"near-dup hamming ${hamming(sh(1L), sh(2L))} !< distinct ${hamming(sh(1L), sh(3L))}")
  }

  test("text_langid output is total and deterministic") {
    val a = q("text_langid").collect()
    val b = q("text_langid").collect()
    assert(a.length == 500)
    assert(a.map(_.toString).sameElements(b.map(_.toString)))
  }

  test("vec_centroid_by_label: centroid has embedding-dim sums; counts partition vectors") {
    val rows = q("vec_centroid_by_label").collect()
    val dim = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .selectExpr("size(embedding)").head().getInt(0)
    val total = spark.read.parquet(s"$sfDir/embeddings.parquet").count()
    rows.foreach { r =>
      assert(r.getAs[String]("centroid_sums").split(",").length == dim)
    }
    assert(rows.map(_.getAs[Long]("n_vec")).sum == total)
  }

  test("text_ngram_freq: top-100 trigrams, counts descending, all length 3") {
    val rows = q("text_ngram_freq").collect()
    assert(rows.length == 100)
    val cnts = rows.map(_.getAs[Long]("cnt"))
    assert(cnts.zip(cnts.tail).forall { case (a, b) => a >= b })
    rows.foreach(r => assert(r.getAs[String]("tri").length == 3))
  }

  test("dedup_assign_canonical: assignment is total, canonical ids are self-canonical") {
    val rows = q("dedup_assign_canonical")
      .select("doc_id", "canonical_id").as[(Long, Long)].collect()
    val canon = rows.filter { case (d, c) => d == c }.map(_._1).toSet
    rows.foreach { case (d, c) =>
      assert(c <= d, s"canonical $c must be the min of its group (doc $d)")
      assert(canon.contains(c), s"canonical $c of doc $d is not itself canonical")
    }
  }

  test("text_scrub masks every digit run and hashes the scrubbed text") {
    val r = q("text_scrub").collect()
    r.foreach { row =>
      assert(!row.getAs[String]("scrubbed").exists(_.isDigit),
        "every digit run must be masked")
      assert(row.getAs[String]("scrub_sha").length == 64)
    }
  }

  test("text_quality_filter output satisfies its own integer thresholds") {
    q("text_quality_filter").collect().foreach { r =>
      assert(r.getAs[Int]("n_tokens") >= 5)
      assert(r.getAs[Int]("stop_cnt") * 2 <= r.getAs[Int]("n_tokens"))
      assert(r.getAs[Int]("punct_cnt") * 10 <= r.getAs[Long]("n_chars"))
    }
  }

  test("dedup_components: pairs land in one component; ids are member minima") {
    val comp = q("dedup_components")
      .select("doc_id", "component_id").as[(Long, Long)].collect().toMap
    // complete assignment
    assert(comp.size == spark.read.parquet(s"$sfDir/documents.parquet").count())
    // every scored pair must share a component (edges ⊆ components)
    q("jaccard_pairs").select("id1", "id2").as[(Long, Long)].collect().foreach {
      case (a, b) => assert(comp(a) == comp(b), s"pair ($a,$b) split across components")
    }
    // a component's id is the min doc_id among its members, and is itself a member
    comp.groupBy(_._2).foreach { case (cid, members) =>
      assert(members.keys.min == cid, s"component $cid is not its member minimum")
    }
  }

  test("connectedComponents: star rounds beat O(diameter) on a 20-deep chain") {
    import graft.llm.DedupOps
    // path graph 0-1-2-...-20 (diameter 20): plain min-label propagation
    // needs ~20 rounds to carry label 0 to node 20; large-star/small-star
    // must converge in O(log n) — well under half the diameter
    val chain = (0L until 20L).map(i => (i, i + 1))
    val pairs = chain.toDF("a", "b")
    val nodes = (0L to 20L).toDF("node")
    val (labels, rounds) = DedupOps.connectedComponents(nodes, pairs)
    val got = labels.as[(Long, Long)].collect().toMap
    assert(got.size == 21 && got.values.forall(_ == 0L),
      s"chain must collapse to component 0: $got")
    assert(rounds < 10, s"star variant took $rounds rounds on diameter 20 (propagation needs ~20)")
    // two components + isolated node: labels are component minima
    val pairs2 = Seq((5L, 3L), (3L, 9L), (11L, 12L)).map { case (x, y) =>
      (math.min(x, y), math.max(x, y)) }.toDF("a", "b")
    val nodes2 = Seq(3L, 5L, 9L, 11L, 12L, 99L).toDF("node")
    val (labels2, _) = DedupOps.connectedComponents(nodes2, pairs2)
    val got2 = labels2.as[(Long, Long)].collect().toMap
    assert(got2 == Map(3L -> 3L, 5L -> 3L, 9L -> 3L, 11L -> 11L, 12L -> 11L, 99L -> 99L))
  }

  test("vec_kmeans_iter: clusters partition the vectors; assignment is locally optimal") {
    val rows = q("vec_kmeans_iter").collect()
    val total = spark.read.parquet(s"$sfDir/embeddings.parquet").count()
    assert(rows.map(_.getAs[Long]("n_vec")).sum == total)
    rows.foreach(r => assert(r.getAs[Long]("inertia_q") >= 0))
    // Lloyd invariant at the reported step: total inertia under the final
    // centroids with argmin assignment can never exceed inertia of keeping
    // everything in one cluster around any single centroid — weak sanity
    // that distances are real squared distances, not score artifacts
    assert(rows.map(_.getAs[Long]("inertia_q")).sum > 0)
    assert(rows.length <= 8 && rows.nonEmpty)
  }

  test("docs_length_buckets: histogram partitions the corpus; buckets bound tokens") {
    val rows = q("docs_length_buckets").collect()
    val total = spark.read.parquet(s"$sfDir/documents.parquet").count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == total)
    rows.foreach { r =>
      val b = r.getAs[Long]("bucket")
      assert(b >= 0 && b <= 10)
      assert(r.getAs[Long]("min_tok") >= b * 20, "doc below its bucket floor")
      if (b < 10) assert(r.getAs[Long]("max_tok") < (b + 1) * 20, "doc above its bucket ceiling")
    }
  }

  test("docs_pack_greedy: batches partition the corpus; overflow bounded by one doc") {
    val rows = q("docs_pack_greedy").collect()
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    assert(rows.map(_.getAs[Long]("n_docs")).sum == docs.count())
    rows.groupBy(_.getAs[String]("lang")).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getAs[Long]("batch_id"))
      // doc_id ranges of consecutive batches must not interleave
      sorted.toSeq.sliding(2).foreach {
        case Seq(a, b) =>
          assert(a.getAs[Long]("last_doc") < b.getAs[Long]("first_doc"))
        case _ =>
      }
      // exclusive-prefix batching: a non-final batch can fall short of the
      // 2000-token budget by at most one document (greedy fill)
      val maxTok = docs
        .selectExpr("max(size(split(text, ' ')))").head().getInt(0)
      sorted.dropRight(1).foreach { r =>
        assert(r.getAs[Long]("sum_tokens") >= 2000 - maxTok,
          "non-final batch left more than a max-doc of unused budget")
      }
    }
  }

  test("text_repetition_signals: hand-computed tops, tie-break, single-word edge") {
    import graft.llm.TextOps
    val docs = Seq(
      (1L, "a a a b"),     // top word a (3/4); bigrams: "a a"x2, "a b" -> top "a a" 2/3
      (2L, "x"),           // single word: no bigrams -> "" / 0 / 0.0
      (3L, "b a b a"))     // word tie a=2,b=2 -> lex "a"; bigrams "b a"x2,"a b" -> "b a"
      .toDF("doc_id", "text")
    val tmp = TestSpark.tempDir("graft_repsig_")
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rows = TextOps.queries("text_repetition_signals")(spark, tmp)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    val d1 = rows(1L)
    assert(d1.getAs[String]("top_word") == "a" && d1.getAs[Long]("top_word_cnt") == 3L)
    assert(d1.getAs[Double]("top_word_frac6") == 0.75)
    assert(d1.getAs[String]("top_bigram") == "a a" && d1.getAs[Long]("top_bigram_cnt") == 2L)
    assert(d1.getAs[Double]("top_bigram_frac6") == 0.666667)
    val d2 = rows(2L)
    assert(d2.getAs[Long]("n_words") == 1L && d2.getAs[String]("top_bigram") == "")
    assert(d2.getAs[Long]("top_bigram_cnt") == 0L && d2.getAs[Double]("top_bigram_frac6") == 0.0)
    val d3 = rows(3L)
    assert(d3.getAs[String]("top_word") == "a", "tie must break lexicographically")
    assert(d3.getAs[String]("top_bigram") == "b a" && d3.getAs[Long]("top_bigram_cnt") == 2L)
  }

  test("text_tfidf_top: hand-computed scores, term tie-break, short doc, df = n_docs") {
    import graft.llm.TextOps
    // n_docs 3; df: a 3 (every doc, score 0), b 2, c 2, d 1, e 1
    val docs = Seq(
      (1L, "a a b c d d"), // d tf 2 → 2·ln3; b and c tie at ln1.5 → b first
      (2L, "a b"),         // two distinct terms → two rows
      (3L, "a c e"))
      .toDF("doc_id", "text")
    val tmp = TestSpark.tempDir("graft_tfidf_")
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = TextOps.queries("text_tfidf_top")(spark, tmp).collect().map(r =>
      (r.getAs[Long]("doc_id"), r.getAs[String]("term"), r.getAs[Long]("tf"),
        r.getAs[Long]("df"), r.getAs[Double]("score"), r.getAs[Int]("rn"))).toSeq
    assert(got == Seq(
      (1L, "d", 2L, 1L, 2.197225, 1), (1L, "b", 1L, 2L, 0.405465, 2),
      (1L, "c", 1L, 2L, 0.405465, 3),
      (2L, "b", 1L, 2L, 0.405465, 1), (2L, "a", 1L, 3L, 0.0, 2),
      (3L, "e", 1L, 1L, 1.098612, 1), (3L, "c", 1L, 2L, 0.405465, 2),
      (3L, "a", 1L, 3L, 0.0, 3)), got.mkString("\n"))
  }

  test("text_hashed_features: hand-computed buckets, lowest-bucket tie-break") {
    import graft.llm.TextOps
    // rollingHash31("a") = 17*31+97 = 624 ≡ 0 (mod 16); 'b'→1, 'c'→2 —
    // single-char tokens land in consecutive buckets, so counts are exact.
    val docs = Seq(
      (1L, "a a b"),   // buckets [0,0,1] -> nnz 2, top (0, cnt 2)
      (2L, "a b c c"), // top bucket 2 with cnt 2
      (3L, "a b"))     // 1-1 tie -> lowest bucket 0 wins
      .toDF("doc_id", "text")
    val tmp = TestSpark.tempDir("graft_hashfeat_")
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rows = TextOps.queries("text_hashed_features")(spark, tmp)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    val d1 = rows(1L)
    assert(d1.getAs[Int]("n_tokens") == 3 && d1.getAs[Int]("nnz_buckets") == 2)
    assert(d1.getAs[Int]("top_bucket") == 0 && d1.getAs[Int]("top_bucket_cnt") == 2)
    val d2 = rows(2L)
    assert(d2.getAs[Int]("top_bucket") == 2 && d2.getAs[Int]("top_bucket_cnt") == 2)
    assert(d2.getAs[Int]("nnz_buckets") == 3)
    val d3 = rows(3L)
    assert(d3.getAs[Int]("top_bucket") == 0, "count tie must break to the lowest bucket")
    assert(d3.getAs[Int]("top_bucket_cnt") == 1)
  }

  test("text_entropy: hand-computed values; 0 for constant doc, ln(n) for uniform") {
    import graft.llm.TextOps
    val docs = Seq(
      (1L, "a a b"),       // H = ln3 - (2 ln2)/3: micro (1098612*3 - 2*693147)/3e6
      (2L, "x x x x"),     // constant doc -> 0
      (3L, "a b c d"))     // uniform -> ln4 = 1.386294
      .toDF("doc_id", "text")
    val tmp = TestSpark.tempDir("graft_entropy_")
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rows = TextOps.queries("text_entropy")(spark, tmp)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(rows(1L).getAs[Double]("entropy6") == 0.636514)
    assert(rows(1L).getAs[Long]("sum_c_lnc_u") == 2L * 693147L)
    assert(rows(2L).getAs[Double]("entropy6") == 0.0)
    assert(rows(2L).getAs[Long]("n_words") == 4L)
    assert(rows(3L).getAs[Double]("entropy6") == 1.386294)
  }

  test("text_dup_ngram_rate: rates in [0,1]; uniq bounded by total") {
    q("text_dup_ngram_rate").collect().foreach { r =>
      val (t, u) = (r.getAs[Long]("total_tri"), r.getAs[Long]("uniq_tri"))
      assert(u <= t || (t == 0 && u == 0))
      val rep = r.getAs[Double]("rep6")
      assert(rep >= 0.0 && rep <= 1.0)
    }
  }

  test("multimodal_features checksum is deterministic byte stats") {
    val f = q("multimodal_features")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val joined = f.join(docs, "doc_id")
      .filter($"n_bytes" =!= length($"text")).count()
    assert(joined == 0, "payload length must equal text byte length (ascii fixture)")
  }
}
