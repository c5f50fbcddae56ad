package graft

import graft.functions.GraftExpressions
import org.apache.spark.sql.functions._

/** graft.functions.DotQ — the native codegen dot-product expression — must
  * agree exactly with the declarative aggregate(zip_with(...)) form it
  * replaced, handle NULLs, and actually stay inside whole-stage codegen.
  */
class ExpressionSpec extends GraftSuite {
  import spark.implicits._

  private def quant(c: org.apache.spark.sql.Column) =
    transform(c, x => floor(x.cast("double") * lit(1e6) + lit(0.5)))

  test("DotQ equals aggregate(zip_with) on every fixture embedding pair (self & cross)") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select($"vec_id", quant($"embedding").as("qe"))
    val hof = aggregate(zip_with($"qe", $"q2", (x, y) => x * y), lit(0L), (acc, x) => acc + x)
    val native = GraftExpressions.dotQ(spark, $"qe", $"q2")
    // self-dot for all rows + cross-dot against a shifted copy
    val shifted = e.select(($"vec_id" + 1).as("vid2"), $"qe".as("q2"))
    val joined = e.join(shifted, $"vec_id" === $"vid2")
    val mismatches = joined.select(hof.as("h"), native.as("n"))
      .filter($"h" =!= $"n").count()
    assert(mismatches == 0)
    val selfMismatch = e.withColumn("q2", $"qe")
      .select(hof.as("h"), native.as("n")).filter($"h" =!= $"n").count()
    assert(selfMismatch == 0)
  }

  test("DotQ: NULL array yields NULL; empty arrays yield 0; length mismatch yields NULL") {
    GraftExpressions.register(spark)
    val df = Seq(
      (Some(Seq(1L, 2L, 3L)), Some(Seq(4L, 5L, 6L))),
      (None, Some(Seq(1L))),
      (Some(Seq.empty[Long]), Some(Seq.empty[Long])),
      (Some(Seq(1L, 2L)), Some(Seq(1L))) // zip_with null-pads -> NULL sum
    ).toDF("a", "b")
      .select(call_function(GraftExpressions.DotQName, $"a", $"b").as("d"))
    val got = df.collect().map(r => if (r.isNullAt(0)) null else r.getLong(0))
    assert(got(0) == 32L) // 4 + 10 + 18
    assert(got(1) == null)
    assert(got(2) == 0L)
    assert(got(3) == null)
  }

  test("DotQ: NULL element nulls the result (matches the HOF form's semantics)") {
    GraftExpressions.register(spark)
    val df = Seq(
      (Seq[Option[Long]](Some(1L), None, Some(3L)), Seq[Option[Long]](Some(1L), Some(2L), Some(3L))),
      (Seq[Option[Long]](Some(2L), Some(2L)), Seq[Option[Long]](Some(3L), Some(4L))))
      .toDF("a", "b")
      .select(call_function(GraftExpressions.DotQName, $"a", $"b").as("d"))
    val rows = df.collect()
    assert(rows(0).isNullAt(0), "null element must null the dot product")
    assert(rows(1).getLong(0) == 14L)
  }

  test("ShingleHash64 equals the declarative shingle-hash chain on every doc") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val toks = split($"text", " ")
    val declarative = array_distinct(transform(
      when(size(toks) >= 3, sequence(lit(0), size(toks) - 3))
        .otherwise(array().cast("array<int>")),
      i => xxhash64(array_join(slice(toks, i + 1, lit(3)), " "))))
    val mismatches = docs.select($"doc_id",
        graft.llm.Shingling.shingleArray($"text", hashed = true)(spark).as("fused"),
        declarative.as("decl"))
      .filter(not($"fused" <=> $"decl")).count()
    assert(mismatches == 0, s"$mismatches docs diverge from the declarative chain")
    // edge cases: <3 tokens → empty; repeated shingles → deduped, first order
    val edge = Seq((1L, "a b"), (2L, "x y z x y z x y z"), (3L, "")).toDF("doc_id", "text")
    val rows = edge.select(graft.llm.Shingling.shingleArray($"text", hashed = true)(spark).as("h"))
      .collect().map(_.getSeq[Long](0))
    assert(rows(0).isEmpty && rows(2).isEmpty)
    assert(rows(1).distinct == rows(1) && rows(1).nonEmpty)
  }

  test("TermCounts equals explode + groupBy count on every sf0.01 doc + edges") {
    val docs = spark.read.parquet(new java.io.File(sfDir).getParent + "/sf0.01/documents.parquet")
      .select($"doc_id", $"text")
    val edge = Seq[(Long, Option[String])](
      (-1L, Some("")),                           // one empty token
      (-2L, Some(" a  b a ")),                   // leading/trailing/double spaces
      (-3L, Some("héllo wörld héllo 日本 日本 日本")), // multibyte terms
      (-4L, None))                               // NULL text: no rows
      .toDF("doc_id", "text")
    val all = docs.union(edge)
    val toks = split($"text", " ")
    val kernel = all.select($"doc_id", inline(GraftExpressions.termCounts(toks)))
    val declarative = all.select($"doc_id", explode(toks).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    assert(kernel.count() == declarative.count() && kernel.count() > edge.count())
    assert(kernel.exceptAll(declarative).isEmpty && declarative.exceptAll(kernel).isEmpty,
      "kernel (doc_id, term, tf) rows diverge from explode + groupBy count")
    // first-occurrence order, through the registered SQL name
    GraftExpressions.register(spark)
    val rows = edge.selectExpr(s"${GraftExpressions.TermCountsName}(split(text, ' ')) AS tc")
      .collect().map(r => if (r.isNullAt(0)) null
        else r.getSeq[org.apache.spark.sql.Row](0).map(x => (x.getString(0), x.getLong(1))))
    assert(rows(0) == Seq(("", 1L)))
    assert(rows(1) == Seq(("", 3L), ("a", 2L), ("b", 1L)))
    assert(rows(2) == Seq(("héllo", 2L), ("wörld", 1L), ("日本", 3L)))
    assert(rows(3) == null)
  }

  test("charBigramArray equals the quadratic substring formulation on every doc + edges") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val naive = expr(
      """transform(
           CASE WHEN length(text) >= 2 THEN sequence(1, length(text) - 1)
                ELSE array() END,
           i -> substring(text, i, 2))""")
    val mismatches = docs.select($"doc_id",
        graft.llm.Shingling.charBigramArray($"text").as("fast"), naive.as("slow"))
      .filter(not($"fast" <=> $"slow")).count()
    assert(mismatches == 0, s"$mismatches docs diverge from substring bigrams")
    val edge = Seq((1L, ""), (2L, "a"), (3L, "ab"), (4L, "héllo wörld"))
      .toDF("doc_id", "text")
    val pairs = edge.select(graft.llm.Shingling.charBigramArray($"text").as("bg"),
        naive.as("slow"))
      .collect()
    pairs.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1),
      s"edge mismatch: ${r.getSeq[String](0)} vs ${r.getSeq[String](1)}"))
    assert(pairs(2).getSeq[String](0) == Seq("ab"))
  }

  test("HllDistinct estimates within 5% of exact and is partitioning-invariant") {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val exact = li.groupBy("l_returnflag")
      .agg(countDistinct($"l_partkey").as("exact_d"))
    val est = q("agg_hll_custom")
    est.join(exact, "l_returnflag").collect().foreach { r =>
      val e = r.getAs[Long]("hll_parts").toDouble
      val x = r.getAs[Long]("exact_d").toDouble
      assert(math.abs(e - x) / x < 0.05, s"hll $e vs exact $x")
    }
    // merge correctness: the estimate must not depend on how rows are split
    // across partitions (different partial/merge trees, serialized buffers)
    def run(parts: Int) = li.repartition(parts)
      .groupBy("l_returnflag")
      .agg(GraftExpressions.hllDistinct(spark, $"l_partkey").as("h"))
      .orderBy("l_returnflag").collect().map(_.getAs[Long]("h")).toSeq
    assert(run(1) == run(13), "HLL result changed with partitioning")
  }

  test("BloomMightContain: agrees with exact membership modulo fpp; null/empty edges") {
    import org.apache.spark.util.sketch.BloomFilter
    // no false negatives, ever: every inserted key must probe true
    val keys = (0L until 5000L).map(_ * 7L)
    val bf = BloomFilter.create(keys.size.toLong, 0.01)
    keys.foreach(bf.putLong)
    val bc = spark.sparkContext.broadcast(bf)
    val df = spark.range(0, 40000).select($"id".as("k"))
    val probed = df.filter(GraftExpressions.bloomMightContain(spark, bc, $"k"))
      .collect().map(_.getLong(0)).toSet
    assert(keys.toSet.subsetOf(probed), "bloom filter dropped an inserted key (false negative)")
    // fpp bound (generous 5x slack over the 1% target on ~35k negatives)
    val negatives = 40000 - keys.count(_ < 40000)
    val falsePos = probed.size - keys.count(_ < 40000)
    assert(falsePos.toDouble / negatives < 0.05, s"fpp too high: $falsePos/$negatives")
    // NULL key => NULL => row dropped by the filter (SQL 3VL)
    val withNull = Seq(Some(0L), None, Some(7L)).toDF("k")
    val kept = withNull.filter(GraftExpressions.bloomMightContain(spark, bc, $"k")).count()
    assert(kept == 2, "NULL key must be dropped, non-null inserted keys kept")
    // empty bloom answers false for every key
    val emptyB = spark.sparkContext.broadcast(BloomFilter.create(100L, 0.01))
    assert(df.filter(GraftExpressions.bloomMightContain(spark, emptyB, $"k")).count() == 0)
  }

  test("BloomMightContain: interpreted eval agrees with codegen") {
    import org.apache.spark.util.sketch.BloomFilter
    val bf = BloomFilter.create(100L, 0.01)
    Seq(3L, 17L, 42L).foreach(bf.putLong)
    val bc = spark.sparkContext.broadcast(bf)
    val expr = graft.functions.BloomMightContain(
      org.apache.spark.sql.catalyst.expressions.BoundReference(
        0, org.apache.spark.sql.types.LongType, nullable = true), bc)
    val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(1)
    Seq(3L -> true, 17L -> true, 4L -> bf.mightContainLong(4L)).foreach { case (k, want) =>
      row.update(0, k)
      assert(expr.eval(row) == want, s"interpreted eval wrong for $k")
    }
    row.update(0, null)
    assert(expr.eval(row) == null, "interpreted eval must be null for null key")
  }

  test("RollingHash31 equals the declarative HOF fold on every fixture doc + edges") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").select($"text")
      .unionAll(Seq("", "a", "abc 123 <num>", " leading", "trailing ").toDF("text"))
    val mismatches = docs.select(
        llm.PipelineOps.rollingHash31($"text").as("n"),
        llm.PipelineOps.rollingHash31Hof($"text").as("h"))
      .filter($"n" =!= $"h").count()
    assert(mismatches == 0)
    // NULL text propagates NULL in both forms (the ADVICE r9 convention)
    val nulls = Seq[Option[String]](None).toDF("text").select(
      llm.PipelineOps.rollingHash31($"text").as("n"),
      llm.PipelineOps.rollingHash31Hof($"text").as("h")).collect()(0)
    assert(nulls.isNullAt(0) && nulls.isNullAt(1))
    // hand-computed anchor: "ab" -> ((17*31+97) % 2^31)*31 + 98 = 19442
    val ab = Seq("ab").toDF("text")
      .select(llm.PipelineOps.rollingHash31($"text")).collect()(0).getLong(0)
    assert(ab === ((17L * 31 + 'a') * 31 + 'b') % 2147483648L)
  }

  test("RollingHash31 runs inside WholeStageCodegen in the split_assign plan") {
    val df = q("docs_split_assign")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    val codegen = "\\*\\(\\d+\\) Project .*graft_rolling_hash31".r
    assert(codegen.findFirstIn(plan).isDefined,
      s"graft_rolling_hash31 not inside a WholeStageCodegen Project:\n$plan")
  }

  test("SignPlanes equals the declarative when(dot_q >= 0) chain on every fixture embedding") {
    // The kernel exists because the unrolled chain's consume method blew
    // HotSpot's HugeMethodLimit at 10 planes x 8 tables (§4.2.14); its
    // SEMANTICS must be bit-identical to the chain it replaced.
    val planes = (0 until 10).map(p => (0 until 64).map(d =>
      ((p * 64 + d) * 2654435761L % 2001L) - 1000L))
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select($"vec_id", quant($"embedding").cast("array<long>").as("qe"))
    val chain = planes.zipWithIndex.map { case (pl, p) =>
      when(GraftExpressions.dotQ(spark, $"qe", typedLit(pl)) >= 0, lit(1L << p))
        .otherwise(lit(0L)) }.reduce(_ + _)
    val native = GraftExpressions.signPlanes(spark, $"qe",
      typedLit(planes.map(_.toSeq)))
    assert(e.select(chain.as("c"), native.as("n")).filter($"c" =!= $"n").count() == 0)
  }

  test("SignPlanes: NULL vector/element and length mismatch yield NULL; empty planes yield 0") {
    GraftExpressions.register(spark)
    val planes2 = Seq(Seq(1L, -1L), Seq(-1L, 1L))
    val df = Seq(
      (Some(Seq(Some(5L), Some(3L))), 1),  // +dot both planes? p0: 5-3=2>=0, p1: -5+3=-2 -> bit0 only
      (None, 2),
      (Some(Seq(Some(1L), None)), 3),      // NULL element
      (Some(Seq(Some(1L))), 4)             // length mismatch vs 2-wide planes
    ).toDF("v", "tag")
      .select($"tag", call_function(GraftExpressions.SignPlanesName,
        $"v", typedLit(planes2)).as("m"))
      .orderBy("tag").collect()
    assert(df(0).getLong(1) === 1L)
    assert(df(1).isNullAt(1) && df(2).isNullAt(1) && df(3).isNullAt(1))
    val empty = Seq(Seq(1L, 2L)).toDF("v")
      .select(call_function(GraftExpressions.SignPlanesName, $"v",
        typedLit(Seq.empty[Seq[Long]])).as("m")).collect()
    assert(empty(0).getLong(0) === 0L)
  }

  test("SignPlanes runs inside WholeStageCodegen in the dedup_near_embedding plan") {
    val df = q("dedup_near_embedding")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft_sign_planes"),
      s"graft_sign_planes missing from the plan:\n$plan")
  }

  test("DotQ runs inside WholeStageCodegen in the knn plan") {
    val df = q("knn_cosine_topk")
    df.collect() // finalize the adaptive plan before inspecting it
    val plan = df.queryExecution.executedPlan.toString
    // "*(n)" prefixes mark WholeStageCodegen stages in the final-plan render;
    // the Project evaluating graft_dot_q must carry one (no codegen fallback)
    val codegenDotQ = "\\*\\(\\d+\\) Project .*graft_dot_q".r
    assert(codegenDotQ.findFirstIn(plan).isDefined,
      s"graft_dot_q not inside a WholeStageCodegen Project:\n$plan")
  }

  /** The executed plan of registry op `op` holds `kernel` in a `Generate`
    * that carries a WholeStageCodegen `*(n)` prefix, i.e. the kernel's
    * operator is not left out of codegen as a fallback expression. */
  private def assertGenerateInCodegen(op: String, generator: String, kernel: String): Unit = {
    val df = q(op)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains(kernel), s"$kernel missing from the $op plan:\n$plan")
    val inCodegen = s"\\*\\(\\d+\\) Generate $generator\\($kernel\\(".r
    assert(inCodegen.findFirstIn(plan).isDefined,
      s"$kernel not inside a WholeStageCodegen Generate:\n$plan")
  }

  test("TermCounts runs inside WholeStageCodegen in the text_tfidf_top plan") {
    assertGenerateInCodegen("text_tfidf_top", "inline", "graft_term_counts")
  }

  test("ShingleHash64 runs inside WholeStageCodegen in the dedup_near_minhash plan") {
    assertGenerateInCodegen("dedup_near_minhash", "explode", "graft_shingle_hash64")
  }

  test("ShingleRolling31 runs inside WholeStageCodegen in the text_winnowing_fingerprints plan") {
    assertGenerateInCodegen("text_winnowing_fingerprints", "posexplode", "graft_shingle_rolling31")
  }
}
