package graft

import graft.functions.DotQ
import graft.plans.{GraftOptimizations, RewriteDotProduct, SmallSortOneTask}
import org.apache.spark.sql.{Column, DataFrame, GraftExtensionsProbe, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, AttributeReference, Literal, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, RepartitionByExpression, Sort}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType}

/** graft.plans.RewriteDotProduct — the SparkSessionExtensions-registered
  * optimizer rule — must (1) rewrite the declarative HOF dot product to the
  * native DotQ expression, (2) preserve semantics on every edge case the
  * HOF form defines (null array / null element / length mismatch / empty),
  * and (3) leave any non-matching aggregate untouched.
  *
  * graft.plans.SmallSortOneTask must sort a broadcast-sized input in one
  * task — one job fewer, the same rows in the same order — and
  * leave top-k sorts, streaming plans and a threshold that excludes the
  * input as they were.
  */
class OptimizerRuleSpec extends GraftSuite {

  /** The declarative pattern users write without knowing about DotQ. */
  private def hofDot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, v) => acc + v)

  private def plannedDotQ(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan
      .collect { case p => p.expressions }.flatten
      .exists(_.exists { case _: DotQ => true; case _ => false })

  /** Isolated session: extraOptimizations is per-session state, so the
    * rewrite installed here never leaks into the shared test session (whose
    * ExpressionSpec compares DotQ AGAINST the un-rewritten HOF form). */
  private lazy val optimized: SparkSession = {
    val s = spark.newSession()
    GraftOptimizations.install(s)
    s
  }

  /** Materialize literal test data as parquet: ConvertToLocalRelation would
    * otherwise constant-fold a LocalRelation projection away before the
    * user-provided batch runs, leaving no expression to rewrite (or to
    * assert the absence of). */
  private def parquet(df: DataFrame): String = {
    val p = TestSpark.tempDir("graft_optrule_")
    df.write.mode("overwrite").parquet(p)
    p
  }

  test("rule rewrites the HOF dot product to DotQ and preserves fixture results") {
    def frame(s: SparkSession): DataFrame = {
      val e = s.read.parquet(s"$sfDir/embeddings.parquet")
        .select(col("vec_id"),
          transform(col("embedding"),
            x => floor(x.cast("double") * lit(1e6) + lit(0.5))).as("qe"))
      val shifted = e.select((col("vec_id") + 1).as("vid2"), col("qe").as("q2"))
      e.join(shifted, col("vec_id") === col("vid2"))
        .select(col("vec_id"), hofDot(col("qe"), col("q2")).as("dot"))
    }
    val rewritten = frame(optimized)
    assert(plannedDotQ(rewritten), "rule did not rewrite the HOF pattern:\n" +
      rewritten.queryExecution.optimizedPlan)
    val plain = frame(spark)
    assert(!plannedDotQ(plain), "shared session must stay rule-free")
    val a = rewritten.orderBy("vec_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val b = plain.orderBy("vec_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(a.nonEmpty && a.sameElements(b))
  }

  test("rewrite preserves HOF null semantics: null array, null element, length mismatch, empty") {
    import spark.implicits._
    val path = parquet(Seq[(Option[Seq[Option[Long]]], Option[Seq[Option[Long]]])](
      (Some(Seq(Some(1L), Some(2L))), Some(Seq(Some(3L), Some(4L)))), // 11
      (None, Some(Seq(Some(1L)))),                                    // null array
      (Some(Seq(Some(1L), None)), Some(Seq(Some(1L), Some(2L)))),     // null element
      (Some(Seq(Some(1L), Some(2L))), Some(Seq(Some(1L)))),           // length mismatch
      (Some(Seq.empty), Some(Seq.empty))                              // empty -> 0
    ).toDF("a", "b").withColumn("i", monotonically_increasing_id()))
    def frame(s: SparkSession): Array[Any] =
      s.read.parquet(path).orderBy("i").select(hofDot(col("a"), col("b")).as("dot"))
        .collect().map(r => if (r.isNullAt(0)) null else r.getLong(0))
    val probe = optimized.read.parquet(path).select(hofDot(col("a"), col("b")).as("dot"))
    assert(plannedDotQ(probe), "rule did not fire on the parquet-backed frame:\n" +
      probe.queryExecution.optimizedPlan)
    val got = frame(optimized)
    val want = frame(spark)
    assert(got.sameElements(want), s"got ${got.mkString(",")} want ${want.mkString(",")}")
    assert(got(0) == 11L && got(1) == null && got(2) == null && got(3) == null && got(4) == 0L)
  }

  test("rule is conservative: non-zero seed, non-product zip, non-long arrays stay HOFs") {
    import spark.implicits._
    val longs = parquet(Seq((Seq(1L, 2L), Seq(3L, 4L)), (Seq(5L), Seq(6L))).toDF("a", "b"))
    val df = optimized.read.parquet(longs)
    val seeded = df.select(
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y), lit(1L), (acc, v) => acc + v).as("d"))
    assert(!plannedDotQ(seeded), "seed 1L must not match")
    assert(seeded.collect().map(_.getLong(0)).sorted.sameElements(Array(12L, 31L)))
    val summed = df.select(
      aggregate(zip_with(col("a"), col("b"), (x, y) => x + y), lit(0L), (acc, v) => acc + v).as("d"))
    assert(!plannedDotQ(summed), "zip sum must not match")
    val ints = parquet(Seq((Seq(1, 2), Seq(3, 4))).toDF("a", "b"))
    val intDot = optimized.read.parquet(ints).select(
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y), lit(0), (acc, v) => acc + v).as("d"))
    assert(!plannedDotQ(intDot), "array<int> with int seed must not match")
  }

  test("operand order is free: (x,y)->y*x and (acc,v)->v+acc still fuse") {
    import spark.implicits._
    val path = parquet(Seq((Seq(2L, 3L), Seq(5L, 7L))).toDF("a", "b"))
    val df = optimized.read.parquet(path).select(
      aggregate(zip_with(col("a"), col("b"), (x, y) => y * x), lit(0L), (acc, v) => v + acc).as("d"))
    assert(plannedDotQ(df))
    assert(df.head().getLong(0) == 31L)
  }

  test("GraftExtensions registers the graft_dot_q function and the optimizer rule") {
    val wire = (ext: org.apache.spark.sql.SparkSessionExtensions) => new GraftExtensions()(ext)
    val rules = GraftExtensionsProbe.optimizerRules(spark, wire)
    assert(rules.contains(RewriteDotProduct), s"rules were: $rules")
    assert(rules.contains(SmallSortOneTask), s"rules were: $rules")
    val arr = Literal.create(Seq(2L, 3L), ArrayType(LongType, containsNull = false))
    val resolved = GraftExtensionsProbe.resolveFunction(wire, "graft_dot_q", Seq(arr, arr))
    assert(resolved.isInstanceOf[DotQ], s"resolved to ${resolved.getClass}")
    assert(resolved.eval(null) == 13L)
  }

  private def oneTaskSorts(p: LogicalPlan): Int =
    p.collect { case Sort(_, true, RepartitionByExpression(_, _, Some(1), _), _) => 1 }.sum

  /** Spark plans a one-partition repartition by range as a single-partition
    * exchange: no range bounds, so no sampling job. */
  private def sortsInOneTask(df: DataFrame): Boolean = {
    val plan = df.queryExecution.executedPlan.toString
    plan.contains("Exchange SinglePartition, REPARTITION_BY_NUM") &&
      !plan.contains("rangepartitioning")
  }

  test("small global sort: one task, one job fewer, same rows in order (jaccard_pairs)") {
    def run(s: SparkSession): (DataFrame, Seq[org.apache.spark.sql.Row], Int) = {
      SparkEntry.queries("jaccard_pairs")(s, sfDir).collect() // lands the shared artifact
      val df = SparkEntry.queries("jaccard_pairs")(s, sfDir)
      val (rows, jobs) = jobsDuring(df.collect().toSeq)
      (df, rows, jobs)
    }
    val (ruled, got, ruledJobs) = run(optimized)
    val (plain, want, plainJobs) = run(spark)
    assert(oneTaskSorts(ruled.queryExecution.optimizedPlan) == 1,
      ruled.queryExecution.optimizedPlan.toString)
    assert(sortsInOneTask(ruled), ruled.queryExecution.executedPlan.toString)
    assert(!sortsInOneTask(plain), plain.queryExecution.executedPlan.toString)
    assert(oneTaskSorts(plain.queryExecution.optimizedPlan) == 0)
    assert(ruledJobs == plainJobs - 1, s"jobs with the rule $ruledJobs, without $plainJobs")
    assert(got.nonEmpty && got == want)
  }

  test("small sort rule leaves a top-k sort, a streaming plan and an excluding threshold alone") {
    import spark.implicits._
    val path = parquet((1L to 50L).map(i => (i % 7, i)).toDF("k", "v"))
    def sorted(s: SparkSession): DataFrame = s.read.parquet(path).orderBy(col("k"), col("v"))
    assert(oneTaskSorts(sorted(optimized).queryExecution.optimizedPlan) == 1)
    val topK = sorted(optimized).limit(3)
    assert(oneTaskSorts(topK.queryExecution.optimizedPlan) == 0)
    assert(topK.queryExecution.executedPlan.toString.contains("TakeOrderedAndProject"))
    assert(topK.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((0L, 7L), (0L, 14L), (0L, 21L)))
    for (bytes <- Seq("1", "-1")) withConf("spark.sql.autoBroadcastJoinThreshold", bytes, optimized) {
      val df = sorted(optimized)
      assert(oneTaskSorts(df.queryExecution.optimizedPlan) == 0, s"threshold $bytes")
      assert(!sortsInOneTask(df))
    }
    // the same small sort over a batch and over a streaming relation
    val k = AttributeReference("k", LongType)()
    def sortOver(streaming: Boolean): LogicalPlan = Sort(Seq(SortOrder(k, Ascending)), global = true,
      LocalRelation(Seq(k), Seq(InternalRow(2L), InternalRow(1L)), isStreaming = streaming))
    val batch = SmallSortOneTask(sortOver(streaming = false))
    assert(oneTaskSorts(batch) == 1)
    assert(SmallSortOneTask(batch) == batch, "a second pass must not stack a second repartition")
    assert(SmallSortOneTask(sortOver(streaming = true)) == sortOver(streaming = true))
  }
}
