package graft

import graft.functions.DotQ
import graft.plans.{GraftOptimizations, RewriteDotProduct}
import org.apache.spark.sql.{Column, DataFrame, GraftExtensionsProbe, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType}

/** graft.plans.RewriteDotProduct — the SparkSessionExtensions-registered
  * optimizer rule — must (1) rewrite the declarative HOF dot product to the
  * native DotQ expression, (2) preserve semantics on every edge case the
  * HOF form defines (null array / null element / length mismatch / empty),
  * and (3) leave any non-matching aggregate untouched.
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
    val arr = Literal.create(Seq(2L, 3L), ArrayType(LongType, containsNull = false))
    val resolved = GraftExtensionsProbe.resolveFunction(wire, "graft_dot_q", Seq(arr, arr))
    assert(resolved.isInstanceOf[DotQ], s"resolved to ${resolved.getClass}")
    assert(resolved.eval(null) == 13L)
  }
}
