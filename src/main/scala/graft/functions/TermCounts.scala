package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Per-row term-count kernel: each distinct element of an `array<string>`
  * with its count, as `array<struct<term: string, tf: bigint>>` in
  * first-occurrence order.
  *
  * Equal, as a multiset of (term, tf), to
  * `explode(arr) … groupBy(row key, term).count` for one row — a NULL
  * element counts as one more term, as the NULL group would — but made in
  * one pass with a small hash map per row instead of a corpus-sized hash
  * aggregate and its shuffle. It is the per-document counting step of
  * text_tfidf_top (tf rows via `inline`), text_entropy (Σ tf·ln tf via
  * `aggregate`) and text_repetition_signals (top word and bigram via
  * `array_min`). Tokenizing stays with the caller (Spark's own
  * `split(text, ' ')`), so token semantics are Spark's.
  *
  * NULL array → NULL; empty array → empty array. The generated code calls
  * [[count]] on this expression: a `CodegenFallback` would keep the whole
  * operator holding it (the `Generate inline(...)` of text_tfidf_top, with
  * its `split`) out of whole-stage codegen, because Spark's
  * `CollapseCodegenStages` only fuses operators none of whose expressions
  * fall back.
  */
case class TermCounts(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got $t")
  }

  private def termNullable: Boolean = child.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _ => true
  }
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("term", StringType, termNullable),
    StructField("tf", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "graft_term_counts"

  override protected def nullSafeEval(input: Any): Any = count(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = ctx.addReferenceObj("termCounts", this)
    defineCodeGen(ctx, ev, arr => s"$kernel.count($arr)")
  }

  /** The kernel: (term, tf) of each distinct element of a non-NULL array. */
  def count(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    // term → slot; slots are numbered in first-occurrence order
    val slot = new java.util.HashMap[UTF8String, Integer](math.max(16, n * 2))
    val terms = new Array[UTF8String](n)
    val counts = new Array[Long](n)
    var distinct = 0
    var i = 0
    while (i < n) {
      val term = if (arr.isNullAt(i)) null else arr.getUTF8String(i)
      val j = slot.get(term)
      if (j == null) {
        slot.put(term, distinct)
        terms(distinct) = term
        counts(distinct) = 1L
        distinct += 1
      } else counts(j) += 1L
      i += 1
    }
    val out = new Array[Any](distinct)
    var k = 0
    while (k < distinct) {
      out(k) = new GenericInternalRow(Array[Any](terms(k), counts(k)))
      k += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
