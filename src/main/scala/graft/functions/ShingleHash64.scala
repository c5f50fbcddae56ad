package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Fused shingle-hash kernel: distinct xxhash64 values of the 3-token
  * shingles of a text column, as `array<bigint>`.
  *
  * Exactly equivalent to the declarative chain
  * `array_distinct(transform(sequence(0, n-3), i ->
  *   xxhash64(array_join(slice(split(text,' '), i+1, 3), ' '))))`
  * — same split semantics (Java regex split, limit -1, trailing empties
  * dropped the way Spark's `split` does), same join separator, same
  * xxhash64 seed (42), same first-occurrence order of distinct values — but
  * in ONE eval: one tokenize, a reused byte buffer per shingle, a hash set
  * for dedup. The HOF chain allocates a slice array + joined string per
  * shingle; the kernel removes those ~5 allocations per shingle from the
  * hot path of jaccard_pairs, dedup_near_minhash and dedup_components.
  *
  * The generated code calls [[hashes]] on this expression: a
  * `CodegenFallback` would keep the whole operator holding it (the
  * `Generate explode(...)` over the shingle array) out of whole-stage
  * codegen, because Spark's `CollapseCodegenStages` only fuses operators
  * none of whose expressions fall back.
  */
case class ShingleHash64(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got $t")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_shingle_hash64"

  private val Space = UTF8String.fromString(" ")

  override protected def nullSafeEval(input: Any): Any = hashes(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = ctx.addReferenceObj("shingleHash64", this)
    defineCodeGen(ctx, ev, text => s"$kernel.hashes($text)")
  }

  /** The kernel: distinct shingle hashes of a non-NULL text. */
  def hashes(text: UTF8String): ArrayData = {
    // Spark's split(text, ' ') is Java regex split with limit -1 (trailing
    // empty tokens KEPT); UTF8String.split has the same semantics.
    val toks = text.split(Space, -1)
    val n = toks.length
    if (n < 3) return new GenericArrayData(Array.empty[Long])
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    var i = 0
    while (i <= n - 3) {
      // byte-level concat, no char decode; xxhash64(string) hashes exactly
      // these UTF-8 bytes with seed 42 (XxHash64Function)
      val sh = UTF8String.concat(toks(i), Space, toks(i + 1), Space, toks(i + 2))
      seen.add(XXH64.hashUnsafeBytes(
        sh.getBaseObject, sh.getBaseOffset, sh.numBytes(), 42L))
      i += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
