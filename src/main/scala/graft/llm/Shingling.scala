package graft.llm

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Single source of truth for the 3-token shingle kernel. TextOps (exact
  * Jaccard), DedupOps (minhash signatures) and jaccard_pairs' hashed posting
  * lists MUST tokenize identically, or exact-Jaccard, LSH-candidate and
  * oracle semantics silently diverge — round 2's <3-token guard (ADVICE r1)
  * had to be patched in three copies before this hoist.
  */
object Shingling {

  /** Character bigrams of `text` (substring(text, i, 2) for i in
    * 1..len-1) as a ONE-PASS array, shared by docs_char_lm and
    * text_langid. The naive `transform(sequence(1, len-1),
    * i -> substring(text, i, 2))` is quadratic per document on MULTIBYTE
    * text: UTF8String.substring locates char i's byte offset by scanning
    * from byte 0 (O(i) per call — only full-ASCII strings get the O(1)
    * fast path). Splitting to a char array once and zipping consecutive
    * slices is linear regardless of encoding — the shape that survives a
    * real multilingual corpus. On the all-ASCII fixture the two are
    * measured equal (A/B 5-rep medians 2.54 s vs 2.63 s for both
    * consumers at sf0.1 — the fast path was already linear there).
    * Output is bit-identical incl. multibyte edges (ExpressionSpec); the
    * DuckDB oracle twins keep the substring formulation — same values,
    * different engine, no shared hot path. */
  def charBigramArray(text: Column): Column = {
    val n1 = greatest(length(text) - 1, lit(0))
    val chars = split(text, "")
    zip_with(slice(chars, lit(1), n1), slice(chars, lit(2), n1),
      (a, b) => concat(a, b))
  }

  /** Distinct 3-token shingles of `text` as an array column. `hashed=true`
    * maps each shingle through xxhash64 — 8-byte join keys instead of ~25-
    * byte strings for the shuffle-heavy consumers. Docs with <3 tokens
    * yield an empty array (sequence(0, size-3) would otherwise infer step
    * -1 and slice() would throw), matching the oracle's range(1, len-1)
    * empty-result semantics.
    *
    * The hashed path routes through the fused native kernel
    * [[graft.functions.ShingleHash64]] (one tokenize + byte-level concat +
    * hash-set dedup per row) — bit-identical to the declarative chain below
    * (ExpressionSpec asserts equality on the fixture), ~3× less per-row
    * allocation on the jaccard/minhash/components hot path. */
  def shingleArray(text: Column, hashed: Boolean)
                  (implicit s: org.apache.spark.sql.SparkSession): Column =
    if (hashed) {
      // explicit session (review r3): registering on SparkSession.active
      // would silently target the wrong session in multi-session setups
      graft.functions.GraftExpressions.register(s)
      call_function(graft.functions.GraftExpressions.ShingleName, text)
    } else {
      val toks = split(text, " ")
      array_distinct(transform(
        when(size(toks) >= 3, sequence(lit(0), size(toks) - 3))
          .otherwise(array().cast("array<int>")),
        i => array_join(slice(toks, i + 1, lit(3)), " ")))
    }
}
