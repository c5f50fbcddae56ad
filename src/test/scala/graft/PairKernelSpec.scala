package graft

import org.apache.spark.sql.functions._

/** The exact shingle-overlap kernel ([[llm.TextOps.cappedPostings]] →
  * [[llm.TextOps.overlapPairs]] → Jaccard / containment filter) on a hand
  * corpus where the df cap is ACTIVE: the fixture corpora all stay below
  * [[llm.TextOps.MaxShingleDf]], so only this suite sees a capped shingle. */
class PairKernelSpec extends GraftSuite {
  import spark.implicits._

  private val Hot = "hot1 hot2 hot3"
  // docs 1 and 2 share the five shingles of s1..s7; doc 3 shares two of
  // them with both. Docs 1, 2 and the fillers 100.. all carry the hot
  // shingle, MaxShingleDf + 1 docs in total, so it is capped everywhere.
  private lazy val docs = (Seq(
      1L -> s"s1 s2 s3 s4 s5 s6 s7 a1 $Hot", // 9 shingles, 8 below the cap
      2L -> s"s1 s2 s3 s4 s5 s6 s7 $Hot",    // 8 shingles, 7 below the cap
      3L -> "s1 s2 s3 s4 c1 c2") ++           // 4 shingles, no hot one
    (0 until llm.TextOps.MaxShingleDf - 1).map(i => (100L + i) -> s"w$i $Hot"))
    .toDF("doc_id", "text")

  private def postings = llm.TextOps.cappedPostings(docs)

  private def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Long]] =
    df.collect().map(r => r.toSeq.map(_.asInstanceOf[Long])).toSet

  test("df cap active: the hot shingle counts in neither sizes nor intersection") {
    val hotDf = docs.filter(col("text").contains(Hot)).count()
    assert(hotDf === llm.TextOps.MaxShingleDf + 1L)
    assert(rows(llm.TextOps.jaccardFilter(llm.TextOps.overlapPairs(postings))) ===
      Set(Seq(1L, 2L, 5L, 10L), Seq(1L, 3L, 2L, 10L), Seq(2L, 3L, 2L, 9L)),
      "(id1, id2, inter, uni)")
    assert(rows(llm.TextOps.containmentFilter(llm.TextOps.overlapPairs(postings))) ===
      Set(Seq(1L, 2L, 5L, 8L, 7L)), "(id1, id2, inter, n1, n2)")
    assert(rows(llm.TextOps.jaccardFilter(llm.TextOps.overlapPairs(Pin.shared(postings)))) ===
      rows(TestSpark.jaccardEdges(docs)), "pinning changed the edges")
  }

  test("probe form equals the full overlap tail filtered to id2 in the probe") {
    val p = postings
    for (probeIds <- Seq(Seq(2L), Seq(3L), Seq(2L, 3L, 100L))) {
      val probed = llm.TextOps.overlapPairs(p,
        probe = Some(p.filter(col("doc_id").isin(probeIds: _*))))
      val filtered = llm.TextOps.overlapPairs(p).filter(col("id2").isin(probeIds: _*))
      assert(rows(probed) === rows(filtered), s"probe $probeIds")
      assert(rows(probed).nonEmpty, s"probe $probeIds formed no pair")
    }
  }
}
