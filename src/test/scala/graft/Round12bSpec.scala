package graft

import org.apache.spark.sql.functions._

/** Round-12 widening evidence: the zone-map/COW lakehouse pair (file-level
  * assertions the oracle row cannot see — pruned subsets, carried-verbatim
  * manifests, snapshot isolation), plus purpose-built fixtures for the
  * containment-vs-jaccard distinction, keyness quantization, planted
  * autocorrelation periods, and the asof tolerance bound.
  */
class Round12bSpec extends GraftSuite {
  import spark.implicits._

  private def writeDocs(rows: Seq[(Long, String, String)]): String = {
    val dir = TestSpark.tempDir("graft_r12b_doc_")
    rows.toDF("doc_id", "text", "lang")
      .withColumn("source", lit("s0"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  /** events fixture rows: (event_id, ts NANOS, user_id, event_type). */
  private def writeEvents(rows: Seq[(Long, Long, Long, String)]): String = {
    val dir = TestSpark.tempDir("graft_r12b_ev_")
    rows.toDF("event_id", "ts", "user_id", "event_type")
      .withColumn("value", lit(1.0)).withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("scan_zone_map_prune: plans a strict subset of files; excluded files hold no match") {
    val (_, stats) = operators.Scans.statsTable(spark, sfDir, "zm_spec")
    val (lo, hi) = (1000L, 5000L)
    val (live, excluded) = stats.partition(f => f.max >= lo && f.min <= hi)
    assert(live.nonEmpty && excluded.nonEmpty,
      s"the range-clustered layout must split files on [$lo,$hi]: " +
        s"${live.size} live / ${excluded.size} excluded of ${stats.size}")
    // soundness: an excluded file can never contain a matching row
    val leaked = spark.read.parquet(excluded.map(_.path): _*)
      .filter(col("o_orderkey").between(lo, hi)).count()
    assert(leaked === 0L, s"zone maps excluded files holding $leaked matches")
    // the op's own result row-count equals the unpruned filtered count
    val pruned = q("scan_zone_map_prune").agg(sum("cnt")).collect()(0).getLong(0)
    val full = q("scan_parquet").sparkSession.read // any session handle
      .parquet(stats.map(_.path): _*)
      .filter(col("o_orderkey").between(lo, hi)).count()
    assert(pruned === full, "pruned read disagrees with the unpruned filter")
  }

  test("merge_delete_cow: untouched files carry verbatim; v0 still sees deleted rows") {
    q("merge_delete_cow").collect() // builds the table + commits v1
    val base = Store.dir(spark, "delete_cow")
    val v0 = operators.Scans.readManifest(spark, base, 0)
    val v1 = operators.Scans.readManifest(spark, base, 1)
    val carried = v0.toSet intersect v1.toSet
    val rewritten = v1.toSet -- v0.toSet
    assert(carried.nonEmpty, "COW delete rewrote every file — not copy-on-write")
    assert(rewritten.nonEmpty, "no rewritten survivor files committed")
    // v1 must hold no deleted key; v0 (snapshot isolation) must still
    val inV1 = spark.read.parquet(v1: _*)
      .filter(col("o_orderkey").between(1000L, 5000L)).count()
    val inV0 = spark.read.parquet(v0: _*)
      .filter(col("o_orderkey").between(1000L, 5000L)).count()
    assert(inV1 === 0L, s"$inV1 deleted rows survived in snapshot v1")
    assert(inV0 > 0L, "snapshot v0 lost the pre-delete rows — isolation broken")
  }

  test("text_containment: a small doc embedded in a large one scores 1.0 but is invisible to jaccard") {
    // A's 20 words ⊂ B's 220 words: containment 18/18 = 1.0, jaccard
    // 18/218 ≈ 0.08 < the 0.1 candidate cut — the pair text_containment
    // exists to catch and jaccard_pairs structurally cannot.
    val small = (1 to 20).map(i => s"w$i").mkString(" ")
    val big = small + " " + (100 to 299).map(i => s"x$i").mkString(" ")
    val dir = writeDocs(Seq((1L, small, "en"), (2L, big, "en")))
    val cont = SparkEntry.queries("text_containment")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Double]("cont6")))
    assert(cont.toSeq === Seq((1L, 2L, 1.0)),
      s"expected exactly the embedded pair at containment 1.0, got ${cont.toSeq}")
    val jac = SparkEntry.queries("jaccard_pairs")(spark, dir).count()
    assert(jac === 0L, "the embedded pair leaked past jaccard's 0.1 cut — " +
      "fixture no longer demonstrates the asymmetric-score distinction")
  }

  test("text_keyness_llr: hand-checked G² for a word exclusive to one slice") {
    // langs: en (3 docs) vs fr (2 docs); "zzz" appears 6x (above the ≥5
    // support cut), only in en.
    val dir = writeDocs(Seq(
      (1L, "zzz zzz common common common", "en"),
      (2L, "zzz zzz common common common", "en"),
      (3L, "zzz zzz common common common", "en"),
      (4L, "common common common common common", "fr"),
      (5L, "common common common common common", "fr")))
    val rows = SparkEntry.queries("text_keyness_llr")(spark, dir).collect()
      .map(r => (r.getAs[String]("word"), r.getAs[Long]("c_a"),
        r.getAs[Long]("c_b"), r.getAs[Long]("g2_u"), r.getAs[String]("key_lang")))
    def tq(k: Long): Long =
      if (k <= 0) 0L else k * math.floor(math.log(k.toDouble) * 1e6).toLong
    // na = 15 en tokens, nb = 10 fr tokens
    def g2(ca: Long, cb: Long, na: Long, nb: Long): Long =
      2L * (tq(ca) + tq(cb) + tq(na - ca) + tq(nb - cb) - tq(ca + cb)
        - tq(na + nb - ca - cb) - tq(na) - tq(nb) + tq(na + nb))
    val expected = Seq(
      ("zzz", 6L, 0L, g2(6, 0, 15, 10), "en"),
      ("common", 9L, 10L, g2(9, 10, 15, 10), "fr"))
      .sortBy(t => (-t._4, t._1))
    assert(rows.toSeq === expected,
      s"keyness table mismatch: got ${rows.toSeq}, expected $expected")
    assert(rows.head._4 > 0, "an exclusive word must have positive G²")
  }

  test("events_period_autocorr: a planted 2-day cycle peaks at even lags; silent days zero-fill") {
    val usPerDayNs = 86400000000000L
    // 12 days, type "view": 10 events on even days, 1 on odd days — a
    // strong period-2 signal. Day 6 for type "click" is its only day, so
    // click's series is mostly zero-filled grid rows.
    var id = 0L
    val rows = (0 until 12).flatMap { d =>
      val n = if (d % 2 == 0) 10 else 1
      (1 to n).map { k => id += 1
        (id, d * usPerDayNs + k * 1000000L, 1L, "view") }
    } :+ { id += 1; (id, 6 * usPerDayNs + 1000000L, 2L, "click") }
    val dir = writeEvents(rows)
    val out = SparkEntry.queries("events_period_autocorr")(spark, dir)
      .collect().map(r => (r.getAs[String]("event_type"), r.getAs[Long]("lag"),
        r.getAs[Long]("n_pairs"), r.getAs[Long]("acov_num"))).toSeq
    val view = out.filter(_._1 == "view").map(t => t._2 -> t._4).toMap
    assert(view(2L) > 0 && view(4L) > 0 && view(6L) > 0,
      s"even lags must be positive for a period-2 series: $view")
    assert(view(1L) < 0 && view(3L) < 0,
      s"odd lags must anti-correlate: $view")
    // zero-fill: click spans the full 12-day grid — lag L has 12-L pairs
    val click = out.filter(_._1 == "click").map(t => t._2 -> t._3).toMap
    assert((1L to 10L).forall(l => click(l) === 12L - l),
      s"silent days must appear as c=0 grid rows: $click")
  }

  test("graph_jaccard_neighbors: scores bounded; common neighbors never exceed either degree") {
    val rows = q("graph_jaccard_neighbors").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (c, da, db) = (r.getAs[Long]("n_common"), r.getAs[Long]("deg_a"),
        r.getAs[Long]("deg_b"))
      val j = r.getAs[Double]("jac4")
      assert(c >= 1 && c <= math.min(da, db), s"impossible overlap: $r")
      assert(j >= 0.0 && j <= 1.0, s"jaccard out of range: $r")
      assert(r.getAs[Long]("has_edge") == 0L || r.getAs[Long]("has_edge") == 1L)
    }
  }

  test("join_asof_tolerance: equals join_asof with stale matches nulled at exactly 1h") {
    val base = q("join_asof").collect()
      .map(r => r.getLong(0) -> Option(r.get(3)).map(_.asInstanceOf[Long])).toMap
    val tol = q("join_asof_tolerance").collect()
    assert(tol.nonEmpty && tol.length === base.size)
    tol.foreach { r =>
      val ts = r.getLong(2)
      val within = Option(r.get(3)).map(_.asInstanceOf[Long])
      val unbounded = base(r.getLong(0))
      (unbounded, within) match {
        case (Some(u), Some(w)) =>
          assert(u === w && ts - w <= 3600000000L, s"stale match kept: $r")
        case (Some(u), None) =>
          assert(ts - u > 3600000000L, s"in-tolerance match dropped: $r")
        case (None, None) => ()
        case (None, Some(_)) => fail(s"tolerance invented a match: $r")
      }
    }
  }

  test("transformWithState top-3 board carries across micro-batches; equal values never re-enter a full board") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val ctx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream[(Long, Long, Long, Long)]
      val entries = ms.toDS().groupByKey(_._1)
        .transformWithState(new streaming.Streaming.TopKEntryProcessor,
          org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
        .toDF("user_id", "event_id", "ts_us", "v100")
      val qn = "twsk_" + System.nanoTime()
      val query = entries.writeStream.format("memory").queryName(qn)
        .outputMode(OutputMode.Update()).start()
      try {
        // batch 1: 3 entries fill the board [50,30,20]
        ms.addData((1L, 10L, 100L, 50L), (1L, 11L, 200L, 30L), (1L, 12L, 300L, 20L))
        query.processAllAvailable()
        // batch 2 (state must persist): 20 ties the board min — NO entry;
        // 40 beats it — entry; 10 below — no entry
        ms.addData((1L, 13L, 400L, 20L), (1L, 14L, 500L, 40L), (1L, 15L, 600L, 10L))
        query.processAllAvailable()
        val out = spark.table(qn).as[(Long, Long, Long, Long)].collect().sorted
        assert(out.sameElements(Seq(
          (1L, 10L, 100L, 50L), (1L, 11L, 200L, 30L),
          (1L, 12L, 300L, 20L), (1L, 14L, 500L, 40L))),
          s"got ${out.mkString(",")}")
      } finally query.stop()
    } finally prev match {
      case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("join_interval_bucketed: cross-bucket overlaps emit exactly once; non-overlaps never") {
    val us = 1000L; val hr = 3600000000L
    // user 1: purchase at t=0 → window [0, 30min]
    // user 2: purchase at t=hr-1s → window spans the hour-0/hour-1
    //         boundary AND overlaps user 1? no: starts 59:59, u1 ends
    //         30:00 — no overlap with u1; overlaps user 3.
    // user 3: purchase at t=hr+10min → overlaps user 2's padded window
    //         (their shared span crosses the bucket boundary — the pair
    //         must appear ONCE, not once per shared bucket)
    // user 4: purchase at t=10min → overlaps user 1 ([10min, 40min] ∩
    //         [0, 30min] = 20min); its session also contains a view.
    // user 5: purchase at t=3000s → window [3000s, 4800s], spans buckets
    // {0, 1} — as does user 2's [3599s, 5399s]: the pair shares TWO
    // buckets, so without the later-start-bucket rule it would emit twice
    val dir = writeEvents(Seq(
      (1L, 0L, 1L, "purchase"),
      (2L, (hr - 1000000L) * 1000L, 2L, "purchase"),
      (3L, (hr + 600000000L) * 1000L, 3L, "purchase"),
      (4L, 600000000L * 1000L, 4L, "purchase"),
      (5L, 610000000L * 1000L, 4L, "view"),
      (6L, 3000000000L * 1000L, 5L, "purchase")))
    val rows = SparkEntry.queries("join_interval_bucketed")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Long]("overlap_us")))
    // u1 [0,1800s] ∩ u4 [600s,2410s] = 1200s
    // u2 [3599s,5399s] ∩ u3 [4200s,6000s] = 1199s
    // u2 ∩ u5 [3000s,4800s] = 4800-3599 = 1201s (two shared buckets — ONE row)
    // u3 ∩ u5 = 4800-4200 = 600s
    assert(rows.toSeq.sorted === Seq(
      (1L, 4L, 1200000000L),
      (2L, 3L, 1199000000L),
      (2L, 5L, 1201000000L),
      (3L, 5L, 600000000L)).sorted,
      s"got ${rows.toSeq.sorted}")
  }

  test("cdcMerge: an out-of-order batch carrying an older change never regresses a row") {
    // snapshot: user 1 @ ts=500 v=50; late batch: user 1 @ ts=100 v=99
    // (older — must NOT win), user 2 @ ts=200 v=20 twice in-batch (the
    // in-batch collapse picks its tuple max), user 3 new.
    val cur = Seq((1L, 500L, 10L, 50L))
      .toDF("user_id", "last_ts_us", "last_event_id", "last_v100")
    val batch = Seq((1L, 100L, 11L, 99L), (2L, 200L, 12L, 20L),
      (2L, 200L, 13L, 21L), (3L, 900L, 14L, 30L))
      .toDF("user_id", "last_ts_us", "last_event_id", "last_v100")
    val out = streaming.Streaming.cdcMerge(Some(cur), batch)
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq === Seq(
      (1L, 500L, 10L, 50L),  // older upsert did not regress
      (2L, 200L, 13L, 21L),  // in-batch tuple max (event_id tiebreak)
      (3L, 900L, 14L, 30L))) // insert
  }

  test("agg_skew_kurt: exact numerators match a BigInt replica of the fixture") {
    val qty = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("l_returnflag"), floor(col("l_quantity")).cast("long").as("x"))
      .collect().map(r => r.getString(0) -> BigInt(r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val got = q("agg_skew_kurt").collect()
    assert(got.length === qty.size)
    got.foreach { r =>
      val xs = qty(r.getString(0))
      val n = BigInt(xs.size)
      val (s1, s2, s3, s4) =
        (xs.sum, xs.map(x => x * x).sum, xs.map(x => x * x * x).sum,
          xs.map(x => x * x * x * x).sum)
      val m2n = n * s2 - s1 * s1
      val m3n = n * n * s3 - 3 * n * s1 * s2 + 2 * s1 * s1 * s1
      val m4n = n * n * n * s4 - 4 * n * n * s1 * s3 +
        6 * n * s1 * s1 * s2 - 3 * s1 * s1 * s1 * s1
      assert(r.getAs[Long]("n") === n.toLong && r.getAs[Long]("sum_qty") === s1.toLong)
      assert(r.getAs[Double]("m2_num") === m2n.toDouble, s"m2 ${r.getString(0)}")
      assert(r.getAs[Double]("m3_num") === m3n.toDouble, s"m3 ${r.getString(0)}")
      assert(r.getAs[Double]("m4_num") === m4n.toDouble, s"m4 ${r.getString(0)}")
    }
  }
}
