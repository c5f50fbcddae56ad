package graft

import org.apache.spark.sql.functions._

/** Round-13 evidence: events_autocorr verification (VERDICT r12 #1 — the
  * op landed post-closing-sweep with no oracle/spec/probe; it now carries
  * all three) and the round's plan work (shared co-trade artifact,
  * seasonal-index bucketed layout, basket apriori pre-prune).
  */
class Round13Spec extends GraftSuite {
  import spark.implicits._

  /** events fixture rows: (event_id, ts NANOS, user_id, event_type). */
  private def writeEvents(rows: Seq[(Long, Long, Long, String)]): String = {
    val dir = TestSpark.tempDir("graft_r13_ev_")
    rows.toDF("event_id", "ts", "user_id", "event_type")
      .withColumn("value", lit(1.0)).withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("events_autocorr: planted period-7 spikes peak at lag 7; silent days zero-fill") {
    val usPerDayNs = 86400000000000L
    // Events ONLY on days 0, 7, 14, 21 (10 each) — every other day is
    // SILENT (absent from the raw stream). The lag-k pairing is only
    // correct if silent days read x=0: without the grid, "lag 7" would
    // pair each spike with the next OBSERVED day and the series would
    // look constant (acf undefined), and n_pairs(k) would be 3, not N−k.
    var id = 0L
    val rows = Seq(0, 7, 14, 21).flatMap { d =>
      (1 to 10).map { k => id += 1; (id, d * usPerDayNs + k * 1000000L, 1L, "view") }
    }
    val dir = writeEvents(rows)
    val out = SparkEntry.queries("events_autocorr")(spark, dir)
      .collect().map(r => (r.getAs[Int]("lag"), r.getAs[Long]("n_pairs"),
        r.getAs[Long]("cov_num"), r.getAs[Long]("vx_num"),
        r.getAs[Long]("vy_num"), Option(r.get(5)).map(_.asInstanceOf[Double])))
    assert(out.length === 7, s"lags 1..7 expected: ${out.toSeq}")
    // span = [0, 21] ⇒ N = 22 grid days ⇒ lag k has exactly N−k pairs
    out.foreach { case (lag, n, _, _, _, _) =>
      assert(n === 22L - lag, s"zero-fill broken at lag $lag: $n pairs") }
    val byLag = out.map(t => t._1 -> t).toMap
    // period-7 series: lag 7 aligns spike-with-spike (perfect positive
    // correlation), lag 1 pairs every spike with a silent day (negative)
    assert(byLag(7)._6.exists(_ > 0.9), s"lag-7 acf must be ~1: ${byLag(7)}")
    assert(byLag(1)._6.exists(_ < 0.0), s"lag-1 acf must be < 0: ${byLag(1)}")
    // moment identity on exact integers: cov² ≤ vx·vy (Cauchy–Schwarz)
    out.foreach { case (lag, _, cov, vx, vy, _) =>
      assert(BigInt(cov) * BigInt(cov) <= BigInt(vx) * BigInt(vy),
        s"Cauchy–Schwarz violated at lag $lag") }
  }

  test("agg_regression: a planted exact line recovers slope/intercept/r2 = 1") {
    val usPerDayNs = 86400000000000L
    // value(day d) = 10 + 2d exactly, 3 events per day over 10 days:
    // centi y = 1000 + 200x is an exact integer line => slope6 = 2.0,
    // intercept6 (at the min-day origin) = 10.0, r2_6 = 1.0 exactly.
    var id = 0L
    val rows = (0 until 10).flatMap { d =>
      (1 to 3).map { k => id += 1
        (id, d * usPerDayNs + k * 1000000L, 1L, "view", 10.0 + 2.0 * d) }
    }
    val dir = TestSpark.tempDir("graft_r13_rg_")
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("agg_regression")(spark, dir).collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getAs[Long]("n") === 30L)
    assert(r.getAs[Double]("slope6") === 2.0, s"slope: $r")
    assert(r.getAs[Double]("intercept6") === 10.0, s"intercept: $r")
    assert(r.getAs[Double]("r2_6") === 1.0, s"r2: $r")
    // moment identity: cov^2 == vx*vy exactly on a perfect line (the
    // fixture magnitudes are far below 2^53, so the doubles are exact)
    assert(r.getAs[Double]("cov_num") * r.getAs[Double]("cov_num") ===
      r.getAs[Double]("vx_num") * r.getAs[Double]("vy_num"))
  }

  test("q_customer_churn: retained/churned/new by hand on a 3-year fixture") {
    val dir = TestSpark.tempDir("graft_r13_ch_")
    def o(k: Long, cust: Long, yr: Int) =
      (k, cust, java.sql.Timestamp.valueOf(s"$yr-06-01 00:00:00"))
    // 1995: {1,2,3} (cust 1 twice — distinct must dedup), 1996: {2,3,4,5},
    // 1997: {5}
    val rows = Seq(o(1, 1, 1995), o(2, 2, 1995), o(3, 3, 1995), o(4, 1, 1995),
      o(5, 2, 1996), o(6, 3, 1996), o(7, 4, 1996), o(8, 5, 1996),
      o(9, 5, 1997))
    rows.toDF("o_orderkey", "o_custkey", "o_orderdate")
      .withColumn("o_orderstatus", lit("F"))
      .withColumn("o_totalprice", lit(1.0))
      .withColumn("o_orderpriority", lit("1-URGENT"))
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val out = SparkEntry.queries("q_customer_churn")(spark, dir)
      .collect().map(r => (r.getAs[Long]("year_from"), r.getAs[Long]("year_to"),
        r.getAs[Long]("active_from"), r.getAs[Long]("active_to"),
        r.getAs[Long]("retained"), r.getAs[Long]("churned"),
        r.getAs[Long]("new_customers"), r.getAs[Long]("retention_ppm"))).toSeq
    assert(out === Seq(
      (1995L, 1996L, 3L, 4L, 2L, 1L, 2L, 666666L),
      (1996L, 1997L, 4L, 1L, 1L, 3L, 0L, 250000L)), s"churn table: $out")
  }

  test("merge_insert_overwrite_dynamic: untouched partitions carry their files verbatim") {
    def partFiles(status: String): Set[String] = {
      val out = Store.dir(spark, "dynover")
      val d = new java.io.File(s"$out/o_orderstatus=$status")
      if (!d.exists) Set.empty
      else d.listFiles.filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    }
    // first run lands base + applies the batch; snapshot the file lists by
    // re-running the op and capturing between the two writes is not
    // possible from outside, so instead: run the op once, record files,
    // re-apply ONLY the dynamic batch, and assert O/P partitions are the
    // untouched originals while F was replaced
    q("merge_insert_overwrite_dynamic").collect()
    val (o1, p1, f1) = (partFiles("O"), partFiles("P"), partFiles("F"))
    assert(o1.nonEmpty && p1.nonEmpty && f1.nonEmpty, "three partitions expected")
    val out = Store.dir(spark, "dynover")
    graft.Tables.load(spark, sfDir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
      .filter(org.apache.spark.sql.functions.col("o_orderstatus") === "F")
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("o_orderstatus").parquet(out)
    assert(partFiles("O") === o1 && partFiles("P") === p1,
      "dynamic overwrite rewrote partitions the batch never touched")
    assert(partFiles("F") !== f1,
      "the overwritten partition must carry NEW files")
  }

  test("docs_langid_confusion: cells sum to row totals; ppm within bounds") {
    val rows = q("docs_langid_confusion").collect()
    assert(rows.nonEmpty)
    val byActual = rows.groupBy(_.getAs[String]("actual_lang"))
    byActual.foreach { case (lang, cells) =>
      val tot = cells.head.getAs[Long]("n_actual")
      assert(cells.map(_.getAs[Long]("n_docs")).sum === tot,
        s"$lang cells don't sum to the row total")
      cells.foreach(c => assert(c.getAs[Long]("cell_ppm") >= 0L
        && c.getAs[Long]("cell_ppm") <= 1000000L, s"ppm out of range: $c"))
    }
  }

  test("docs_chunk_sliding_windows: 100 tokens -> two overlapping chunks; short doc -> one") {
    val dir = TestSpark.tempDir("graft_r13_ck_")
    val long100 = (1 to 100).map(i => s"t$i").mkString(" ")
    val short30 = (1 to 30).map(i => s"s$i").mkString(" ")
    Seq((1L, long100, "en"), (2L, short30, "en")).toDF("doc_id", "text", "lang")
      .withColumn("source", lit("s0"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("docs_chunk_sliding_windows")(spark, dir)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("chunk_idx"),
        r.getAs[Int]("start_tok"), r.getAs[Int]("n_tok"))).toSeq
    // 100 tokens: 1 + ceil(36/48) = 2 chunks — [1..64] and [49..100]
    // (16-token overlap); 30 tokens: one short chunk
    assert(out === Seq((1L, 0, 0, 64), (1L, 1, 48, 52), (2L, 0, 0, 30)),
      s"chunk table: $out")
  }

  test("agg_weighted_median: one heavy line outvotes many light ones") {
    val dir = TestSpark.tempDir("graft_r13_wm_")
    // flag A: five qty-1 lines at 1 cent (w=1 each) vs ONE qty-50 line at
    // $100 (w=10000): weight rank lands on 50; a plain median would say 1
    val rows = (1 to 5).map(i => (i.toLong, 1.0, 0.01, "A")) :+
      (6L, 50.0, 100.0, "A")
    rows.toDF("l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val out = SparkEntry.queries("agg_weighted_median")(spark, dir).collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getAs[Long]("w_total") === 10005L, s"weight total: $r")
    assert(r.getAs[Long]("med2x") === 100L && r.getAs[Double]("wmedian6") === 50.0,
      s"weighted median must be the heavy line's quantity: $r")
  }

  test("docs_chunk_dup_rate: a planted shared boilerplate chunk fires the detector") {
    val dir = TestSpark.tempDir("graft_r13_cd_")
    val boiler = (1 to 64).map(i => s"b$i").mkString(" ")
    // docs 1 and 2 share an identical 64-token head (their only chunk
    // window aligns exactly); doc 3 is unique
    val d3 = (1 to 40).map(i => s"u$i").mkString(" ")
    Seq((1L, boiler, "en"), (2L, boiler + "", "en"), (3L, d3, "en"))
      .toDF("doc_id", "text", "lang")
      .withColumn("source", lit("s0"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("docs_chunk_dup_rate")(spark, dir)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_chunks"), r.getAs[Long]("n_shared"),
          r.getAs[Long]("shared_ppm"))).toMap
    assert(out(1L) === ((1L, 1L, 1000000L)), s"doc 1: $out")
    assert(out(2L) === ((1L, 1L, 1000000L)), s"doc 2: $out")
    assert(out(3L) === ((1L, 0L, 0L)), s"unique doc must score 0: $out")
  }

  test("events_autocorr: a constant series has zero variance and null acf") {
    val usPerDayNs = 86400000000000L
    // one event per day for 10 days: x_t ≡ 1 ⇒ vx = vy = 0 ⇒ acf NULL
    val rows = (0 until 10).map(d =>
      ((d + 1).toLong, d * usPerDayNs + 1000000L, 1L, "view"))
    val dir = writeEvents(rows)
    val out = SparkEntry.queries("events_autocorr")(spark, dir).collect()
    assert(out.length === 7)
    out.foreach { r =>
      assert(r.getAs[Long]("vx_num") === 0L && r.getAs[Long]("vy_num") === 0L)
      assert(r.isNullAt(5), s"acf must be NULL on zero variance: $r")
    }
  }
}
