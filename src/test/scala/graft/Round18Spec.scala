package graft

import org.apache.spark.sql.functions._

/** Round-18 hardening contracts (VERDICT r17):
  *  #1 stream_cc_maintain delta landing — write bytes track touched
  *     labels, not corpus; the store is never rewritten.
  *  #3 range-partitioned global ranking — rangedCumSum/ntileFromRank
  *     equal the single-task global-Window semantics bit-for-bit.
  *  ADVICE — packSmallFiles passes large files through untouched.
  */
class Round18Spec extends GraftSuite {
  import spark.implicits._

  test("stream_cc_maintain: per-wave delta writes are wave-scaled, store never rewritten") {
    val receipts = q("stream_cc_maintain").collect()
      .map(r => r.getLong(0) -> r.getLong(5)).toMap // wave -> n_delta_rows
    val base = streaming.Streaming.ccStoreDir(spark)
    def dirRows(p: String): Long =
      try spark.read.parquet(p).count() catch { case _: Throwable => -1L }
    def dirBytes(p: String): Long = {
      val f = new java.io.File(p)
      if (!f.exists()) -1L
      else f.listFiles().filter(_.getName.endsWith(".parquet")).map(_.length).sum
    }
    val storeRows = spark.read.parquet(s"$base/labels/v0").count()
    var deltaRowsTot = 0L
    for (w <- 0 to 2) {
      // r20: one combined commit file per wave — kind=0 wave rows,
      // kind=1 relabel pairs
      def kindRows(k: Int): Long =
        try spark.read.parquet(s"$base/labels/delta/b$w")
          .filter(col("kind") === k).count()
        catch { case _: Throwable => -1L }
      val wr = kindRows(0)
      val rr = kindRows(1)
      assert(wr >= 0 && rr >= 0, s"wave $w delta dir missing")
      // the receipt's n_delta_rows IS the landed delta (oracle-checked
      // against the reach-CTE ground truth)
      assert(wr + rr === receipts(w.toLong),
        s"wave $w landed ${wr + rr} delta rows, receipt says ${receipts(w.toLong)}")
      deltaRowsTot += wr + rr
    }
    // write-amplification contract in ROWS (the scale-honest unit at
    // fixture size — parquet footers dominate byte counts here): all
    // three waves together land fewer rows than ONE base-store copy
    // (the batch is ~10% of the corpus; r17 rewrote the full store
    // three times)
    assert(deltaRowsTot < storeRows,
      s"delta rows $deltaRowsTot not wave-scaled vs store $storeRows")
    assert(dirBytes(s"$base/labels/v0") > 0)
    // the store is never versioned-over PER WAVE (r19 amendment: the only
    // non-delta write is the K-amortized checkpoint — v2 under K=2; a v1
    // or v3 would mean per-wave rewrites regressed)
    assert(!new java.io.File(s"$base/labels/v1").exists())
    assert(!new java.io.File(s"$base/labels/v3").exists())
    assert(new java.io.File(s"$base/labels/v2").exists(),
      "K=2 checkpoint labels/v2 missing")
  }

  test("rangedCumSum == global-Window running sum on seeded random frames") {
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(300 + seed)
      val rows = (0L until 500L).map(i =>
        (i, rnd.nextInt(40).toLong, rnd.nextInt(1000).toLong))
      val df = rows.toDF("id", "k", "wgt").repartition(7)
      val sort = Seq(col("k").desc, col("id"))
      val got = Helpers.rangedCumSum(df, col("wgt"), sort, "cum")
        .select("id", "cum").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // ground truth: driver-side scan in the same total order
      var acc = 0L
      val exp = rows.sortBy { case (id, k, _) => (-k, id) }
        .map { case (id, _, w) => acc += w; id -> acc }.toMap
      assert(got === exp, s"seed $seed: ranged cumsum diverged")
    }
  }

  test("ntileFromRank == ntile().over(global Window) for k = 3,4,7,10") {
    import org.apache.spark.sql.expressions.Window
    for (seed <- 1 to 2; k <- Seq(3, 4, 7, 10)) {
      val rnd = new scala.util.Random(400 + seed)
      val n = 37 + rnd.nextInt(200) // deliberately not divisible by k
      val rows = (0L until n.toLong).map(i => (i, rnd.nextInt(50).toLong))
      val df = rows.toDF("id", "v")
      val sort = Seq(col("v").desc, col("id"))
      val exp = df.withColumn("b", ntile(k).over(Window.orderBy(sort: _*)))
        .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
      val tot = df.agg(count(lit(1)).as("__n"))
      val got = Helpers.rangedRowNumber(df.crossJoin(broadcast(tot)), sort, "__rn")
        .withColumn("b", Helpers.ntileFromRank(col("__rn"), col("__n"), k))
        .collect().map(r => r.getLong(0) -> r.getAs[Int]("b")).toMap
      assert(got === exp, s"seed $seed k=$k: ntile reconstruction diverged")
    }
  }

  test("rangedCumSum edges: single row, frame smaller than partition count, ties impossible") {
    // one row: cum == weight, no offset
    val one = Seq((7L, 3L)).toDF("id", "w")
    assert(Helpers.rangedCumSum(one, col("w"), Seq(col("id")), "cum")
      .select("cum").head.getLong(0) === 3L)
    // 5 rows entering on 3 input partitions; the empty/thin-shard edge
    // under test comes from the repartitionByRange INSIDE rangedCumSum
    // (the suite's 4 shuffle partitions vs 5 rows leaves range shards
    // near-empty) — offsets must still reconstruct the exact running sum
    val few = Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L), (5L, 50L))
      .toDF("id", "w").repartition(3)
    val got = Helpers.rangedCumSum(few, col("w"), Seq(col("id")), "cum")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got === Map(1L -> 10L, 2L -> 30L, 3L -> 60L, 4L -> 100L, 5L -> 150L))
  }

  test("packSmallFiles: an ALL-LARGE layout packs nothing and serves pass-through only") {
    // exercises the max(nBins, 1) empty-plan branch: every file is above
    // the cutoff, the compacted dir must land readable-but-empty, and
    // the merged read must be exactly the untouched originals
    val base = Store.fresh(spark, "pack_all_large")
    (0L until 4000L).map(i => (i, i * 2654435761L % 1000003L, i % 2))
      .toDF("id", "v", "p")
      .repartition(2).write.partitionBy("p").parquet(s"$base/small")
    val (allRows, planBins, passThrough) =
      operators.Profiling.packSmallFiles(spark, base, "p", 1L) // 1-byte cutoff: nothing is small
    assert(planBins.count() === 0L, "nothing should be planned for packing")
    assert(passThrough.count() >= 2L, "every file must pass through")
    assert(allRows.count() === 4000L)
    // no compacted store is written at all — the correct no-op for a
    // healthy layout (a zero-row partitionBy write would land an
    // unreadable schema-less dir)
    assert(!new java.io.File(s"$base/compacted").exists(),
      "an all-large layout must not write a compacted store")
  }

  test("AQE skew join: OptimizeSkewedJoin fires on a fixture-derived skewed key (plan lock)") {
    // VERDICT r17 #6: §4's 100-TB story claims AQE handles residual join
    // skew (salting is the planned-skew treatment, join_skew_salted);
    // nothing pinned that the runtime path actually FIRES. Build a
    // genuinely skewed join from fixture events — 80% of rows collapse
    // onto one hot key — force a sort-merge join, drop the AQE skew
    // thresholds to fixture scale, and assert the executed final plan
    // carries the split ("skew=true" on the SortMergeJoin), with the
    // result identical to the unsplit join.
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "2KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1KB",
      // coalescing would re-merge the split partitions' neighbors and
      // muddy the assertion; the skew split itself is what's under test
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // sf0.01 + an 8-way round-robin spread: a skewed REDUCE partition
      // can only be split along map-output boundaries, so the hot side
      // needs several upstream map tasks (the sf0.001 single-file scan
      // gives one block — unsplittable by construction)
      val e = Tables.load(spark, "/root/testdata/sf0.01", "events")
        .repartition(8)
      // hot key: 80% of the stream lands on customer key 1. The dim side
      // must be a RAW keyed table — OptimizeSkewedJoin matches only
      // SMJ(Sort(stage), Sort(stage)); a distinct/aggregate dim leaves a
      // HashAggregate between stage and sort and the rule never fires
      // (measured here: the debugging finding this spec pins)
      val skewed = e.select(
        when(pmod(col("user_id"), lit(10L)) < 8, lit(1L))
          .otherwise(col("user_id")).as("k"),
        col("value"))
      val dim = Tables.load(spark, "/root/testdata/sf0.01", "customer")
        .select(col("c_custkey").as("k"),
          pmod(col("c_nationkey"), lit(7L)).as("tag"))
      // carry the value payload through the join so the hot partition's
      // shuffle bytes stay above the (compressed-size) skew threshold
      val joined = skewed.join(dim, Seq("k"))
        .groupBy("tag").agg(count(lit(1)).as("n"),
          sum(col("value").cast("double")).as("sv"))
      val rows = joined.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"OptimizeSkewedJoin did not fire on the hot partition:\n$plan")
      // correctness under the split: identical to the broadcast answer
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10MB")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "10MB")
      val expect = skewed.join(broadcast(dim), Seq("k"))
        .groupBy("tag").agg(count(lit(1)).as("n"),
          sum(col("value").cast("double")).as("sv"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(rows === expect, "skew-split join changed the result")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("packSmallFiles: large files pass through untouched, small files pack to plan") {
    val base = Store.fresh(spark, "pack_test")
    // mixed layout: one large file in p=0 (hash-valued longs resist
    // parquet delta encoding) + 12 round-robin splinters across p=0/1
    (0L until 20000L).map(i => (i, i * 2654435761L % 1000003L, 0L))
      .toDF("id", "v", "p")
      .coalesce(1).write.partitionBy("p").parquet(s"$base/small")
    (0L until 1200L).map(i => (i + 100000L, i * 40503L % 65521L, i % 2))
      .toDF("id", "v", "p")
      .repartition(6).write.mode("append").partitionBy("p").parquet(s"$base/small")
    def files(): Seq[java.io.File] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
      walk(new java.io.File(s"$base/small"))
    }
    val before = files().map(f => f.getPath -> ((f.length, f.lastModified))).toMap
    val bigPath = before.maxBy(_._2._1)._1
    val sizes = before.values.map(_._1).toSeq.sorted
    val thresh = (sizes.init.max + sizes.max) / 2 // between 2nd-largest and largest
    val (allRows, planBins, passThrough) =
      operators.Profiling.packSmallFiles(spark, base, "p", thresh)
    // exactly the big file passed through (paths come back as file: URIs
    // — compare by the unique part-file name), and it is BYTE-UNTOUCHED
    val pt = passThrough.select("path").collect().map(_.getString(0))
    assert(pt.length === 1 &&
      pt.head.endsWith(new java.io.File(bigPath).getName),
      s"pass-through ${pt.toSeq} is not the large file $bigPath")
    val after = files().map(f => f.getPath -> ((f.length, f.lastModified))).toMap
    assert(after === before, "packSmallFiles modified the source layout")
    // merged read-back = the full original table
    assert(allRows.count() === 21200L)
    assert(allRows.agg(sum(col("v"))).head.getLong(0) ===
      spark.read.parquet(s"$base/small").agg(sum(col("v"))).head.getLong(0))
    // compacted bins on disk match the plan, one file per bin, and the
    // big file's rows are NOT in them
    // partition-dir columns read back as Int — normalize both sides long
    val plan = planBins.collect()
      .map(r => (r.getAs[Number]("part").longValue,
        r.getAs[Number]("bin_id").longValue) -> r.getLong(3)).toMap
    val disk = spark.read.parquet(s"$base/compacted")
      .groupBy(col("p").cast("long").as("p"),
        col("bin_id").cast("long").as("bin_id"))
      .agg(count(lit(1)).as("rows"),
        countDistinct(col("_metadata.file_path")).as("nf"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(disk.keySet === plan.keySet)
    disk.foreach { case (bin, (rows, nf)) =>
      assert(nf === 1L, s"bin $bin splintered")
      assert(rows === plan(bin))
    }
    assert(disk.values.map(_._1).sum === 1200L,
      "compacted rows must be exactly the splinter rows")
  }
}
