package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Round-8 hardening: the three carried verdict items that needed MACHINE
  * checks rather than row-count smoke tests.
  *
  *  - salt-spread metrics (VERDICT r4 #7 / r7 #7): prove, on a planted
  *    hot-key corpus, that the §2.3 salting pattern actually levels task
  *    input — not merely that the salted join returns the right rows.
  *  - time-series properties (r4 #9 / r7 #8): structural invariants of
  *    gapfill/concurrency/SCD2 that hold for EVERY input, checked against
  *    the real fixture, catching whole classes of bugs a single-oracle
  *    compare can miss (the oracle twin could share the same mistake).
  *  - MERGE idempotence (r4 #8 / r7 #6): re-merging the identical changes
  *    batch into the landed table must be a no-op — the property that makes
  *    a nightly MERGE safe to re-run after a partial failure.
  */
class Round8Spec extends GraftSuite {

  // ---------------------------------------------------------------- salting

  /** Rows per shuffle partition when `df` is hash-distributed on `exprs` —
    * exactly the per-task input of a shuffled join keyed on `exprs`. */
  private def partSizes(df: DataFrame, parts: Int, exprs: Column*): Seq[Long] =
    df.repartition(parts, exprs: _*)
      .rdd.mapPartitions(it => Iterator(it.size.toLong)).collect().toSeq

  private def medianL(xs: Seq[Long]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2).toDouble
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  test("salting levels a planted hot key: unsalted max task ≥8× median, salted ≤~2×") {
    val R = 8
    val n = 40000L
    // 80% of rows carry key=1 (the viral document / default supplier), the
    // rest spread over 100 cold keys — the distribution that melts one task.
    val fact = spark.range(n).select(
      when(col("id") % 5 =!= 0, lit(1L))
        .otherwise(pmod(xxhash64(col("id")), lit(100L)) + 2L).as("key"),
      col("id"))
    val unsalted = partSizes(fact, R, col("key"))
    // the §2.3 join_skew_salted pattern: deterministic row-level salt,
    // shuffle keys on (key, salt). Over-salt (64 buckets for 8 tasks) so the
    // hot key's buckets average out across tasks — with salt == task count,
    // two hot buckets hash-colliding into one task would re-create 2× skew,
    // the balls-in-bins effect the production pattern avoids the same way.
    val salted = partSizes(
      fact.withColumn("salt", pmod(xxhash64(col("id")), lit(64L))),
      R, col("key"), col("salt"))
    val skewRatio = unsalted.max / medianL(unsalted).max(1.0)
    val saltRatio = salted.max / medianL(salted).max(1.0)
    assert(skewRatio >= 8.0,
      s"planted skew did not materialize: unsalted partitions $unsalted (ratio $skewRatio)")
    assert(saltRatio <= 2.0,
      s"salting failed to spread the hot key: salted partitions $salted (ratio $saltRatio)")
    assert(salted.sum == n && unsalted.sum == n, "partition accounting lost rows")
  }

  // ---------------------------------------------------- time-series properties

  private val usPerHour = 3600000000L
  private lazy val eventsUs =
    Tables.load(spark, sfDir, "events")
      .withColumn("ts_us", Helpers.tsDivMicros(col("ts")))

  test("gapfill: per-user grid is exactly the [first,last] hour span — contiguous, complete, duplicate-free") {
    val out = q("events_gapfill").cache()
    try {
      // one row per (user, hour), hours stepped exactly 1h
      val grid = out.groupBy("user_id").agg(
        count(lit(1)).as("rows"),
        count_distinct(col("hour_us")).as("distinct_hours"),
        min("hour_us").as("lo"), max("hour_us").as("hi"))
      val spans = eventsUs.groupBy("user_id").agg(
        (call_function("div", min("ts_us"), lit(usPerHour)) * usPerHour).as("e_lo"),
        (call_function("div", max("ts_us"), lit(usPerHour)) * usPerHour).as("e_hi"))
      val bad = grid.join(spans, "user_id").filter(
        col("rows") =!= col("distinct_hours") ||            // duplicates
        col("lo") =!= col("e_lo") || col("hi") =!= col("e_hi") || // span ends
        col("rows") =!= (col("hi") - col("lo")) / usPerHour + 1)  // no gaps
      assert(bad.isEmpty, s"gapfill span violations:\n${bad.limit(5).collect().mkString("\n")}")
      // conservation: filled zeros add no mass — total cnt equals event count
      val total = out.agg(sum("cnt")).head.getLong(0)
      assert(total == eventsUs.count(), "gapfill changed the event count")
    } finally out.unpersist()
  }

  test("concurrency: 1 ≤ peak ≤ per-user event count; peak instant inside the user's active range") {
    val out = q("events_concurrency")
    val perUser = eventsUs.groupBy("user_id").agg(
      count(lit(1)).as("n_events"), min("ts_us").as("lo"), max("ts_us").as("hi"))
    val bad = out.join(perUser, "user_id").filter(
      col("max_concurrent") < 1 || col("max_concurrent") > col("n_events") ||
      col("first_peak_us") < col("lo") ||
      col("first_peak_us") > col("hi") + lit(1800000000L))
    assert(bad.isEmpty, s"concurrency bound violations:\n${bad.limit(5).collect().mkString("\n")}")
    assert(out.count() == perUser.count(), "one peak row per user")
  }

  test("scd2: intervals partition each user's timeline — contiguous, one open row, types alternate") {
    import org.apache.spark.sql.expressions.Window
    val out = q("scd2_type_history")
    val w = Window.partitionBy("user_id").orderBy("valid_from_us", "event_id")
    val seq = out.select(col("user_id"), col("event_type"), col("valid_from_us"),
      col("valid_to_us"), col("is_current"),
      lead("valid_from_us", 1).over(w).as("next_from"),
      lead("event_type", 1).over(w).as("next_type"))
    // contiguity: every closed interval ends exactly where the next begins;
    // exactly the last row is open; consecutive runs change type
    val bad = seq.filter(
      (col("next_from").isNotNull &&
        (col("valid_to_us") =!= col("next_from") || col("is_current") =!= 0)) ||
      (col("next_from").isNull &&
        (col("valid_to_us").isNotNull || col("is_current") =!= 1)) ||
      (col("next_type").isNotNull && col("next_type") === col("event_type")))
    assert(bad.isEmpty, s"SCD2 timeline violations:\n${bad.limit(5).collect().mkString("\n")}")
    // coverage: each user's first interval starts at their first event
    val firsts = out.groupBy("user_id").agg(min("valid_from_us").as("f"))
      .join(eventsUs.groupBy("user_id").agg(min("ts_us").as("e")), "user_id")
      .filter(col("f") =!= col("e"))
    assert(firsts.isEmpty, "SCD2 history does not start at the first event")
  }

  // ------------------------------------------------------------- profiler plan

  test("profile_table_stats: every scan is pruned to a single column") {
    // the r8 re-plan's whole point: per-column subtrees read ONE parquet
    // column each (total I/O = one full-table read), instead of the Expand
    // shape's full-width rows copied (N_cols+1)x. A regression that widens
    // a ReadSchema re-introduces the 5x cost. Since r20 the registry op
    // assembles from per-table checkpointed blocks (its final plan is an
    // ExistingRDD union), so the pin probes the BLOCK plans the op runs.
    val blocks = operators.Profiling.profileTableBlocks(spark, sfDir)
    assert(blocks.nonEmpty)
    for ((tn, df) <- blocks) {
      df.collect()
      val reads = """ReadSchema: struct<[^>]*>""".r
        .findAllIn(df.queryExecution.executedPlan.toString).toList
      assert(reads.nonEmpty, s"no FileScan ReadSchema in the $tn profile plan")
      val wide = reads.filter(_.count(_ == ':') > 2) // >1 field = >1 ':' beyond prefix
      assert(wide.isEmpty, s"$tn profiler scans read more than one column: $wide")
    }
  }

  // ------------------------------------------------------------ MERGE landing

  test("merge_upsert lands the dimension; re-merging the same batch is a no-op") {
    // first application: runs the registry op, which lands the table in
    // its Store directory and serves the result from the landed files
    val landed = q("merge_upsert").collect()
    assert(landed.nonEmpty)
    // idempotence: landed table as the new target, the SAME changes batch —
    // values must be byte-identical (every matched row re-updates to the
    // value it already has; no phantom inserts/deletes)
    val changes = operators.Profiling.latestOrderChanges(
      Tables.load(spark, sfDir, "orders"))
    val target2 = spark.read.parquet(Store.dir(spark, "merge_customer"))
      .select(col("c_custkey"), col("c_name"), col("acctbal").as("c_acctbal"))
    val again = operators.Profiling.mergeInto(target2, changes)
      .orderBy("c_custkey").collect()
    assert(again.length == landed.length,
      s"re-merge changed cardinality: ${landed.length} -> ${again.length}")
    landed.zip(again).foreach { case (a, b) =>
      assert(a == b, s"re-merge changed a row: $a -> $b")
    }
    // and the landed layout prunes: was_updated is a partition column
    val plan = spark.read.parquet(Store.dir(spark, "merge_customer"))
      .filter(col("was_updated") === 0).queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("was_updated"),
      s"was_updated filter must prune partitions:\n$plan")
  }
}
