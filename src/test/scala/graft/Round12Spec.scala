package graft

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Round-12 locks: (1) the bench action must EXECUTE cardinality-preserving
  * operators (VERDICT r11 #2 — `.count()` let the optimizer delete
  * unfiltered windows, so win_* benched at bare-scan cost), and (2)
  * golden-plan locks for the round-11 scale rewrites not yet covered by
  * PlanSpec (cusum day-sharded carry, token-budget histogram pre-cut,
  * interval-overlap broadcast grid).
  */
class Round12Spec extends GraftSuite {

  test("bench action: noop materialization executes the Window exec that .count() prunes") {
    val df = q("win_rank_dense_row")
    // the OLD action's plan: an unfiltered window chain under a bare
    // count() is cardinality-preserving, so the optimizer deletes the
    // windows — this is the measured §4.2.11 prune that made the seven
    // pure-window ops bench at scan cost
    val countPlan = df.groupBy().count().queryExecution.executedPlan.toString
    assert(!countPlan.contains("Window"),
      s"count() no longer prunes the window — re-evaluate the bench action rationale:\n$countPlan")
    // the NEW action: capture the plan the noop write ACTUALLY executes
    @volatile var writePlan: String = ""
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val p = qe.executedPlan.toString
        if (p.contains("Window")) writePlan = p
      }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      Bench.materialize(df)
      // QueryExecutionListener delivery is async — poll, bounded
      val deadline = System.nanoTime() + 10_000_000_000L
      while (writePlan.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    } finally spark.listenerManager.unregister(listener)
    assert(writePlan.contains("Window"),
      "the bench action's executed plan never contained the Window exec " +
        "(either the noop write pruned it or the listener saw no such plan)")
  }

  test("events_cusum_drift: running sum stays day-sharded (no per-type global row sort)") {
    import org.apache.spark.sql.catalyst.plans.logical
    // The r11 100x finding: a single Window.partitionBy(event_type)
    // running sum puts ALL of a type's rows in one task (15.1x wall at
    // 100x). The fix shards by (event_type, day) with a broadcast
    // carry — so the plan must contain >= 2 two-key windows (the local
    // cumsum and the per-day argmax); a revert to the naive shape
    // leaves only one-key windows.
    val wins = q("events_cusum_drift").queryExecution.optimizedPlan.collect {
      case w: logical.Window => w.partitionSpec.size
    }
    assert(wins.count(_ >= 2) >= 2,
      s"day-sharded windows missing (partition-key sizes: $wins) — " +
        "the per-type global running sum is the measured 15x-at-100x shape")
  }

  test("docs_token_budget_fill: histogram pre-cut gates the exact window") {
    val df = q("docs_token_budget_fill")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("q_min"),
      s"histogram pre-cut (q_min) vanished — exact cumsum would run over the full corpus:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the lang-level cut must join broadcast (it is |langs|-sized):\n$p")
  }

  test("agg_median/agg_percentiles_exact: distributed selection, never a table-sized group sort") {
    // §4.2.12: the old one-window-per-group shape measured 22.6x at the
    // 100x orders probe. The selection shape's signature is the
    // cell-locate join (in_cell_rk); its only windows run over bounded
    // cell counts or single-cell row sets.
    for (name <- Seq("agg_median", "agg_percentiles_exact")) {
      val df = q(name)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("in_cell_rk"),
        s"$name lost the two-pass distributed selection (cell locate):\n$p")
    }
  }

  test("scan_time_travel: the as-of-0 read contains none of the v1-appended rows") {
    import org.apache.spark.sql.functions._
    val base = operators.Scans.snapshotTable(spark, sfDir, "tt_spec")
    val asOf0 = operators.Scans.readAsOf(spark, base, 0)
    // v1 rows are shifted to keys >= 1000 / regions >= 100 — none may leak
    assert(asOf0.filter(col("n_nationkey") >= 1000 || col("n_regionkey") >= 100)
      .count() === 0L, "as-of-0 read leaked v1 rows")
    // and the snapshot is complete: exactly the source table
    val src = Tables.load(spark, sfDir, "nation")
    assert(asOf0.count() === src.count())
    assert(asOf0.except(src).isEmpty && src.except(asOf0).isEmpty)
    // v1 sees both commits; the file-level diff is exactly the c1 files
    assert(operators.Scans.readAsOf(spark, base, 1).count() === 2 * src.count())
    val added = operators.Scans.changedFiles(spark, base, 0, 1)
    assert(added.nonEmpty && added.forall(_.contains("/data/c1/")),
      s"change capture picked non-c1 files: $added")
  }

  test("maintenance_vacuum: orphans deleted, committed files intact") {
    import org.apache.spark.sql.functions._
    // run the op (it builds + vacuums its own table), then inspect disk
    q("maintenance_vacuum").collect()
    val base = Store.dir(spark, "vacuum")
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(new org.apache.hadoop.fs.Path(s"$base/data"), true)
    var survivors = List.empty[String]
    while (it.hasNext) {
      val p = it.next().getPath
      if (p.getName.endsWith(".parquet")) survivors ::= p.toString
    }
    assert(!survivors.exists(_.contains("/c_failed/")),
      s"vacuum left orphan files: ${survivors.filter(_.contains("c_failed"))}")
    assert(survivors.exists(_.contains("/c0/")) && survivors.exists(_.contains("/c1/")),
      s"vacuum deleted committed files: $survivors")
    // and the directory read equals the manifest read
    val dirRead = spark.read.option("recursiveFileLookup", "true").parquet(s"$base/data")
    assert(dirRead.count() === 2 * Tables.load(spark, sfDir, "nation").count())
  }

  test("layout_compact_small_files: 64 splinters collapse to the bin-packed count") {
    q("layout_compact_small_files").collect()
    val base = Store.dir(spark, "compact")
    def nParquet(sub: String) = new java.io.File(s"$base/$sub")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(nParquet("small") === 64, "splinter fixture did not write 64 files")
    // fixture bytes << 128 MB, so the bin-pack target is one file
    assert(nParquet("compacted") === 1,
      s"expected 1 compacted file, got ${nParquet("compacted")}")
    // lossless: row counts agree
    assert(spark.read.parquet(s"$base/compacted").count() ===
      Tables.load(spark, sfDir, "orders").count())
  }

  test("join_interval_overlap: busy-hour grid broadcasts; no cartesian") {
    val df = q("join_interval_overlap")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"time-span-bounded hour grid must broadcast under the range predicate:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"interval join degenerated to a cartesian product:\n$p")
  }
}
