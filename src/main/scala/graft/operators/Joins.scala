package graft.operators

import graft.{OpRegistry, Store}
import graft.Helpers._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** §2.3 Joins — every shape. Physical strategy notes (scale design):
  *  - broadcast for dimension tables (part/nation/region/customer at real
  *    scale factors stay far below autoBroadcastJoinThreshold's role here,
  *    pinned with hints for plan determinism);
  *  - shuffle-hash / sort-merge pinned via hints where the op id names them;
  *  - the as-of join is a union + carry-forward window (O(n log n), one
  *    shuffle on user_id), not a per-key quadratic self-join;
  *  - the interval join keys on its equi component (hash) with the range
  *    as residual predicate, and is candidate-bounded so the intermediate
  *    stays linear in the probe side at any SF.
  */
object Joins extends OpRegistry {

  private val usPerDay = 86400000000L // micros per day
  private val epoch20240101us = 1704067200000000L // 2024-01-01T00:00Z

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "join_inner_hash" -> ((s, dir) => {
      val tt = t(s, dir) _
      tt("orders").hint("shuffle_hash")
        .join(tt("customer"), col("o_custkey") === col("c_custkey"), "inner")
        .select("o_orderkey", "o_custkey", "c_name", "o_totalprice")
        .orderBy("o_orderkey")
    }),
    "join_broadcast" -> ((s, dir) => {
      val tt = t(s, dir) _
      tt("lineitem")
        .join(broadcast(tt("part")), col("l_partkey") === col("p_partkey"))
        .select("l_orderkey", "l_linenumber", "p_name", "p_brand", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")
    }),
    "join_sortmerge" -> ((s, dir) => {
      val tt = t(s, dir) _
      tt("lineitem").hint("merge")
        .join(tt("orders"), col("l_orderkey") === col("o_orderkey"))
        .select("l_orderkey", "l_linenumber", "o_orderdate", "o_totalprice")
        .orderBy("l_orderkey", "l_linenumber")
    }),
    "join_left_outer" -> ((s, dir) => {
      val tt = t(s, dir) _
      val p = tt("orders").filter(col("o_orderstatus") === "P")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      tt("customer").join(p, col("c_custkey") === col("o_custkey"), "left")
        .select("c_custkey", "c_name", "o_orderkey", "o_totalprice")
        .orderBy(col("c_custkey"), col("o_orderkey").asc_nulls_first)
    }),
    "join_right_outer" -> ((s, dir) => {
      val tt = t(s, dir) _
      val p = tt("orders").filter(col("o_orderstatus") === "P")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      p.join(tt("customer"), col("c_custkey") === col("o_custkey"), "right")
        .select("c_custkey", "c_name", "o_orderkey", "o_totalprice")
        .orderBy(col("c_custkey"), col("o_orderkey").asc_nulls_first)
    }),
    "join_full_outer" -> ((s, dir) => {
      val tt = t(s, dir) _
      tt("nation").join(tt("supplier"), col("n_nationkey") === col("s_nationkey"), "full")
        .select("n_nationkey", "n_name", "s_suppkey", "s_name")
        .orderBy(col("n_nationkey").asc_nulls_first, col("s_suppkey").asc_nulls_first)
    }),
    "join_left_semi" -> ((s, dir) => {
      val tt = t(s, dir) _
      val f = tt("orders").filter(col("o_orderstatus") === "F")
      tt("customer").join(f, col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    }),
    "join_left_anti" -> ((s, dir) => {
      val tt = t(s, dir) _
      val p = tt("orders").filter(col("o_orderstatus") === "P")
      tt("customer").join(p, col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    }),
    "join_cross" -> ((s, dir) => {
      val tt = t(s, dir) _
      tt("region").crossJoin(tt("part").filter(col("p_size") < 5))
        .select("p_partkey", "r_regionkey", "r_name", "p_name")
        .orderBy("p_partkey", "r_regionkey")
    }),
    "join_theta_band" -> ((s, dir) => {
      val sup = t(s, dir)("supplier").select("s_suppkey", "s_acctbal")
      val s1 = sup.select(col("s_suppkey").as("suppkey1"), col("s_acctbal").as("bal1"))
      val s2 = sup.select(col("s_suppkey").as("suppkey2"), col("s_acctbal").as("bal2"))
      s1.join(broadcast(s2),
          abs(col("bal1") - col("bal2")) < 100 && col("suppkey1") < col("suppkey2"))
        .orderBy("suppkey1", "suppkey2")
    }),
    "join_range_interval" -> ((s, dir) => {
      // Events inside [anchor, anchor+7d) where anchor = 2024-01-01 +
      // (o_orderkey % 28) days, bridged on user_id = o_orderkey % 15.
      // All-integer epoch-micro arithmetic (D4) — no timestamp dialects.
      // Candidate-bounded (o_orderkey % 97 = 0) and aggregated so the
      // intermediate stays small at every SF.
      val tt = t(s, dir) _
      val o = tt("orders").filter(col("o_orderkey") % 97 === 0)
        .select(col("o_orderkey"),
          (lit(epoch20240101us) + (col("o_orderkey") % 28) * usPerDay).as("anchor_us"),
          (col("o_orderkey") % 15).as("bridge_user"))
      val e = tt("events")
        .select(col("event_id"), col("user_id"), tsDivMicros(col("ts")).as("ts_us"), col("value"))
      o.join(e, col("bridge_user") === col("user_id")
          && col("ts_us") >= col("anchor_us")
          && col("ts_us") < col("anchor_us") + lit(7L * usPerDay))
        .groupBy("o_orderkey")
        .agg(count(lit(1)).as("evt_cnt"), decSumOut(col("value")).as("sum_value"))
        .orderBy("o_orderkey")
    }),
    "join_lateral_topn" -> ((s, dir) => {
      // Correlated LATERAL subquery with per-row LIMIT: top-2 orders per
      // customer. A distinct join shape from win_topk_per_group — the limit
      // runs inside the correlated subquery. Spark decorrelates it to a
      // ranked window under the hood; DuckDB executes it as a lateral join.
      Seq("customer", "orders")
        .foreach(n => graft.Tables.load(s, dir, n).createOrReplaceTempView(n))
      s.sql("""
        SELECT c_custkey, o.o_orderkey, o.o_totalprice
        FROM customer,
        LATERAL (SELECT o_orderkey, o_totalprice FROM orders
                 WHERE o_custkey = c_custkey
                 ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
        ORDER BY c_custkey, o.o_totalprice DESC, o.o_orderkey""")
    }),

    "join_bucketed_noshuffle" -> ((s, dir) => {
      // The 100-TB co-located join: both sides written bucketed+sorted on
      // the join key, so the join needs NO shuffle and NO sort — the
      // bucketed scans feed SortMergeJoin directly (PlanSpec asserts zero
      // Exchange operators in the join subtree). This is the pattern that
      // turns an everyday fact-dim join from a full-network shuffle into a
      // local merge at scale.
      val tt = t(s, dir) _
      // DROP + mode(overwrite) replaces both catalog entry and files
      val base = Store.dir(s, "bucketed")
      s.sql("DROP TABLE IF EXISTS graft_b_orders")
      s.sql("DROP TABLE IF EXISTS graft_b_customer")
      tt("orders").select("o_orderkey", "o_custkey", "o_totalprice")
        .write.mode("overwrite").option("path", s"$base/orders")
        .bucketBy(8, "o_custkey").sortBy("o_custkey").saveAsTable("graft_b_orders")
      tt("customer").select("c_custkey", "c_name")
        .write.mode("overwrite").option("path", s"$base/customer")
        .bucketBy(8, "c_custkey").sortBy("c_custkey").saveAsTable("graft_b_customer")
      // merge hint pins the bucketed-SMJ path (at fixture scale Spark would
      // otherwise broadcast the small side — also shuffle-free, but the
      // point here is the co-located merge that survives both sides huge)
      s.table("graft_b_orders").hint("merge")
        .join(s.table("graft_b_customer"), col("o_custkey") === col("c_custkey"))
        .groupBy("c_custkey", "c_name")
        .agg(count(lit(1)).as("orders"), decSumOut(col("o_totalprice")).as("total"))
        .orderBy("c_custkey")
    }),

    "join_skew_salted" -> ((s, dir) => {
      // The 100-TB hot-key pattern: when one join key carries a huge share
      // of the fact rows (a viral document, a default supplier), hash
      // partitioning sends that key's entire volume to ONE task. Salting
      // splits it R ways: the fact side gets a deterministic salt in [0,R),
      // the dim side is replicated R times (R× a DIM table is still tiny),
      // and the join keys on (key, salt) — the hot key now spreads over R
      // tasks. Logically identical to the plain join (oracle = plain SQL
      // join; salt is physical-only), same shape AQE skew-split produces at
      // runtime, but explicit and planner-independent.
      val R = 8
      val tt = t(s, dir) _
      val fact = tt("lineitem").select(col("l_suppkey"), col("l_extendedprice"),
        pmod(xxhash64(col("l_orderkey"), col("l_linenumber")), lit(R)).as("fsalt"))
      val dim = tt("supplier").select(col("s_suppkey"), col("s_nationkey"))
        .withColumn("dsalt", explode(array((0 until R).map(i => lit(i.toLong)): _*)))
      fact.hint("shuffle_hash")
        .join(dim, col("l_suppkey") === col("s_suppkey") && col("fsalt") === col("dsalt"))
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("items"), decSumOut(col("l_extendedprice")).as("revenue"))
        .orderBy("s_nationkey")
    }),

    "join_null_safe" -> ((s, dir) => {
      // Null-safe equality join (<=>): NULL keys match NULL keys instead of
      // vanishing — the join form that keeps unknown-key rows groupable.
      // The fixture has no null keys, so both sides derive one (nationkey
      // 0 → NULL) and the null bucket provably joins: plain = would drop
      // every 0-key customer, <=> pairs them with the nulled nation row.
      val c = t(s, dir)("customer").select(col("c_custkey"),
        when(col("c_nationkey") === 0, lit(null)).otherwise(col("c_nationkey")).as("ck"))
      val n = t(s, dir)("nation").select(col("n_name"),
        when(col("n_nationkey") === 0, lit(null)).otherwise(col("n_nationkey")).as("nk"))
      c.join(broadcast(n), col("ck") <=> col("nk"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("customers"), min(col("c_custkey")).as("min_cust"))
        .orderBy("n_name")
    }),

    "join_asof" -> ((s, dir) => {
      // For each 'purchase', the latest preceding 'click' of the same user:
      // union + carry-forward max over (user, time) — single shuffle,
      // no quadratic per-key join. Tie order: (ts, event_id).
      // D4: emitted times are epoch MICROS — DuckDB reads TIMESTAMP(NANOS)
      // parquet at micro precision, so raw-nanos output can never match
      // (VERDICT r1 #2); `ts div 1000` on both sides is exact.
      val e = t(s, dir)("events")
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("event_id"), col("user_id"),
          tsDivMicros(col("ts")).as("ts_us"), col("event_type"))
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      e.withColumn("last_click_ts",
          max(when(col("event_type") === "click", col("ts_us"))).over(w))
        .filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts_us", "last_click_ts")
        .orderBy("event_id")
    }),

    "join_asof_tolerance" -> ((s, dir) => {
      // Tolerance-bounded as-of (round 12): join_asof's backward carry
      // with a max-staleness bound — pandas merge_asof(tolerance=…) /
      // kdb-style "within": a click more than 1h before the purchase is
      // NO match (stale quotes must not price trades). Same single
      // user_id shuffle and O(1)-state carry as join_asof; the bound is
      // a post-carry projection, so tolerance is free at any scale —
      // never a per-key range join.
      val tolUs = 3600000000L
      val e = t(s, dir)("events")
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("event_id"), col("user_id"),
          tsDivMicros(col("ts")).as("ts_us"), col("event_type"))
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      e.withColumn("last_click_ts",
          max(when(col("event_type") === "click", col("ts_us"))).over(w))
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts_us"),
          when(col("ts_us") - col("last_click_ts") <= tolUs,
            col("last_click_ts")).as("click_ts_within"))
        .orderBy("event_id")
    }),

    "join_asof_forward" -> ((s, dir) => {
      // Forward as-of: for each 'click', the EARLIEST following
      // 'purchase' of the same user — the forward twin of join_asof's
      // backward carry, as a min-carry over (currentRow,
      // unboundedFollowing). Same single user_id shuffle, no per-key
      // join, O(1) state per row; frame-peer semantics at equal ts are
      // identical ROWS-frame inclusion on both engines.
      val e = t(s, dir)("events")
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("event_id"), col("user_id"),
          tsDivMicros(col("ts")).as("ts_us"), col("event_type"))
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      e.withColumn("next_purchase_ts",
          min(when(col("event_type") === "purchase", col("ts_us"))).over(w))
        .filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts_us", "next_purchase_ts")
        .orderBy("event_id")
    }),

    "join_asof_nearest" -> ((s, dir) => {
      // Nearest as-of (round 11): for each 'click', the purchase of the
      // same user CLOSEST in time in either direction — the third
      // standard as-of mode (backward = join_asof, forward =
      // join_asof_forward), what sensor/trade alignment means by "the
      // matching reading". Composes the two carries over the SAME
      // user_id exchange and order key (Catalyst reuses the sort; still
      // one shuffle, O(1) state per row, no per-key join), then picks
      // the smaller gap with ties to the EARLIER side. ROWS-frame
      // semantics at equal timestamps are identical on both engines
      // because the order key includes event_id.
      val e = t(s, dir)("events")
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("event_id"), col("user_id"),
          tsDivMicros(col("ts")).as("ts_us"), col("event_type"))
      val ord = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val wb = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wf = ord.rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val isP = col("event_type") === "purchase"
      val nearest =
        when(col("prev_p").isNull, col("next_p"))
          .when(col("next_p").isNull, col("prev_p"))
          .when(col("ts_us") - col("prev_p") <= col("next_p") - col("ts_us"),
            col("prev_p"))
          .otherwise(col("next_p"))
      e.withColumn("prev_p", max(when(isP, col("ts_us"))).over(wb))
        .withColumn("next_p", min(when(isP, col("ts_us"))).over(wf))
        .filter(col("event_type") === "click")
        .withColumn("nearest_purchase_ts", nearest)
        .select(col("event_id"), col("user_id"), col("ts_us"),
          col("nearest_purchase_ts"),
          abs(col("ts_us") - col("nearest_purchase_ts")).as("gap_us"),
          when(col("nearest_purchase_ts").isNull, "none")
            .when(col("nearest_purchase_ts") <= col("ts_us"), "back")
            .otherwise("fwd").as("direction"))
        .orderBy("event_id")
    }),

    "join_interval_overlap" -> ((s, dir) => {
      // Interval-overlap join (round 11) — the operator class Spark has
      // no native node for: overlap user SESSIONS (30-min-gap
      // sessionization) with the corpus' BUSY HOURS (hours with
      // above-average event volume), emitting per-session busy-hour
      // count and total overlapped micros. Scale shape: the hour side is
      // bounded by the TIME SPAN (≤744 hourly rows for a month at any
      // corpus size) → broadcast + range predicate, never
      // interval × interval on two data-sized sides — when both sides
      // are data-sized, the general recipe buckets one side to exactly
      // this kind of grid first. All integer micros; the busy cut
      // cnt·n_hours > total avoids a float average.
      val hourUs = 3600000000L
      val e = t(s, dir)("events").select(col("user_id"),
        tsDivMicros(col("ts")).as("ts_us"), col("event_id"))
      val wOrd = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val sess = e
        .withColumn("prev", lag("ts_us", 1).over(wOrd))
        .withColumn("new_s", (col("prev").isNull
          || col("ts_us") - col("prev") > 1800000000L).cast("long"))
        .withColumn("sid", sum("new_s").over(
          wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "sid")
        .agg(min("ts_us").as("s_start"), max("ts_us").as("s_end"))
      val hours = e
        .select((call_function("div", col("ts_us"), lit(hourUs)) * hourUs)
          .as("h_start"))
        .groupBy("h_start").agg(count(lit(1)).as("cnt"))
      val htot = hours.agg(sum("cnt").as("total"), count(lit(1)).as("n_hours"))
      val busy = hours.crossJoin(broadcast(htot))
        .filter(col("cnt") * col("n_hours") > col("total"))
        .select(col("h_start"), (col("h_start") + hourUs).as("h_end"))
      sess.join(broadcast(busy),
          col("s_start") < col("h_end") && col("h_start") <= col("s_end"))
        .groupBy("user_id", "sid", "s_start", "s_end")
        .agg(count(lit(1)).as("n_busy_hours"),
          sum(least(col("s_end"), col("h_end"))
            - greatest(col("s_start"), col("h_start"))).as("overlap_us"))
        .orderBy("user_id", "sid")
    }),

    "join_dpp_partition_prune" -> ((s, dir) => {
      // Dynamic partition pruning (round 12): the fact table is laid out
      // one-directory-per-status, and the ONLY selective predicate lives
      // on the dimension side of the join — so static pruning sees
      // nothing, yet the fact scan must still skip partitions. Spark's
      // DPP injects a dynamicpruningexpression subquery into the scan's
      // PartitionFilters, seeded from the dim's broadcast exchange (free:
      // the broadcast already exists for the join). THE mechanism that
      // lets a star-schema query over a partitioned 100 TB fact read one
      // partition instead of the table when the filter is on the dim
      // attribute, not the key. PlanSpec locks the pruning expression in
      // the executed scan.
      import s.implicits._
      val base = Store.dir(s, "dpp")
      val out = s"$base/orders"
      t(s, dir)("orders")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
        .write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
      // the dim must be a REAL table: a literal Seq collapses to a
      // LocalRelation whose filter constant-folds away, and DPP requires
      // a surviving selective predicate on the pruning side
      Seq(("F", "finished"), ("O", "open"), ("P", "pending"))
        .toDF("st", "st_name")
        .write.mode("overwrite").parquet(s"$base/dim")
      s.read.parquet(out)
        .join(s.read.parquet(s"$base/dim").filter(col("st_name") === "finished"),
          col("o_orderstatus") === col("st"))
        .groupBy("o_orderstatus", "st_name")
        .agg(count(lit(1)).as("cnt"), decSumOut(col("o_totalprice")).as("total"))
        .orderBy("o_orderstatus")
    }),

    "join_interval_bucketed" -> ((s, dir) => {
      // Interval SELF-join with BOTH sides data-sized (round 12): which
      // pairs of users were active at the same time? Purchase-sessions
      // (30-min-gap sessionization, padded by the gap timeout into the
      // "active window") overlap-joined against each other — the shape
      // join_interval_overlap's bounded-grid trick cannot serve, because
      // neither side is time-span-bounded. The general recipe: explode
      // each interval to the hour buckets it covers, equi-join ON THE
      // BUCKET (a plain shuffle join — co-partitioned, no broadcast, no
      // cartesian), apply the exact range predicate inside the bucket,
      // and emit a pair ONLY in the bucket containing the LATER START —
      // that bucket is covered by both intervals exactly once, so every
      // overlapping pair appears exactly once with NO dedup shuffle.
      // Replication = buckets-per-interval (≤2 here: windows are
      // gap-bounded).
      // OCCUPANCY CAP (the MaxShingleDf discipline, same reasoning as
      // dedup_near_minhash's bucket cap): co-presence pairs grow
      // ∝ occupancy² at fixed time span, so an uncapped exact listing is
      // SEMANTICALLY quadratic — the first probe run of this op filled
      // the disk at 100× (≈350M pairs through the output sort). Each
      // bucket therefore admits only its first 64 windows by (s_start,
      // user_id, sid); a pair emits iff BOTH windows are admitted in the
      // later-start bucket. The cap is part of the operator's semantics
      // and the oracle computes the identical cap — at every fixture SF
      // occupancy stays far below 64 (≈28/bucket at sf0.1, +7σ to reach
      // the cap), so the capped result equals the exact one there. At
      // 100 TB the capped screen is the candidate pass; exact per-pair
      // accounting runs per hot bucket on demand. All integer micros.
      val hourUs = 3600000000L
      val gapUs = 1800000000L
      val cap = 64
      val e = t(s, dir)("events").select(col("user_id"),
        tsDivMicros(col("ts")).as("ts_us"), col("event_id"), col("event_type"))
      val wOrd = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val sess = e
        .withColumn("prev", lag("ts_us", 1).over(wOrd))
        .withColumn("new_s", (col("prev").isNull
          || col("ts_us") - col("prev") > gapUs).cast("long"))
        .withColumn("sid", sum("new_s").over(
          wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "sid")
        .agg(min("ts_us").as("s_start"),
          (max("ts_us") + gapUs).as("s_end"),
          max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("has_p"))
        .filter(col("has_p") === 1)
      val b0 = sess.withColumn("bkt", explode(sequence(
        call_function("div", col("s_start"), lit(hourUs)),
        call_function("div", col("s_end"), lit(hourUs)))))
      val wB = Window.partitionBy("bkt").orderBy("s_start", "user_id", "sid")
      val b = b0.withColumn("rk", row_number().over(wB))
        .filter(col("rk") <= cap).drop("rk")
      b.as("x").join(b.as("y"),
          col("x.bkt") === col("y.bkt")
            && col("x.user_id") < col("y.user_id")
            && col("x.s_start") <= col("y.s_end")
            && col("y.s_start") <= col("x.s_end")
            && col("x.bkt") === call_function("div",
              greatest(col("x.s_start"), col("y.s_start")), lit(hourUs)))
        .select(col("x.user_id").as("user_a"), col("y.user_id").as("user_b"),
          col("x.sid").as("sid_a"), col("y.sid").as("sid_b"),
          (least(col("x.s_end"), col("y.s_end"))
            - greatest(col("x.s_start"), col("y.s_start"))).as("overlap_us"))
        .orderBy("user_a", "user_b", "sid_a", "sid_b")
    }),

    "join_bloom_prefilter" -> ((s, dir) => {
      // Semi-join reduction via Bloom filter (round 4): build a ~1%-fpp
      // Bloom over the urgent orders' keys, prune lineitem BEFORE the
      // shuffle, then the real join removes the false positives — the
      // result is exactly the plain inner join, which is what the oracle
      // checks. At 100 TB this is the decisive join optimization: the
      // probe side ships only matching-ish rows across the network
      // (Spark's runtime row-level filtering,
      // spark.sql.optimizer.runtime.bloomFilter.enabled, injects the same
      // shape automatically; the explicit build keeps sizing and fpp
      // under user control and works on any join the optimizer skips).
      // The probe is a native codegen Expression (BloomMightContain) so
      // the lineitem scan + filter stays one WholeStageCodegen span.
      val tt = t(s, dir) _
      val urgent = tt("orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey", "o_orderdate")
      val bloom = urgent.stat.bloomFilter("o_orderkey", 200000L, 0.01)
      val bloomB = s.sparkContext.broadcast(bloom)
      tt("lineitem").select("l_orderkey", "l_extendedprice", "l_discount")
        .filter(graft.functions.GraftExpressions.bloomMightContain(s, bloomB, col("l_orderkey")))
        .join(urgent, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderdate")
        .agg(count(lit(1)).as("line_cnt"),
          decSumOut(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
        .orderBy("o_orderdate")
    }),
  )

  def oracleSql: Map[String, String] = Map(
    // the bucket grid AND the occupancy cap are semantic (MaxShingleDf
    // discipline) — the oracle computes the identical capped bucket join;
    // at fixture occupancies the cap never binds, so this equals the
    // plain range self-join there
    "join_interval_bucketed" -> """
      WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS ts_us, event_id,
                        event_type FROM events),
      l AS (SELECT *, LAG(ts_us) OVER (PARTITION BY user_id
                        ORDER BY ts_us, event_id) AS prev FROM e),
      f AS (SELECT *, CASE WHEN prev IS NULL OR ts_us - prev > 1800000000
                           THEN 1 ELSE 0 END AS new_s FROM l),
      g AS (SELECT *, CAST(SUM(new_s) OVER (PARTITION BY user_id
                        ORDER BY ts_us, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS sid FROM f),
      sess AS (SELECT user_id, sid, MIN(ts_us) AS s_start,
                      MAX(ts_us) + 1800000000 AS s_end,
                      MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                        AS has_p
               FROM g GROUP BY 1, 2),
      p AS (SELECT * FROM sess WHERE has_p = 1),
      bk AS (SELECT p.*, unnest(generate_series(s_start // 3600000000,
                                                s_end // 3600000000)) AS bkt
             FROM p),
      bc AS (SELECT * FROM (
               SELECT *, ROW_NUMBER() OVER (PARTITION BY bkt
                 ORDER BY s_start, user_id, sid) AS rk FROM bk)
             WHERE rk <= 64)
      SELECT a.user_id AS user_a, b.user_id AS user_b,
             a.sid AS sid_a, b.sid AS sid_b,
             least(a.s_end, b.s_end) - greatest(a.s_start, b.s_start)
               AS overlap_us
      FROM bc a JOIN bc b ON a.bkt = b.bkt AND a.user_id < b.user_id
        AND a.s_start <= b.s_end AND b.s_start <= a.s_end
        AND a.bkt = greatest(a.s_start, b.s_start) // 3600000000
      ORDER BY user_a, user_b, sid_a, sid_b""",

    // DPP result = the plain dim-filtered join, which collapses to a
    // literal status filter on the source table
    "join_dpp_partition_prune" -> """
      SELECT o_orderstatus, 'finished' AS st_name, COUNT(1) AS cnt,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total
      FROM orders WHERE o_orderstatus = 'F'
      GROUP BY 1, 2 ORDER BY o_orderstatus""",

    "join_bloom_prefilter" -> """
      SELECT o_orderdate, COUNT(1) AS line_cnt,
             CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderpriority = '1-URGENT'
      GROUP BY o_orderdate ORDER BY o_orderdate""",
    "join_null_safe" -> """
      WITH c AS (SELECT c_custkey,
                        CASE WHEN c_nationkey = 0 THEN NULL ELSE c_nationkey END AS ck
                 FROM customer),
      n AS (SELECT n_name,
                   CASE WHEN n_nationkey = 0 THEN NULL ELSE n_nationkey END AS nk
            FROM nation)
      SELECT n_name, COUNT(1) AS customers, MIN(c_custkey) AS min_cust
      FROM c JOIN n ON c.ck IS NOT DISTINCT FROM n.nk
      GROUP BY n_name ORDER BY n_name""",
    "join_inner_hash" -> """
      SELECT o_orderkey, o_custkey, c_name, o_totalprice
      FROM orders JOIN customer ON o_custkey = c_custkey
      ORDER BY o_orderkey""",
    "join_broadcast" -> """
      SELECT l_orderkey, l_linenumber, p_name, p_brand, l_quantity
      FROM lineitem JOIN part ON l_partkey = p_partkey
      ORDER BY l_orderkey, l_linenumber""",
    "join_sortmerge" -> """
      SELECT l_orderkey, l_linenumber, o_orderdate, o_totalprice
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      ORDER BY l_orderkey, l_linenumber""",
    "join_left_outer" -> """
      SELECT c_custkey, c_name, o_orderkey, o_totalprice
      FROM customer LEFT JOIN (
        SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderstatus = 'P') o
        ON c_custkey = o_custkey
      ORDER BY c_custkey ASC, o_orderkey ASC NULLS FIRST""",
    "join_right_outer" -> """
      SELECT c_custkey, c_name, o_orderkey, o_totalprice
      FROM (SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderstatus = 'P') o
        RIGHT JOIN customer ON c_custkey = o_custkey
      ORDER BY c_custkey ASC, o_orderkey ASC NULLS FIRST""",
    "join_full_outer" -> """
      SELECT n_nationkey, n_name, s_suppkey, s_name
      FROM nation FULL OUTER JOIN supplier ON n_nationkey = s_nationkey
      ORDER BY n_nationkey ASC NULLS FIRST, s_suppkey ASC NULLS FIRST""",
    "join_left_semi" -> """
      SELECT c_custkey, c_name FROM customer
      WHERE EXISTS (SELECT 1 FROM orders
                    WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
      ORDER BY c_custkey""",
    "join_left_anti" -> """
      SELECT c_custkey, c_name FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders
                        WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
      ORDER BY c_custkey""",
    "join_cross" -> """
      SELECT p_partkey, r_regionkey, r_name, p_name
      FROM region CROSS JOIN (SELECT * FROM part WHERE p_size < 5) p
      ORDER BY p_partkey, r_regionkey""",
    "join_theta_band" -> """
      SELECT s1.s_suppkey AS suppkey1, s1.s_acctbal AS bal1,
             s2.s_suppkey AS suppkey2, s2.s_acctbal AS bal2
      FROM supplier s1, supplier s2
      WHERE abs(s1.s_acctbal - s2.s_acctbal) < 100 AND s1.s_suppkey < s2.s_suppkey
      ORDER BY suppkey1, suppkey2""",
    "join_range_interval" -> """
      SELECT o_orderkey, COUNT(1) AS evt_cnt,
             CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
      FROM (SELECT o_orderkey,
                   1704067200000000 + (o_orderkey % 28) * 86400000000 AS anchor_us,
                   o_orderkey % 15 AS bridge_user
            FROM orders WHERE o_orderkey % 97 = 0) o
      JOIN (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS ts_us, value
            FROM events) e
        ON bridge_user = user_id
       AND ts_us >= anchor_us AND ts_us < anchor_us + 604800000000
      GROUP BY o_orderkey
      ORDER BY o_orderkey""",
    "join_lateral_topn" -> """
      SELECT c_custkey, o.o_orderkey, o.o_totalprice
      FROM customer,
      LATERAL (SELECT o_orderkey, o_totalprice FROM orders
               WHERE o_custkey = c_custkey
               ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
      ORDER BY c_custkey, o.o_totalprice DESC, o.o_orderkey""",
    // bucketing is physical layout only — the oracle is the plain join
    "join_bucketed_noshuffle" -> """
      SELECT c_custkey, c_name, COUNT(1) AS orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_custkey, c_name ORDER BY c_custkey""",
    // salt is physical-only: the oracle is the PLAIN join — that identity is
    // the point of the op.
    "join_skew_salted" -> """
      SELECT s_nationkey, COUNT(1) AS items,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS revenue
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      GROUP BY s_nationkey ORDER BY s_nationkey""",
    "join_asof" -> """
      WITH e AS (
        SELECT event_id, user_id, epoch_ns(ts) // 1000 AS ts_us, event_type
        FROM events WHERE event_type IN ('click', 'purchase')),
      w AS (
        SELECT *, MAX(CASE WHEN event_type = 'click' THEN ts_us END)
                 OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_ts
        FROM e)
      SELECT event_id, user_id, ts_us, last_click_ts
      FROM w WHERE event_type = 'purchase'
      ORDER BY event_id""",

    "join_asof_tolerance" -> """
      WITH e AS (
        SELECT event_id, user_id, epoch_ns(ts) // 1000 AS ts_us, event_type
        FROM events WHERE event_type IN ('click', 'purchase')),
      w AS (
        SELECT *, MAX(CASE WHEN event_type = 'click' THEN ts_us END)
                 OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_ts
        FROM e)
      SELECT event_id, user_id, ts_us,
             CASE WHEN ts_us - last_click_ts <= 3600000000
                  THEN last_click_ts END AS click_ts_within
      FROM w WHERE event_type = 'purchase'
      ORDER BY event_id""",

    "join_asof_forward" -> """
      WITH e AS (
        SELECT event_id, user_id, epoch_ns(ts) // 1000 AS ts_us, event_type
        FROM events WHERE event_type IN ('click', 'purchase')),
      w AS (
        SELECT *, MIN(CASE WHEN event_type = 'purchase' THEN ts_us END)
                 OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_purchase_ts
        FROM e)
      SELECT event_id, user_id, ts_us, next_purchase_ts
      FROM w WHERE event_type = 'click'
      ORDER BY event_id""",

    "join_interval_overlap" -> """
      WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS ts_us, event_id
                 FROM events),
      s0 AS (SELECT user_id, ts_us, event_id,
               CASE WHEN lag(ts_us) OVER w IS NULL
                      OR ts_us - lag(ts_us) OVER w > 1800000000
                    THEN 1 ELSE 0 END AS new_s
             FROM e
             WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
      s1 AS (SELECT user_id, ts_us,
               CAST(SUM(new_s) OVER (PARTITION BY user_id
                 ORDER BY ts_us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS sid
             FROM s0),
      sess AS (SELECT user_id, sid, MIN(ts_us) AS s_start, MAX(ts_us) AS s_end
               FROM s1 GROUP BY 1, 2),
      hr AS (SELECT (ts_us // 3600000000) * 3600000000 AS h_start,
                    COUNT(1) AS cnt
             FROM e GROUP BY 1),
      ht AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total, COUNT(1) AS n_hours
             FROM hr),
      busy AS (SELECT h_start, h_start + 3600000000 AS h_end
               FROM hr CROSS JOIN ht WHERE cnt * n_hours > total)
      SELECT s.user_id, s.sid, s.s_start, s.s_end,
             COUNT(1) AS n_busy_hours,
             CAST(SUM(least(s.s_end, b.h_end) - greatest(s.s_start, b.h_start))
               AS BIGINT) AS overlap_us
      FROM sess s JOIN busy b ON s.s_start < b.h_end AND b.h_start <= s.s_end
      GROUP BY 1, 2, 3, 4 ORDER BY s.user_id, s.sid""",

    "join_asof_nearest" -> """
      WITH e AS (
        SELECT event_id, user_id, epoch_ns(ts) // 1000 AS ts_us, event_type
        FROM events WHERE event_type IN ('click', 'purchase')),
      w AS (
        SELECT *,
          MAX(CASE WHEN event_type = 'purchase' THEN ts_us END)
            OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_p,
          MIN(CASE WHEN event_type = 'purchase' THEN ts_us END)
            OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_p
        FROM e),
      n AS (
        SELECT event_id, user_id, ts_us,
          CASE WHEN prev_p IS NULL THEN next_p
               WHEN next_p IS NULL THEN prev_p
               WHEN ts_us - prev_p <= next_p - ts_us THEN prev_p
               ELSE next_p END AS nearest_purchase_ts
        FROM w WHERE event_type = 'click')
      SELECT event_id, user_id, ts_us, nearest_purchase_ts,
             abs(ts_us - nearest_purchase_ts) AS gap_us,
             CASE WHEN nearest_purchase_ts IS NULL THEN 'none'
                  WHEN nearest_purchase_ts <= ts_us THEN 'back'
                  ELSE 'fwd' END AS direction
      FROM n ORDER BY event_id""",
  )
}
