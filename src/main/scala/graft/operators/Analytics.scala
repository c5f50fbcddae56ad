package graft.operators

import graft.{OpRegistry, Pin}
import graft.Helpers._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** §2.9 Composite analytics over the star schema (TPC-H-shaped).
  * Scale notes: dimension sides (region/nation/customer) are broadcast;
  * the lineitem-side aggregations are partial+final (map-side combine)
  * automatically; date filters sit directly on the scans so parquet
  * row-group pruning applies before any join.
  */
object Analytics extends OpRegistry {

  /** The Q7 flows twin — shared by q_nation_trade_flows and (nested, the
    * composition-oracle discipline) q_nation_trade_balance. */
  private def nationFlowsSql: String = """
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(year(l_shipdate) AS INT) AS l_year,
             CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
             COUNT(1) AS line_cnt
      FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1998-01-01'
        AND n1.n_name <> n2.n_name
      GROUP BY n1.n_name, n2.n_name, year(l_shipdate)
      ORDER BY supp_nation, cust_nation, l_year"""

  /** The landed basket_sets artifact — one sorted part array per order
    * (factored r18 so corpus_ingest_index can land it; the
    * q_cross_sell_basket rationale: baskets land once per corpus, pairs
    * explode from the bounded array). */
  private[graft] def basketSets(s: SparkSession, dir: String): DataFrame =
    graft.CorpusArtifacts.parquet(s, "basket_sets", dir) {
      t(s, dir)("lineitem").select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(sort_array(collect_set(col("l_partkey"))).as("parts"))
    }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_cross_sell_basket" -> ((s, dir) => {
      // Market-basket co-occurrence (round 12): pairs of parts bought in
      // the SAME order, support ≥ 3, top-50 by support with integer lift
      // as the association readout (lift > 1 = bought together more than
      // chance). Scale shape: TPC-H orders hold ≤ 7 lines, so pair
      // generation is ≤ 21 rows per order — LINEAR in orders at any
      // scale (pair explosion is safe exactly when the group is
      // schema-bounded; contrast join_interval_bucketed's occupancy cap,
      // needed because time buckets are NOT bounded). The first probe of
      // the self-join formulation ran 55.8× at 100×: FOUR fact-sized
      // shuffles (distinct, re-partitioned self-join, pair agg, distinct
      // order count) and the distinct frame recomputed per consumer. The
      // shipped shape pays ONE fact shuffle: baskets land once per corpus
      // as sorted part arrays (collect_set dedupes in the same pass);
      // pairs explode from the bounded array with map-side count
      // partials, and part counts + the order total re-read the landed
      // (order-sized) artifact instead of re-scanning the fact table.
      // Row set and rank are integer-only (support desc, part ids); lift
      // is an r6 display from exact counts, n_orders broadcast.
      val sets = basketSets(s, dir)
      val pc = sets.select(explode(col("parts")).as("l_partkey"))
        .groupBy(col("l_partkey")).agg(count(lit(1)).as("c"))
      // Apriori pre-prune (r13, VERDICT r12 #6): a part whose GLOBAL
      // basket count < 3 cannot appear in any support-≥3 pair (downward
      // closure), so the raw pair stream is pruned BEFORE its groupBy
      // shuffle. The prune rides a FIXED-SIZE Bloom filter over the
      // frequent-part set (the join_bloom_prefilter native-codegen probe),
      // not a semi-join: a frequent set is data-sized on exactly the
      // corpora that need the prune, so a semi-join degrades to shuffling
      // the ~21×-amplified pair stream once AQE stops broadcasting it —
      // measured 104 s at the 100× probe. The bloom stays broadcastable
      // at any scale, and false positives are harmless BY CONSTRUCTION:
      // an FP pair still carries c_ab ≤ min(c_a, c_b) < 3 and dies at
      // the exact support gate, so the output is provably identical to
      // the un-pruned plan and the oracle needs no mirror. On the skewed
      // real domains this op exists for, the infrequent tail is most of
      // the part domain and the pair shuffle compresses by the squared
      // frequent fraction; saturated (uniform fixture) it's two codegen
      // probes per pair row. The bloom build is driver-held bounded model
      // state (1.2 MB at 1M expected items; overfull only raises fpp).
      val bloom = pc.filter(col("c") >= 3)
        .stat.bloomFilter("l_partkey", 1000000L, 0.01)
      val bloomB = s.sparkContext.broadcast(bloom)
      def freqish(c: org.apache.spark.sql.Column) =
        graft.functions.GraftExpressions.bloomMightContain(s, bloomB, c)
      val pairs = sets
        .select(col("parts"), explode(col("parts")).as("pa"))
        .select(col("pa"), explode(col("parts")).as("pb"))
        .filter(col("pa") < col("pb"))
        .filter(freqish(col("pa")) && freqish(col("pb")))
        .groupBy(col("pa").as("part_a"), col("pb").as("part_b"))
        .agg(count(lit(1)).as("c_ab"))
        .filter(col("c_ab") >= 3)
      val tot = sets.agg(count(lit(1)).as("n_orders"))
      pairs
        .join(pc.select(col("l_partkey").as("part_a"), col("c").as("c_a")), Seq("part_a"))
        .join(pc.select(col("l_partkey").as("part_b"), col("c").as("c_b")), Seq("part_b"))
        .crossJoin(broadcast(tot))
        .select(col("part_a"), col("part_b"), col("c_ab"), col("c_a"), col("c_b"),
          r6(col("c_ab").cast("double") * col("n_orders").cast("double")
            / (col("c_a").cast("double") * col("c_b").cast("double"))).as("lift6"))
        .orderBy(col("c_ab").desc, col("part_a"), col("part_b")).limit(50)
    }),

    "q_order_size_distribution" -> ((s, dir) => {
      // Lines-per-order histogram (round 13) — the basket-size profile
      // that q_cross_sell_basket's linearity argument RESTS on (pair
      // explosion is safe iff this distribution's tail is bounded): exact
      // order-size counts plus each size's integer-ppm share. One fact
      // aggregate collapses to the order frame; the histogram and its
      // total are size-bounded re-aggs (≤ max-lines rows) — the stream is
      // touched once, the share is integer ppm (no float division).
      val sizes = t(s, dir)("lineitem").groupBy("l_orderkey")
        .agg(count(lit(1)).as("n_lines"))
      val h = sizes.groupBy("n_lines").agg(count(lit(1)).as("n_orders"))
      val tot = h.agg(sum("n_orders").as("n_total"))
      h.crossJoin(broadcast(tot))
        .select(col("n_lines"), col("n_orders"),
          call_function("div", col("n_orders") * lit(1000000L), col("n_total"))
            .as("share_ppm"))
        .orderBy("n_lines")
    }),

    "q_order_value_deciles" -> ((s, dir) => {
      // Decile boundary table of order values (r15): for d = 1..9, the
      // smallest whole-dollar value v with cumulative count ≥ n·d/10
      // (nearest-rank, the repo convention) — the revenue-concentration
      // curve finance reads next to events_pareto_share's user version.
      // Boundaries at declared DOLLAR granularity, so the value histogram
      // is value-DOMAIN-bounded (≤ ~550k cells at ANY SF — SF-invariant; 499k measured,
      // the q_ship_lag_percentiles discipline scaled up): one fact agg
      // collapses to the histogram, and the 9-row boundary pick is a
      // bounded re-agg of the histogram × decile grid. The cumulative
      // count is a RANGE-PARTITIONED running sum (r18, VERDICT r17 #3:
      // Helpers.rangedCumSum — per-shard cumsum + broadcast prefix
      // offsets), so even the 550k-cell frame never sorts on one task.
      val hist = t(s, dir)("orders")
        .select(floor(col("o_totalprice")).cast("long").as("v"))
        .groupBy("v").agg(count(lit(1)).as("c"))
        .transform(Pin.shared)
      val tot = hist.agg(sum(col("c")).as("n"))
      graft.Helpers.rangedCumSum(hist, col("c"), Seq(col("v")), "cum")
        .crossJoin(broadcast(tot))
        .select(col("v"), col("cum"), col("n"),
          explode(sequence(lit(1), lit(9))).as("decile"))
        .filter(col("cum") * 10 >= col("n") * col("decile"))
        .groupBy(col("decile").cast("int").as("decile"))
        .agg(min(col("v")).as("boundary_dollar"), max(col("n")).as("n_orders"))
        .orderBy("decile")
    }),

    "q_returns_impact" -> ((s, dir) => {
      // Returned-revenue impact per customer nation (r15): share of
      // gross discounted revenue lost to returns (l_returnflag = 'R'),
      // corpus-wide — the merchandising-risk view next to
      // q_returned_by_customer's one-quarter per-customer Q10 shape.
      // Exact per-line cents (floor of the IEEE product — identical
      // formula both engines, the q_top_growth_parts discipline); the
      // lineitem→orders join rides the co-bucketed orderkey pair, the
      // customer join collapses AFTER the per-customer cents rollup
      // (customers-sized, AQE-decided), nation broadcast; share in
      // exact integer ppm over non-negative operands.
      val tt = t(s, dir) _
      val cents = floor(col("l_extendedprice") * (lit(1) - col("l_discount"))
        * 100 + lit(0.5)).cast("long")
      val byCust = tt("lineitem")
        .select(col("l_orderkey"), col("l_returnflag"), cents.as("rc"))
        .join(tt("orders").select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(sum(col("rc")).as("gross_c"),
          sum(when(col("l_returnflag") === "R", col("rc")).otherwise(0L))
            .as("ret_c"))
      byCust
        .join(tt("customer").select("c_custkey", "c_nationkey"),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(tt("nation").select("n_nationkey", "n_name")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(sum(col("gross_c")).as("gross_cents"),
          sum(col("ret_c")).as("returned_cents"))
        .withColumn("ret_ppm", call_function("div",
          col("returned_cents") * lit(1000000L), col("gross_cents")))
        .orderBy("n_name")
    }),

    "q_customer_churn" -> ((s, dir) => {
      // Year-over-year customer churn (round 13): for each consecutive
      // year pair, how many active customers were retained, churned, or
      // are new — the subscription-health readout every revenue team
      // asks first. ONE fact pass collapses orders to the distinct
      // (year, custkey) frame (map-side partial dedup); retention is an
      // equi self-join of that frame ON custkey (co-partitioned — the
      // yr+1 predicate rides the join, never a cross of year shelves);
      // everything after is year-bounded. Churned/new fall out of the
      // retained count by set arithmetic (no second fact pass), and the
      // retention rate is exact integer ppm (retained·1e6 div active) —
      // no float division (the events_pareto_share discipline).
      val d = t(s, dir)("orders")
        .select(year(col("o_orderdate")).cast("long").as("yr"), col("o_custkey"))
        .distinct()
      val act = d.groupBy("yr").agg(count(lit(1)).as("active"))
      val ret = d.as("a").join(d.as("b"),
          col("a.o_custkey") === col("b.o_custkey")
            && col("b.yr") === col("a.yr") + 1)
        .groupBy(col("a.yr").as("yr"))
        .agg(count(lit(1)).as("retained"))
      act
        .join(act.select(col("yr").as("yr2"), col("active").as("active_to")),
          col("yr2") === col("yr") + 1)
        .join(ret, Seq("yr"), "left")
        .withColumn("retained", coalesce(col("retained"), lit(0L)))
        .select(col("yr").as("year_from"), col("yr2").as("year_to"),
          col("active").as("active_from"), col("active_to"),
          col("retained"),
          (col("active") - col("retained")).as("churned"),
          (col("active_to") - col("retained")).as("new_customers"),
          call_function("div", col("retained") * lit(1000000L), col("active"))
            .as("retention_ppm"))
        .orderBy("year_from")
    }),

    "q_top_growth_parts" -> ((s, dir) => {
      // Brand growth screen: 1996→1997 revenue growth per part brand,
      // ordered by growth — the "what's taking off" merchandising report.
      // Revenue lands as exact per-line cents (floor of the IEEE product,
      // identical formula both engines — the only float touch), summed as
      // integers; growth is integer ppm guarded on a positive base year
      // (a new brand has no growth rate, it has a launch). Brand domain is
      // bounded (25), so everything after the fact join is tiny; the
      // ship-date filter is pushed to the lineitem scan. Headroom note:
      // rev·1e6 stays inside BIGINT while a brand-year's revenue ≤ ~9e12
      // currency units — beyond that, lift the ppm to DECIMAL.
      val li = t(s, dir)("lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01")
          && col("l_shipdate") < lit("1998-01-01"))
        .select(col("l_partkey"),
          year(col("l_shipdate")).cast("long").as("yr"),
          floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100
            + lit(0.5)).cast("long").as("cents"))
      li.join(t(s, dir)("part").select("p_partkey", "p_brand"),
          col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(sum(when(col("yr") === 1996L, col("cents")).otherwise(0L))
          .as("rev96"),
          sum(when(col("yr") === 1997L, col("cents")).otherwise(0L))
            .as("rev97"))
        .select(col("p_brand"), col("rev96"), col("rev97"),
          // sign-safe integer ppm: div/​// disagree on negatives (trunc vs
          // floor), so divide magnitudes and reapply the sign
          when(col("rev96") > 0,
            when(col("rev97") >= col("rev96"),
              call_function("div",
                (col("rev97") - col("rev96")) * lit(1000000L), col("rev96")))
            .otherwise(-call_function("div",
              (col("rev96") - col("rev97")) * lit(1000000L), col("rev96"))))
            .as("growth_ppm"))
        .orderBy(col("growth_ppm").desc_nulls_last, col("p_brand"))
    }),

    "q_nation_trade_balance" -> ((s, dir) => {
      // Net trade BALANCE per nation pair — the antisymmetric view of
      // q_nation_trade_flows (Q7 gives gross flows per direction; a trade
      // economist wants net): invokes THE registry flows kernel verbatim
      // (the vec_ann_recall_curve composition discipline — report and
      // source query can never drift), folds its ≤ǀnationǀ²×2 frame to
      // per-direction totals, and full-outer-joins the two orientations
      // under the a<b canonical order. Revenue sides are each a decimal
      // sum cast double (bit-identical per side cross-engine); the net is
      // one IEEE subtraction of those — deterministic. Everything after
      // the kernel is nation²-sized. Oracle nests the flows twin.
      val flows = queries("q_nation_trade_flows")(s, dir)
        .groupBy("supp_nation", "cust_nation")
        .agg(sum(col("revenue")).as("rev"), sum(col("line_cnt")).as("lines"))
      val ab = flows.filter(col("supp_nation") < col("cust_nation"))
        .select(col("supp_nation").as("nation_a"),
          col("cust_nation").as("nation_b"),
          col("rev").as("rev_ab"), col("lines").as("lines_ab"))
      val ba = flows.filter(col("supp_nation") > col("cust_nation"))
        .select(col("cust_nation").as("nation_a"),
          col("supp_nation").as("nation_b"),
          col("rev").as("rev_ba"), col("lines").as("lines_ba"))
      ab.join(ba, Seq("nation_a", "nation_b"), "full")
        .select(col("nation_a"), col("nation_b"),
          coalesce(col("rev_ab"), lit(0.0)).as("rev_ab"),
          coalesce(col("rev_ba"), lit(0.0)).as("rev_ba"),
          (coalesce(col("rev_ab"), lit(0.0)) - coalesce(col("rev_ba"), lit(0.0)))
            .as("net_ab"),
          (coalesce(col("lines_ab"), lit(0L)) + coalesce(col("lines_ba"), lit(0L)))
            .as("total_lines"))
        .orderBy("nation_a", "nation_b")
    }),

    "q_segment_migration" -> ((s, dir) => {
      // Year-over-year SEGMENT MIGRATION matrix — the retention report's
      // other half (q_customer_churn counts who left; this says who moved
      // where): per customer-year, a value tier from exact centi-long
      // revenue thresholds (high ≥ 1e8 cents, mid ≥ 5e7, low > 0, none =
      // inactive — set at the fixture's p95/p50 so every tier is
      // populated; at production scale the thresholds are config), then the (year, from_tier, to_tier) transition counts
      // between consecutive years. The customer×year grid is zero-filled
      // over the GLOBAL year span (an inactive year must read 'none', or
      // churn/reactivation transitions vanish — the lifecycle-ledger
      // discipline); grid size is customers × span-years, linear. One
      // fact-sized agg; everything after is grid-sized; the output is
      // years × 16 tier pairs. 'none'→'none' rows are kept — the matrix
      // rows sum to ǀcustomersǀ per year, the spec-checked invariant.
      val rev = t(s, dir)("orders")
        .groupBy(col("o_custkey"), year(col("o_orderdate")).cast("long").as("yr"))
        .agg(sum(floor(col("o_totalprice") * 100 + lit(0.5)).cast("long"))
          .as("cents"))
      val span = rev.agg(min("yr").as("min_y"), max("yr").as("max_y"))
      val custs = rev.select("o_custkey").distinct()
      val grid = custs.crossJoin(broadcast(
        span.select(explode(sequence(col("min_y"), col("max_y"))).as("yr"))))
      def tier(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        when(c.isNull || c === 0L, "none")
          .when(c >= 100000000L, "high")
          .when(c >= 50000000L, "mid")
          .otherwise("low")
      val tiers = grid.join(rev, Seq("o_custkey", "yr"), "left")
        .select(col("o_custkey"), col("yr"), tier(col("cents")).as("t"))
      val ord = Window.partitionBy("o_custkey").orderBy("yr")
      tiers.withColumn("t_next", lead("t", 1).over(ord))
        .filter(col("t_next").isNotNull)
        .groupBy(col("yr").as("year_from"), col("t").as("from_tier"),
          col("t_next").as("to_tier"))
        .agg(count(lit(1)).as("n_customers"))
        .orderBy("year_from", "from_tier", "to_tier")
    }),

    "q_order_backlog_daily" -> ((s, dir) => {
      // Open-order backlog per day — the operations running-balance chart
      // (how many orders are in flight): an order OPENS on o_orderdate and
      // CLOSES when its LAST line ships; backlog = running Σ(opened −
      // closed) over the calendar grid. Two fact-sized aggs (order-day
      // counts; per-order max shipdate then its day counts), everything
      // after is day-sized: the grid is calendar-bounded (~2.5k days at
      // any SF) and the running sum is one bounded single-partition window
      // (documented WindowExec-warning class — correct at any scale). Day
      // grid is zero-filled: a day with no order activity still carries
      // the backlog level. Grid born distributed via sequence() explode.
      val opened = t(s, dir)("orders")
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(count(lit(1)).as("n_opened"))
      val closed = t(s, dir)("lineitem")
        .groupBy("l_orderkey").agg(max(col("l_shipdate")).as("close_ts"))
        .groupBy(to_date(col("close_ts")).as("day"))
        .agg(count(lit(1)).as("n_closed"))
      val span = opened.select("day").unionByName(closed.select("day"))
        .agg(min("day").as("min_d"), max("day").as("max_d"))
      val grid = span.select(explode(sequence(col("min_d"), col("max_d"),
        expr("interval 1 day"))).as("day"))
      val w = Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(opened, Seq("day"), "left").join(closed, Seq("day"), "left")
        .select(col("day"), coalesce(col("n_opened"), lit(0L)).as("n_opened"),
          coalesce(col("n_closed"), lit(0L)).as("n_closed"))
        .withColumn("backlog", sum(col("n_opened") - col("n_closed")).over(w))
        .orderBy("day")
    }),

    "q_supplier_concentration" -> ((s, dir) => {
      // Supplier-concentration HHI per nation (round 12): Herfindahl index
      // of supplier revenue shares — the supply-chain-risk readout (HHI→1
      // = one supplier owns the nation's flow; →1/n = evenly spread).
      // HHI = Σ(rᵢ/R)² = (Σrᵢ²)/R², so the integer path never forms a
      // share: per-supplier revenue lands as exact DECIMAL(38,6) (the
      // decSumOut per-line cast convention), scales to integer micros,
      // and both Σrᵢ² and R stay exact decimals — safe while any single
      // supplier's revenue ≤ ~1e19 micros (1e13 currency units; the
      // vec_centroid_drift bound discipline — bound the TERM, not the
      // sum, against 1e38). One fact-table aggregate; everything after is
      // supplier- then nation-sized. The division happens once in double
      // with r6 at the boundary; nation is a broadcast dim.
      import org.apache.spark.sql.types.DecimalType
      val tt = t(s, dir) _
      val perSupp = tt("lineitem").select("l_suppkey", "l_extendedprice", "l_discount")
        .join(tt("supplier").select("s_suppkey", "s_nationkey"),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy("s_nationkey", "s_suppkey")
        .agg(sum(dec(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
          .as("rev_dec"))
        .select(col("s_nationkey"), col("rev_dec"),
          (col("rev_dec") * lit(1000000L)).cast(DecimalType(38, 0)).as("rm"))
      perSupp
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n_suppliers"),
          sum(col("rev_dec")).cast("double").as("revenue"),
          sum(col("rm")).as("tot"),
          sum((col("rm") * col("rm")).cast(DecimalType(38, 0))).as("num"))
        .join(broadcast(tt("nation").select("n_nationkey", "n_name")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("n_name"), col("n_suppliers"), col("revenue"),
          r6(col("num").cast("double")
            / (col("tot").cast("double") * col("tot").cast("double"))).as("hhi6"))
        .orderBy("n_name")
    }),

    "q_seasonal_index" -> ((s, dir) => {
      // Seasonal index per part brand (round 12; bucketed layout r13):
      // each calendar month's revenue against the brand's flat-year
      // expectation — index 12·m/Σ > 1 marks the hot months (the
      // ratio-to-average method, the first pass of any retail seasonality
      // model). The lineitem⋈orders FACT-FACT join was this op's 100×
      // bottleneck (probe ratio 38.7 — the per-query all-to-all shuffle);
      // both facts now land ONCE per corpus co-bucketed on orderkey
      // (CorpusArtifacts.bucketed — the join_bucketed_noshuffle layout),
      // so the join is a co-located SortMergeJoin with NO hash-partition
      // exchange between the facts (PlanSpec locks this). The first
      // consumer of a pass pays the layout write; at a real warehouse the
      // layout is written once and every seasonal/orderkey query rides it.
      // After the join+agg everything is (brand × month ≤ 12·ǀbrandsǀ)-
      // bounded; the brand total comes from a window over THAT tiny frame
      // — never a second fact pass. Revenue stays DECIMAL(38,6) until the
      // boundary; the index is one double division with r6 (D2/D3).
      val tt = t(s, dir) _
      val (liB, ooB) = graft.CorpusArtifacts.orderkeyFacts(s, dir)
      val lo = liB.select("l_orderkey", "l_partkey", "l_extendedprice", "l_discount")
      val oo = ooB.select("o_orderkey", "o_orderdate")
      // merge hint pins the co-located SMJ (at fixture scale AQE would
      // broadcast orders — also shuffle-free, but not the layout this op
      // exists to prove, and not available once both sides are huge)
      val bm = lo.hint("merge")
        .join(oo, col("l_orderkey") === col("o_orderkey"))
        .join(tt("part").select("p_partkey", "p_brand"),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), month(col("o_orderdate")).as("mth"))
        .agg(sum(dec(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
          .as("rev_dec"),
          count(lit(1)).as("n_lines"))
      bm.withColumn("tot_dec",
          sum(col("rev_dec")).over(Window.partitionBy("p_brand")))
        .select(col("p_brand"), col("mth"),
          col("rev_dec").cast("double").as("revenue"), col("n_lines"),
          r6(lit(12.0) * col("rev_dec").cast("double")
            / col("tot_dec").cast("double")).as("idx6"))
        .orderBy("p_brand", "mth")
    }),

    "q_monthly_trend" -> ((s, dir) => {
      // Time-series rollup + month-over-month delta: date_trunc to month,
      // exact decimal revenue, lag window for the delta (subtraction stays
      // decimal until the output boundary). The trend window is global
      // (ORDER BY month, no partition) — fine for a bounded month count;
      // a 100 TB deployment with an unbounded time axis would partition
      // the window by year and stitch the year boundaries.
      val m = t(s, dir)("orders")
        .groupBy(to_date(date_trunc("MONTH", col("o_orderdate"))).as("month"))
        .agg(sum(dec(col("o_totalprice"))).as("rev_dec"), count(lit(1)).as("n_orders"))
      val w = Window.orderBy("month")
      m.withColumn("prev_dec", lag("rev_dec", 1).over(w))
        .select(col("month"), col("rev_dec").cast("double").as("revenue"), col("n_orders"),
          (col("rev_dec") - col("prev_dec")).cast("double").as("mom_delta"))
        .orderBy("month")
    }),
    "q_revenue_by_region" -> ((s, dir) => {
      val tt = t(s, dir) _
      val o = tt("orders")
        .filter(col("o_orderdate") >= lit("1996-01-01") && col("o_orderdate") < lit("1997-01-01"))
        .select("o_orderkey", "o_custkey")
      // unhinted: dims is CUSTOMER-sized (grows with SF), not a bounded
      // dim — AQE broadcasts while small, shuffle-joins at scale
      val dims = (
        tt("customer").select("c_custkey", "c_nationkey")
          .join(tt("nation"), col("c_nationkey") === col("n_nationkey"))
          .join(tt("region"), col("n_regionkey") === col("r_regionkey"))
          .select("c_custkey", "r_name"))
      tt("lineitem").select("l_orderkey", "l_extendedprice", "l_discount")
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(dims, col("o_custkey") === col("c_custkey"))
        .groupBy("r_name")
        .agg(decSumOut(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
          count(lit(1)).as("line_cnt"))
        .orderBy("r_name")
    }),
    "q_top_unshipped" -> ((s, dir) => {
      val tt = t(s, dir) _
      val c = tt("customer").filter(col("c_mktsegment") === "BUILDING")
        .select("c_custkey")
      val o = tt("orders").filter(col("o_orderdate") < lit("1996-03-15"))
        .select("o_orderkey", "o_custkey", "o_orderdate")
      val l = tt("lineitem").filter(col("l_shipdate") > lit("1996-03-15"))
        .select("l_orderkey", "l_extendedprice", "l_discount")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        // unhinted: c is customer-sized; AQE decides by measured size
        .join(c, col("o_custkey") === col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(decSumOut(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),
    "q_parts_share" -> ((s, dir) => {
      val tt = t(s, dir) _
      val rev = dec(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
      tt("lineitem").select("l_partkey", "l_shipdate", "l_extendedprice", "l_discount")
        // unhinted: part scales with SF; AQE decides by measured size
        .join(tt("part").select("p_partkey", "p_type"),
          col("l_partkey") === col("p_partkey"))
        .groupBy(trunc(col("l_shipdate").cast("date"), "month").as("ship_month"))
        .agg(
          sum(when(col("p_type") === "PROMO", rev).otherwise(dec(lit(0)))).cast("double").as("promo_rev"),
          sum(rev).cast("double").as("total_rev"))
        .withColumn("promo_share", r6(col("promo_rev") / col("total_rev")))
        .orderBy("ship_month")
    }),
    "q_customer_ltv" -> ((s, dir) => {
      val tt = t(s, dir) _
      val spend = tt("orders")
        .groupBy("o_custkey")
        .agg(decSumOut(col("o_totalprice")).as("spend"),
          count(lit(1)).as("order_cnt"),
          min(col("o_orderdate")).as("first_order"),
          max(col("o_orderdate")).as("last_order"))
      val w = Window.partitionBy("c_mktsegment")
        .orderBy(col("spend").desc, col("c_custkey"))
      tt("customer").select("c_custkey", "c_mktsegment")
        .join(spend, col("c_custkey") === col("o_custkey"))
        .select(col("c_custkey"), col("c_mktsegment"), col("spend"),
          col("order_cnt"), col("first_order"), col("last_order"),
          rank().over(w).as("seg_rank"))
        .orderBy("c_custkey")
    }),

    "q_returned_by_customer" -> ((s, dir) => {
      // Q10 shape: revenue lost to returns per customer over one quarter.
      // Both fact-side filters sit on the scans (pushdown); the
      // customer/nation joins run after the lineitem-side filter has
      // already shrunk the probe side. nation (25 rows, SF-invariant)
      // stays hinted; customer scales with SF so AQE decides.
      val tt = t(s, dir) _
      val o = tt("orders")
        .filter(col("o_orderdate") >= lit("1996-10-01") && col("o_orderdate") < lit("1997-01-01"))
        .select("o_orderkey", "o_custkey")
      tt("lineitem").filter(col("l_returnflag") === "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(tt("customer").select("c_custkey", "c_name", "c_acctbal", "c_nationkey"),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(tt("nation").select("n_nationkey", "n_name")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(decSumOut(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("lost_revenue"),
          count(lit(1)).as("return_lines"))
        .orderBy(col("lost_revenue").desc, col("c_custkey"))
        .limit(20)
    }),
    "q_top_supplier" -> ((s, dir) => {
      // Q15 shape: supplier(s) with the maximum quarterly revenue. The
      // global max is a 1-row aggregate broadcast back against the
      // per-supplier rollup — no single-partition window over the supplier
      // frame (the unpartitioned-window equivalent funnels every supplier
      // row through one task at scale). The equality compare happens in
      // DECIMAL(38,6) (exact), so the winner set is engine-independent;
      // double only at the output boundary.
      val tt = t(s, dir) _
      val rev = tt("lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01") && col("l_shipdate") < lit("1996-04-01"))
        .groupBy("l_suppkey")
        .agg(sum(dec(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("rev_dec"))
      val mx = rev.agg(max(col("rev_dec")).as("mx_dec"))
      rev.join(broadcast(mx), col("rev_dec") === col("mx_dec"))
        // supplier scales with SF: unhinted, AQE decides build side
        .join(tt("supplier").select("s_suppkey", "s_name"),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          col("rev_dec").cast("double").as("total_rev"))
        .orderBy("s_suppkey")
    }),
    "q_supplier_part_breadth" -> ((s, dir) => {
      // Q16 shape: how many distinct suppliers stock each (brand, type,
      // size) bucket — sourced from observed lineitem part↔supplier pairs
      // (no partsupp table in the fixtures). No pre-`distinct()` (r20,
      // guide §2.4): countDistinct plans as a two-phase aggregate whose
      // PARTIAL phase already dedups (brand, type, size, suppkey)
      // map-side, so an explicit distinct on (partkey, suppkey) added a
      // whole extra Exchange + aggregate pair for dedup work the next
      // operator re-does anyway (before-plan: 4 Exchanges; after: 3).
      // The part join is key-unique (≤1 part per partkey), so raw-row
      // multiplicity cannot change any distinct count.
      val tt = t(s, dir) _
      val pairs = tt("lineitem").select("l_partkey", "l_suppkey")
      pairs
        // part scales with SF: unhinted, AQE decides
        .join(tt("part").filter(col("p_brand") =!= "Brand#1")
            .select("p_partkey", "p_brand", "p_type", "p_size"),
          col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
    }),
    "q_idle_rich_customers" -> ((s, dir) => {
      // Q22 shape: customers with above-average account balance and no
      // recent orders, rolled up by nation. The "above average" compare is
      // rearranged to multiplication-only exact decimal (acctbal · n >
      // Σ acctbal) — same trick as sql_scalar_subquery — so boundary
      // membership can't flip on a libm division difference. The recency
      // check is a left-anti join against date-filtered orders (pushdown on
      // the orders scan; no correlated per-row subquery).
      val tt = t(s, dir) _
      val pos = tt("customer").filter(col("c_acctbal") > 0)
        .agg(sum(dec(col("c_acctbal"))).as("bal_sum"), count(lit(1)).as("bal_n"))
      val recent = tt("orders")
        .filter(col("o_orderdate") >= lit("1999-01-01"))
        .select("o_custkey").distinct()
      tt("customer").select("c_custkey", "c_nationkey", "c_acctbal")
        .join(broadcast(pos))
        .filter(dec(col("c_acctbal")) * col("bal_n") > col("bal_sum"))
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .join(broadcast(tt("nation").select("n_nationkey", "n_name")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("n_custs"),
          decSumOut(col("c_acctbal")).as("total_bal"))
        .orderBy("n_name")
    }),

    "q_order_priority_late" -> ((s, dir) => {
      // Q4 shape: orders per priority with at least one LATE line (shipped
      // >60 days after the order date; the fixture has no commit/receipt
      // dates, so ship-lag is the lateness predicate). The correlated
      // EXISTS compiles to one LEFT SEMI join — the probe side is the
      // quarter-filtered orders scan (pushdown), and the semi join keeps
      // at most one match per order, so nothing downstream sees lineitem
      // multiplicity. Interval math stays on timestamps (midnight-aligned
      // fixture dates — no DST/zone arithmetic involved on either engine).
      val tt = t(s, dir) _
      tt("orders")
        .filter(col("o_orderdate") >= lit("1996-07-01") && col("o_orderdate") < lit("1996-10-01"))
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
        .join(tt("lineitem").select("l_orderkey", "l_shipdate"),
          col("l_orderkey") === col("o_orderkey") &&
            col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
          "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    }),
    "q_customer_distribution" -> ((s, dir) => {
      // Q13 shape: the distribution of orders-per-customer (how many
      // customers placed exactly k orders, including k=0 via the left
      // outer join). Two-level aggregate: the first groupBy shrinks to
      // |customer| rows, the second to |distinct k| rows — the histogram
      // never sees fact-table multiplicity. count(o_orderkey) counts only
      // matched rows (NULL-skipping), which is exactly the outer-join
      // zero-order semantics.
      val tt = t(s, dir) _
      tt("customer").select("c_custkey")
        .join(tt("orders").select("o_orderkey", "o_custkey"),
          col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    }),
    "q_large_volume_customers" -> ((s, dir) => {
      // Q18 shape: customers whose single orders exceed 300 units total.
      // The HAVING pre-aggregate runs on lineitem alone (partial+final on
      // l_orderkey) and the >300 gate compares in exact decimal, so the
      // qualifying-order set is engine-independent; only the tiny winner
      // set (~0.3% of orders) joins back to orders/customer.
      val tt = t(s, dir) _
      val big = tt("lineitem").select("l_orderkey", "l_quantity")
        .groupBy("l_orderkey")
        .agg(sum(dec(col("l_quantity"))).as("qty_dec"))
        .filter(col("qty_dec") > dec(lit(300)))
      // orders/customer scale with SF: unhinted, AQE picks the build side
      // (the filtered `big` side is tiny and broadcasts in practice)
      tt("orders").select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
        .join(big, col("o_orderkey") === col("l_orderkey"))
        .join(tt("customer").select("c_custkey", "c_name"),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"),
          col("qty_dec").cast("double").as("total_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
    }),
    "q_nation_trade_flows" -> ((s, dir) => {
      // Q7 shape: cross-nation trade volume — revenue shipped from a
      // supplier nation to a (different) customer nation, by ship year,
      // over a two-year window. The ship-date filter is pushed to the
      // lineitem scan; both nation lookups broadcast (25 rows each,
      // SF-invariant); customer/supplier stay unhinted for AQE. Output is
      // ≤ |nation|²×2 rows, aggregated partial+final before the sort.
      val tt = t(s, dir) _
      tt("lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01") && col("l_shipdate") < lit("1998-01-01"))
        .select("l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount")
        .join(tt("orders").select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .join(tt("customer").select("c_custkey", "c_nationkey"),
          col("o_custkey") === col("c_custkey"))
        .join(tt("supplier").select("s_suppkey", "s_nationkey"),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(tt("nation").select(col("n_nationkey").as("sn_key"),
          col("n_name").as("supp_nation"))), col("s_nationkey") === col("sn_key"))
        .join(broadcast(tt("nation").select(col("n_nationkey").as("cn_key"),
          col("n_name").as("cust_nation"))), col("c_nationkey") === col("cn_key"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(decSumOut(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
          count(lit(1)).as("line_cnt"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    }),

    "q_nation_share_in_region" -> ((s, dir) => {
      // Percent-of-total: each nation's share of its region's revenue.
      // The share window runs over the ǀnationǀ-row AGGREGATE (partition
      // by region), never the fact table; both numerator and denominator
      // are exact decimal sums cast to double once, so the single IEEE
      // division + safe rounding is bit-stable cross-engine. Dimension
      // chain broadcasts (region/nation bounded); customer stays unhinted.
      val tt = t(s, dir) _
      val dims = tt("customer").select("c_custkey", "c_nationkey")
        .join(broadcast(tt("nation").select("n_nationkey", "n_name", "n_regionkey")),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(tt("region").select("r_regionkey", "r_name")),
          col("n_regionkey") === col("r_regionkey"))
        .select("c_custkey", "n_name", "r_name")
      val agg = tt("orders").select("o_custkey", "o_totalprice")
        .join(dims, col("o_custkey") === col("c_custkey"))
        .groupBy("r_name", "n_name")
        .agg(sum(dec(col("o_totalprice"))).as("rev_dec"))
      val w = Window.partitionBy("r_name")
      agg.select(col("r_name"), col("n_name"),
          col("rev_dec").cast("double").as("revenue"),
          r6(col("rev_dec").cast("double") /
            sum(col("rev_dec")).over(w).cast("double")).as("region_share"))
        .orderBy("r_name", "n_name")
    }),

    "q_yoy_growth" -> ((s, dir) => {
      // Year-over-year growth per customer nation: yearly decimal revenue,
      // lag window for delta and ratio. The yearly rollup shrinks the data
      // to |nation|×|year| rows before the window, so the (unavoidable)
      // per-nation sort is over a tiny aggregate, never the fact table.
      val tt = t(s, dir) _
      val yearly = tt("orders")
        // customer unhinted (scales with SF; AQE decides); nation stays
        // hinted — 25 rows at any scale
        .join(tt("customer").select("c_custkey", "c_nationkey"),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(tt("nation").select("n_nationkey", "n_name")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"), year(col("o_orderdate")).as("yr"))
        .agg(sum(dec(col("o_totalprice"))).as("rev_dec"), count(lit(1)).as("n_orders"))
      val w = Window.partitionBy("n_name").orderBy("yr")
      yearly.withColumn("prev_dec", lag("rev_dec", 1).over(w))
        .select(col("n_name"), col("yr"),
          col("rev_dec").cast("double").as("revenue"), col("n_orders"),
          (col("rev_dec") - col("prev_dec")).cast("double").as("yoy_delta"),
          r6(col("rev_dec").cast("double") / col("prev_dec").cast("double") - lit(1.0))
            .as("yoy_growth"))
        .orderBy("n_name", "yr")
    }),

    "q_local_supplier_volume" -> ((s, dir) => {
      // TPC-H Q5 shape: revenue per nation within one region and year
      // where the supplier and the ordering customer share a nation
      // (local fulfilment). The date filter sits on the orders scan
      // (row-group pruning); nation⋈region is SF-invariant and broadcast;
      // customer/supplier scale with SF so AQE picks their join strategy.
      val tt = t(s, dir) _
      val nr = broadcast(tt("nation")
        .join(tt("region").filter(col("r_name") === "ASIA"),
          col("n_regionkey") === col("r_regionkey"))
        .select("n_nationkey", "n_name"))
      val o = tt("orders")
        .filter(col("o_orderdate") >= lit("1996-01-01") && col("o_orderdate") < lit("1997-01-01"))
        .select("o_orderkey", "o_custkey")
      tt("lineitem").select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(tt("customer").select("c_custkey", "c_nationkey"),
          col("o_custkey") === col("c_custkey"))
        .join(tt("supplier").select("s_suppkey", "s_nationkey"),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(nr, col("s_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(decSumOut(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
          count(lit(1)).as("line_cnt"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),

    "q_forecast_revenue" -> ((s, dir) => {
      // TPC-H Q6 shape: the what-if discount-elimination forecast — a pure
      // scan-side conjunctive filter (all three predicates push to
      // parquet) feeding one global aggregate; no join, no shuffle beyond
      // the single-row final combine.
      t(s, dir)("lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01") && col("l_shipdate") < lit("1997-01-01")
          && col("l_discount") >= 0.05 && col("l_discount") <= 0.07
          && col("l_quantity") < 24)
        .agg(decSumOut(col("l_extendedprice") * col("l_discount")).as("revenue"),
          count(lit(1)).as("line_cnt"))
    }),

    "q_market_share" -> ((s, dir) => {
      // TPC-H Q8 shape: of the ECONOMY-part revenue bought by customers in
      // one region, the share supplied from one nation, per order year.
      // The numerator is a conditional decimal sum inside the same
      // aggregate as the denominator — one pass, no second join.
      val tt = t(s, dir) _
      val custRegion = tt("customer").select("c_custkey", "c_nationkey")
        .join(broadcast(tt("nation")
          .join(tt("region").filter(col("r_name") === "AMERICA"),
            col("n_regionkey") === col("r_regionkey"))
          .select("n_nationkey")),
          col("c_nationkey") === col("n_nationkey"))
        .select("c_custkey")
      val suppNation = tt("supplier").select("s_suppkey", "s_nationkey")
        .join(broadcast(tt("nation")
          .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))),
          col("s_nationkey") === col("sn_key"))
        .select("s_suppkey", "supp_nation")
      val rev = dec(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
      tt("lineitem").select("l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount")
        .join(tt("part").filter(col("p_type") === "ECONOMY").select("p_partkey"),
          col("l_partkey") === col("p_partkey"))
        .join(tt("orders").select("o_orderkey", "o_custkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .join(custRegion, col("o_custkey") === col("c_custkey"))
        .join(suppNation, col("l_suppkey") === col("s_suppkey"))
        .groupBy(year(col("o_orderdate")).as("yr"))
        .agg(
          sum(when(col("supp_nation") === "NATION_3", rev).otherwise(dec(lit(0)))).as("nat_dec"),
          sum(rev).as("tot_dec"))
        .select(col("yr"),
          col("nat_dec").cast("double").as("nation_rev"),
          col("tot_dec").cast("double").as("total_rev"),
          r6(col("nat_dec").cast("double") / col("tot_dec").cast("double")).as("mkt_share"))
        .orderBy("yr")
    }),

    "q_product_profit" -> ((s, dir) => {
      // TPC-H Q9 shape adapted: the fixture has no partsupp, so supply
      // cost is proxied as 60% of p_retailprice. Profit per line =
      // revenue − cost×quantity, both sides DECIMAL(38,6) before the
      // subtraction so the sum is exact and order-independent (D2).
      val tt = t(s, dir) _
      val profit = dec(col("l_extendedprice") * (lit(1.0) - col("l_discount"))) -
        dec(col("p_retailprice") * lit(0.6) * col("l_quantity"))
      tt("lineitem")
        .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice", "l_discount")
        .join(tt("part").filter(col("p_type") === "STANDARD")
          .select("p_partkey", "p_retailprice"),
          col("l_partkey") === col("p_partkey"))
        .join(tt("orders").select("o_orderkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .join(tt("supplier").select("s_suppkey", "s_nationkey"),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(tt("nation").select("n_nationkey", "n_name")),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"), year(col("o_orderdate")).as("yr"))
        .agg(sum(profit).cast("double").as("profit"), count(lit(1)).as("line_cnt"))
        .orderBy(col("n_name"), col("yr").desc)
    }),

    "q_priority_class_late" -> ((s, dir) => {
      // TPC-H Q12 shape adapted (fixture has no l_shipmode): critical
      // (1-URGENT/2-HIGH) vs other priorities among lines that shipped
      // >30 days after the order date, grouped by line status. Both
      // counters come from the same conditional aggregate pass.
      val tt = t(s, dir) _
      val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      tt("lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01") && col("l_shipdate") < lit("1997-01-01"))
        .select("l_orderkey", "l_linestatus", "l_shipdate")
        .join(tt("orders").select("o_orderkey", "o_orderdate", "o_orderpriority"),
          col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAY"))
        .groupBy("l_linestatus")
        .agg(sum(when(hi, 1L).otherwise(0L)).as("high_line_count"),
          sum(when(hi, 0L).otherwise(1L)).as("low_line_count"))
        .orderBy("l_linestatus")
    }),

    "q_small_qty_revenue" -> ((s, dir) => {
      // TPC-H Q17 shape: revenue locked in micro-quantity lines of one
      // brand, "micro" = below half the part's own average quantity. The
      // correlated per-part average becomes a pre-aggregation joined back
      // — two passes over the brand-filtered slice (already part-pruned),
      // never a window over the raw fact table. The average is the D3
      // formula (decimal sum ÷ count in double) in both engines.
      val tt = t(s, dir) _
      val l = tt("lineitem").select("l_partkey", "l_quantity", "l_extendedprice")
        .join(tt("part").filter(col("p_brand") === "Brand#3").select("p_partkey"),
          col("l_partkey") === col("p_partkey"))
      val avgq = l.groupBy(col("l_partkey").as("ap_key"))
        .agg((sum(dec(col("l_quantity"))).cast("double") / count(lit(1))).as("avg_qty"))
      l.join(avgq, col("l_partkey") === col("ap_key"))
        .filter(col("l_quantity") < lit(0.5) * col("avg_qty"))
        .agg(decSumOut(col("l_extendedprice")).as("small_rev"),
          count(lit(1)).as("line_cnt"))
    }),

    "q_special_promo_revenue" -> ((s, dir) => {
      // TPC-H Q19 shape: a disjunction of brand/size/quantity envelopes.
      // The part-side conjuncts (brand, size) prune the build side before
      // the join; the mixed OR runs as one predicate after it — no
      // three-way union of separate scans.
      val tt = t(s, dir) _
      val cond =
        (col("p_brand") === "Brand#1" && col("p_size").between(1, 10) &&
          col("l_quantity").between(1, 15)) ||
        (col("p_brand") === "Brand#12" && col("p_size").between(5, 20) &&
          col("l_quantity").between(10, 25)) ||
        (col("p_brand") === "Brand#21" && col("p_size").between(10, 30) &&
          col("l_quantity").between(20, 35))
      tt("lineitem").select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
        .join(tt("part").select("p_partkey", "p_brand", "p_size"),
          col("l_partkey") === col("p_partkey"))
        .filter(cond)
        .agg(decSumOut(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
          count(lit(1)).as("line_cnt"))
    }),

    "q_waiting_suppliers" -> ((s, dir) => {
      // TPC-H Q21 shape adapted (no receipt/commit dates): a supplier
      // "kept an order waiting" when it is the ONLY supplier in a
      // multi-supplier finished order whose lines shipped >60 days after
      // the order date. The textbook EXISTS / NOT-EXISTS pair is
      // re-expressed as two keyed aggregations over (order, supplier) —
      // same semantics, two hash shuffles, no correlated per-row probes.
      val tt = t(s, dir) _
      val per = tt("lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(tt("orders").filter(col("o_orderstatus") === "F")
          .select("o_orderkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(max(when(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAY"), 1L)
          .otherwise(0L)).as("late_i"))
      val ord = per.groupBy(col("l_orderkey").as("ok"))
        .agg(count(lit(1)).as("n_supp"), sum(col("late_i")).as("n_late"))
      per.filter(col("late_i") === 1L)
        .join(ord, col("l_orderkey") === col("ok") &&
          col("n_supp") > 1 && col("n_late") === 1L)
        .join(tt("supplier").select("s_suppkey", "s_name"),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy("s_name")
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
    }),

    "q_min_cost_supplier" -> ((s, dir) => {
      // Q2 shape (min-cost supplier per part): the fixture has no partsupp
      // table, so the supply relationship derives from lineitem — per
      // (part, supplier) unit cost = Σprice/Σqty in exact decimal with ONE
      // IEEE divide at the boundary (both engines correctly round the same
      // two decimal→double casts and the divide, so the rank key is
      // bit-identical). The per-part winner is a row_number over the
      // (part, supplier) AGGREGATE — never the fact table; the part filter
      // prunes before the join; nation (25 rows, SF-invariant) broadcasts,
      // supplier scales with SF so AQE decides.
      val tt = t(s, dir) _
      val cand = tt("lineitem")
        .select("l_partkey", "l_suppkey", "l_extendedprice", "l_quantity")
        .join(tt("part").filter(col("p_type") === "STANDARD" && col("p_size") < 10)
          .select("p_partkey", "p_name"), col("l_partkey") === col("p_partkey"))
        .groupBy("p_partkey", "p_name", "l_suppkey")
        .agg(sum(dec(col("l_extendedprice"))).as("price_dec"),
          sum(dec(col("l_quantity"))).as("qty_dec"))
        .withColumn("cost",
          col("price_dec").cast("double") / col("qty_dec").cast("double"))
      val w = Window.partitionBy("p_partkey").orderBy(col("cost"), col("l_suppkey"))
      cand.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .join(tt("supplier").select("s_suppkey", "s_name", "s_nationkey"),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(tt("nation").select("n_nationkey", "n_name")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("p_partkey"), col("p_name"), col("s_name"), col("n_name"),
          r6(col("cost")).as("unit_cost"))
        .orderBy("p_partkey")
    }),

    "q_important_parts" -> ((s, dir) => {
      // Q11 shape (important stock): per-part revenue-weighted value vs a
      // global scalar — only parts above 0.05% of the grand total survive.
      // The total re-aggregates the per-part AGGREGATE (a partial+final
      // pair onto one row, no second fact pass) and joins back as a
      // broadcast single-row cross join — NOT an empty-partition window,
      // which would drag the |part|-sized frame (~20M rows at SF100)
      // through one task. perPart feeds BOTH the probe side and its own
      // grand total, pinned so the lineitem scan+aggregate runs once
      // whether or not AQE exchange reuse fires. The threshold compare and the
      // share are one IEEE multiply/divide each on identically-rounded
      // doubles. (A value
      // landing bit-exactly on total×0.0005 would be a tie on both
      // engines equally — same compare on the same bits.)
      val tt = t(s, dir) _
      val perPart = tt("lineitem")
        .groupBy("l_partkey")
        .agg(sum(dec(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
          .as("val_dec"))
        .transform(Pin.shared)
      perPart
        .crossJoin(broadcast(perPart.agg(sum("val_dec").as("total_dec"))))
        .filter(col("val_dec").cast("double") >
          col("total_dec").cast("double") * lit(0.0005))
        .join(tt("part").select("p_partkey", "p_name", "p_brand"),
          col("l_partkey") === col("p_partkey"))
        .select(col("p_partkey"), col("p_name"), col("p_brand"),
          col("val_dec").cast("double").as("stock_value"),
          r6(col("val_dec").cast("double") / col("total_dec").cast("double"))
            .as("share"))
        .orderBy(col("stock_value").desc, col("p_partkey"))
    }),

    "q_promo_part_suppliers" -> ((s, dir) => {
      // Q20 shape (promotion-candidate suppliers): suppliers who shipped a
      // dominant share (>20%) of some PROMO part's 1996 volume. Two nested
      // aggregates over ONE lineitem pass — per (part, supplier), then the
      // per-part total as a window over that aggregate — a threshold
      // filter, and a per-supplier roll-up. The (part, supplier) grain is
      // unique post-agg, so the strong-part count is a plain count.
      val tt = t(s, dir) _
      val qty = tt("lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01") &&
          col("l_shipdate") < lit("1997-01-01"))
        .select("l_partkey", "l_suppkey", "l_quantity")
        .join(tt("part").filter(col("p_type") === "PROMO").select("p_partkey"),
          col("l_partkey") === col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(sum(dec(col("l_quantity"))).as("qty_dec"))
      qty
        .withColumn("part_qty_dec",
          sum("qty_dec").over(Window.partitionBy("l_partkey")))
        .filter(col("qty_dec").cast("double") >
          col("part_qty_dec").cast("double") * lit(0.2))
        .groupBy("l_suppkey")
        .agg(count(lit(1)).as("n_strong_parts"))
        .join(tt("supplier").select("s_suppkey", "s_name", "s_nationkey"),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(tt("nation").select("n_nationkey", "n_name")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_name"), col("n_name"), col("n_strong_parts"))
        .orderBy("s_name")
    }),

    "q_customer_repeat_rate" -> ((s, dir) => {
      // Repeat-purchase rate per nation (round 14) — the loyalty KPI:
      // share of buyers with ≥2 orders, in exact integer ppm (div
      // truncates identically in both engines on non-negative operands).
      // Plan: one fact-sized hash agg to (custkey, n_orders), a shuffle
      // join to the customer dim on custkey, a broadcast nation join,
      // then a 25-group rollup — the per-customer collapse happens BEFORE
      // any join, so the join input is customers-sized, not orders-sized.
      val tt = t(s, dir) _
      tt("orders").groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"))
        .join(tt("customer").select("c_custkey", "c_nationkey"),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(tt("nation").select("n_nationkey", "n_name")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("n_buyers"),
          sum(when(col("n_orders") >= 2, 1L).otherwise(0L)).as("n_repeat"),
          sum("n_orders").as("n_orders_total"))
        .withColumn("repeat_ppm",
          call_function("div", col("n_repeat") * lit(1000000L), col("n_buyers")))
        .orderBy("n_name")
    }),

    "q_ship_lag_percentiles" -> ((s, dir) => {
      // Exact ship-lag percentiles per priority (round 14): p50/p90/p99 of
      // days between order and line shipment — the fulfillment SLA table.
      // The lag domain is BOUNDED (generator ships within ~1..121 days),
      // so this uses the agg_weighted_median histogram discipline instead
      // of agg_percentiles_exact's near-fact-sized per-group sort: one
      // fact-sized hash agg to the (priority × lag_day) VALUE HISTOGRAM
      // (≤5×122 rows at ANY SF), then cum-sum + nearest-rank selection on
      // that bounded frame. Nearest-rank r_p = (n·p+99) div 100 — all
      // integer, zero interpolation.
      val tt = t(s, dir) _
      val hist = tt("lineitem").select("l_orderkey", "l_shipdate")
        .join(tt("orders").select("o_orderkey", "o_orderdate", "o_orderpriority"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderpriority"),
          datediff(col("l_shipdate"), col("o_orderdate")).cast("long").as("lag_days"))
        .groupBy("o_orderpriority", "lag_days")
        .agg(count(lit(1)).as("f"))
      val wc = Window.partitionBy("o_orderpriority").orderBy("lag_days")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      hist
        .withColumn("cum", sum("f").over(wc))
        .withColumn("n", sum("f").over(Window.partitionBy("o_orderpriority")))
        .groupBy("o_orderpriority")
        .agg(max("n").as("n_lines"),
          min(when(col("cum") >= call_function("div", col("n") * 50 + 99, lit(100L)),
            col("lag_days"))).as("p50_days"),
          min(when(col("cum") >= call_function("div", col("n") * 90 + 99, lit(100L)),
            col("lag_days"))).as("p90_days"),
          min(when(col("cum") >= call_function("div", col("n") * 99 + 99, lit(100L)),
            col("lag_days"))).as("p99_days"))
        .orderBy("o_orderpriority")
    }),

    "q_order_weekday_profile" -> ((s, dir) => {
      // Order-intake weekday profile (round 14): per ISO weekday × status,
      // order count, exact decimal revenue, r4 average value, and the
      // weekday's integer-ppm share WITHIN its status. Day-of-week is the
      // §2.8-documented dialect trap: Spark weekday() is 0=Monday,
      // DuckDB isodow() is 1=Monday — the +1 shim IS the declared
      // correspondence. One fact agg to the 7×3 grid; the share window
      // runs over 21 rows.
      t(s, dir)("orders")
        .select((expr("weekday(o_orderdate)") + lit(1)).cast("int").as("isodow"),
          col("o_orderstatus"), dec(col("o_totalprice")).as("p"))
        .groupBy("isodow", "o_orderstatus")
        .agg(count(lit(1)).as("n_orders"), sum(col("p")).as("rev_dec"))
        .withColumn("status_total",
          sum("n_orders").over(Window.partitionBy("o_orderstatus")))
        .select(col("isodow"), col("o_orderstatus"), col("n_orders"),
          col("rev_dec").cast("double").as("revenue"),
          avg4(col("rev_dec"), col("n_orders")).as("avg_value4"),
          call_function("div", col("n_orders") * lit(1000000L), col("status_total"))
            .as("dow_share_ppm"))
        .orderBy("isodow", "o_orderstatus")
    }),

    "q_part_margin_spread" -> ((s, dir) => {
      // Realized-vs-list revenue per brand (round 14): how deep does each
      // brand actually discount? realized = Σ extprice·(1−disc), list =
      // Σ retailprice·qty — both exact decimal sums of identical IEEE
      // products (the D2 pattern the flows oracle uses), depth = r6 of the
      // double ratio at the output boundary only. NO broadcast hint on
      // part: it is an SF-SCALED dimension (200k×SF rows), so a forced
      // broadcast would ship a multi-GB table to every executor at
      // warehouse SF — AQE picks broadcast when it fits and shuffle-hash
      // when it doesn't. The fact-side agg is partial+final on 25 brands.
      val tt = t(s, dir) _
      tt("lineitem")
        .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
        .join(tt("part").select("p_partkey", "p_brand", "p_retailprice"),
          col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n_lines"),
          sum(dec(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
            .as("real_dec"),
          sum(dec(col("p_retailprice") * col("l_quantity"))).as("list_dec"))
        .select(col("p_brand"), col("n_lines"),
          col("real_dec").cast("double").as("realized_rev"),
          col("list_dec").cast("double").as("list_rev"),
          r6(lit(1.0) - col("real_dec").cast("double") / col("list_dec").cast("double"))
            .as("discount_depth6"))
        .orderBy("p_brand")
    }),

    "q_customer_order_gap" -> ((s, dir) => {
      // Inter-order gap median per segment (round 14): days between a
      // customer's consecutive orders — the purchase-cadence KPI. The gap
      // multiset is tiebreak-invariant (equal dates yield the same sorted
      // diffs under any permutation), but the lag ordering still carries
      // the full (date, orderkey) tiebreak so both engines pair rows
      // identically. Median via the bounded-histogram lo/hi recipe: gaps
      // live in 0..~2400 (the fixture date span), so after the per-customer
      // lag (user-partitioned, bounded frames) everything is a ≤5×2400
      // histogram — no per-segment data-sized sort, no interpolation.
      val tt = t(s, dir) _
      val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      val gaps = tt("orders").select("o_custkey", "o_orderkey", "o_orderdate")
        .withColumn("prev_d", lag("o_orderdate", 1).over(w))
        .filter(col("prev_d").isNotNull)
        .select(col("o_custkey"),
          datediff(col("o_orderdate"), col("prev_d")).cast("long").as("gap"))
        .join(tt("customer").select("c_custkey", "c_mktsegment"),
          col("o_custkey") === col("c_custkey"))
      val wc = Window.partitionBy("c_mktsegment").orderBy("gap")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      gaps.groupBy("c_mktsegment", "gap").agg(count(lit(1)).as("f"))
        .withColumn("cum", sum("f").over(wc))
        .withColumn("n", sum("f").over(Window.partitionBy("c_mktsegment")))
        .groupBy("c_mktsegment")
        .agg(max("n").as("n_gaps"),
          min(when(col("cum") >= call_function("div", col("n") + 1, lit(2L)),
            col("gap"))).as("med_lo"),
          min(when(col("cum") >= call_function("div", col("n") + 2, lit(2L)),
            col("gap"))).as("med_hi"))
        .orderBy("c_mktsegment")
    }),

    "q_cohort_revenue_triangle" -> ((s, dir) => {
      // Acquisition-cohort revenue triangle (round 14): customers grouped
      // by FIRST-order year, revenue unrolled by order year — the classic
      // cohort retention-revenue sheet (does the 1995 class still buy in
      // 1998?), the orders-side twin of events_cohort_ltv_curve. One
      // orders agg pins each customer's cohort year; the custkey-keyed
      // join back is the only fact-sized exchange; output is the bounded
      // years² triangle. Revenue decimal-exact, double at the boundary.
      val tt = t(s, dir) _
      val first = tt("orders").groupBy("o_custkey")
        .agg(min(year(col("o_orderdate"))).as("cohort_yr"))
      tt("orders").join(first, "o_custkey")
        .groupBy(col("cohort_yr"), year(col("o_orderdate")).as("order_yr"))
        .agg(countDistinct("o_custkey").as("n_customers"),
          decSumOut(col("o_totalprice")).as("revenue"))
        .orderBy("cohort_yr", "order_yr")
    }),

    "q_discount_quantity_elasticity" -> ((s, dir) => {
      // Discount→volume elasticity per brand (round 14): does discounting
      // actually move quantity? Pearson corr + OLS slope of (discount
      // centi-points, quantity units) per brand, from EXACT integer moment
      // sums (the agg_corr_covar discipline: built-in corr() folds doubles
      // in partition order — non-deterministic across engines; the five
      // moments accumulate as BIGINT products in DECIMAL(38,0), and the
      // double math runs once per ≤25-row brand group). One fact-dim join
      // (part scales with SF — unhinted, AQE decides) + one partial+final
      // agg; slope6 = quantity units gained per discount centi-point.
      import org.apache.spark.sql.types.DecimalType
      val d = DecimalType(38, 0)
      val tt = t(s, dir) _
      val g = tt("lineitem")
        .select(col("l_partkey"),
          floor(col("l_discount") * 100 + lit(0.5)).cast("long").as("x"),
          floor(col("l_quantity")).cast("long").as("y"))
        .join(tt("part").select("p_partkey", "p_brand"),
          col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n"),
          sum(col("x").cast(d)).cast("double").as("sx"),
          sum(col("y").cast(d)).cast("double").as("sy"),
          sum((col("x") * col("x")).cast(d)).cast("double").as("sxx"),
          sum((col("y") * col("y")).cast(d)).cast("double").as("syy"),
          sum((col("x") * col("y")).cast(d)).cast("double").as("sxy"))
      val nD = col("n").cast("double")
      g.select(col("p_brand"), col("n").as("n_lines"),
          r6((nD * col("sxy") - col("sx") * col("sy")) /
            sqrt((nD * col("sxx") - col("sx") * col("sx"))
              * (nD * col("syy") - col("sy") * col("sy")))).as("corr6"),
          r6((nD * col("sxy") - col("sx") * col("sy")) /
            (nD * col("sxx") - col("sx") * col("sx"))).as("slope6"))
        .orderBy("p_brand")
    }),

    "q_supplier_late_wilson" -> ((s, dir) => {
      // Supplier delivery-risk ranking by WILSON LOWER BOUND (round 14) —
      // the ranking-under-uncertainty primitive: a supplier late on 1 of
      // 1 shipments must not outrank one late on 90 of 100, which is
      // exactly what raw-rate ranking gets wrong; the Wilson score's
      // lower confidence limit penalizes thin evidence. Late = shipped
      // >90 days after the order date. One fact-fact equi-join (rides
      // the co-bucketed orderkey artifact — zero hash exchange) collapses
      // to the supplier-sized (n, k) table; the Wilson arithmetic is
      // fixed-structure double math from those two exact integers (the
      // corr6 determinism discipline — identical expression tree both
      // engines), z = 1.96 hardcoded. Top-25 riskiest via
      // TakeOrderedAndProject, full (lb desc, suppkey) order.
      val (liB, ooB) = graft.CorpusArtifacts.orderkeyFacts(s, dir)
      val g = liB.select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(ooB.select("o_orderkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_suppkey").cast("long").as("suppkey"))
        .agg(count(lit(1)).as("n"),
          sum(when(datediff(col("l_shipdate"), col("o_orderdate")) > 90, 1L)
            .otherwise(0L)).as("k"))
      val nD = col("n").cast("double"); val kD = col("k").cast("double")
      val z = lit(1.96); val z2 = lit(1.96 * 1.96)
      val p = kD / nD
      val lbNum = p + z2 / (lit(2.0) * nD) -
        z * sqrt(p * (lit(1.0) - p) / nD + z2 / (lit(4.0) * nD * nD))
      val lb = lbNum / (lit(1.0) + z2 / nD)
      g.select(col("suppkey"), col("n"), col("k"),
          call_function("div", col("k") * lit(1000000L), col("n"))
            .as("late_ppm"),
          r6(lb).as("wilson_lb6"))
        .orderBy(col("wilson_lb6").desc, col("suppkey"))
        .limit(25)
    }),

    "q_nation_revenue_volatility" -> ((s, dir) => {
      // Revenue volatility per customer nation (round 14): coefficient of
      // variation of MONTHLY revenue — the demand-stability screen
      // (planning treats a steady nation and a spiky one differently even
      // at equal totals); complements q_seasonal_index (seasonal SHAPE)
      // with dispersion. Monthly revenue exact in cents, then
      // kilo-dollar-quantized (div 1e5) before squaring so the moment
      // sums stay int64 (m ≤ 1e8 at 100×, Σm² ≤ 1e18 over the ≤84-month
      // grid — declared bound; rescale the quantum past that). One fact
      // agg to the bounded nation×month grid; moments + one sqrt per
      // ≤25-row group.
      val tt = t(s, dir) _
      val monthly = tt("orders")
        .join(tt("customer").select("c_custkey", "c_nationkey"),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(tt("nation").select("n_nationkey", "n_name")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"),
          (year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
            .as("ym"))
        .agg(sum(floor(col("o_totalprice") * 100 + lit(0.5)).cast("long"))
          .as("cents"))
        .withColumn("m", call_function("div", col("cents"), lit(100000L)))
      val g = monthly.groupBy("n_name")
        .agg(count(lit(1)).as("n_months"), sum("m").as("sx"),
          sum(col("m") * col("m")).as("sxx"))
      val nD = col("n_months").cast("double")
      g.select(col("n_name"), col("n_months"),
          call_function("div", col("sx"), lit(10L)).as("total_kusd_approx"),
          when(col("n_months") >= 2 && col("sx") > 0,
            r6(sqrt((nD * col("sxx").cast("double")
              - col("sx").cast("double") * col("sx"))
              / (nD * (nD - 1))) * nD / col("sx"))).as("cv6"))
        .orderBy("n_name")
    }),

    "q_open_order_aging" -> ((s, dir) => {
      // Open-order aging report (round 14): unfilled orders bucketed by
      // age at the snapshot (= max order date in the corpus — the "as of
      // now" every ops dashboard means) — the receivables-style aging
      // sheet q_order_backlog_daily's time SERIES doesn't give (that op
      // answers "how did backlog evolve", this answers "how stale is
      // what's open TODAY"). Buckets 0–29/30–59/60–89/90+ days; counts
      // exact, value decimal-exact → double. One scan + broadcast scalar
      // + 4-row agg — scan-bound at any SF.
      val o = t(s, dir)("orders")
      val snap = o.agg(max(col("o_orderdate")).as("snap"))
      o.filter(col("o_orderstatus") =!= "F")
        .crossJoin(broadcast(snap))
        .withColumn("age", datediff(col("snap"), col("o_orderdate")))
        .withColumn("bucket",
          when(col("age") < 30, "00-29").when(col("age") < 60, "30-59")
            .when(col("age") < 90, "60-89").otherwise("90+"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_orders"),
          decSumOut(col("o_totalprice")).as("open_value"))
        .orderBy("bucket")
    }),
  )

  def oracleSql: Map[String, String] = Map(
    "q_order_size_distribution" -> """
      WITH s AS (SELECT l_orderkey, COUNT(1) AS n_lines
                 FROM lineitem GROUP BY 1),
      h AS (SELECT n_lines, COUNT(1) AS n_orders FROM s GROUP BY 1),
      t AS (SELECT CAST(SUM(n_orders) AS BIGINT) AS n_total FROM h)
      SELECT n_lines, n_orders, (n_orders * 1000000) // n_total AS share_ppm
      FROM h CROSS JOIN t ORDER BY n_lines""",

    "q_order_value_deciles" -> """
      WITH hist AS (SELECT CAST(floor(o_totalprice) AS BIGINT) AS v,
                           COUNT(1) AS c
                    FROM orders GROUP BY 1),
      tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM hist),
      cum AS (SELECT v, CAST(SUM(c) OVER (ORDER BY v
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum
              FROM hist)
      SELECT CAST(d.d AS INT) AS decile, MIN(v) AS boundary_dollar,
             MAX(n) AS n_orders
      FROM cum CROSS JOIN tot CROSS JOIN range(1, 10) d(d)
      WHERE cum * 10 >= n * d.d
      GROUP BY 1 ORDER BY decile""",

    "q_returns_impact" -> """
      WITH lc AS (SELECT l_orderkey, l_returnflag,
                         CAST(floor(l_extendedprice * (1 - l_discount) * 100
                           + 0.5) AS BIGINT) AS rc
                  FROM lineitem),
      bc AS (SELECT o.o_custkey,
                    CAST(SUM(rc) AS BIGINT) AS gross_c,
                    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN rc ELSE 0 END)
                      AS BIGINT) AS ret_c
             FROM lc JOIN orders o ON lc.l_orderkey = o.o_orderkey
             GROUP BY 1)
      SELECT n.n_name,
             CAST(SUM(gross_c) AS BIGINT) AS gross_cents,
             CAST(SUM(ret_c) AS BIGINT) AS returned_cents,
             CAST(SUM(ret_c) AS BIGINT) * 1000000
               // CAST(SUM(gross_c) AS BIGINT) AS ret_ppm
      FROM bc JOIN customer c ON bc.o_custkey = c.c_custkey
              JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY n.n_name ORDER BY n.n_name""",

    "q_customer_churn" -> """
      WITH d AS (SELECT DISTINCT CAST(year(o_orderdate) AS BIGINT) AS yr,
                                 o_custkey FROM orders),
      act AS (SELECT yr, COUNT(1) AS active FROM d GROUP BY 1),
      ret AS (SELECT a.yr, COUNT(1) AS retained
              FROM d a JOIN d b
                ON a.o_custkey = b.o_custkey AND b.yr = a.yr + 1
              GROUP BY 1)
      SELECT c.yr AS year_from, n.yr AS year_to,
             c.active AS active_from, n.active AS active_to,
             COALESCE(r.retained, 0) AS retained,
             c.active - COALESCE(r.retained, 0) AS churned,
             n.active - COALESCE(r.retained, 0) AS new_customers,
             (COALESCE(r.retained, 0) * 1000000) // c.active AS retention_ppm
      FROM act c JOIN act n ON n.yr = c.yr + 1
      LEFT JOIN ret r ON r.yr = c.yr
      ORDER BY year_from""",
    "q_order_priority_late" -> """
      SELECT o_orderpriority, COUNT(1) AS order_count
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-07-01'
        AND o_orderdate < TIMESTAMP '1996-10-01'
        AND EXISTS (
          SELECT 1 FROM lineitem
          WHERE l_orderkey = o_orderkey
            AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority""",
    "q_customer_distribution" -> """
      WITH per_cust AS (
        SELECT c_custkey, COUNT(o_orderkey) AS c_count
        FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey)
      SELECT c_count, COUNT(1) AS custdist
      FROM per_cust
      GROUP BY c_count
      ORDER BY custdist DESC, c_count DESC""",
    "q_large_volume_customers" -> """
      WITH big AS (
        SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(38,6))) AS qty_dec
        FROM lineitem GROUP BY l_orderkey
        HAVING SUM(CAST(l_quantity AS DECIMAL(38,6))) > CAST(300 AS DECIMAL(38,6)))
      SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
             CAST(qty_dec AS DOUBLE) AS total_qty
      FROM orders
        JOIN big ON o_orderkey = l_orderkey
        JOIN customer ON o_custkey = c_custkey
      ORDER BY o_totalprice DESC, o_orderkey
      LIMIT 100""",
    "q_top_growth_parts" -> """
      WITH li AS (SELECT l_partkey, CAST(YEAR(l_shipdate) AS BIGINT) AS yr,
                         CAST(floor(l_extendedprice * (1.0 - l_discount) * 100
                           + 0.5) AS BIGINT) AS cents
                  FROM lineitem
                  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                    AND l_shipdate < TIMESTAMP '1998-01-01'),
      b AS (SELECT p_brand,
                   CAST(SUM(CASE WHEN yr = 1996 THEN cents ELSE 0 END) AS BIGINT)
                     AS rev96,
                   CAST(SUM(CASE WHEN yr = 1997 THEN cents ELSE 0 END) AS BIGINT)
                     AS rev97
            FROM li JOIN part ON l_partkey = p_partkey
            GROUP BY p_brand)
      SELECT p_brand, rev96, rev97,
             CASE WHEN rev96 > 0 THEN
               CASE WHEN rev97 >= rev96
                 THEN (rev97 - rev96) * 1000000 // rev96
                 ELSE -((rev96 - rev97) * 1000000 // rev96) END
             END AS growth_ppm
      FROM b ORDER BY growth_ppm DESC NULLS LAST, p_brand""",
    "q_nation_trade_flows" -> nationFlowsSql,
    "q_nation_trade_balance" -> s"""
      WITH flows AS ($nationFlowsSql),
      agg AS (SELECT supp_nation, cust_nation,
                     CAST(SUM(revenue) AS DOUBLE) AS rev,
                     CAST(SUM(line_cnt) AS BIGINT) AS lines
              FROM flows GROUP BY 1, 2),
      ab AS (SELECT supp_nation AS nation_a, cust_nation AS nation_b,
                    rev AS rev_ab, lines AS lines_ab
             FROM agg WHERE supp_nation < cust_nation),
      ba AS (SELECT cust_nation AS nation_a, supp_nation AS nation_b,
                    rev AS rev_ba, lines AS lines_ba
             FROM agg WHERE supp_nation > cust_nation)
      SELECT COALESCE(ab.nation_a, ba.nation_a) AS nation_a,
             COALESCE(ab.nation_b, ba.nation_b) AS nation_b,
             COALESCE(rev_ab, 0.0) AS rev_ab,
             COALESCE(rev_ba, 0.0) AS rev_ba,
             COALESCE(rev_ab, 0.0) - COALESCE(rev_ba, 0.0) AS net_ab,
             COALESCE(lines_ab, 0) + COALESCE(lines_ba, 0) AS total_lines
      FROM ab FULL OUTER JOIN ba
        ON ab.nation_a = ba.nation_a AND ab.nation_b = ba.nation_b
      ORDER BY nation_a, nation_b""",
    "q_nation_share_in_region" -> s"""
      WITH agg AS (
        SELECT r_name, n_name,
               SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS rev_dec
        FROM orders
          JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name)
      SELECT r_name, n_name, CAST(rev_dec AS DOUBLE) AS revenue,
             ${r6Sql("CAST(rev_dec AS DOUBLE) / CAST(SUM(rev_dec) OVER (PARTITION BY r_name) AS DOUBLE)")} AS region_share
      FROM agg ORDER BY r_name, n_name""",
    "q_returned_by_customer" -> """
      SELECT c_custkey, c_name, n_name,
             CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS lost_revenue,
             COUNT(1) AS return_lines
      FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
      WHERE l_returnflag = 'R'
        AND o_orderdate >= TIMESTAMP '1996-10-01'
        AND o_orderdate < TIMESTAMP '1997-01-01'
      GROUP BY c_custkey, c_name, n_name
      ORDER BY SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,6))) DESC, c_custkey
      LIMIT 20""",
    "q_top_supplier" -> """
      WITH rev AS (
        SELECT l_suppkey,
               SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,6))) AS rev_dec
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
        GROUP BY l_suppkey)
      SELECT s_suppkey, s_name, CAST(rev_dec AS DOUBLE) AS total_rev
      FROM rev JOIN supplier ON l_suppkey = s_suppkey
      WHERE rev_dec = (SELECT MAX(rev_dec) FROM rev)
      ORDER BY s_suppkey""",
    "q_supplier_part_breadth" -> """
      WITH pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
      SELECT p_brand, p_type, p_size,
             CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
      FROM pairs JOIN part ON l_partkey = p_partkey
      WHERE p_brand <> 'Brand#1'
      GROUP BY p_brand, p_type, p_size
      ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""",
    "q_idle_rich_customers" -> """
      WITH pos AS (
        SELECT SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS bal_sum, COUNT(1) AS bal_n
        FROM customer WHERE c_acctbal > 0),
      recent AS (
        SELECT DISTINCT o_custkey FROM orders
        WHERE o_orderdate >= TIMESTAMP '1999-01-01')
      SELECT n_name, COUNT(1) AS n_custs,
             CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS total_bal
      FROM customer CROSS JOIN pos
        JOIN nation ON c_nationkey = n_nationkey
      WHERE CAST(c_acctbal AS DECIMAL(38,6)) * bal_n > bal_sum
        AND c_custkey NOT IN (SELECT o_custkey FROM recent)
      GROUP BY n_name ORDER BY n_name""",
    "q_yoy_growth" -> s"""
      WITH yearly AS (
        SELECT n_name, CAST(year(o_orderdate) AS INT) AS yr,
               SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS rev_dec,
               COUNT(1) AS n_orders
        FROM orders
          JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey
        GROUP BY 1, 2),
      l AS (
        SELECT n_name, yr, rev_dec, n_orders,
               LAG(rev_dec) OVER (PARTITION BY n_name ORDER BY yr) AS prev_dec
        FROM yearly)
      SELECT n_name, yr, CAST(rev_dec AS DOUBLE) AS revenue, n_orders,
             CAST(rev_dec - prev_dec AS DOUBLE) AS yoy_delta,
             ${r6Sql("CAST(rev_dec AS DOUBLE) / CAST(prev_dec AS DOUBLE) - 1.0")} AS yoy_growth
      FROM l ORDER BY n_name, yr""",
    "q_local_supplier_volume" -> """
      SELECT n_name,
             CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
             COUNT(1) AS line_cnt
      FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
        AND o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate < TIMESTAMP '1997-01-01'
      GROUP BY n_name
      ORDER BY CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) DESC, n_name""",
    "q_forecast_revenue" -> """
      SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
             COUNT(1) AS line_cnt
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1997-01-01'
        AND l_discount >= CAST(0.05 AS DOUBLE) AND l_discount <= CAST(0.07 AS DOUBLE)
        AND l_quantity < 24""",
    "q_market_share" -> s"""
      WITH base AS (
        SELECT CAST(year(o_orderdate) AS INT) AS yr,
               CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,6)) AS rev,
               sn.n_name AS supp_nation
        FROM lineitem
          JOIN part ON l_partkey = p_partkey
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation cn ON c_nationkey = cn.n_nationkey
          JOIN region ON cn.n_regionkey = r_regionkey
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation sn ON s_nationkey = sn.n_nationkey
        WHERE p_type = 'ECONOMY' AND r_name = 'AMERICA'),
      agg AS (
        SELECT yr,
               SUM(CASE WHEN supp_nation = 'NATION_3' THEN rev ELSE CAST(0 AS DECIMAL(38,6)) END) AS nat_dec,
               SUM(rev) AS tot_dec
        FROM base GROUP BY yr)
      SELECT yr, CAST(nat_dec AS DOUBLE) AS nation_rev, CAST(tot_dec AS DOUBLE) AS total_rev,
             ${r6Sql("CAST(nat_dec AS DOUBLE) / CAST(tot_dec AS DOUBLE)")} AS mkt_share
      FROM agg ORDER BY yr""",
    "q_product_profit" -> """
      SELECT n_name, CAST(year(o_orderdate) AS INT) AS yr,
             CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,6))
                    - CAST(p_retailprice * 0.6 * l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS profit,
             COUNT(1) AS line_cnt
      FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN orders ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
      WHERE p_type = 'STANDARD'
      GROUP BY n_name, year(o_orderdate)
      ORDER BY n_name, yr DESC""",
    "q_priority_class_late" -> """
      SELECT l_linestatus,
             CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
             CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1997-01-01'
        AND l_shipdate > o_orderdate + INTERVAL 30 DAY
      GROUP BY l_linestatus
      ORDER BY l_linestatus""",
    "q_small_qty_revenue" -> """
      WITH l AS (
        SELECT l_partkey, l_quantity, l_extendedprice
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_brand = 'Brand#3'),
      avgq AS (
        SELECT l_partkey AS ap_key,
               CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) / COUNT(1) AS avg_qty
        FROM l GROUP BY l_partkey)
      SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS small_rev,
             COUNT(1) AS line_cnt
      FROM l JOIN avgq ON l_partkey = ap_key
      WHERE l_quantity < 0.5 * avg_qty""",
    "q_special_promo_revenue" -> """
      SELECT CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
             COUNT(1) AS line_cnt
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 1 AND 15)
         OR (p_brand = 'Brand#12' AND p_size BETWEEN 5 AND 20 AND l_quantity BETWEEN 10 AND 25)
         OR (p_brand = 'Brand#21' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 20 AND 35)""",
    "q_waiting_suppliers" -> """
      WITH per AS (
        SELECT l_orderkey, l_suppkey,
               MAX(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY THEN 1 ELSE 0 END) AS late_i
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderstatus = 'F'
        GROUP BY l_orderkey, l_suppkey),
      ord AS (
        SELECT l_orderkey AS ok, COUNT(1) AS n_supp, SUM(late_i) AS n_late
        FROM per GROUP BY l_orderkey)
      SELECT s_name, COUNT(1) AS numwait
      FROM per
        JOIN ord ON l_orderkey = ok AND n_supp > 1 AND n_late = 1
        JOIN supplier ON l_suppkey = s_suppkey
      WHERE late_i = 1
      GROUP BY s_name
      ORDER BY numwait DESC, s_name""",
    "q_cross_sell_basket" -> s"""
      WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      pr AS (SELECT x.l_partkey AS part_a, y.l_partkey AS part_b,
                    COUNT(1) AS c_ab
             FROM li x JOIN li y ON x.l_orderkey = y.l_orderkey
               AND x.l_partkey < y.l_partkey
             GROUP BY 1, 2 HAVING COUNT(1) >= 3),
      pc AS (SELECT l_partkey, COUNT(1) AS c FROM li GROUP BY 1),
      tot AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM li)
      SELECT part_a, part_b, c_ab, a.c AS c_a, b.c AS c_b,
             ${r6Sql("CAST(c_ab AS DOUBLE) * CAST(n_orders AS DOUBLE) / " +
               "(CAST(a.c AS DOUBLE) * CAST(b.c AS DOUBLE))")} AS lift6
      FROM pr JOIN pc a ON part_a = a.l_partkey
              JOIN pc b ON part_b = b.l_partkey
              CROSS JOIN tot
      ORDER BY c_ab DESC, part_a, part_b LIMIT 50""",
    "q_supplier_concentration" -> s"""
      WITH ps AS (
        SELECT s_nationkey, s_suppkey,
               SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,6)))
                 AS rev_dec
        FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        GROUP BY 1, 2),
      pm AS (SELECT s_nationkey, rev_dec,
                    CAST(rev_dec * 1000000 AS HUGEINT) AS rm
             FROM ps),
      agg AS (SELECT s_nationkey, COUNT(1) AS n_suppliers,
                     CAST(SUM(rev_dec) AS DOUBLE) AS revenue,
                     SUM(rm) AS tot, SUM(rm * rm) AS num
              FROM pm GROUP BY 1)
      SELECT n_name, n_suppliers, revenue,
             ${r6Sql("CAST(num AS DOUBLE) / (CAST(tot AS DOUBLE) * CAST(tot AS DOUBLE))")}
               AS hhi6
      FROM agg JOIN nation ON s_nationkey = n_nationkey
      ORDER BY n_name""",

    "q_seasonal_index" -> s"""
      WITH bm AS (
        SELECT p_brand, CAST(month(o_orderdate) AS INT) AS mth,
               SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,6)))
                 AS rev_dec,
               COUNT(1) AS n_lines
        FROM lineitem
          JOIN orders ON l_orderkey = o_orderkey
          JOIN part ON l_partkey = p_partkey
        GROUP BY 1, 2),
      w AS (SELECT p_brand, mth, rev_dec, n_lines,
                   SUM(rev_dec) OVER (PARTITION BY p_brand) AS tot_dec
            FROM bm)
      SELECT p_brand, mth, CAST(rev_dec AS DOUBLE) AS revenue, n_lines,
             ${r6Sql("12.0 * CAST(rev_dec AS DOUBLE) / CAST(tot_dec AS DOUBLE)")}
               AS idx6
      FROM w ORDER BY p_brand, mth""",

    "q_segment_migration" -> """
      WITH rev AS (SELECT o_custkey, CAST(YEAR(o_orderdate) AS BIGINT) AS yr,
                          CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                            AS BIGINT) AS cents
                   FROM orders GROUP BY 1, 2),
      span AS (SELECT MIN(yr) AS min_y, MAX(yr) AS max_y FROM rev),
      grid AS (SELECT c.o_custkey, y.yr
               FROM (SELECT DISTINCT o_custkey FROM rev) c
               CROSS JOIN (SELECT unnest(generate_series(min_y, max_y)) AS yr
                           FROM span) y),
      tiers AS (SELECT g.o_custkey, g.yr,
                  CASE WHEN r.cents IS NULL OR r.cents = 0 THEN 'none'
                       WHEN r.cents >= 100000000 THEN 'high'
                       WHEN r.cents >= 50000000 THEN 'mid'
                       ELSE 'low' END AS t
                FROM grid g LEFT JOIN rev r
                  ON g.o_custkey = r.o_custkey AND g.yr = r.yr),
      mov AS (SELECT o_custkey, yr, t,
                     LEAD(t) OVER (PARTITION BY o_custkey ORDER BY yr) AS t_next
              FROM tiers)
      SELECT yr AS year_from, t AS from_tier, t_next AS to_tier,
             COUNT(1) AS n_customers
      FROM mov WHERE t_next IS NOT NULL
      GROUP BY 1, 2, 3 ORDER BY year_from, from_tier, to_tier""",

    "q_order_backlog_daily" -> """
      WITH opened AS (SELECT CAST(o_orderdate AS DATE) AS day, COUNT(1) AS n_opened
                      FROM orders GROUP BY 1),
      closed AS (SELECT day, COUNT(1) AS n_closed
                 FROM (SELECT l_orderkey, CAST(MAX(l_shipdate) AS DATE) AS day
                       FROM lineitem GROUP BY 1) GROUP BY day),
      span AS (SELECT MIN(day) AS min_d, MAX(day) AS max_d
               FROM (SELECT day FROM opened UNION ALL SELECT day FROM closed)),
      grid AS (SELECT CAST(unnest(generate_series(min_d, max_d, INTERVAL 1 DAY)) AS DATE) AS day
               FROM span)
      SELECT g.day, COALESCE(o.n_opened, 0) AS n_opened,
             COALESCE(c.n_closed, 0) AS n_closed,
             CAST(SUM(COALESCE(o.n_opened, 0) - COALESCE(c.n_closed, 0))
               OVER (ORDER BY g.day) AS BIGINT) AS backlog
      FROM grid g LEFT JOIN opened o ON o.day = g.day
        LEFT JOIN closed c ON c.day = g.day
      ORDER BY g.day""",

    "q_monthly_trend" -> """
      WITH m AS (SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
                        SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS rev_dec,
                        COUNT(1) AS n_orders
                 FROM orders GROUP BY 1)
      SELECT month, CAST(rev_dec AS DOUBLE) AS revenue, n_orders,
             CAST(rev_dec - LAG(rev_dec) OVER (ORDER BY month) AS DOUBLE) AS mom_delta
      FROM m ORDER BY month""",
    "q_revenue_by_region" -> """
      SELECT r_name,
             CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
             COUNT(1) AS line_cnt
      FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
      WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
      GROUP BY r_name ORDER BY r_name""",
    "q_top_unshipped" -> """
      SELECT l_orderkey, o_orderdate,
             CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue
      FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
      WHERE c_mktsegment = 'BUILDING'
        AND o_orderdate < TIMESTAMP '1996-03-15'
        AND l_shipdate > TIMESTAMP '1996-03-15'
      GROUP BY l_orderkey, o_orderdate
      ORDER BY revenue DESC, l_orderkey LIMIT 10""",
    "q_parts_share" -> s"""
      SELECT CAST(date_trunc('month', CAST(l_shipdate AS DATE)) AS DATE) AS ship_month,
             CAST(SUM(CASE WHEN p_type = 'PROMO'
                 THEN CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,6))
                 ELSE CAST(0 AS DECIMAL(38,6)) END) AS DOUBLE) AS promo_rev,
             CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS total_rev,
             ${r6Sql("CAST(SUM(CASE WHEN p_type = 'PROMO' THEN CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,6)) ELSE CAST(0 AS DECIMAL(38,6)) END) AS DOUBLE) / CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,6))) AS DOUBLE)")} AS promo_share
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY 1 ORDER BY ship_month""",
    "q_customer_ltv" -> """
      WITH spend AS (
        SELECT o_custkey, CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS spend,
               COUNT(1) AS order_cnt, MIN(o_orderdate) AS first_order,
               MAX(o_orderdate) AS last_order
        FROM orders GROUP BY o_custkey)
      SELECT c_custkey, c_mktsegment, spend, order_cnt, first_order, last_order,
             CAST(RANK() OVER (PARTITION BY c_mktsegment
                               ORDER BY spend DESC, c_custkey) AS INT) AS seg_rank
      FROM customer JOIN spend ON c_custkey = o_custkey
      ORDER BY c_custkey""",
    "q_min_cost_supplier" -> s"""
      WITH cand AS (
        SELECT p_partkey, p_name, l_suppkey,
               SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS price_dec,
               SUM(CAST(l_quantity AS DECIMAL(38,6))) AS qty_dec
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_type = 'STANDARD' AND p_size < 10
        GROUP BY 1, 2, 3),
      ranked AS (
        SELECT *, CAST(price_dec AS DOUBLE) / CAST(qty_dec AS DOUBLE) AS cost,
               ROW_NUMBER() OVER (PARTITION BY p_partkey
                 ORDER BY CAST(price_dec AS DOUBLE) / CAST(qty_dec AS DOUBLE),
                          l_suppkey) AS rn
        FROM cand)
      SELECT p_partkey, p_name, s_name, n_name,
             ${r6Sql("cost")} AS unit_cost
      FROM ranked
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
      WHERE rn = 1
      ORDER BY p_partkey""",
    "q_important_parts" -> s"""
      WITH per AS (
        SELECT l_partkey,
               SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,6))) AS val_dec
        FROM lineitem GROUP BY 1),
      shared AS (SELECT *, SUM(val_dec) OVER () AS total_dec FROM per)
      SELECT p_partkey, p_name, p_brand,
             CAST(val_dec AS DOUBLE) AS stock_value,
             ${r6Sql("CAST(val_dec AS DOUBLE) / CAST(total_dec AS DOUBLE)")} AS share
      FROM shared JOIN part ON l_partkey = p_partkey
      WHERE CAST(val_dec AS DOUBLE) > CAST(total_dec AS DOUBLE) * 0.0005
      ORDER BY stock_value DESC, p_partkey""",
    "q_promo_part_suppliers" -> """
      WITH qty AS (
        SELECT l_partkey, l_suppkey,
               SUM(CAST(l_quantity AS DECIMAL(38,6))) AS qty_dec
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_type = 'PROMO'
          AND l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
        GROUP BY 1, 2),
      strong AS (
        SELECT l_suppkey, COUNT(1) AS n_strong_parts
        FROM (SELECT *, SUM(qty_dec) OVER (PARTITION BY l_partkey) AS part_qty_dec
              FROM qty)
        WHERE CAST(qty_dec AS DOUBLE) > CAST(part_qty_dec AS DOUBLE) * 0.2
        GROUP BY 1)
      SELECT s_name, n_name, n_strong_parts
      FROM strong
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
      ORDER BY s_name""",

    "q_customer_repeat_rate" -> """
      WITH pc AS (SELECT o_custkey, COUNT(1) AS n_orders
                  FROM orders GROUP BY 1)
      SELECT n_name, COUNT(1) AS n_buyers,
             CAST(SUM(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_repeat,
             CAST(SUM(n_orders) AS BIGINT) AS n_orders_total,
             CAST(SUM(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               * 1000000 // COUNT(1) AS repeat_ppm
      FROM pc JOIN customer ON o_custkey = c_custkey
              JOIN nation ON c_nationkey = n_nationkey
      GROUP BY n_name ORDER BY n_name""",

    "q_ship_lag_percentiles" -> """
      WITH lag AS (SELECT o_orderpriority,
                          date_diff('day', CAST(o_orderdate AS DATE),
                                    CAST(l_shipdate AS DATE)) AS lag_days
                   FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      hist AS (SELECT o_orderpriority, lag_days, COUNT(1) AS f
               FROM lag GROUP BY 1, 2),
      c AS (SELECT o_orderpriority, lag_days,
                   CAST(SUM(f) OVER (PARTITION BY o_orderpriority
                     ORDER BY lag_days
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS BIGINT) AS cum,
                   CAST(SUM(f) OVER (PARTITION BY o_orderpriority)
                     AS BIGINT) AS n
            FROM hist)
      SELECT o_orderpriority, MAX(n) AS n_lines,
             MIN(CASE WHEN cum >= (n * 50 + 99) // 100 THEN lag_days END) AS p50_days,
             MIN(CASE WHEN cum >= (n * 90 + 99) // 100 THEN lag_days END) AS p90_days,
             MIN(CASE WHEN cum >= (n * 99 + 99) // 100 THEN lag_days END) AS p99_days
      FROM c GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    "q_order_weekday_profile" -> s"""
      WITH g AS (SELECT CAST(isodow(CAST(o_orderdate AS DATE)) AS INT) AS isodow,
                        o_orderstatus, COUNT(1) AS n_orders,
                        SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS rev_dec
                 FROM orders GROUP BY 1, 2),
      t AS (SELECT *, CAST(SUM(n_orders) OVER (PARTITION BY o_orderstatus)
                        AS BIGINT) AS status_total FROM g)
      SELECT isodow, o_orderstatus, n_orders,
             CAST(rev_dec AS DOUBLE) AS revenue,
             ${avg4Sql("rev_dec", "n_orders")} AS avg_value4,
             n_orders * 1000000 // status_total AS dow_share_ppm
      FROM t ORDER BY isodow, o_orderstatus""",

    "q_part_margin_spread" -> s"""
      SELECT p_brand, COUNT(1) AS n_lines,
             CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
               AS DECIMAL(38,6))) AS DOUBLE) AS realized_rev,
             CAST(SUM(CAST(p_retailprice * l_quantity
               AS DECIMAL(38,6))) AS DOUBLE) AS list_rev,
             ${r6Sql("1.0 - CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)" +
               " AS DECIMAL(38,6))) AS DOUBLE)" +
               " / CAST(SUM(CAST(p_retailprice * l_quantity" +
               " AS DECIMAL(38,6))) AS DOUBLE)")} AS discount_depth6
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY p_brand ORDER BY p_brand""",

    "q_customer_order_gap" -> """
      WITH o AS (SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS d
                 FROM orders),
      g AS (SELECT o_custkey,
                   date_diff('day',
                     LAG(d) OVER (PARTITION BY o_custkey ORDER BY d, o_orderkey),
                     d) AS gap
            FROM o),
      j AS (SELECT c_mktsegment, gap
            FROM g JOIN customer ON o_custkey = c_custkey
            WHERE gap IS NOT NULL),
      hist AS (SELECT c_mktsegment, gap, COUNT(1) AS f FROM j GROUP BY 1, 2),
      c AS (SELECT c_mktsegment, gap,
                   CAST(SUM(f) OVER (PARTITION BY c_mktsegment ORDER BY gap
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS BIGINT) AS cum,
                   CAST(SUM(f) OVER (PARTITION BY c_mktsegment)
                     AS BIGINT) AS n
            FROM hist)
      SELECT c_mktsegment, MAX(n) AS n_gaps,
             MIN(CASE WHEN cum >= (n + 1) // 2 THEN gap END) AS med_lo,
             MIN(CASE WHEN cum >= (n + 2) // 2 THEN gap END) AS med_hi
      FROM c GROUP BY c_mktsegment ORDER BY c_mktsegment""",

    "q_cohort_revenue_triangle" -> """
      WITH f AS (SELECT o_custkey,
                        CAST(MIN(year(o_orderdate)) AS INT) AS cohort_yr
                 FROM orders GROUP BY 1)
      SELECT cohort_yr, CAST(year(o.o_orderdate) AS INT) AS order_yr,
             COUNT(DISTINCT o.o_custkey) AS n_customers,
             CAST(SUM(CAST(o.o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
               AS revenue
      FROM orders o JOIN f USING (o_custkey)
      GROUP BY 1, 2 ORDER BY 1, 2""",

    "q_discount_quantity_elasticity" -> s"""
      WITH m AS (
        SELECT p_brand,
               CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS x,
               CAST(floor(l_quantity) AS BIGINT) AS y
        FROM lineitem JOIN part ON l_partkey = p_partkey),
      g AS (SELECT p_brand, COUNT(1) AS n,
                   CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
                   CAST(SUM(x*x) AS DOUBLE) AS sxx,
                   CAST(SUM(y*y) AS DOUBLE) AS syy,
                   CAST(SUM(x*y) AS DOUBLE) AS sxy
            FROM m GROUP BY 1)
      SELECT p_brand, n AS n_lines,
             ${r6Sql("(n*sxy - sx*sy) / sqrt((n*sxx - sx*sx) * (n*syy - sy*sy))")} AS corr6,
             ${r6Sql("(n*sxy - sx*sy) / (n*sxx - sx*sx)")} AS slope6
      FROM g ORDER BY p_brand""",

    "q_supplier_late_wilson" -> s"""
      WITH g AS (
        SELECT CAST(l_suppkey AS BIGINT) AS suppkey, COUNT(1) AS n,
               CAST(SUM(CASE WHEN date_diff('day', CAST(o_orderdate AS DATE),
                 CAST(l_shipdate AS DATE)) > 90 THEN 1 ELSE 0 END) AS BIGINT)
                 AS k
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1),
      w AS (SELECT suppkey, n, k, (k * 1000000) // n AS late_ppm,
                   ${r6Sql("(CAST(k AS DOUBLE)/n + (1.96*1.96)/(2.0*n)" +
                     " - 1.96*sqrt((CAST(k AS DOUBLE)/n)*(1.0 - CAST(k AS DOUBLE)/n)/n" +
                     " + (1.96*1.96)/(4.0*n*n))) / (1.0 + (1.96*1.96)/n)")} AS wilson_lb6
            FROM g)
      SELECT suppkey, n, k, late_ppm, wilson_lb6
      FROM w ORDER BY wilson_lb6 DESC, suppkey LIMIT 25""",

    "q_nation_revenue_volatility" -> s"""
      WITH monthly AS (
        SELECT n_name,
               year(o_orderdate) * 100 + month(o_orderdate) AS ym,
               (CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                 AS BIGINT)) // 100000 AS m
        FROM orders
          JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey
        GROUP BY 1, 2),
      g AS (SELECT n_name, COUNT(1) AS n_months,
                   CAST(SUM(m) AS BIGINT) AS sx,
                   CAST(SUM(m * m) AS BIGINT) AS sxx
            FROM monthly GROUP BY 1)
      SELECT n_name, n_months, sx // 10 AS total_kusd_approx,
             CASE WHEN n_months >= 2 AND sx > 0 THEN
               ${r6Sql("sqrt((CAST(n_months AS DOUBLE)*sxx" +
                 " - CAST(sx AS DOUBLE)*sx)" +
                 " / (CAST(n_months AS DOUBLE)*(CAST(n_months AS DOUBLE)-1)))" +
                 " * CAST(n_months AS DOUBLE) / sx")}
             END AS cv6
      FROM g ORDER BY n_name""",

    "q_open_order_aging" -> """
      WITH snap AS (SELECT MAX(o_orderdate) AS snap FROM orders),
      aged AS (SELECT o_totalprice,
                      date_diff('day', CAST(o_orderdate AS DATE),
                        CAST(snap AS DATE)) AS age
               FROM orders CROSS JOIN snap
               WHERE o_orderstatus <> 'F')
      SELECT CASE WHEN age < 30 THEN '00-29' WHEN age < 60 THEN '30-59'
                  WHEN age < 90 THEN '60-89' ELSE '90+' END AS bucket,
             COUNT(1) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
               AS open_value
      FROM aged GROUP BY 1 ORDER BY bucket""",
  )
}
