package graft.operators

import graft.{OpRegistry, Pin}
import graft.Helpers._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** §2.13 Time-series primitives over the `events` stream table (round 4).
  *
  * The reference repo is empty (SURVEY §0); these are the standard
  * time-series shapes a production events pipeline needs on top of the
  * §2.10 windowing ops: resample+gap-fill, sweep-line concurrency, EWMA
  * smoothing, and changelog→SCD2 interval building.
  *
  * All time math is integer epoch-micros (D4: `ts div 1000`); every op
  * carries a total output order (D1).
  *
  * Scale notes: each op is one or two shuffles on `user_id` and stays
  * fully distributed — the per-user window work partitions by key, and the
  * gap-fill grid is generated from a per-key span aggregate (never a
  * driver-side loop). At 100 TB the same plans hold: the only caveat is a
  * single user with a years-long span × fine grid (bounded here by the
  * hour granularity), and heavily skewed keys would reuse the §2.3
  * salting pattern.
  */
object Timeseries extends OpRegistry {

  private val usPerHour = 3600000000L
  private val usPerDay = 86400000000L
  /** Synthetic session length for the concurrency sweep: 30 minutes. */
  private val sessionUs = 1800000000L

  private def eventsUs(s: SparkSession, dir: String): DataFrame =
    t(s, dir)("events").withColumn("ts_us", tsDivMicros(col("ts")))

  /** Exact per-type (lo+hi)-median of column `c` at 2× scale — agg_median's
    * all-integer recipe, shared by events_anomaly_mad (median + MAD) and
    * events_cusum_drift (deviation baseline). Computed from the VALUE
    * HISTOGRAM, not a row sort: lo = min value whose cumulative count
    * reaches rank (n+1)÷2 (hi likewise at n÷2+1) — identical to the
    * rank-window form on any multiset, but the cumulating window runs
    * over DISTINCT VALUES per type (bounded by the centi-value domain,
    * ~32k) instead of rows. The row-sorted form was the 15× term of the
    * r11 100× probe (events_cusum_drift: every event sorted inside 5
    * single-task type partitions, twice). */
  private def med2ByType(df: DataFrame, c: String): DataFrame = {
    val hist = df.groupBy(col("event_type"), col(c))
      .agg(count(lit(1)).as("cnt"))
    val wv = Window.partitionBy("event_type").orderBy(c)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wn = Window.partitionBy("event_type")
    hist.withColumn("cum", sum("cnt").over(wv))
      .withColumn("n", sum("cnt").over(wn))
      .groupBy("event_type")
      .agg((min(when(col("cum") >= call_function("div", col("n") + 1, lit(2L)),
        col(c))) +
        min(when(col("cum") >= call_function("div", col("n"), lit(2L)) + 1,
          col(c)))).as("m2"))
  }

  private def hourFloor(c: Column): Column =
    call_function("div", c, lit(usPerHour)) * usPerHour

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "events_gapfill" -> ((s, dir) => {
      // Resample to an hourly grid per user, filling missing hours with
      // zeros over each user's [first_hour, last_hour] span. The grid is
      // born distributed: sequence() explodes from a per-user span row,
      // so no driver materialization and no cross-key blowup — grid size
      // is sum over users of span-hours.
      val e = eventsUs(s, dir)
      val hourly = e
        .groupBy(col("user_id"), hourFloor(col("ts_us")).as("hour_us"))
        .agg(count(lit(1)).as("cnt"), decSumOut(col("value")).as("sum_value"))
      val grid = e.groupBy("user_id")
        .agg(hourFloor(min("ts_us")).as("min_h"), hourFloor(max("ts_us")).as("max_h"))
        .select(col("user_id"),
          explode(sequence(col("min_h"), col("max_h"), lit(usPerHour))).as("hour_us"))
      grid.join(hourly, Seq("user_id", "hour_us"), "left")
        .select(col("user_id"), col("hour_us"),
          coalesce(col("cnt"), lit(0L)).as("cnt"),
          coalesce(col("sum_value"), lit(0.0)).as("sum_value"))
        .orderBy("user_id", "hour_us")
    }),

    "events_concurrency" -> ((s, dir) => {
      // Sweep-line max-overlap: each event opens a 30-minute session;
      // +1/-1 deltas, running sum in event-time order, max per user.
      // Ordering (t, delta) puts closes before opens at the same instant,
      // so touching sessions do not overlap. The window keeps Spark's
      // default RANGE frame deliberately: peers (ties on t,delta) share
      // one running value, which makes the intermediate deterministic.
      val e = eventsUs(s, dir)
      val pts = e.select(col("user_id"), col("ts_us").as("t"), lit(1L).as("delta"))
        .unionAll(e.select(col("user_id"), (col("ts_us") + sessionUs).as("t"),
          lit(-1L).as("delta")))
      val run = pts.withColumn("run",
        sum("delta").over(Window.partitionBy("user_id").orderBy("t", "delta")))
      run
        .withColumn("mx", max("run").over(Window.partitionBy("user_id")))
        .filter(col("run") === col("mx"))
        .groupBy("user_id")
        .agg(max("mx").as("max_concurrent"), min("t").as("first_peak_us"))
        .orderBy("user_id")
    }),

    "events_ewma" -> ((s, dir) => {
      // Truncated EWMA (alpha = 1/2, 16-step history), normalized by the
      // realized weight mass. All arithmetic is EXACT dyadic-rational
      // double math — value scaled by 100 is integer-valued, weights are
      // powers of two, partial sums need < 53 mantissa bits — so the
      // result is bit-identical under ANY summation order, which is what
      // lets a window-HOF engine and the oracle's self-join agg agree.
      // One shuffle on user_id; history is rowsBetween-bounded (state
      // O(16) per row, no unbounded frame).
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
        .rowsBetween(-15, 0)
      eventsUs(s, dir)
        .withColumn("hist",
          collect_list(floor(col("value") * 100 + lit(0.5))).over(w))
        .withColumn("s", aggregate(
          reverse(col("hist")),
          struct(lit(0.0).as("s"), lit(1.0).as("w")),
          (acc, x) => struct(
            (acc("s") + acc("w") * x).as("s"),
            (acc("w") * lit(0.5)).as("w")),
          acc => acc("s")))
        .withColumn("wmass", lit(2.0) * (lit(1.0) - pow(lit(0.5), size(col("hist")))))
        .select(col("user_id"), col("event_id"), col("ts_us"),
          r6(col("s") / (lit(100.0) * col("wmass"))).as("ewma"))
        .orderBy("user_id", "ts_us", "event_id")
    }),

    "events_markov_transitions" -> ((s, dir) => {
      // First-order Markov transition matrix over event types: lag() pairs
      // each event with its per-user predecessor in time order, transitions
      // aggregate globally, and each row normalizes by its source-state
      // total to an integer ppm probability (no double accumulation).
      // Scale: one shuffle on user_id for the lag window (per-user streams,
      // state O(1) per row), then a partially-aggregated groupBy that
      // collapses to |types|² rows and a broadcast of the |types|-row
      // totals — every stage after the window is vocabulary-sized. The
      // per-state total intentionally comes from a tiny re-agg of the
      // transition matrix (not a second pass over events).
      val ord = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val tr = eventsUs(s, dir)
        .withColumn("prev_type", lag("event_type", 1).over(ord))
        .filter(col("prev_type").isNotNull)
        .groupBy("prev_type", "event_type")
        .agg(count(lit(1)).as("n_trans"))
      val tot = tr.groupBy("prev_type").agg(sum("n_trans").as("n_from"))
      tr.join(broadcast(tot), Seq("prev_type"))
        .select(col("prev_type"), col("event_type"), col("n_trans"), col("n_from"),
          call_function("div", col("n_trans") * lit(1000000L), col("n_from"))
            .as("p_ppm"))
        .orderBy("prev_type", "event_type")
    }),

    "events_attribution_last_touch" -> ((s, dir) => {
      // Last-touch attribution: each purchase is credited to the user's
      // most recent click no older than 24h. A single running window per
      // user carries the latest click (event_id, ts) forward via
      // last(ignoreNulls) over an explicit ROWS frame — no self-join, no
      // as-of shuffle beyond the one user_id exchange, and the running
      // last is O(1) state per row at any history length. The age guard
      // then nulls out stale credits. Orders by (ts, event_id) so a click
      // at the same instant with a smaller id attributes deterministically.
      val attrUs = 86400000000L // 24h lookback
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val fresh = col("click_ts").isNotNull &&
        col("ts_us") - col("click_ts") <= attrUs
      eventsUs(s, dir)
        .withColumn("click_id",
          last(when(col("event_type") === "click", col("event_id")),
            ignoreNulls = true).over(w))
        .withColumn("click_ts",
          last(when(col("event_type") === "click", col("ts_us")),
            ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts_us"),
          when(fresh, col("click_id")).as("click_event_id"),
          when(fresh, col("ts_us") - col("click_ts")).as("gap_us"),
          fresh.cast("int").as("attributed"))
        .orderBy("user_id", "ts_us", "event_id")
    }),

    "events_rfm_scores" -> ((s, dir) => {
      // RFM segmentation: per-user recency (last purchase), frequency
      // (purchase count) and monetary (exact decimal spend), each scored
      // into exact quartiles and concatenated to the classic "111".."444"
      // segment label. The scoring runs over the PER-USER aggregate,
      // never the event stream; order keys carry a user_id tiebreak so
      // bucket assignment is total-ordered. Scale (r18, VERDICT r17 #3):
      // the per-user frame is NOT SF-bounded (1e9 users), so each score
      // is a RANGE-PARTITIONED global rank (Helpers.rangedRowNumber —
      // per-shard sort + broadcast prefix offsets, no single-task global
      // Window anywhere) reconstructed into ntile(4)'s exact bucket
      // boundaries by Helpers.ntileFromRank — bit-identical output at
      // any user count. The per-user aggregate is pinned: the three range
      // ranks each sample AND shuffle it.
      val p = eventsUs(s, dir).filter(col("event_type") === "purchase")
        .groupBy("user_id")
        .agg(max(col("ts_us")).as("last_purchase_us"),
          count(lit(1)).as("frequency"),
          sum(dec(col("value"))).as("mon_dec"))
        .transform(Pin.shared)
      val n = p.agg(count(lit(1)).as("__n"))
      var d = p.crossJoin(broadcast(n))
      d = graft.Helpers.rangedRowNumber(d,
        Seq(col("last_purchase_us").desc, col("user_id")), "__rr")
      d = graft.Helpers.rangedRowNumber(d,
        Seq(col("frequency").desc, col("user_id")), "__rf")
      d = graft.Helpers.rangedRowNumber(d,
        Seq(col("mon_dec").desc, col("user_id")), "__rm")
      d.select(col("user_id"), col("last_purchase_us"), col("frequency"),
          col("mon_dec").cast("double").as("monetary"),
          graft.Helpers.ntileFromRank(col("__rr"), col("__n"), 4).as("r_score"),
          graft.Helpers.ntileFromRank(col("__rf"), col("__n"), 4).as("f_score"),
          graft.Helpers.ntileFromRank(col("__rm"), col("__n"), 4).as("m_score"))
        .withColumn("rfm", concat(col("r_score").cast("string"),
          col("f_score").cast("string"), col("m_score").cast("string")))
        .orderBy("user_id")
    }),

    "events_hourly_profile" -> ((s, dir) => {
      // Seasonality profile: event volume and value by UTC hour-of-day ×
      // event type — the load-shape table behind capacity planning and
      // bot-traffic screens. Hour-of-day is pure integer math on epoch
      // micros (div 3600e6 mod 24), so both engines bucket identically
      // with no timezone/calendar library in the path. One partial+final
      // aggregate straight off the scan; output is a fixed 24×|types| —
      // SF-invariant, so the plan is scan-bound at any scale.
      val e = eventsUs(s, dir)
      e.groupBy(col("event_type"),
          (call_function("div", col("ts_us"), lit(usPerHour)) % 24).as("hour_of_day"))
        .agg(count(lit(1)).as("n_events"), decSumOut(col("value")).as("sum_value"))
        .orderBy("event_type", "hour_of_day")
    }),
    "events_dow_hod_heatmap" -> ((s, dir) => {
      // Weekday × hour-of-day activity heatmap (r15) — the 7×24 load grid
      // behind on-call staffing and bot screens, the two-dimensional
      // extension of events_hourly_profile. Both axes are PURE integer
      // math on epoch micros: hod = (us div 3600e6) mod 24, dow =
      // (epoch_day + 3) mod 7 with 0 = Monday (1970-01-01 was a Thursday
      // — no calendar/timezone library in the path, so both engines
      // bucket identically; the §2.8 day-of-week dialect shim is not even
      // needed). One partial+final aggregate straight off the scan to the
      // SF-invariant ≤168-row grid, plus exact distinct users per cell.
      val e = eventsUs(s, dir)
      e.groupBy(
          ((call_function("div", col("ts_us"), lit(usPerDay)) + 3) % 7)
            .as("dow"),
          (call_function("div", col("ts_us"), lit(usPerHour)) % 24)
            .as("hod"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          decSumOut(col("value")).as("sum_value"))
        .orderBy("dow", "hod")
    }),

    "events_seasonal_decompose" -> ((s, dir) => {
      // Additive seasonal decomposition on the daily count series (r15):
      // trend = centered 7-day moving sum (kept at 7× scale — NO division
      // anywhere, so every number is an exact integer), residual7 =
      // 7·count − trend on full-window days only, weekday seasonal factor
      // = mean residual7 per dow — the classic STL-lite a metrics
      // pipeline runs before alerting on "unusual for a Tuesday". One
      // fact agg collapses to the calendar-bounded day grid (the
      // q_order_backlog_daily discipline); the moving window and the
      // final 7-row agg run on that bounded frame only.
      val e = eventsUs(s, dir)
      val daily = e.groupBy(
          call_function("div", col("ts_us"), lit(usPerDay)).as("day"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.orderBy("day").rowsBetween(-3, 3)
      daily
        .withColumn("win_n", count(lit(1)).over(w))
        .withColumn("trend7", sum(col("cnt")).over(w))
        .filter(col("win_n") === 7)
        .withColumn("resid7", col("cnt") * 7 - col("trend7"))
        .groupBy(((col("day") + 3) % 7).as("dow"))  // 0 = Monday
        .agg(count(lit(1)).as("n_days"),
          sum(col("resid7")).as("sum_resid7"))
        .withColumn("seasonal7_milli",
          call_function("div", col("sum_resid7") * lit(1000L), col("n_days")))
        .orderBy("dow")
    }),

    "events_interarrival_hist" -> ((s, dir) => {
      // Inter-arrival-time histogram: per-user consecutive event gaps,
      // bucketed by decimal digit count of the gap in micros (an
      // order-of-magnitude histogram with NO floating log — length of the
      // integer's string form is exact and engine-portable, where
      // floor(log10(x)) could flip at powers of ten on a libm ULP). The
      // lag window partitions by user (one user_id exchange, the same
      // exchange the other per-user ops reuse); the histogram then
      // aggregates |gaps| rows down to ≤20 buckets, partial+final.
      val e = eventsUs(s, dir)
      val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
      e.select(col("user_id"), col("ts_us"), col("event_id"))
        .withColumn("gap_us", col("ts_us") - lag("ts_us", 1).over(w))
        .filter(col("gap_us").isNotNull)
        .groupBy(length(col("gap_us").cast("string")).as("gap_digits"))
        .agg(count(lit(1)).as("n_gaps"),
          min(col("gap_us")).as("min_gap_us"),
          max(col("gap_us")).as("max_gap_us"))
        .orderBy("gap_digits")
    }),

    "events_burst_detect" -> ((s, dir) => {
      // Burst screening: each user's maximum event count inside ANY
      // sliding 60-second window — the rate-limit / bot-burst primitive.
      // The RANGE frame on integer epoch-micros counts every event whose
      // timestamp falls in (t−60s, t], evaluated per event with one
      // sorted pass per user partition (Spark keeps a sliding frame
      // pointer — O(n) per partition, not O(n·window)); the per-user max
      // then collapses to ǀusersǀ rows. All-integer: no timestamp-type
      // frame arithmetic, identical bucketing on both engines.
      val e = eventsUs(s, dir)
      val w = Window.partitionBy("user_id").orderBy("ts_us")
        .rangeBetween(-59999999L, Window.currentRow)
      e.select(col("user_id"), col("ts_us"))
        .withColumn("in_burst", count(lit(1)).over(w))
        .groupBy("user_id")
        .agg(max(col("in_burst")).as("max_burst_1m"), count(lit(1)).as("n_events"))
        .withColumn("is_bursty", col("max_burst_1m") >= 5)
        .orderBy("user_id")
    }),
    "events_conversion_lag" -> ((s, dir) => {
      // Signup→purchase conversion latency per user: first signup and
      // first purchase from ONE conditional aggregate over the filtered
      // scan (no self-join of the events table against itself), exact
      // integer lag in micros, plus the converted-after-signup flag.
      // NULL lag for never-converted users flows through both engines
      // identically (subtraction with a NULL side is NULL on each).
      val e = eventsUs(s, dir)
      e.filter(col("event_type").isin("signup", "purchase"))
        .groupBy("user_id")
        .agg(
          min(when(col("event_type") === "signup", col("ts_us"))).as("signup_us"),
          min(when(col("event_type") === "purchase", col("ts_us"))).as("first_purchase_us"))
        .filter(col("signup_us").isNotNull)
        .select(col("user_id"), col("signup_us"), col("first_purchase_us"),
          (col("first_purchase_us") - col("signup_us")).as("lag_us"),
          (col("first_purchase_us").isNotNull &&
            col("first_purchase_us") >= col("signup_us")).as("converted_after"))
        .orderBy("user_id")
    }),
    "events_dau_wau" -> ((s, dir) => {
      // DAU + trailing-7-day WAU per day. The stream first collapses to
      // DISTINCT (user, day) pairs — the only fact-sized pass; DAU is a
      // plain count over that, and WAU joins the (bounded, ǀdaysǀ-row)
      // day grid against the pairs with a 7-day band predicate, then
      // exact countDistinct. At 100 TB the pair table is the state that
      // scales (users×days), the grid stays broadcastable, and the band
      // join fans each pair to ≤7 grid days — linear, never day².
      val e = eventsUs(s, dir)
      val ud = e.select(col("user_id"),
        call_function("div", col("ts_us"), lit(usPerDay)).as("day")).distinct()
      val dau = ud.groupBy("day").agg(count(lit(1)).as("dau"))
      val grid = dau.select(col("day").as("g_day"))
      val wau = ud.join(broadcast(grid),
          col("day") >= col("g_day") - 6 && col("day") <= col("g_day"))
        .groupBy(col("g_day"))
        .agg(countDistinct(col("user_id")).as("wau"))
      dau.join(wau, col("day") === col("g_day"))
        .select(col("day"), col("dau"), col("wau"))
        .orderBy("day")
    }),

    "events_feature_rollup_pit" -> ((s, dir) => {
      // Point-in-time feature snapshot — the feature-store correctness
      // primitive: training features for cutoff T may read ONLY events
      // with ts < T (violating this leaks the future into the model; the
      // most common silent ML bug). Cutoff = the 80% point of the global
      // span in exact integer micros (a 1-row broadcast frame). Per user:
      // volume, purchases, recency (integer days before cutoff), and the
      // LAST event type under a total (ts, event_id) order — row_number,
      // never max_by (tie nondeterminism); the oracle replays the same
      // window. One filter + one user agg; scan-shaped.
      val e = eventsUs(s, dir)
      val span = e.agg(min("ts_us").as("mn"), max("ts_us").as("mx"))
      val cut = e.join(broadcast(span))
        .withColumn("cutoff_us",
          col("mn") + call_function("div", (col("mx") - col("mn")) * 8, lit(10L)))
        .filter(col("ts_us") < col("cutoff_us"))
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts_us").desc, col("event_id").desc)
      cut.withColumn("rn", row_number().over(w))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("n_purchases"),
          max("ts_us").as("last_ts_us"),
          max(when(col("rn") === 1, col("event_type"))).as("last_type"),
          max("cutoff_us").as("cutoff_us"))
        .select(col("user_id"), col("n_events"), col("n_purchases"),
          col("last_ts_us"),
          call_function("div", col("cutoff_us") - col("last_ts_us"),
            lit(usPerDay)).as("days_since_last"),
          col("last_type"))
        .orderBy("user_id")
    }),

    "events_bot_screen" -> ((s, dir) => {
      // Behavioral bot screen — the user-level filter a behavioral-data
      // pipeline runs before training on engagement signals (bots poison
      // preference data the way boilerplate poisons text): per user,
      // volume (events, active days, max single-day burst) and
      // circadian shape (share of activity in the 00:00–05:59 UTC dead
      // zone, integer ppm — humans sleep, scrapers don't). Flag = burst
      // ≥ 50/day OR night share ≥ 500000 ppm with ≥ 10 events (the
      // min-support guard keeps 2-event users from flagging on one
      // night click). Two fact-sized aggs (per user-day, then per
      // user), everything exact-integer; thresholds are the op's
      // declared contract, mirrored in the oracle.
      val e = eventsUs(s, dir)
        .select(col("user_id"),
          call_function("div", col("ts_us"), lit(usPerDay)).as("day"),
          (call_function("div", col("ts_us"), lit(usPerHour)) % 24)
            .as("hod"))
      val perDay = e.groupBy("user_id", "day")
        .agg(count(lit(1)).as("n_day"),
          sum(when(col("hod") < 6, 1L).otherwise(0L)).as("n_night"))
      perDay.groupBy("user_id")
        .agg(sum("n_day").as("n_events"), count(lit(1)).as("active_days"),
          max("n_day").as("max_per_day"), sum("n_night").as("n_night"))
        .select(col("user_id"), col("n_events"), col("active_days"),
          col("max_per_day"),
          call_function("div", col("n_night") * lit(1000000L), col("n_events"))
            .as("night_ppm"),
          (col("max_per_day") >= 50L ||
            (col("n_events") >= 10L &&
              call_function("div", col("n_night") * lit(1000000L),
                col("n_events")) >= 500000L)).cast("int").as("is_bot"))
        .orderBy("user_id")
    }),

    "events_slo_burn_rate" -> ((s, dir) => {
      // Multi-window SLO burn rate — the SRE alerting shape (Google SRE
      // workbook ch.5): error rate vs a 1% SLO on TWO windows, page only
      // when BOTH burn fast (1h ≥ 14.4× AND 6h ≥ 6× — one spike doesn't
      // page, a sustained burn does; the 14.4 = 2% of a 30-day budget in
      // 1h, 6 = 5% in 6h). One fact-sized hourly agg; the grid is
      // calendar-bounded and ZERO-FILLED (a silent hour is a 0-burn
      // hour, and the 6h trailing frame must see it as 0, not skip it);
      // the trailing sum is an exact 6-row frame on the grid. All-integer:
      // burn_x1000 = err·1e6·1000 div (n·slo_ppm), NULL on empty hours.
      val sloPpm = 10000L // 1%
      val e = eventsUs(s, dir)
      val hourly = e.groupBy(hourFloor(col("ts_us")).as("hour_us"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("event_type") === "error", 1L).otherwise(0L))
            .as("n_errors"))
      val span = e.agg(hourFloor(min("ts_us")).as("min_h"),
        hourFloor(max("ts_us")).as("max_h"))
      val grid = span.select(explode(sequence(col("min_h"), col("max_h"),
        lit(usPerHour))).as("hour_us"))
      val filled = grid.join(hourly, Seq("hour_us"), "left")
        .select(col("hour_us"),
          coalesce(col("n_events"), lit(0L)).as("n_events"),
          coalesce(col("n_errors"), lit(0L)).as("n_errors"))
      val w6 = Window.orderBy("hour_us").rowsBetween(-5, 0)
      def burn(err: Column, n: Column): Column =
        when(n > 0, call_function("div", err * lit(1000000000L),
          n * lit(sloPpm)))
      filled
        .withColumn("e6", sum("n_errors").over(w6))
        .withColumn("n6", sum("n_events").over(w6))
        .select(col("hour_us"), col("n_events"), col("n_errors"),
          burn(col("n_errors"), col("n_events")).as("burn1_x1000"),
          burn(col("e6"), col("n6")).as("burn6_x1000"),
          (coalesce(burn(col("n_errors"), col("n_events")), lit(0L)) >= 14400L
            && coalesce(burn(col("e6"), col("n6")), lit(0L)) >= 6000L)
            .cast("int").as("page_alert"))
        .orderBy("hour_us")
    }),

    "events_user_lifecycle" -> ((s, dir) => {
      // Growth accounting — the new/retained/resurrected/churned ledger
      // every DAU chart decomposes into (the "quick ratio" inputs). One
      // fact-sized pass collapses to DISTINCT (user, day); one per-user
      // window (lag + lead over the same day order — Catalyst reuses the
      // sort) classifies each active day: NEW (no prior day), RETAINED
      // (active yesterday), RESURRECTED (gap ≥ 2 days); a user CHURNS on
      // day d+1 when active on d but not d+1 (capped at the corpus's last
      // day — beyond it churn is unknowable, the standard convention).
      // The day grid is calendar-bounded (zero-filled: a silent day must
      // read 0s, not vanish — the events_period_autocorr discipline), the
      // span frame is 1 row, and everything after the distinct is
      // user-partitioned or day-sized. Identity per day: n_active =
      // n_new + n_retained + n_resurrected (spec-asserted).
      val d = eventsUs(s, dir).select(col("user_id"),
        call_function("div", col("ts_us"), lit(usPerDay)).as("day")).distinct()
      val ord = Window.partitionBy("user_id").orderBy("day")
      val c = d.withColumn("prev_day", lag("day", 1).over(ord))
        .withColumn("next_day", lead("day", 1).over(ord))
      val span = d.agg(min("day").as("min_d"), max("day").as("max_d"))
      val grid = span.select(explode(sequence(col("min_d"), col("max_d"))).as("day"))
      val act = c.groupBy("day").agg(count(lit(1)).as("n_active"),
        sum(when(col("prev_day").isNull, 1L).otherwise(0L)).as("n_new"),
        sum(when(col("prev_day") === col("day") - 1, 1L).otherwise(0L))
          .as("n_retained"),
        sum(when(col("prev_day").isNotNull && col("prev_day") < col("day") - 1,
          1L).otherwise(0L)).as("n_resurrected"))
      val churn = c.join(broadcast(span))
        .filter((col("next_day").isNull || col("next_day") > col("day") + 1)
          && col("day") + 1 <= col("max_d"))
        .groupBy((col("day") + 1).as("day"))
        .agg(count(lit(1)).as("n_churned"))
      grid.join(act, Seq("day"), "left").join(churn, Seq("day"), "left")
        .select(col("day"), coalesce(col("n_active"), lit(0L)).as("n_active"),
          coalesce(col("n_new"), lit(0L)).as("n_new"),
          coalesce(col("n_retained"), lit(0L)).as("n_retained"),
          coalesce(col("n_resurrected"), lit(0L)).as("n_resurrected"),
          coalesce(col("n_churned"), lit(0L)).as("n_churned"))
        .orderBy("day")
    }),

    "events_pareto_share" -> ((s, dir) => {
      // Activity-concentration (Pareto) table: users ranked into deciles
      // by event count, each decile's share of all events in exact integer
      // ppm. The event stream is touched once by the first groupBy; the
      // decile carries a user_id tiebreak (total order); the share is
      // events·1e6 div total in 64-bit integers — no float division,
      // bit-identical cross-engine. Scale (r18, VERDICT r17 #3): the
      // per-user frame is NOT SF-bounded, so the global decile is a
      // range-partitioned rank reconstructed into ntile(10)'s exact
      // buckets (Helpers.rangedRowNumber + ntileFromRank — no
      // single-task global Window), and the total joins back as a
      // broadcast scalar instead of an unpartitioned window.
      val e = eventsUs(s, dir)
      val perUser = Pin.shared(e.groupBy("user_id").agg(count(lit(1)).as("cnt")))
      val n = perUser.agg(count(lit(1)).as("__n"))
      val d = graft.Helpers.rangedRowNumber(perUser.crossJoin(broadcast(n)),
          Seq(col("cnt").desc, col("user_id")), "__rn")
        .withColumn("decile", graft.Helpers.ntileFromRank(col("__rn"), col("__n"), 10))
      val agg = d.groupBy("decile")
        .agg(count(lit(1)).as("users"), sum(col("cnt")).as("events"))
      val tot = agg.agg(sum(col("events")).as("__tot"))
      agg.crossJoin(broadcast(tot))
        .select(col("decile"), col("users"), col("events"),
          call_function("div", col("events") * lit(1000000L),
            col("__tot")).as("share_ppm"))
        .orderBy("decile")
    }),

    "events_anomaly_mad" -> ((s, dir) => {
      // Robust anomaly screen (round 11): per event type, the exact
      // median and median-absolute-deviation of value, plus the count of
      // events beyond 3 MADs — the heavy-tail-proof twin of
      // events_anomaly_zscore (one outlier inflates a stddev enough to
      // mask its siblings; it moves a median by at most one rank). Both
      // medians use agg_median's (lo+hi) recipe kept at 2× scale in
      // centi-integers, so the entire op — including the 3-MAD cut
      // 2·dev > 3·mad4 — is 64-bit integer arithmetic with no float
      // division anywhere. Exact medians partition only by event_type
      // (|types| parallelism), the honest cost of rank-exactness: at
      // 100 TB the screen runs on agg_approx_quantile's sketch instead,
      // and this op is its oracle-exact twin at validation scale.
      val e = t(s, dir)("events").select(col("event_type"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("v"))
      val med = med2ByType(e, "v").withColumnRenamed("m2", "med2")
      val dev = e.join(broadcast(med), Seq("event_type"))
        .select(col("event_type"), col("med2"),
          abs(col("v") * 2 - col("med2")).as("dev"))
      val mad = med2ByType(dev, "dev").withColumnRenamed("m2", "mad4")
      dev.join(broadcast(mad), Seq("event_type"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          max(col("med2")).as("med2x_centi"),
          max(col("mad4")).as("mad4x_centi"),
          sum(when(col("dev") * 2 > col("mad4") * 3, 1L).otherwise(0L))
            .as("n_anomalies"))
        .orderBy("event_type")
    }),
    "events_anomaly_seasonal" -> ((s, dir) => {
      // Seasonal-adjusted anomaly screen: hourly event counts judged
      // against the type × hour-of-day seasonal baseline
      // (events_hourly_profile's grid) instead of a global mean — a 1.5×
      // spike at 3am is an incident, the same count at noon is Tuesday.
      // All-integer: D = days in the corpus span (broadcast 1-row), so a
      // cell's seasonal mean is S/D with S its hour-of-day total, and the
      // flag 2·n·D ≥ 3·S is an exact cross-multiplication — no division,
      // no float. Silent hours read 0 and can never flag high, so the
      // zero-filled grid is implicit in D counting EVERY day of the span
      // (the events_autocorr lesson: quiet periods must weigh the
      // baseline, not vanish from it). Work shape: one scan-aggregate to
      // the days×24×ǀtypesǀ-bounded hour grid; profile and span join
      // broadcast; peak ratio in integer ppm (n·D·1e6 exceeds int64 only
      // past ~1e9 events/hour-cell × 3000 days — declared bound).
      val e = eventsUs(s, dir)
      val hours = e.groupBy(col("event_type"),
          hourFloor(col("ts_us")).as("hour_us"))
        .agg(count(lit(1)).as("n"))
        .withColumn("hod",
          call_function("div", col("hour_us"), lit(usPerHour)) % 24)
      val span = e.agg(
        call_function("div", min("ts_us"), lit(usPerDay)).as("d0"),
        call_function("div", max("ts_us"), lit(usPerDay)).as("d1"))
      val prof = hours.groupBy("event_type", "hod").agg(sum("n").as("s_tot"))
      hours.join(broadcast(prof), Seq("event_type", "hod"))
        .join(broadcast(span))
        .withColumn("ndays", col("d1") - col("d0") + 1)
        .groupBy("event_type")
        .agg(max(col("ndays")).as("n_days"),
          count(lit(1)).as("n_hour_cells"),
          sum(col("n")).as("n_events"),
          sum(when(col("n") * col("ndays") * 2 >= col("s_tot") * 3, 1L)
            .otherwise(0L)).as("n_anom_3halfx"),
          max(call_function("div", col("n") * col("ndays") * lit(1000000L),
            col("s_tot"))).as("peak_ratio_ppm"))
        .orderBy("event_type")
    }),

    "events_cohort_ltv_curve" -> ((s, dir) => {
      // Cohort LTV curve: cumulative purchase value per user by cohort
      // week × weeks-since-acquisition — the payback-period table growth
      // teams read (which acquisition cohorts earn back spend, and how
      // fast; a flattening curve = monetization stalls after week k).
      // events_retention_cohorts' integer day/week bucketing (micros div,
      // identical on both engines) extended with money: purchase values
      // accumulate as exact centi-longs, the cumulative sum runs on the
      // cohorts×weeks-bounded curve frame (a calendar-sized window, never
      // the events), and LTV-per-user is an integer div. Cohort
      // assignment counts ANY event type (first touch); only purchases
      // monetize. Cohort-size table is user-sized — unhinted, AQE decides
      // the join strategy (the r10 broadcast-hint lesson).
      val e = t(s, dir)("events")
        .select(col("user_id"), col("event_type"),
          call_function("div", tsDivMicros(col("ts")), lit(usPerDay * 7))
            .as("week"),
          floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))
      val cohort = e.groupBy("user_id").agg(min(col("week")).as("cohort_week"))
      val sizes = cohort.groupBy("cohort_week")
        .agg(count(lit(1)).as("cohort_size"))
      val curve = e.filter(col("event_type") === "purchase")
        .join(cohort, "user_id")
        .groupBy(col("cohort_week"), (col("week") - col("cohort_week")).as("week_offset"))
        .agg(countDistinct(col("user_id")).as("n_buyers"),
          sum(col("cents")).as("wk_cents"))
      val wc = Window.partitionBy("cohort_week").orderBy("week_offset")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      curve.withColumn("cum_cents", sum("wk_cents").over(wc))
        .join(broadcast(sizes), Seq("cohort_week"))
        .select(col("cohort_week"), col("week_offset"), col("cohort_size"),
          col("n_buyers"), col("wk_cents"), col("cum_cents"),
          call_function("div", col("cum_cents"), col("cohort_size"))
            .as("ltv_cents_per_user"))
        .orderBy("cohort_week", "week_offset")
    }),

    "events_ab_test" -> ((s, dir) => {
      // A/B experiment readout (round 11): user_id parity splits traffic
      // into two cohorts; per event type, the Welch two-sample z on mean
      // value — the statistic every experimentation platform prints.
      // agg_corr_covar's moment recipe: exact centi-integer sums
      // (DECIMAL(38,0) — overflow-proof at any event count), double
      // arithmetic once per (type, cohort) on the exact scalars; the
      // cohort pivot is a type-sized self-join. Everything before the
      // final 5-row frame is one partial+final hash agg.
      import org.apache.spark.sql.types.DecimalType
      val d = DecimalType(38, 0)
      val e = t(s, dir)("events").select(col("event_type"),
        (col("user_id") % 2).as("cohort"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("v"))
      val g = e.groupBy("event_type", "cohort")
        .agg(count(lit(1)).as("n"),
          sum(col("v").cast(d)).cast("double").as("s"),
          sum((col("v") * col("v")).cast(d)).cast("double").as("ss"))
      val a = g.filter(col("cohort") === 0).select(col("event_type"),
        col("n").as("n_a"), col("s").as("s1"), col("ss").as("ss1"))
      val b = g.filter(col("cohort") === 1).select(col("event_type"),
        col("n").as("n_b"), col("s").as("s2"), col("ss").as("ss2"))
      val v1 = (col("ss1") - col("s1") * col("s1") / col("n_a")) / (col("n_a") - 1)
      val v2 = (col("ss2") - col("s2") * col("s2") / col("n_b")) / (col("n_b") - 1)
      val diff = col("s1") / col("n_a") - col("s2") / col("n_b")
      a.join(b, Seq("event_type"))
        .withColumn("mean_diff4", r4(diff / lit(100.0)))
        .withColumn("z6", r6(diff / sqrt(v1 / col("n_a") + v2 / col("n_b"))))
        .withColumn("significant",
          (abs(col("z6")) > lit(1.96)).cast("int"))
        .select(col("event_type"), col("n_a"), col("n_b"),
          col("mean_diff4"), col("z6"), col("significant"))
        .orderBy("event_type")
    }),

    "scd2_type_history" -> ((s, dir) => {
      // Changelog → SCD2: collapse consecutive same-type runs per user
      // (gaps-and-islands change capture), then build [valid_from,
      // valid_to) intervals with lead(); the open row is is_current.
      // This is the standard dimension-history build: two window passes
      // over ONE user_id exchange (same order key, so Catalyst reuses
      // the sort), no self-join.
      val ord = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val e = eventsUs(s, dir)
        .withColumn("prev_type", lag("event_type", 1).over(ord))
        .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("ts_us").as("valid_from_us"))
      val ord2 = Window.partitionBy("user_id").orderBy("valid_from_us", "event_id")
      e.withColumn("valid_to_us", lead("valid_from_us", 1).over(ord2))
        .withColumn("is_current", col("valid_to_us").isNull.cast("int"))
        .orderBy("user_id", "valid_from_us", "event_id")
    }),

    "events_attribution_first_touch" -> ((s, dir) => {
      // First-touch attribution: each purchase credited to the EARLIEST
      // click inside its trailing 24h window — the campaign-origin twin
      // of last-touch (which wants the freshest click, so a running
      // carry suffices there; first-touch genuinely needs the bounded
      // frame, or a stale first-ever click would mask a fresh one). ONE
      // integer RANGE frame per user — Spark's sliding frame pointer
      // keeps it O(n) per partition — with exact micros bounds, so frame
      // inclusion is bit-identical cross-engine. No self-join.
      val lookbackUs = 86400000000L // 24h
      val w = Window.partitionBy("user_id").orderBy("ts_us")
        .rangeBetween(-lookbackUs, 0)
      eventsUs(s, dir)
        .withColumn("first_click_ts",
          min(when(col("event_type") === "click", col("ts_us"))).over(w))
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts_us"),
          col("first_click_ts"),
          (col("ts_us") - col("first_click_ts")).as("gap_us"),
          col("first_click_ts").isNotNull.cast("int").as("attributed"))
        .orderBy("event_id")
    }),

    "events_top_paths" -> ((s, dir) => {
      // 3-step sequence mining: every event starts an (e1 > e2 > e3) path
      // via two leads over ONE per-user time-ordered window (same sort,
      // one user_id exchange); the path aggregate partially combines
      // map-side onto |types|³-bounded rows, and the global top-20 is a
      // TakeOrdered under a total (count desc, path) order — no full sort.
      // lead(2) non-null implies lead(1) non-null within the partition, so
      // the single e3 guard keeps only complete paths.
      val ord = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      eventsUs(s, dir)
        .withColumn("e2", lead("event_type", 1).over(ord))
        .withColumn("e3", lead("event_type", 2).over(ord))
        .filter(col("e3").isNotNull)
        .select(concat_ws(">", col("event_type"), col("e2"), col("e3")).as("path"))
        .groupBy("path").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("path"))
        .limit(20)
    }),

    "events_user_overlap" -> ((s, dir) => {
      // Audience overlap: Jaccard of the user sets behind every event-type
      // pair. One groupBy(user_id) collapses each user to their distinct
      // type set (≤ |types| elements); the pair expansion runs on that
      // vocabulary-bounded array — ≤ |types|² rows per user, never a
      // fact-table self-join — and the per-type user counts reuse the same
      // collapsed frame. Jaccard is exact integer ppm (D-rule: inter·1e6
      // div union, no float division). Both count frames are
      // |types|-bounded, hence the broadcast hints are schema-bounded.
      val sets = t(s, dir)("events").groupBy("user_id")
        .agg(sort_array(collect_set(col("event_type"))).as("types"))
      val pairs = sets
        .select(explode(col("types")).as("type_a"), col("types"))
        .select(col("type_a"), explode(col("types")).as("type_b"))
        .filter(col("type_a") < col("type_b"))
        .groupBy("type_a", "type_b").agg(count(lit(1)).as("n_both"))
      val perType = sets.select(explode(col("types")).as("etype"))
        .groupBy("etype").agg(count(lit(1)).as("n_users"))
      pairs
        .join(broadcast(perType.select(col("etype").as("type_a"),
          col("n_users").as("users_a"))), Seq("type_a"))
        .join(broadcast(perType.select(col("etype").as("type_b"),
          col("n_users").as("users_b"))), Seq("type_b"))
        .select(col("type_a"), col("type_b"), col("users_a"), col("users_b"),
          col("n_both"),
          call_function("div", col("n_both") * lit(1000000L),
            col("users_a") + col("users_b") - col("n_both")).as("jaccard_ppm"))
        .orderBy("type_a", "type_b")
    }),

    "events_streaks" -> ((s, dir) => {
      // Longest same-type run per user (round 11): the gaps-and-islands
      // primitive as a STATISTIC — "this user clicked 9 times in a row" —
      // behind bot screens and engagement features (scd2_type_history
      // uses the same island trick for interval HISTORY; this op reduces
      // islands to each user's maximum). island id = rn_overall −
      // rn_within_type: constant exactly while one type repeats
      // consecutively. Both rank windows share the user_id exchange (the
      // second adds event_type to the partition key — same shuffle, local
      // re-sort); everything after is island-count-sized. Tie on equal
      // max length → earliest start, then type asc: a total, replayable
      // order.
      val ord = Seq(col("ts_us"), col("event_id"))
      val wAll = Window.partitionBy("user_id").orderBy(ord: _*)
      val wTyp = Window.partitionBy("user_id", "event_type").orderBy(ord: _*)
      eventsUs(s, dir)
        .select(col("user_id"), col("event_type"), col("ts_us"), col("event_id"))
        .withColumn("island",
          row_number().over(wAll) - row_number().over(wTyp))
        .groupBy("user_id", "event_type", "island")
        .agg(count(lit(1)).as("streak_len"), min("ts_us").as("start_us"))
        .withColumn("rn", row_number().over(Window.partitionBy("user_id")
          .orderBy(col("streak_len").desc, col("start_us"), col("event_type"))))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_type"), col("streak_len"),
          col("start_us"))
        .orderBy("user_id")
    }),

    "events_user_entropy" -> ((s, dir) => {
      // Behavioral diversity score (round 12): Shannon entropy of each
      // user's event-TYPE mix — the bot/scraper screen (a user doing one
      // thing in a loop scores ~0; organic use scores near ln of the
      // type count). The text_entropy identity on the events table:
      // H = ln N − (Σ c·ln c)/N, ln only on INTEGER counts, each
      // floor-quantized to micro-nats immediately, exact long
      // accumulation, one double division + r6 at the boundary. The
      // per-user distinct frame is type-bounded (≤5 rows/user), so the
      // shuffle carries (user, type) counts — never events.
      def lnq(x: Column): Column =
        floor(log(x.cast("double")) * lit(1000000d)).cast("long")
      t(s, dir)("events")
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("c"))
        .groupBy("user_id")
        .agg(sum("c").as("n_events"),
          sum(col("c") * lnq(col("c"))).as("sum_c_lnc_u"))
        .select(col("user_id"), col("n_events"), col("sum_c_lnc_u"),
          r6((lnq(col("n_events")) * col("n_events") - col("sum_c_lnc_u"))
            .cast("double")
            / (col("n_events").cast("double") * lit(1000000d))).as("entropy6"))
        .orderBy("user_id")
    }),

    "events_period_autocorr" -> ((s, dir) => {
      // Period detection (round 12): per event type, the lag-1..10
      // autocovariance of the DAILY count series — the screen that finds
      // weekly/daily cycles in traffic before any forecasting model is
      // fit (a strong lag-7 peak = weekly seasonality). Exact integers
      // throughout: with S = Σc and N = |days|, the centered product
      // (N·c_d − S)(N·c_{d+L} − S) is integer, so the per-(type, lag)
      // numerator Σ_d (…)(…) is an exact long sum — no float means, no
      // dialect drift; acv6 is a safe-rounded display ratio only.
      // Zero days COUNT: the grid is types × the corpus' day span (both
      // bounded — types by schema, days by time span), left-joined and
      // zero-filled, so a silent day reads as c=0, not a missing row.
      // Scale shape: one agg collapses events to the (type, day) frame;
      // everything after — grid, lag self-join (≤10 lags), totals — runs
      // on bounded frames; nothing is ever partitioned by nothing.
      // Long-bound: |N·c − S| ≤ N·c_max; at 10000× fixture scale the
      // product×span sum is ~1e18 < 2^63 (rescale to day-thousands past
      // that).
      val e = eventsUs(s, dir).select(col("event_type"),
        call_function("div", col("ts_us"), lit(usPerDay)).as("day"))
      val span = e.agg(min("day").as("d0"), max("day").as("d1"))
      val days = span.select(explode(sequence(col("d0"), col("d1"))).as("day"))
      val grid = e.select("event_type").distinct().crossJoin(broadcast(days))
      val cnt = e.groupBy("event_type", "day").agg(count(lit(1)).as("c"))
      val g = grid.join(cnt, Seq("event_type", "day"), "left")
        .withColumn("c", coalesce(col("c"), lit(0L)))
      val tot = g.groupBy("event_type")
        .agg(sum("c").as("stot"), count(lit(1)).as("n_days"))
      val gg = g.join(broadcast(tot), Seq("event_type"))
        .withColumn("dev", col("n_days") * col("c") - col("stot"))
      gg.as("x").join(gg.as("y"),
          col("x.event_type") === col("y.event_type")
            && col("y.day") > col("x.day")
            && col("y.day") <= col("x.day") + lit(10L))
        .groupBy(col("x.event_type").as("event_type"),
          (col("y.day") - col("x.day")).as("lag"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("x.dev") * col("y.dev")).as("acov_num"),
          max(col("x.n_days")).as("n_days"))
        .select(col("event_type"), col("lag"), col("n_pairs"), col("acov_num"),
          r6(col("acov_num").cast("double")
            / (col("n_pairs") * col("n_days") * col("n_days")).cast("double"))
            .as("acv6"))
        .orderBy("event_type", "lag")
    }),

    "events_cusum_drift" -> ((s, dir) => {
      // CUSUM drift screen (round 11): per event type, the cumulative sum
      // of integer deviations from the type's exact median, and the
      // moment that sum peaks — a sustained level shift accumulates
      // linearly in the CUSUM long before any single point trips a
      // z-score/MAD outlier cut (the changepoint-vs-outlier distinction;
      // Page's classic sequential statistic). All integer: deviations are
      // 2·v − med2 in centi-units (the shared (lo+hi)-median recipe), the
      // running sum is a ROWS cum-window over (ts, event_id), the peak is
      // a rank window with an earliest-ts tie-break. Both windows
      // partition by type — the same honest rank-exactness cost as the
      // median family; at 100 TB the screen runs per (type, day) shard.
      // Scale shape (the r11 100× probe measured the naive per-type
      // global window at 15×): the running sum is a SHARDED PREFIX SUM
      // WITH CARRY — local cum within (type, day) partitions + the
      // cumulated previous-day totals as a broadcast offset (the
      // types×days offset frame is time-span-bounded). The peak argmax
      // two-levels the same way: per-day winner, then the global winner
      // over ≤ǀdaysǀ candidates — both levels use the identical
      // (ǀcumǀ desc, ts, event_id) order, so the result is exactly the
      // single-window answer (the global best row wins its day, then
      // wins the final). Every window is partitioned; nothing data-sized
      // is single-task.
      val e = eventsUs(s, dir).select(col("event_type"), col("ts_us"),
        col("event_id"), floor(col("value") * 100 + lit(0.5)).cast("long").as("v"))
      val med = med2ByType(e.select(col("event_type"), col("v")), "v")
        .withColumnRenamed("m2", "med2")
      val scored = e.join(broadcast(med), Seq("event_type"))
        .withColumn("dev", col("v") * 2 - col("med2"))
        .withColumn("day", call_function("div", col("ts_us"), lit(usPerDay)))
      val wd = Window.partitionBy("event_type", "day")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wdays = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val offsets = scored.groupBy("event_type", "day")
        .agg(sum("dev").as("day_sum"))
        .withColumn("offset", sum("day_sum").over(wdays) - col("day_sum"))
        .select("event_type", "day", "offset")
      val cum = scored
        .withColumn("local_cum", sum("dev").over(wd))
        .join(broadcast(offsets), Seq("event_type", "day"))
        .withColumn("cum", col("local_cum") + col("offset"))
      val wpd = Window.partitionBy("event_type", "day")
        .orderBy(abs(col("cum")).desc, col("ts_us"), col("event_id"))
      val wp = Window.partitionBy("event_type")
        .orderBy(abs(col("cum")).desc, col("ts_us"), col("event_id"))
      val nPer = e.groupBy("event_type").agg(count(lit(1)).as("n_events"))
      cum.withColumn("rk", row_number().over(wpd)).filter(col("rk") === 1)
        .withColumn("rk2", row_number().over(wp)).filter(col("rk2") === 1)
        .join(broadcast(nPer), Seq("event_type"))
        .select(col("event_type"), col("n_events"), col("med2")
          .as("med2x_centi"), abs(col("cum")).as("max_abs_cusum"),
          col("ts_us").as("peak_us"))
        .orderBy("event_type")
    }),

    "events_autocorr" -> ((s, dir) => {
      // Sample autocorrelation of the GLOBAL daily event-count series at
      // lags 1..7 (round 12, verified r13) — the seasonality detector
      // behind "is traffic weekly-periodic": a spike at lag 7 is the
      // weekend signature that q_seasonal_index assumes and this op
      // PROVES. Complements events_period_autocorr (per-type lag
      // AUTOCOVARIANCE): this is the normalized CORRELATION of the whole
      // stream, with both variance numerators emitted. Zero days COUNT
      // (r13, the sibling's rule): the day grid spans [min, max] and is
      // left-joined + zero-filled, so a silent day reads x=0 — skipping
      // it would pair day d with the NEXT observed day instead of d+k
      // and the lag would be a lie. All-integer moment recipe
      // (agg_corr_covar / events_ab_test discipline): daily counts x_t
      // are exact longs; per lag the correlation NUMERATORS
      // n·Σxy − Σx·Σy and n·Σxx − (Σx)² accumulate in DECIMAL(38,0)
      // (overflow-proof at any event count — daily counts of 1e10 square
      // to 1e20 > long) and emit as BIGINT (exact at validation scale;
      // the DuckDB twin sums in HUGEINT and casts the same boundary).
      // acf6 is display-only: one fixed IEEE sequence num/(sqrt·sqrt)
      // from the exact scalars — sqrt is correctly rounded cross-engine,
      // pow is not (the moment-stats rule). Scale shape: the event scan
      // collapses map-side into the per-day partial count; everything
      // after is CALENDAR-BOUNDED (ǀdaysǀ rows, ×7 after the lag
      // explode) — at 100 TB the joins and aggs below the first groupBy
      // touch a few thousand rows regardless of data size.
      import org.apache.spark.sql.types.DecimalType
      val d0 = DecimalType(38, 0)
      val e = eventsUs(s, dir)
        .select(call_function("div", col("ts_us"), lit(usPerDay)).as("day"))
      val span = e.agg(min("day").as("d0"), max("day").as("d1"))
      val days = span.select(explode(sequence(col("d0"), col("d1"))).as("day"))
      val cnt = e.groupBy("day").agg(count(lit(1)).as("x"))
      val daily = days.join(cnt, Seq("day"), "left")
        .withColumn("x", coalesce(col("x"), lit(0L)))
      val lagged = daily
        .withColumn("k", explode(array((1 to 7).map(lit): _*)))
        .select((col("day") + col("k")).as("day"), col("k"),
          col("x").as("x_lag"))
      val g = daily.join(lagged, Seq("day"))
        .groupBy("k")
        .agg(count(lit(1)).as("n"),
          sum(col("x").cast(d0)).as("sx"),
          sum(col("x_lag").cast(d0)).as("sy"),
          sum((col("x") * col("x")).cast(d0)).as("sxx"),
          sum((col("x_lag") * col("x_lag")).cast(d0)).as("syy"),
          sum((col("x") * col("x_lag")).cast(d0)).as("sxy"))
      val cov = col("n") * col("sxy") - col("sx") * col("sy")
      val vx = col("n") * col("sxx") - col("sx") * col("sx")
      val vy = col("n") * col("syy") - col("sy") * col("sy")
      g.select(col("k").cast("int").as("lag"), col("n").as("n_pairs"),
          cov.cast("long").as("cov_num"),
          vx.cast("long").as("vx_num"),
          vy.cast("long").as("vy_num"),
          when(vx > 0 && vy > 0,
            r6(cov.cast("double")
              / (sqrt(vx.cast("double")) * sqrt(vy.cast("double")))))
            .as("acf6"))
        .orderBy("lag")
    }),

    "events_drawdown" -> ((s, dir) => {
      // Max drawdown (round 14) — the peak-to-trough risk metric, run on
      // the cumulative daily centi-value series per event type: drawdown
      // at day d = running_max(cum) − cum(d); the op reports each type's
      // worst drawdown and its (earliest) trough day. A silent day leaves
      // cum unchanged, so zero-filling cannot alter any drawdown —
      // observed-day grid is exact here by construction. One fact-sized
      // agg to the calendar-bounded (type × day) grid; three windows and
      // the final rollup all run on that bounded frame. All-integer.
      val daily = eventsUs(s, dir)
        .select(col("event_type"),
          call_function("div", col("ts_us"), lit(usPerDay)).as("day"),
          floor(col("value") * 100 + lit(0.5)).cast("long").as("vc"))
        .groupBy("event_type", "day")
        .agg(sum("vc").as("dvc"))
      val wo = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily
        .withColumn("cum", sum("dvc").over(wo))
        .withColumn("dd", max(col("cum")).over(wo) - col("cum"))
        .withColumn("dd_max", max("dd").over(Window.partitionBy("event_type")))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_days"),
          max("dd").as("max_drawdown_c"),
          min(when(col("dd") === col("dd_max"), col("day"))).as("trough_day"))
        .orderBy("event_type")
    }),

    "events_rolling_median" -> ((s, dir) => {
      // Rolling exact median (round 14): the 7-OBSERVED-DAY trailing
      // median of daily event counts per type — the robust smoother that
      // (unlike the EWMA twin) ignores a single spike day entirely.
      // Neither engine has an exact median window; the frame is ≤7 rows,
      // so collect-the-frame + sort is EXACT and O(7 log 7) per grid row
      // — legitimate precisely because the input is the calendar-bounded
      // day grid, never the raw stream. Even-count frames emit the lo/hi
      // pair (no interpolation, §7.4 median trap); both engines index the
      // same sorted list 1-based.
      val daily = eventsUs(s, dir)
        .select(col("event_type"),
          call_function("div", col("ts_us"), lit(usPerDay)).as("day"))
        .groupBy("event_type", "day")
        .agg(count(lit(1)).as("c"))
      val w = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(-6, Window.currentRow)
      daily
        .withColumn("win", sort_array(collect_list(col("c")).over(w)))
        .select(col("event_type"), col("day"), col("c"),
          size(col("win")).as("k"),
          element_at(col("win"), ((size(col("win")) + 1) / 2).cast("int"))
            .as("med_lo"),
          element_at(col("win"), (size(col("win")) / 2 + 1).cast("int"))
            .as("med_hi"))
        .orderBy("event_type", "day")
    }),

    "events_downtime_intervals" -> ((s, dir) => {
      // Downtime detection (round 14): per event type, silent intervals
      // ≥ 60 minutes between consecutive ACTIVE minutes — the uptime/SLA
      // ledger. Scale shape: the only fact-sized pass is the DISTINCT
      // collapse onto the (type × active-minute) grid (≤ types × span
      // minutes at any SF — the events_dau_wau discipline); the lag runs
      // on that bounded grid, never on raw events, so a billion events in
      // one minute cost the same as one. gap = minutes strictly between
      // active minutes; types with no qualifying outage are absent (inner
      // semantics, mirrored by the twin).
      val minutes = eventsUs(s, dir)
        .select(col("event_type"),
          call_function("div", col("ts_us"), lit(60000000L)).as("minute"))
        .distinct()
      val w = Window.partitionBy("event_type").orderBy("minute")
      minutes
        .withColumn("prev", lag("minute", 1).over(w))
        .withColumn("gap", col("minute") - col("prev") - 1)
        .filter(col("prev").isNotNull && col("gap") >= 60)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_outages"), sum("gap").as("down_minutes"),
          max("gap").as("max_outage_min"),
          min(col("prev") + 1).as("first_outage_start_min"))
        .orderBy("event_type")
    }),

    "events_session_depth_hist" -> ((s, dir) => {
      // Session-depth histogram (round 14): how many events do sessions
      // contain? Composes the events_sessionize kernel VERBATIM (same
      // >30-min break rule, same (ts, event_id) total order) and rolls the
      // per-session counts into a depth histogram with a 20+ tail bucket
      // (the bucket keeps the output domain bounded; raw depth is
      // unbounded at scale). Both windows and the session agg key on
      // user_id — ONE shuffle, per-user frames bounded.
      val gapUs = 30L * 60L * 1000000L
      val wOrd = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      eventsUs(s, dir)
        .select(col("user_id"), col("event_id"), col("ts_us"))
        .withColumn("is_new",
          when(col("ts_us") - lag("ts_us", 1).over(wOrd) > gapUs, 1L)
            .when(lag("ts_us", 1).over(wOrd).isNull, 1L).otherwise(0L))
        .withColumn("session_id", sum(col("is_new")).over(wRun))
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("depth"))
        .select(when(col("depth") >= 20, lit(20L)).otherwise(col("depth"))
          .as("depth_bucket"))
        .groupBy("depth_bucket")
        .agg(count(lit(1)).as("n_sessions"))
        .orderBy("depth_bucket")
    }),

    "events_weekly_seasonality_strength" -> ((s, dir) => {
      // Weekly-seasonality strength (round 14): one-way variance
      // decomposition of the daily count series by ISO weekday —
      // strength = SSB/SST, the share of daily variance the
      // day-of-week pattern explains (the STL-seasonality diagnostic,
      // computed exactly). All integer moments on the calendar-bounded
      // day grid: SST_num = N·Σc² − S²; SSB_num = Σ_g (N·S_g²) div n_g
      // − S², with the per-group div an exact integer truncation BOTH
      // engines perform identically (declared quantization — ≤7 div
      // truncations of ≤1 each). ISO dow from the epoch-day identity
      // (day+3) mod 7 + 1 (1970-01-01 was a Thursday → 4) — no
      // timezone, no date parsing, same arithmetic both engines.
      val daily = eventsUs(s, dir)
        .select(col("event_type"),
          call_function("div", col("ts_us"), lit(usPerDay)).as("day"))
        .groupBy("event_type", "day")
        .agg(count(lit(1)).as("c"))
        .withColumn("dow", pmod(col("day") + 3, lit(7L)) + 1)
      val perDow = daily.groupBy("event_type", "dow")
        .agg(count(lit(1)).as("n_g"), sum("c").as("s_g"))
      val perType = daily.groupBy("event_type")
        .agg(count(lit(1)).as("n_days"), sum("c").as("s"),
          sum(col("c") * col("c")).as("q"))
      perDow.join(perType, "event_type")
        .groupBy(col("event_type"), col("n_days"), col("s"), col("q"))
        .agg(sum(call_function("div",
          col("n_days") * col("s_g") * col("s_g"), col("n_g"))).as("ssb_raw"))
        .select(col("event_type"), col("n_days"),
          (col("ssb_raw") - col("s") * col("s")).as("ssb_num"),
          (col("n_days") * col("q") - col("s") * col("s")).as("sst_num"))
        .withColumn("strength6",
          when(col("sst_num") > 0,
            r6(col("ssb_num").cast("double") / col("sst_num").cast("double"))))
        .orderBy("event_type")
    }),

    "events_survival_km" -> ((s, dir) => {
      // Kaplan-Meier survival curve (round 14) over user lifetimes — the
      // censoring-correct churn statistic (a naive mean lifetime treats
      // still-active users as churned and biases low; KM is the standard
      // estimator every retention analysis reaches for). Lifetime = days
      // between a user's first and last event; users whose last event
      // falls in the corpus' final 3 days are CENSORED (still alive at
      // observation end — they leave the risk set without counting as a
      // death). One fact-sized user agg collapses to the per-user frame,
      // then a lifetime histogram bounded by the corpus day span (≤31
      // distinct lifetimes at any SF) carries everything: n_risk(t) is a
      // suffix-sum window over that grid, and the product Π(1 − d/n) runs
      // in µnat log space — each ln argument an INTEGER count, floor-
      // quantized immediately (the events_user_entropy recipe), so the
      // cumulative sum is exact int64 and survival6 is bit-identical
      // cross-engine. A death time exhausting the risk set (n = d) zeroes
      // survival from there on via a running flag (ln 0 never evaluated).
      def lnq(x: Column): Column =
        floor(log(x.cast("double")) * 1e6).cast("long")
      val u = eventsUs(s, dir)
        .select(col("user_id"),
          call_function("div", col("ts_us"), lit(usPerDay)).as("day"))
        .groupBy("user_id").agg(min("day").as("d0"), max("day").as("d1"))
      val maxd = u.agg(max("d1").as("maxd"))
      val lt = u.crossJoin(broadcast(maxd))
        .select((col("d1") - col("d0")).as("lt"),
          when(col("d1") >= col("maxd") - 2, 1L).otherwise(0L).as("cens"))
      val h = lt.groupBy("lt")
        .agg(count(lit(1)).as("n_all"), sum(lit(1L) - col("cens")).as("d"))
      val wDesc = Window.orderBy(col("lt").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAsc = Window.orderBy(col("lt"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      h.withColumn("n_risk", sum("n_all").over(wDesc))
        .filter(col("d") > 0)
        .withColumn("fu", when(col("n_risk") > col("d"),
          lnq(col("n_risk") - col("d")) - lnq(col("n_risk"))).otherwise(0L))
        .withColumn("z", when(col("n_risk") === col("d"), 1L).otherwise(0L))
        .withColumn("cum", sum("fu").over(wAsc))
        .withColumn("zz", max("z").over(wAsc))
        .select(col("lt").as("lifetime_days"), col("n_risk"),
          col("d").as("n_deaths"),
          when(col("zz") === 1, lit(0.0))
            .otherwise(r6(exp(col("cum").cast("double") / lit(1e6))))
            .as("survival6"))
        .orderBy("lifetime_days")
    }),

    "events_changepoint" -> ((s, dir) => {
      // Best single mean-shift change-point (round 14) on the global
      // daily-count series — the regime-shift locator (deploy broke
      // traffic WHERE?) complementing events_cusum_drift's threshold
      // alarm: cusum tells you drift exceeded a bound, this finds the
      // SPLIT maximizing the mean contrast between the two segments.
      // Candidate split after day-index i (min segment 3 days each side);
      // means in exact integer ppm (div — both engines truncate
      // identically on the non-negative counts), argmax by contrast with
      // earliest-day tiebreak. One fact-sized day agg; every window runs
      // on the calendar-bounded grid (≤2400 rows at any SF).
      val daily = eventsUs(s, dir)
        .select(call_function("div", col("ts_us"), lit(usPerDay)).as("day"))
        .groupBy("day").agg(count(lit(1)).as("c"))
      val wAsc = Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val cand = daily
        .withColumn("i", row_number().over(Window.orderBy("day")))
        .withColumn("n", count(lit(1)).over(wAll))
        .withColumn("s", sum("c").over(wAll))
        .withColumn("s1", sum("c").over(wAsc))
        .filter(col("i") >= 3 && col("n") - col("i") >= 3)
        .withColumn("m1_ppm",
          call_function("div", col("s1") * lit(1000000L), col("i")))
        .withColumn("m2_ppm", call_function("div",
          (col("s") - col("s1")) * lit(1000000L), col("n") - col("i")))
        .withColumn("contrast_ppm", abs(col("m1_ppm") - col("m2_ppm")))
      keepFirst(cand, Seq(), Seq(col("contrast_ppm").desc, col("day")))
        .select(col("day").as("split_day"), col("i").cast("long").as("n_left"),
          (col("n") - col("i")).as("n_right"),
          col("m1_ppm").as("mean_left_ppm"), col("m2_ppm").as("mean_right_ppm"),
          col("contrast_ppm"))
    }),

    "events_uniformity_chi2" -> ((s, dir) => {
      // Minute-of-hour χ² uniformity test (round 14) per event type — the
      // synthetic-traffic screen events_bot_screen's per-user rates can't
      // catch: cron-driven bots fire at FIXED minutes, so their
      // minute-of-hour histogram spikes where organic traffic is flat.
      // χ² against uniform via the algebraic identity Σ(c−n/60)²/(n/60) =
      // 60·Σc²/n − n — absent minutes contribute 0 to Σc², so NO zero-fill
      // join is needed; the whole test is one partial+final agg to the
      // ≤ types×60 grid (scan-bound at any SF). Exact integer milli units
      // (div of non-negative operands — Cauchy-Schwarz gives 60Σc² ≥ n²;
      // 60000·Σc² stays int64-safe to ~10M events/type, declared bound);
      // is_uniform_95 compares against χ²(df=59, 0.95) = 77.931.
      val m = eventsUs(s, dir)
        .select(col("event_type"),
          pmod(call_function("div", col("ts_us"), lit(60000000L)), lit(60L))
            .as("moh"))
        .groupBy("event_type", "moh").agg(count(lit(1)).as("c"))
      m.groupBy("event_type")
        .agg(sum("c").as("n"), count(lit(1)).as("n_minutes_hit"),
          sum(col("c") * col("c")).as("sumc2"))
        .withColumn("chi2_milli",
          call_function("div", lit(60000L) * col("sumc2"), col("n"))
            - lit(1000L) * col("n"))
        .withColumn("is_uniform_95",
          (col("chi2_milli") <= 77931L).cast("int"))
        .select("event_type", "n", "n_minutes_hit", "chi2_milli",
          "is_uniform_95")
        .orderBy("event_type")
    }),

    "events_holt_linear" -> ((s, dir) => {
      // Holt linear-trend smoothing (round 14) of the global daily-count
      // series, α = β = ½ — the level+trend forecaster one notch above
      // q_forecast_revenue's OLS line (Holt adapts to recent regime, OLS
      // fits all history equally). The recurrence is inherently
      // sequential, so it runs where sequential is FREE: the day grid is
      // calendar-bounded (≤2400 rows at any SF), collected into ONE
      // sorted array and folded with aggregate() — the fact-sized work is
      // only the day agg. All state in exact milli int64; the halving is
      // div (TRUNCATING division — measured: DuckDB's integer // also
      // truncates on negatives, (-333)//2 = -166, so div matches it
      // exactly on NEGATIVE trends where shiftright — floor — was off by
      // one). Contract: l₀ = x₀, b₀ = x₁ − x₀ (applied from the t=1
      // step); lₜ = div(xₜ + lₜ₋₁ + bₜ₋₁, 2), bₜ = div(lₜ − lₜ₋₁ + bₜ₋₁,
      // 2); forecast7 = l + 7b. Oracle replays via a recursive CTE.
      val daily = eventsUs(s, dir)
        .select(call_function("div", col("ts_us"), lit(usPerDay)).as("day"))
        .groupBy("day").agg((count(lit(1)) * lit(1000L)).as("x"))
      val arr = daily.agg(
        sort_array(collect_list(struct(col("day"), col("x")))).as("ser"))
      val init = struct(lit(0L).as("i"), lit(0L).as("l"), lit(0L).as("b"),
        lit(0L).as("prevx"))
      val folded = aggregate(col("ser"), init, (st, e) => {
        val x = e.getField("x")
        val i = st.getField("i")
        val b0 = when(i === 1, x - st.getField("prevx"))
          .otherwise(st.getField("b"))
        val l2 = call_function("div", x + st.getField("l") + b0, lit(2L))
        val b2 = call_function("div", l2 - st.getField("l") + b0, lit(2L))
        struct((i + 1).as("i"),
          when(i === 0, x).otherwise(l2).as("l"),
          when(i === 0, lit(0L)).otherwise(b2).as("b"),
          x.as("prevx"))
      })
      arr.select(size(col("ser")).cast("long").as("n_days"),
          folded.getField("l").as("level_milli"),
          folded.getField("b").as("trend_milli"))
        .withColumn("forecast7_milli",
          col("level_milli") + lit(7L) * col("trend_milli"))
    }),

    "events_alert_debounce" -> ((s, dir) => {
      // Debounced alerting (round 14): an alert EPISODE is ≥3 consecutive
      // above-mean hours of error traffic — the de-flapped paging rule
      // (one hot hour is noise; three in a row is an incident), the batch
      // twin of stream_threshold_alerts. Hot = hourly count strictly
      // above the global hourly mean, compared in pure integers
      // (c·n_hours > total — no division at all). Consecutiveness via the
      // hour − row_number island trick ON THE HOT ROWS: an unobserved or
      // cold hour breaks the run because the hour VALUE jumps. One fact
      // agg to the calendar-bounded hour grid; the global window runs on
      // that bounded frame (globalByDesign).
      val hourly = eventsUs(s, dir)
        .filter(col("event_type") === "error")
        .select(call_function("div", col("ts_us"), lit(usPerHour)).as("hr"))
        .groupBy("hr").agg(count(lit(1)).as("c"))
      val tot = hourly.agg(sum("c").as("tot"), count(lit(1)).as("nh"))
      hourly.crossJoin(broadcast(tot))
        .filter(col("c") * col("nh") > col("tot"))
        .withColumn("grp", col("hr") - row_number().over(Window.orderBy("hr")))
        .groupBy("grp")
        .agg(min("hr").as("start_hr"), count(lit(1)).as("n_hours"),
          max("c").as("peak_count"))
        .filter(col("n_hours") >= 3)
        .select("start_hr", "n_hours", "peak_count")
        .orderBy("start_hr")
    }),

    "events_mix_drift_weekly" -> ((s, dir) => {
      // Weekly event-type MIX drift (round 14): per 7-day bucket, the
      // total-variation distance between that week's event-type
      // distribution and the corpus-wide mix — the input-drift monitor an
      // ML feature pipeline alarms on (the VALUE anomaly screens can't
      // see a silent shift in the view/click/purchase composition).
      // Weeks are calendar-agnostic 7-day epoch buckets (pure integer
      // div). Shares in exact integer ppm (div), TV = Σ|diff| div 2 —
      // all-integer end to end; abs of a ppm DIFFERENCE is sign-free in
      // both engines. Two scan aggs to the ≤weeks×types and ≤types
      // grids; everything after is bounded.
      val wt = eventsUs(s, dir)
        .select(call_function("div", col("ts_us"), lit(7L * usPerDay))
          .as("week"), col("event_type"))
        .groupBy("week", "event_type").agg(count(lit(1)).as("c"))
      val wTot = wt.groupBy("week").agg(sum("c").as("nw"))
      val corpus = wt.groupBy("event_type").agg(sum("c").as("ct"))
      val corpusTot = corpus.agg(sum("ct").as("n"))
      val shares = wt.join(wTot, "week")
        .join(broadcast(corpus), "event_type")
        .crossJoin(broadcast(corpusTot))
        .select(col("week"), col("event_type"), col("nw"),
          (call_function("div", col("c") * lit(1000000L), col("nw"))
            - call_function("div", col("ct") * lit(1000000L), col("n")))
            .as("d_ppm"))
      shares.groupBy("week")
        .agg(max("nw").as("n_events"),
          call_function("div", sum(abs(col("d_ppm"))), lit(2L)).as("tv_ppm"),
          // argmax |diff| with smallest-type tiebreak: struct min over
          // (−absdiff, type) — the agg_argmax pattern
          min(struct((-abs(col("d_ppm"))).as("na"),
            col("event_type").as("t"))).getField("t").as("top_drift_type"))
        .orderBy("week")
    }),

    "events_error_rate_ztest" -> ((s, dir) => {
      // Two-proportion z-test on the error rate (round 14), first half of
      // the corpus days vs second — the release-comparison statistic
      // ("did the deploy change the error rate, or is the diff noise?")
      // that a raw rate diff can't answer. Split day = div(min+max+1, 2)
      // (pure integer midpoint); per half: exact (n, k); z from the four
      // integers via the pooled-variance formula — fixed-structure double
      // math, the corr6 determinism discipline. One scan agg + one
      // broadcast scalar; output is a single row with exact ppm rates, z,
      // and the |z| > 1.96 flag.
      val e = eventsUs(s, dir)
        .select(call_function("div", col("ts_us"), lit(usPerDay)).as("day"),
          when(col("event_type") === "error", 1L).otherwise(0L).as("is_err"))
      val split = e.agg(call_function("div",
        min("day") + max("day") + lit(1L), lit(2L)).as("mid"))
      val g = e.crossJoin(broadcast(split))
        .withColumn("h", when(col("day") < col("mid"), 1).otherwise(2))
        .groupBy("h")
        .agg(count(lit(1)).as("n"), sum("is_err").as("k"))
      val p = g.groupBy()
        .pivot("h", Seq(1, 2))
        .agg(first("n").as("n"), first("k").as("k"))
        .select(col("1_n").as("n1"), col("1_k").as("k1"),
          col("2_n").as("n2"), col("2_k").as("k2"))
      val n1 = col("n1").cast("double"); val n2 = col("n2").cast("double")
      val pp = (col("k1") + col("k2")).cast("double") /
        (col("n1") + col("n2")).cast("double")
      val z = (col("k1").cast("double") / n1 - col("k2").cast("double") / n2) /
        sqrt(pp * (lit(1.0) - pp) * (lit(1.0) / n1 + lit(1.0) / n2))
      p.select(col("n1"), col("k1"), col("n2"), col("k2"),
          call_function("div", col("k1") * lit(1000000L), col("n1"))
            .as("rate1_ppm"),
          call_function("div", col("k2") * lit(1000000L), col("n2"))
            .as("rate2_ppm"),
          when(pp > 0 && pp < 1, r6(z)).as("z6"))
        .withColumn("significant",
          when(col("z6").isNotNull, (abs(col("z6")) > 1.96).cast("int")))
    }),
  )

  def oracleSql: Map[String, String] = Map(
    "events_streaks" -> """
      WITH e AS (SELECT event_id, user_id, event_type,
                        epoch_ns(ts)//1000 AS ts_us FROM events),
      i AS (SELECT user_id, event_type, ts_us,
              ROW_NUMBER() OVER (PARTITION BY user_id
                                 ORDER BY ts_us, event_id)
            - ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                 ORDER BY ts_us, event_id) AS island
            FROM e),
      r AS (SELECT user_id, event_type, island,
                   COUNT(1) AS streak_len, MIN(ts_us) AS start_us
            FROM i GROUP BY 1, 2, 3),
      b AS (SELECT user_id, event_type, streak_len, start_us,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                     ORDER BY streak_len DESC, start_us, event_type) AS rn
            FROM r)
      SELECT user_id, event_type, streak_len, start_us
      FROM b WHERE rn = 1 ORDER BY user_id""",
    "events_ab_test" -> s"""
      WITH e AS (SELECT event_type, user_id % 2 AS cohort,
                        CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
                 FROM events),
      g AS (SELECT event_type, cohort, COUNT(1) AS n,
                   CAST(SUM(v) AS DOUBLE) AS s,
                   CAST(SUM(v * v) AS DOUBLE) AS ss
            FROM e GROUP BY 1, 2),
      p AS (SELECT a.event_type, a.n AS n_a, b.n AS n_b,
                   a.s AS s1, a.ss AS ss1, b.s AS s2, b.ss AS ss2
            FROM g a JOIN g b
              ON a.event_type = b.event_type AND a.cohort = 0 AND b.cohort = 1)
      SELECT event_type, n_a, n_b,
             ${r4Sql("(s1 / n_a - s2 / n_b) / 100.0")} AS mean_diff4,
             ${r6Sql("(s1 / n_a - s2 / n_b) / sqrt(" +
               "(ss1 - s1 * s1 / n_a) / (n_a - 1) / n_a" +
               " + (ss2 - s2 * s2 / n_b) / (n_b - 1) / n_b)")} AS z6,
             CAST(abs(${r6Sql("(s1 / n_a - s2 / n_b) / sqrt(" +
               "(ss1 - s1 * s1 / n_a) / (n_a - 1) / n_a" +
               " + (ss2 - s2 * s2 / n_b) / (n_b - 1) / n_b)")}) > 1.96
               AS INT) AS significant
      FROM p ORDER BY event_type""",

    "events_user_entropy" -> s"""
      WITH c AS (SELECT user_id, event_type, COUNT(1) AS c
                 FROM events GROUP BY 1, 2),
      agg AS (SELECT user_id, CAST(SUM(c) AS BIGINT) AS n_events,
                CAST(SUM(c * CAST(floor(ln(CAST(c AS DOUBLE)) * 1000000)
                                  AS BIGINT)) AS BIGINT) AS sum_c_lnc_u
              FROM c GROUP BY 1)
      SELECT user_id, n_events, sum_c_lnc_u,
             ${r6Sql("(CAST(floor(ln(CAST(n_events AS DOUBLE)) * 1000000)" +
               " AS BIGINT) * n_events - sum_c_lnc_u)" +
               " / (CAST(n_events AS DOUBLE) * 1000000)")} AS entropy6
      FROM agg ORDER BY user_id""",

    "events_period_autocorr" -> s"""
      WITH e AS (SELECT event_type, (epoch_ns(ts)//1000)//86400000000 AS day
                 FROM events),
      span AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM e),
      days AS (SELECT unnest(generate_series(d0, d1)) AS day FROM span),
      grid AS (SELECT t.event_type, d.day
               FROM (SELECT DISTINCT event_type FROM e) t CROSS JOIN days d),
      cnt AS (SELECT event_type, day, COUNT(1) AS c FROM e GROUP BY 1, 2),
      g AS (SELECT grid.event_type, grid.day, COALESCE(cnt.c, 0) AS c
            FROM grid LEFT JOIN cnt
              ON grid.event_type = cnt.event_type AND grid.day = cnt.day),
      tot AS (SELECT event_type, CAST(SUM(c) AS BIGINT) AS stot,
                     COUNT(1) AS n_days
              FROM g GROUP BY 1),
      gg AS (SELECT g.event_type, g.day, tot.n_days,
                    tot.n_days * g.c - tot.stot AS dev
             FROM g JOIN tot ON g.event_type = tot.event_type)
      SELECT x.event_type, y.day - x.day AS lag, COUNT(1) AS n_pairs,
             CAST(SUM(x.dev * y.dev) AS BIGINT) AS acov_num,
             ${r6Sql("CAST(SUM(x.dev * y.dev) AS DOUBLE) / " +
               "(COUNT(1) * MAX(x.n_days) * MAX(x.n_days))")} AS acv6
      FROM gg x JOIN gg y ON x.event_type = y.event_type
        AND y.day > x.day AND y.day <= x.day + 10
      GROUP BY 1, 2 ORDER BY x.event_type, lag""",

    // the promised HUGEINT twin (VERDICT r12 #1): DuckDB SUM(BIGINT) is
    // HUGEINT, so the n·Σxy − Σx·Σy numerators are exact 128-bit like the
    // Spark side's DECIMAL(38,0); both cast to BIGINT at the same boundary
    "events_autocorr" -> s"""
      WITH e AS (SELECT (epoch_ns(ts)//1000)//86400000000 AS day FROM events),
      span AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM e),
      days AS (SELECT unnest(generate_series(d0, d1)) AS day FROM span),
      cnt AS (SELECT day, COUNT(1) AS x FROM e GROUP BY 1),
      daily AS (SELECT d.day, COALESCE(c.x, 0) AS x
                FROM days d LEFT JOIN cnt c ON d.day = c.day),
      g AS (SELECT b.day - a.day AS k, COUNT(1) AS n,
                   SUM(b.x) AS sx, SUM(a.x) AS sy,
                   SUM(b.x * b.x) AS sxx, SUM(a.x * a.x) AS syy,
                   SUM(a.x * b.x) AS sxy
            FROM daily a JOIN daily b ON b.day - a.day BETWEEN 1 AND 7
            GROUP BY 1)
      SELECT CAST(k AS INT) AS lag, n AS n_pairs,
             CAST(n * sxy - sx * sy AS BIGINT) AS cov_num,
             CAST(n * sxx - sx * sx AS BIGINT) AS vx_num,
             CAST(n * syy - sy * sy AS BIGINT) AS vy_num,
             CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0 THEN
               ${r6Sql("CAST(n * sxy - sx * sy AS DOUBLE) / " +
                 "(sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) * " +
                 "sqrt(CAST(n * syy - sy * sy AS DOUBLE)))")}
             END AS acf6
      FROM g ORDER BY lag""",

    "events_cusum_drift" -> """
      WITH e AS (SELECT event_type, epoch_ns(ts)//1000 AS ts_us, event_id,
                        CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
                 FROM events),
      r1 AS (SELECT event_type, v,
                    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY v) AS rn,
                    COUNT(1) OVER (PARTITION BY event_type) AS n FROM e),
      med AS (SELECT event_type,
                     MAX(CASE WHEN rn = (n + 1) // 2 THEN v END)
                       + MAX(CASE WHEN rn = n // 2 + 1 THEN v END) AS med2
              FROM r1 GROUP BY event_type),
      c AS (SELECT e.event_type, e.ts_us, e.event_id, med.med2,
                   CAST(SUM(e.v * 2 - med.med2) OVER (
                     PARTITION BY e.event_type ORDER BY e.ts_us, e.event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS BIGINT) AS cum
            FROM e JOIN med ON e.event_type = med.event_type),
      p AS (SELECT event_type, med2, cum, ts_us,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                     ORDER BY abs(cum) DESC, ts_us, event_id) AS rk,
                   COUNT(1) OVER (PARTITION BY event_type) AS n
            FROM c)
      SELECT event_type, n AS n_events, med2 AS med2x_centi,
             abs(cum) AS max_abs_cusum, ts_us AS peak_us
      FROM p WHERE rk = 1 ORDER BY event_type""",
    "events_gapfill" -> """
      WITH e AS (SELECT user_id, epoch_ns(ts)//1000 AS ts_us, value FROM events),
      hourly AS (
        SELECT user_id, (ts_us//3600000000)*3600000000 AS hour_us,
               COUNT(1) AS cnt,
               CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
        FROM e GROUP BY 1, 2),
      spans AS (
        SELECT user_id, (MIN(ts_us)//3600000000)*3600000000 AS min_h,
               (MAX(ts_us)//3600000000)*3600000000 AS max_h
        FROM e GROUP BY 1),
      grid AS (
        SELECT user_id, unnest(generate_series(min_h, max_h, 3600000000)) AS hour_us
        FROM spans)
      SELECT g.user_id, g.hour_us,
             COALESCE(h.cnt, 0) AS cnt,
             COALESCE(h.sum_value, 0.0) AS sum_value
      FROM grid g LEFT JOIN hourly h
        ON g.user_id = h.user_id AND g.hour_us = h.hour_us
      ORDER BY g.user_id, g.hour_us""",

    "events_concurrency" -> """
      WITH e AS (SELECT user_id, epoch_ns(ts)//1000 AS ts_us FROM events),
      pts AS (
        SELECT user_id, ts_us AS t, CAST(1 AS BIGINT) AS delta FROM e
        UNION ALL
        SELECT user_id, ts_us + 1800000000 AS t, CAST(-1 AS BIGINT) AS delta FROM e),
      run AS (
        SELECT user_id, t, delta,
               SUM(delta) OVER (PARTITION BY user_id ORDER BY t, delta) AS run
        FROM pts),
      mx AS (
        SELECT user_id, t, run, MAX(run) OVER (PARTITION BY user_id) AS mx
        FROM run)
      SELECT user_id, CAST(MAX(mx) AS BIGINT) AS max_concurrent,
             MIN(t) AS first_peak_us
      FROM mx WHERE run = mx
      GROUP BY user_id ORDER BY user_id""",

    "events_ewma" -> """
      WITH e AS (
        SELECT event_id, user_id, epoch_ns(ts)//1000 AS ts_us,
               floor(value * 100 + 0.5) AS v100,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY epoch_ns(ts)//1000, event_id) AS rn
        FROM events)
      SELECT a.user_id, a.event_id, a.ts_us,
             floor((SUM(pow(0.5, a.rn - b.rn) * b.v100)
                    / (100.0 * 2.0 * (1.0 - pow(0.5, COUNT(1)))))
                   * 1000000 + 0.5) / 1000000 AS ewma
      FROM e a JOIN e b
        ON a.user_id = b.user_id AND b.rn BETWEEN a.rn - 15 AND a.rn
      GROUP BY a.user_id, a.event_id, a.ts_us
      ORDER BY a.user_id, a.ts_us, a.event_id""",

    "events_markov_transitions" -> """
      WITH e AS (SELECT event_id, user_id, event_type,
                        epoch_ns(ts)//1000 AS ts_us FROM events),
      p AS (SELECT user_id, event_type,
              LAG(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts_us, event_id) AS prev_type
            FROM e),
      tr AS (SELECT prev_type, event_type, COUNT(1) AS n_trans
             FROM p WHERE prev_type IS NOT NULL GROUP BY 1, 2),
      tot AS (SELECT prev_type, CAST(SUM(n_trans) AS BIGINT) AS n_from
              FROM tr GROUP BY 1)
      SELECT tr.prev_type, tr.event_type, tr.n_trans, tot.n_from,
             (tr.n_trans * 1000000) // tot.n_from AS p_ppm
      FROM tr JOIN tot ON tr.prev_type = tot.prev_type
      ORDER BY tr.prev_type, tr.event_type""",

    "events_attribution_last_touch" -> """
      WITH e AS (SELECT event_id, user_id, event_type,
                        epoch_ns(ts)//1000 AS ts_us FROM events),
      c AS (SELECT event_id, user_id, event_type, ts_us,
              LAST_VALUE(CASE WHEN event_type = 'click' THEN event_id END
                         IGNORE NULLS)
                OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS click_id,
              LAST_VALUE(CASE WHEN event_type = 'click' THEN ts_us END
                         IGNORE NULLS)
                OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS click_ts
            FROM e)
      SELECT event_id, user_id, ts_us,
             CASE WHEN click_ts IS NOT NULL AND ts_us - click_ts <= 86400000000
                  THEN click_id END AS click_event_id,
             CASE WHEN click_ts IS NOT NULL AND ts_us - click_ts <= 86400000000
                  THEN ts_us - click_ts END AS gap_us,
             CAST(COALESCE(click_ts IS NOT NULL
                           AND ts_us - click_ts <= 86400000000, FALSE) AS INT)
               AS attributed
      FROM c WHERE event_type = 'purchase'
      ORDER BY user_id, ts_us, event_id""",

    "events_rfm_scores" -> """
      WITH p AS (
        SELECT user_id,
               CAST(MAX(epoch_ns(ts)//1000) AS BIGINT) AS last_purchase_us,
               COUNT(1) AS frequency,
               SUM(CAST(value AS DECIMAL(38,6))) AS mon_dec
        FROM events WHERE event_type = 'purchase' GROUP BY user_id)
      SELECT user_id, last_purchase_us, frequency,
             CAST(mon_dec AS DOUBLE) AS monetary,
             CAST(NTILE(4) OVER (ORDER BY last_purchase_us DESC, user_id) AS INT) AS r_score,
             CAST(NTILE(4) OVER (ORDER BY frequency DESC, user_id) AS INT) AS f_score,
             CAST(NTILE(4) OVER (ORDER BY mon_dec DESC, user_id) AS INT) AS m_score,
             CAST(NTILE(4) OVER (ORDER BY last_purchase_us DESC, user_id) AS VARCHAR)
               || CAST(NTILE(4) OVER (ORDER BY frequency DESC, user_id) AS VARCHAR)
               || CAST(NTILE(4) OVER (ORDER BY mon_dec DESC, user_id) AS VARCHAR) AS rfm
      FROM p ORDER BY user_id""",

    "events_hourly_profile" -> """
      SELECT event_type,
             (epoch_ns(ts)//1000 // 3600000000) % 24 AS hour_of_day,
             COUNT(1) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
      FROM events
      GROUP BY event_type, (epoch_ns(ts)//1000 // 3600000000) % 24
      ORDER BY event_type, hour_of_day""",

    "events_dow_hod_heatmap" -> """
      SELECT ((epoch_ns(ts)//1000 // 86400000000) + 3) % 7 AS dow,
             (epoch_ns(ts)//1000 // 3600000000) % 24 AS hod,
             COUNT(1) AS n_events,
             COUNT(DISTINCT user_id) AS n_users,
             CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
      FROM events
      GROUP BY 1, 2
      ORDER BY dow, hod""",

    "events_seasonal_decompose" -> """
      WITH daily AS (
        SELECT epoch_ns(ts)//1000 // 86400000000 AS day, COUNT(1) AS cnt
        FROM events GROUP BY 1),
      mov AS (
        SELECT day, cnt,
               COUNT(1) OVER w AS win_n,
               CAST(SUM(cnt) OVER w AS BIGINT) AS trend7
        FROM daily
        WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
      r AS (SELECT (day + 3) % 7 AS dow, cnt * 7 - trend7 AS resid7
            FROM mov WHERE win_n = 7)
      SELECT dow, COUNT(1) AS n_days,
             CAST(SUM(resid7) AS BIGINT) AS sum_resid7,
             CAST(SUM(resid7) AS BIGINT) * 1000 // COUNT(1) AS seasonal7_milli
      FROM r GROUP BY dow ORDER BY dow""",

    "events_interarrival_hist" -> """
      WITH g AS (
        SELECT epoch_ns(ts)//1000
                 - LAG(epoch_ns(ts)//1000) OVER (
                     PARTITION BY user_id ORDER BY epoch_ns(ts)//1000, event_id)
               AS gap_us
        FROM events)
      SELECT CAST(LENGTH(CAST(gap_us AS VARCHAR)) AS INT) AS gap_digits,
             COUNT(1) AS n_gaps,
             MIN(gap_us) AS min_gap_us,
             MAX(gap_us) AS max_gap_us
      FROM g WHERE gap_us IS NOT NULL
      GROUP BY 1 ORDER BY gap_digits""",

    "events_burst_detect" -> """
      WITH b AS (
        SELECT user_id,
               COUNT(1) OVER (PARTITION BY user_id ORDER BY epoch_ns(ts)//1000
                 RANGE BETWEEN 59999999 PRECEDING AND CURRENT ROW) AS in_burst
        FROM events)
      SELECT user_id, MAX(in_burst) AS max_burst_1m, COUNT(1) AS n_events,
             MAX(in_burst) >= 5 AS is_bursty
      FROM b GROUP BY user_id ORDER BY user_id""",

    "events_conversion_lag" -> """
      WITH f AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'signup' THEN epoch_ns(ts)//1000 END) AS signup_us,
               MIN(CASE WHEN event_type = 'purchase' THEN epoch_ns(ts)//1000 END) AS first_purchase_us
        FROM events
        WHERE event_type IN ('signup', 'purchase')
        GROUP BY user_id)
      SELECT user_id, signup_us, first_purchase_us,
             first_purchase_us - signup_us AS lag_us,
             first_purchase_us IS NOT NULL AND first_purchase_us >= signup_us AS converted_after
      FROM f WHERE signup_us IS NOT NULL
      ORDER BY user_id""",

    "events_dau_wau" -> """
      WITH ud AS (
        SELECT DISTINCT user_id, (epoch_ns(ts)//1000) // 86400000000 AS day
        FROM events),
      dau AS (SELECT day, COUNT(1) AS dau FROM ud GROUP BY day),
      wau AS (
        SELECT g.day AS g_day, COUNT(DISTINCT u.user_id) AS wau
        FROM dau g JOIN ud u ON u.day >= g.day - 6 AND u.day <= g.day
        GROUP BY g.day)
      SELECT day, dau, wau
      FROM dau JOIN wau ON day = g_day
      ORDER BY day""",

    "events_feature_rollup_pit" -> """
      WITH e AS (SELECT event_id, user_id, event_type,
                        (epoch_ns(ts)//1000) AS ts_us FROM events),
      span AS (SELECT MIN(ts_us) AS mn, MAX(ts_us) AS mx FROM e),
      cut AS (SELECT e.*, mn + ((mx - mn) * 8) // 10 AS cutoff_us
              FROM e, span WHERE ts_us < mn + ((mx - mn) * 8) // 10),
      r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
              ORDER BY ts_us DESC, event_id DESC) AS rn FROM cut)
      SELECT user_id, COUNT(1) AS n_events,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS BIGINT) AS n_purchases,
             MAX(ts_us) AS last_ts_us,
             (MAX(cutoff_us) - MAX(ts_us)) // 86400000000 AS days_since_last,
             MAX(CASE WHEN rn = 1 THEN event_type END) AS last_type
      FROM r GROUP BY user_id ORDER BY user_id""",

    "events_bot_screen" -> """
      WITH e AS (SELECT user_id,
                        (epoch_ns(ts)//1000) // 86400000000 AS day,
                        ((epoch_ns(ts)//1000) // 3600000000) % 24 AS hod
                 FROM events),
      pd AS (SELECT user_id, day, COUNT(1) AS n_day,
                    CAST(SUM(CASE WHEN hod < 6 THEN 1 ELSE 0 END) AS BIGINT)
                      AS n_night
             FROM e GROUP BY 1, 2),
      pu AS (SELECT user_id, CAST(SUM(n_day) AS BIGINT) AS n_events,
                    COUNT(1) AS active_days, MAX(n_day) AS max_per_day,
                    CAST(SUM(n_night) AS BIGINT) AS n_night
             FROM pd GROUP BY 1)
      SELECT user_id, n_events, active_days, max_per_day,
             n_night * 1000000 // n_events AS night_ppm,
             CAST((max_per_day >= 50 OR (n_events >= 10
               AND n_night * 1000000 // n_events >= 500000)) AS INT) AS is_bot
      FROM pu ORDER BY user_id""",

    "events_slo_burn_rate" -> """
      WITH e AS (SELECT (epoch_ns(ts)//1000) AS ts_us, event_type FROM events),
      hourly AS (SELECT (ts_us // 3600000000) * 3600000000 AS hour_us,
                        COUNT(1) AS n_events,
                        CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_errors
                 FROM e GROUP BY 1),
      span AS (SELECT (MIN(ts_us) // 3600000000) * 3600000000 AS min_h,
                      (MAX(ts_us) // 3600000000) * 3600000000 AS max_h FROM e),
      grid AS (SELECT unnest(generate_series(min_h, max_h, 3600000000)) AS hour_us
               FROM span),
      filled AS (SELECT g.hour_us, COALESCE(n_events, 0) AS n_events,
                        COALESCE(n_errors, 0) AS n_errors
                 FROM grid g LEFT JOIN hourly h ON g.hour_us = h.hour_us),
      win AS (SELECT hour_us, n_events, n_errors,
                CAST(SUM(n_errors) OVER (ORDER BY hour_us
                  ROWS BETWEEN 5 PRECEDING AND CURRENT ROW) AS BIGINT) AS e6,
                CAST(SUM(n_events) OVER (ORDER BY hour_us
                  ROWS BETWEEN 5 PRECEDING AND CURRENT ROW) AS BIGINT) AS n6
              FROM filled)
      SELECT hour_us, n_events, n_errors,
             CASE WHEN n_events > 0
               THEN n_errors * 1000000000 // (n_events * 10000) END AS burn1_x1000,
             CASE WHEN n6 > 0
               THEN e6 * 1000000000 // (n6 * 10000) END AS burn6_x1000,
             CAST((COALESCE(CASE WHEN n_events > 0
                     THEN n_errors * 1000000000 // (n_events * 10000) END, 0) >= 14400
                   AND COALESCE(CASE WHEN n6 > 0
                     THEN e6 * 1000000000 // (n6 * 10000) END, 0) >= 6000)
               AS INT) AS page_alert
      FROM win ORDER BY hour_us""",

    "events_user_lifecycle" -> """
      WITH d AS (SELECT DISTINCT user_id,
                        (epoch_ns(ts)//1000) // 86400000000 AS day FROM events),
      c AS (SELECT user_id, day,
                   LAG(day) OVER (PARTITION BY user_id ORDER BY day) AS prev_day,
                   LEAD(day) OVER (PARTITION BY user_id ORDER BY day) AS next_day
            FROM d),
      span AS (SELECT MIN(day) AS min_d, MAX(day) AS max_d FROM d),
      grid AS (SELECT unnest(generate_series(min_d, max_d)) AS day FROM span),
      act AS (SELECT day, COUNT(1) AS n_active,
                     CAST(SUM(CASE WHEN prev_day IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
                     CAST(SUM(CASE WHEN prev_day = day - 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
                     CAST(SUM(CASE WHEN prev_day IS NOT NULL AND prev_day < day - 1
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
              FROM c GROUP BY day),
      churn AS (SELECT day + 1 AS day, COUNT(1) AS n_churned
                FROM c, span
                WHERE (next_day IS NULL OR next_day > day + 1) AND day + 1 <= max_d
                GROUP BY day + 1)
      SELECT g.day, COALESCE(n_active, 0) AS n_active,
             COALESCE(n_new, 0) AS n_new,
             COALESCE(n_retained, 0) AS n_retained,
             COALESCE(n_resurrected, 0) AS n_resurrected,
             COALESCE(n_churned, 0) AS n_churned
      FROM grid g LEFT JOIN act USING (day) LEFT JOIN churn USING (day)
      ORDER BY day""",

    "events_pareto_share" -> """
      WITH pu AS (SELECT user_id, COUNT(1) AS cnt FROM events GROUP BY user_id),
      d AS (
        SELECT cnt,
               CAST(NTILE(10) OVER (ORDER BY cnt DESC, user_id) AS INT) AS decile
        FROM pu),
      a AS (
        SELECT decile, COUNT(1) AS users, CAST(SUM(cnt) AS BIGINT) AS events
        FROM d GROUP BY decile)
      SELECT decile, users, events,
             events * 1000000 // (SELECT CAST(SUM(cnt) AS BIGINT) FROM pu) AS share_ppm
      FROM a ORDER BY decile""",

    "scd2_type_history" -> """
      WITH e AS (
        SELECT event_id, user_id, event_type, epoch_ns(ts)//1000 AS ts_us,
               LAG(event_type) OVER (PARTITION BY user_id
                                     ORDER BY epoch_ns(ts)//1000, event_id) AS prev_type
        FROM events),
      c AS (
        SELECT user_id, event_id, event_type, ts_us AS valid_from_us
        FROM e WHERE prev_type IS NULL OR prev_type <> event_type)
      SELECT user_id, event_id, event_type, valid_from_us,
             LEAD(valid_from_us) OVER (PARTITION BY user_id
                                       ORDER BY valid_from_us, event_id) AS valid_to_us,
             CAST(LEAD(valid_from_us) OVER (PARTITION BY user_id
                   ORDER BY valid_from_us, event_id) IS NULL AS INT) AS is_current
      FROM c ORDER BY user_id, valid_from_us, event_id""",

    "events_attribution_first_touch" -> """
      WITH e AS (
        SELECT event_id, user_id, event_type, epoch_ns(ts)//1000 AS ts_us
        FROM events),
      w AS (
        SELECT *, MIN(CASE WHEN event_type = 'click' THEN ts_us END)
                 OVER (PARTITION BY user_id ORDER BY ts_us
                       RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW)
                 AS first_click_ts
        FROM e)
      SELECT event_id, user_id, ts_us, first_click_ts,
             ts_us - first_click_ts AS gap_us,
             CAST(first_click_ts IS NOT NULL AS INT) AS attributed
      FROM w WHERE event_type = 'purchase'
      ORDER BY event_id""",

    "events_top_paths" -> """
      WITH e AS (
        SELECT user_id, event_type, event_id, epoch_ns(ts)//1000 AS ts_us
        FROM events),
      p AS (
        SELECT event_type || '>' || LEAD(event_type, 1) OVER w
                 || '>' || LEAD(event_type, 2) OVER w AS path,
               LEAD(event_type, 2) OVER w AS e3
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id))
      SELECT path, COUNT(1) AS n
      FROM p WHERE e3 IS NOT NULL
      GROUP BY path ORDER BY n DESC, path LIMIT 20""",

    "events_user_overlap" -> """
      WITH d AS (SELECT DISTINCT user_id, event_type FROM events),
      cnt AS (SELECT event_type, COUNT(1) AS n_users FROM d GROUP BY 1),
      p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
                   COUNT(1) AS n_both
            FROM d a JOIN d b
              ON a.user_id = b.user_id AND a.event_type < b.event_type
            GROUP BY 1, 2)
      SELECT type_a, type_b, ca.n_users AS users_a, cb.n_users AS users_b,
             n_both,
             n_both * 1000000 // (ca.n_users + cb.n_users - n_both) AS jaccard_ppm
      FROM p
        JOIN cnt ca ON type_a = ca.event_type
        JOIN cnt cb ON type_b = cb.event_type
      ORDER BY type_a, type_b""",

    "events_cohort_ltv_curve" -> """
      WITH e AS (SELECT user_id, event_type,
                        (epoch_ns(ts) // 1000) // 604800000000 AS week,
                        CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
                 FROM events),
      cohort AS (SELECT user_id, MIN(week) AS cohort_week FROM e GROUP BY user_id),
      sizes AS (SELECT cohort_week, COUNT(1) AS cohort_size
                FROM cohort GROUP BY cohort_week),
      curve AS (SELECT c.cohort_week, e.week - c.cohort_week AS week_offset,
                       COUNT(DISTINCT e.user_id) AS n_buyers,
                       CAST(SUM(e.cents) AS BIGINT) AS wk_cents
                FROM e JOIN cohort c ON e.user_id = c.user_id
                WHERE e.event_type = 'purchase'
                GROUP BY 1, 2)
      SELECT cv.cohort_week, cv.week_offset, sz.cohort_size, cv.n_buyers,
             cv.wk_cents,
             CAST(SUM(cv.wk_cents) OVER (PARTITION BY cv.cohort_week
               ORDER BY cv.week_offset
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum_cents,
             CAST(SUM(cv.wk_cents) OVER (PARTITION BY cv.cohort_week
               ORDER BY cv.week_offset
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               // sz.cohort_size AS BIGINT) AS ltv_cents_per_user
      FROM curve cv JOIN sizes sz ON cv.cohort_week = sz.cohort_week
      ORDER BY 1, 2""",
    "events_anomaly_seasonal" -> """
      WITH h AS (SELECT event_type,
                        (epoch_ns(ts)//1000 // 3600000000) * 3600000000 AS hour_us,
                        COUNT(1) AS n
                 FROM events GROUP BY 1, 2),
      hh AS (SELECT event_type, n,
                    (hour_us // 3600000000) % 24 AS hod FROM h),
      span AS (SELECT MIN(epoch_ns(ts)//1000) // 86400000000 AS d0,
                      MAX(epoch_ns(ts)//1000) // 86400000000 AS d1
               FROM events),
      prof AS (SELECT event_type, hod, CAST(SUM(n) AS BIGINT) AS s_tot
               FROM hh GROUP BY 1, 2)
      SELECT hh.event_type,
             MAX(d1 - d0 + 1) AS n_days,
             COUNT(1) AS n_hour_cells,
             CAST(SUM(hh.n) AS BIGINT) AS n_events,
             CAST(SUM(CASE WHEN hh.n * (d1 - d0 + 1) * 2 >= prof.s_tot * 3
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_anom_3halfx,
             CAST(MAX(hh.n * (d1 - d0 + 1) * 1000000 // prof.s_tot)
                  AS BIGINT) AS peak_ratio_ppm
      FROM hh JOIN prof ON hh.event_type = prof.event_type
                        AND hh.hod = prof.hod, span
      GROUP BY hh.event_type ORDER BY hh.event_type""",
    "events_anomaly_mad" -> """
      WITH e AS (SELECT event_type,
                        CAST(floor(value * 100 + 0.5) AS BIGINT) AS v FROM events),
      r1 AS (SELECT event_type, v,
                    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY v) AS rn,
                    COUNT(1) OVER (PARTITION BY event_type) AS n FROM e),
      med AS (SELECT event_type,
                     MAX(CASE WHEN rn = (n + 1) // 2 THEN v END)
                       + MAX(CASE WHEN rn = n // 2 + 1 THEN v END) AS med2
              FROM r1 GROUP BY event_type),
      d AS (SELECT e.event_type, med.med2, abs(e.v * 2 - med.med2) AS dev
            FROM e JOIN med ON e.event_type = med.event_type),
      r2 AS (SELECT event_type, med2, dev,
                    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY dev) AS rn,
                    COUNT(1) OVER (PARTITION BY event_type) AS n FROM d),
      mad AS (SELECT event_type,
                     MAX(CASE WHEN rn = (n + 1) // 2 THEN dev END)
                       + MAX(CASE WHEN rn = n // 2 + 1 THEN dev END) AS mad4
              FROM r2 GROUP BY event_type)
      SELECT d.event_type, COUNT(1) AS n_events,
             MAX(d.med2) AS med2x_centi, MAX(mad.mad4) AS mad4x_centi,
             CAST(SUM(CASE WHEN d.dev * 2 > mad.mad4 * 3 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_anomalies
      FROM d JOIN mad ON d.event_type = mad.event_type
      GROUP BY d.event_type ORDER BY d.event_type""",

    "events_drawdown" -> """
      WITH daily AS (
        SELECT event_type, (epoch_ns(ts)//1000)//86400000000 AS day,
               CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                 AS dvc
        FROM events GROUP BY 1, 2),
      c AS (SELECT event_type, day,
                   CAST(SUM(dvc) OVER w AS BIGINT) AS cum
            FROM daily
            WINDOW w AS (PARTITION BY event_type ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      d AS (SELECT event_type, day,
                   CAST(MAX(cum) OVER (PARTITION BY event_type ORDER BY day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS BIGINT) - cum AS dd
            FROM c),
      m AS (SELECT *, CAST(MAX(dd) OVER (PARTITION BY event_type) AS BIGINT)
                        AS dd_max FROM d)
      SELECT event_type, COUNT(1) AS n_days,
             MAX(dd) AS max_drawdown_c,
             MIN(CASE WHEN dd = dd_max THEN day END) AS trough_day
      FROM m GROUP BY event_type ORDER BY event_type""",

    "events_rolling_median" -> """
      WITH daily AS (
        SELECT event_type, (epoch_ns(ts)//1000)//86400000000 AS day,
               COUNT(1) AS c
        FROM events GROUP BY 1, 2),
      f AS (SELECT event_type, day, c,
                   list_sort(list(c) OVER (PARTITION BY event_type
                     ORDER BY day
                     ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS win
            FROM daily)
      SELECT event_type, day, c, CAST(len(win) AS INT) AS k,
             win[CAST((len(win) + 1) // 2 AS INT)] AS med_lo,
             win[CAST(len(win) // 2 + 1 AS INT)] AS med_hi
      FROM f ORDER BY event_type, day""",

    "events_downtime_intervals" -> """
      WITH m AS (SELECT DISTINCT event_type,
                        (epoch_ns(ts)//1000)//60000000 AS minute
                 FROM events),
      l AS (SELECT event_type, minute,
                   LAG(minute) OVER (PARTITION BY event_type ORDER BY minute)
                     AS prev
            FROM m),
      g AS (SELECT event_type, minute - prev - 1 AS gap, prev
            FROM l WHERE prev IS NOT NULL AND minute - prev - 1 >= 60)
      SELECT event_type, COUNT(1) AS n_outages,
             CAST(SUM(gap) AS BIGINT) AS down_minutes,
             MAX(gap) AS max_outage_min,
             MIN(prev + 1) AS first_outage_start_min
      FROM g GROUP BY event_type ORDER BY event_type""",

    "events_session_depth_hist" -> """
      WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us
                 FROM events),
      flagged AS (
        SELECT user_id, event_id, ts_us,
               CASE WHEN ts_us - LAG(ts_us) OVER w > 1800000000 THEN 1
                    WHEN LAG(ts_us) OVER w IS NULL THEN 1 ELSE 0 END AS is_new
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
      sess AS (
        SELECT user_id,
               CAST(SUM(is_new) OVER (PARTITION BY user_id
                 ORDER BY ts_us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS session_id
        FROM flagged),
      depths AS (SELECT user_id, session_id, COUNT(1) AS depth
                 FROM sess GROUP BY 1, 2)
      SELECT CASE WHEN depth >= 20 THEN 20 ELSE depth END AS depth_bucket,
             COUNT(1) AS n_sessions
      FROM depths GROUP BY 1 ORDER BY depth_bucket""",

    "events_weekly_seasonality_strength" -> s"""
      WITH daily AS (
        SELECT event_type, (epoch_ns(ts)//1000)//86400000000 AS day,
               COUNT(1) AS c
        FROM events GROUP BY 1, 2),
      d2 AS (SELECT *, (day + 3) % 7 + 1 AS dow FROM daily),
      per_dow AS (SELECT event_type, dow, COUNT(1) AS n_g,
                         CAST(SUM(c) AS BIGINT) AS s_g
                  FROM d2 GROUP BY 1, 2),
      per_type AS (SELECT event_type, COUNT(1) AS n_days,
                          CAST(SUM(c) AS BIGINT) AS s,
                          CAST(SUM(c * c) AS BIGINT) AS q
                   FROM d2 GROUP BY 1),
      j AS (SELECT p.event_type, p.n_days, p.s, p.q,
                   CAST(SUM((p.n_days * g.s_g * g.s_g) // g.n_g) AS BIGINT)
                     AS ssb_raw
            FROM per_dow g JOIN per_type p ON g.event_type = p.event_type
            GROUP BY 1, 2, 3, 4)
      SELECT event_type, n_days,
             ssb_raw - s * s AS ssb_num,
             n_days * q - s * s AS sst_num,
             CASE WHEN n_days * q - s * s > 0 THEN
               ${r6Sql("CAST(ssb_raw - s * s AS DOUBLE)" +
                 " / CAST(n_days * q - s * s AS DOUBLE)")}
             END AS strength6
      FROM j ORDER BY event_type""",

    "events_survival_km" -> s"""
      WITH e AS (SELECT user_id,
                        (epoch_ns(ts)//1000)//86400000000 AS day FROM events),
      u AS (SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM e GROUP BY 1),
      mx AS (SELECT MAX(d1) AS maxd FROM u),
      lt AS (SELECT d1 - d0 AS lt,
                    CASE WHEN d1 >= maxd - 2 THEN 1 ELSE 0 END AS cens
             FROM u CROSS JOIN mx),
      h AS (SELECT lt, COUNT(1) AS n_all,
                   CAST(SUM(1 - cens) AS BIGINT) AS d
            FROM lt GROUP BY 1),
      r AS (SELECT lt, d,
                   CAST(SUM(n_all) OVER (ORDER BY lt DESC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS BIGINT) AS n_risk
            FROM h),
      f AS (SELECT lt, d, n_risk,
                   CASE WHEN n_risk > d THEN
                     CAST(floor(ln(CAST(n_risk - d AS DOUBLE)) * 1000000)
                       AS BIGINT)
                     - CAST(floor(ln(CAST(n_risk AS DOUBLE)) * 1000000)
                       AS BIGINT)
                   ELSE 0 END AS fu,
                   CASE WHEN n_risk = d THEN 1 ELSE 0 END AS z
            FROM r WHERE d > 0),
      c AS (SELECT lt, d, n_risk,
                   CAST(SUM(fu) OVER (ORDER BY lt
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS BIGINT) AS cum,
                   MAX(z) OVER (ORDER BY lt
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS zz
            FROM f)
      SELECT lt AS lifetime_days, n_risk, d AS n_deaths,
             CASE WHEN zz = 1 THEN 0.0
                  ELSE ${r6Sql("exp(CAST(cum AS DOUBLE) / 1000000)")}
             END AS survival6
      FROM c ORDER BY lifetime_days""",

    "events_changepoint" -> """
      WITH daily AS (
        SELECT (epoch_ns(ts)//1000)//86400000000 AS day, COUNT(1) AS c
        FROM events GROUP BY 1),
      w AS (SELECT day,
                   ROW_NUMBER() OVER (ORDER BY day) AS i,
                   COUNT(1) OVER () AS n,
                   CAST(SUM(c) OVER () AS BIGINT) AS s,
                   CAST(SUM(c) OVER (ORDER BY day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS BIGINT) AS s1
            FROM daily),
      cand AS (SELECT day, i, n, s1,
                      (s1 * 1000000) // i AS m1_ppm,
                      ((s - s1) * 1000000) // (n - i) AS m2_ppm
               FROM w WHERE i >= 3 AND n - i >= 3),
      rk AS (SELECT *,
                    abs(m1_ppm - m2_ppm) AS contrast_ppm,
                    ROW_NUMBER() OVER (ORDER BY abs(m1_ppm - m2_ppm) DESC,
                      day) AS rn
             FROM cand)
      SELECT day AS split_day, i AS n_left, n - i AS n_right,
             m1_ppm AS mean_left_ppm, m2_ppm AS mean_right_ppm, contrast_ppm
      FROM rk WHERE rn = 1""",

    "events_uniformity_chi2" -> """
      WITH m AS (SELECT event_type,
                        ((epoch_ns(ts)//1000)//60000000) % 60 AS moh,
                        COUNT(1) AS c
                 FROM events GROUP BY 1, 2),
      g AS (SELECT event_type, CAST(SUM(c) AS BIGINT) AS n,
                   COUNT(1) AS n_minutes_hit,
                   CAST(SUM(c * c) AS BIGINT) AS sumc2
            FROM m GROUP BY 1)
      SELECT event_type, n, n_minutes_hit,
             (60000 * sumc2) // n - 1000 * n AS chi2_milli,
             CAST((60000 * sumc2) // n - 1000 * n <= 77931 AS INT)
               AS is_uniform_95
      FROM g ORDER BY event_type""",

    // recursive-CTE replay of the identical floor-halving recurrence
    "events_holt_linear" -> """
      WITH RECURSIVE daily AS (
        SELECT (epoch_ns(ts)//1000)//86400000000 AS day,
               CAST(COUNT(1) * 1000 AS BIGINT) AS x
        FROM events GROUP BY 1),
      idx AS (SELECT x, ROW_NUMBER() OVER (ORDER BY day) AS i FROM daily),
      rec(i, l, b, prevx) AS (
        SELECT CAST(1 AS BIGINT), x, CAST(0 AS BIGINT), x FROM idx WHERE i = 1
        UNION ALL
        SELECT t.i + 1, t.l2, (t.l2 - t.l + t.b0) // 2, t.x FROM (
          SELECT rec.i, rec.l, ix.x,
                 CASE WHEN rec.i = 1 THEN ix.x - rec.prevx
                      ELSE rec.b END AS b0,
                 (ix.x + rec.l
                  + CASE WHEN rec.i = 1 THEN ix.x - rec.prevx
                         ELSE rec.b END) // 2 AS l2
          FROM rec JOIN idx ix ON ix.i = rec.i + 1) t)
      SELECT (SELECT COUNT(1) FROM idx) AS n_days,
             l AS level_milli, b AS trend_milli,
             l + 7 * b AS forecast7_milli
      FROM rec WHERE i = (SELECT COUNT(1) FROM idx)""",

    "events_alert_debounce" -> """
      WITH hourly AS (
        SELECT (epoch_ns(ts)//1000)//3600000000 AS hr, COUNT(1) AS c
        FROM events WHERE event_type = 'error' GROUP BY 1),
      tot AS (SELECT CAST(SUM(c) AS BIGINT) AS tot, COUNT(1) AS nh
              FROM hourly),
      hot AS (SELECT hr, c,
                     hr - ROW_NUMBER() OVER (ORDER BY hr) AS grp
              FROM hourly CROSS JOIN tot WHERE c * nh > tot),
      ep AS (SELECT grp, MIN(hr) AS start_hr, COUNT(1) AS n_hours,
                    MAX(c) AS peak_count
             FROM hot GROUP BY 1)
      SELECT start_hr, n_hours, peak_count
      FROM ep WHERE n_hours >= 3 ORDER BY start_hr""",

    "events_mix_drift_weekly" -> """
      WITH wt AS (SELECT (epoch_ns(ts)//1000)//604800000000 AS week,
                         event_type, COUNT(1) AS c
                  FROM events GROUP BY 1, 2),
      wtot AS (SELECT week, CAST(SUM(c) AS BIGINT) AS nw FROM wt GROUP BY 1),
      corpus AS (SELECT event_type, CAST(SUM(c) AS BIGINT) AS ct
                 FROM wt GROUP BY 1),
      ctot AS (SELECT CAST(SUM(ct) AS BIGINT) AS n FROM corpus),
      shares AS (SELECT wt.week, wt.event_type, wtot.nw,
                        (wt.c * 1000000) // wtot.nw
                          - (corpus.ct * 1000000) // ctot.n AS d_ppm
                 FROM wt JOIN wtot ON wt.week = wtot.week
                         JOIN corpus ON wt.event_type = corpus.event_type
                         CROSS JOIN ctot)
      SELECT week, MAX(nw) AS n_events,
             CAST(SUM(abs(d_ppm)) AS BIGINT) // 2 AS tv_ppm,
             MIN(struct_pack(na := -abs(d_ppm), t := event_type)).t
               AS top_drift_type
      FROM shares GROUP BY week ORDER BY week""",

    "events_error_rate_ztest" -> s"""
      WITH e AS (SELECT (epoch_ns(ts)//1000)//86400000000 AS day,
                        CASE WHEN event_type = 'error' THEN 1 ELSE 0 END
                          AS is_err
                 FROM events),
      sp AS (SELECT (MIN(day) + MAX(day) + 1) // 2 AS mid FROM e),
      g AS (SELECT CASE WHEN day < mid THEN 1 ELSE 2 END AS h,
                   COUNT(1) AS n, CAST(SUM(is_err) AS BIGINT) AS k
            FROM e CROSS JOIN sp GROUP BY 1),
      p AS (SELECT MAX(CASE WHEN h = 1 THEN n END) AS n1,
                   MAX(CASE WHEN h = 1 THEN k END) AS k1,
                   MAX(CASE WHEN h = 2 THEN n END) AS n2,
                   MAX(CASE WHEN h = 2 THEN k END) AS k2
            FROM g),
      zc AS (SELECT *,
                    CAST(k1 + k2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE) AS pp
             FROM p)
      SELECT n1, k1, n2, k2,
             (k1 * 1000000) // n1 AS rate1_ppm,
             (k2 * 1000000) // n2 AS rate2_ppm,
             CASE WHEN pp > 0 AND pp < 1 THEN
               ${r6Sql("(CAST(k1 AS DOUBLE) / CAST(n1 AS DOUBLE)" +
                 " - CAST(k2 AS DOUBLE) / CAST(n2 AS DOUBLE))" +
                 " / sqrt(pp * (1.0 - pp)" +
                 " * (1.0 / CAST(n1 AS DOUBLE) + 1.0 / CAST(n2 AS DOUBLE)))")}
             END AS z6,
             CASE WHEN pp > 0 AND pp < 1 THEN
               CAST(abs(${r6Sql("(CAST(k1 AS DOUBLE) / CAST(n1 AS DOUBLE)" +
                 " - CAST(k2 AS DOUBLE) / CAST(n2 AS DOUBLE))" +
                 " / sqrt(pp * (1.0 - pp)" +
                 " * (1.0 / CAST(n1 AS DOUBLE) + 1.0 / CAST(n2 AS DOUBLE)))")})
                 > 1.96 AS INT)
             END AS significant
      FROM zc""",
  )
}
