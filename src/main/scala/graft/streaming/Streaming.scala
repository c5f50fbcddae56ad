package graft.streaming

import graft.{OpRegistry, Pin, Store}
import graft.Helpers._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, ListState, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, Trigger, ValueState}

/** §2.10 Streaming over the `events` stream.
  *
  * Oracle-checked ops compute time-window semantics in pure integer
  * epoch-micro arithmetic on the static table (identical to the streaming
  * window alignment: Spark tumbling/sliding windows are epoch-aligned).
  * The genuinely incremental ops (watermark, streaming dedup, arbitrary
  * state, foreachBatch sink) run REAL Structured Streaming here — file
  * source -> Trigger.AvailableNow -> memory sink — which is deterministic
  * in a single batch; multi-batch/late-data semantics are covered by
  * StreamingSpec with MemoryStream feeds.
  *
  * Scale notes: windowed aggs shuffle once on (window x key); watermarks
  * bound state size (without one, 100 TB of stream state never evicts);
  * session windows use the built-in session_window state store path.
  */
object Streaming extends OpRegistry {

  private val usPerHour = 3600000000L
  private val usPerDay = 86400000000L
  private val usPer15m = 900000000L

  /** Batch `events` with ts_us (epoch micros, integer-exact). */
  private def eventsUs(s: SparkSession, dir: String): DataFrame =
    t(s, dir)("events").withColumn("ts_us", tsDivMicros(col("ts")))

  /** Streaming read of the same events parquet (file source). The file
    * source wants a directory; a glob restricted to the fixture file plus
    * `basePath` reads it in place — unlike the round-1 /tmp-symlink trick,
    * the path stays on shared storage, so executors on a real cluster can
    * see it (VERDICT r1 portability note). */
  private def eventsStream(s: SparkSession, dir: String): DataFrame = {
    // FILE schema, not Tables.load's normalized one: the ts shim is a
    // projection, and a streaming source schema must match the footer.
    val schema = graft.Tables.rawLoad(s, dir, "events").schema
    val raw = s.readStream.schema(schema)
      .option("basePath", dir)
      .parquet(s"$dir/events.parquet*")
    graft.Tables.normalizeTs(raw)
      .withColumn("ts_ts", tsMicros(col("ts")))
  }

  /** State-store partition count for the real streaming queries. Stateful
    * operators create one state store (plus its checkpoint dir) PER shuffle
    * partition per stateful op, so store COUNT, not data volume, prices the
    * fixture's run-once queries: CPU-sized 32 measured 12.5 s on
    * stream_stream_join vs 3.3 s at 8 (r3); 8→4 a further −0.5 s there
    * (3.04→2.50 s same-window A/B — the join holds 4 stores per partition,
    * so halving partitions halves 32 store inits+commits to 16) and −0.8 s
    * across the 11-query cluster (r10). State partitioning should track
    * STATE VOLUME, not core count: 4 comfortably bounds the fixture's
    * state; a 100 TB deployment raises it (the count is pinned by the first
    * checkpoint, so it is a deploy-time choice either way). 4→2 re-measured
    * FLAT (12.8 vs 13.1 s same-window filtered A/B, r10 — inside the host
    * noise band, with per-query regressions on tws/stateful_count), so 4
    * stands: below it, store-init savings no longer pay for the lost
    * state-work parallelism. The 100× streaming probe measured the cost of
    * an undersized choice: at 10M events the 4 state partitions carry the
    * whole session-merge/dedup state in 4 tasks (stream_session_builtin
    * 44.3 s, stream_dedup 24.9 s with the noop sink, §4.2.13). */
  private val StreamStatePartitions = "4"

  /** The session settings a streaming query runs under, scoped to its
    * lifetime: set before start, the caller's values restored after
    * termination.
    *  - `spark.sql.shuffle.partitions` = [[StreamStatePartitions]]: captured
    *    into the query's checkpoint at planning; batch queries keep the
    *    session's CPU-sized setting.
    *  - `spark.sql.artifact.isolation.enabled` = false: each streaming query
    *    runs on a clone of the session, and with isolation on the clone gets
    *    a class loader of its own. Spark's codegen cache is keyed by (class
    *    loader, code), so every run of a query compiled its generated
    *    classes anew (13 per run of stream_stateful_count) and pushed other
    *    queries' classes out of the cache. The engine adds no session
    *    artifacts, so the shared loader serves every query.
    *  - `spark.sql.streaming.checkpointFileManagerClass` = the FileSystem
    *    based manager: Spark's default on a local path, the FileContext
    *    one, asks each checkpoint file for its link status, which Hadoop's
    *    local file system answers by forking `readlink` (112 process starts
    *    per run of stream_stateful_count at sf0.1). Rename stays atomic on
    *    local and HDFS paths. */
  private[graft] def withStreamQueryConf[T](s: SparkSession)(f: => T): T = {
    val confs = Seq(
      "spark.sql.shuffle.partitions" -> StreamStatePartitions,
      "spark.sql.artifact.isolation.enabled" -> "false",
      "spark.sql.streaming.checkpointFileManagerClass" ->
        "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager")
    val prev = confs.map { case (k, _) => k -> s.conf.getOption(k) }
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try f finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** stream_threshold_alerts state transition, shared with StreamingSpec's
    * cross-batch test: rows (user, event_id, ts_us, v100) sorted per group
    * by (ts_us, event_id); state = cumulative integer cents; emit one row
    * per crossed $1000 (= 100000 cents) boundary. */
  private[graft] val thresholdFn:
      (Long, Iterator[(Long, Long, Long, Long)], GroupState[Long]) =>
        Iterator[(Long, Long, Long, Long)] = {
    val levelCents = 100000L
    (user, rows, state) => {
      val sorted = rows.toIndexedSeq.sortBy(r => (r._3, r._2))
      var cum = state.getOption.getOrElse(0L)
      val out = Seq.newBuilder[(Long, Long, Long, Long)]
      sorted.foreach { r =>
        val before = cum / levelCents
        cum += r._4
        val after = cum / levelCents
        if (after > before) out += ((user, r._2, r._3, after))
      }
      state.update(cum)
      out.result().iterator
    }
  }

  /** stream_tws_running_max processor — the transformWithState surface
    * (Spark 4 arbitrary-state API, successor to flatMapGroupsWithState):
    * typed ValueState handle, explicit TimeMode, RocksDB-backed store.
    * Emits a row whenever a user's running max value (integer cents)
    * increases; rows sorted per group per batch (file-source iterators
    * carry no order). */
  private[graft] class RunningMaxProcessor
      extends StatefulProcessor[Long, (Long, Long, Long, Long), (Long, Long, Long, Long)] {
    @transient private var mx: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      mx = getHandle.getValueState[Long]("mx",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[(Long, Long, Long, Long)],
                                 timerValues: TimerValues): Iterator[(Long, Long, Long, Long)] = {
      val sorted = rows.toIndexedSeq.sortBy(r => (r._3, r._2))
      var cur = if (mx.exists()) mx.get() else Long.MinValue
      val out = Seq.newBuilder[(Long, Long, Long, Long)]
      sorted.foreach { r =>
        if (r._4 > cur) { cur = r._4; out += ((key, r._2, r._3, cur)) }
      }
      mx.update(cur)
      out.result().iterator
    }
  }

  /** CDC upsert-merge kernel (round 12), shared with Round12bSpec's
    * out-of-order-batch test: collapse the change batch to one row per
    * key (tuple max), then full-outer merge against the current snapshot
    * picking the per-key (ts, event_id, value) TUPLE MAX — never
    * "incoming wins", which would let an out-of-order batch regress a
    * row. Null-side structs are nulled wholesale so `greatest` picks the
    * surviving side. */
  private[graft] def cdcMerge(cur: Option[DataFrame],
                              batch: DataFrame): DataFrame = {
    def tup(side: String) = when(col(s"$side.last_ts_us").isNull, lit(null))
      .otherwise(struct(col(s"$side.last_ts_us"), col(s"$side.last_event_id"),
        col(s"$side.last_v100")))
    val upserts = batch
      .groupBy("user_id")
      .agg(max(struct(col("last_ts_us"), col("last_event_id"),
        col("last_v100"))).as("u"))
      .select(col("user_id"), col("u.last_ts_us"), col("u.last_event_id"),
        col("u.last_v100"))
    cur match {
      case None => upserts
      case Some(t) =>
        t.as("t").join(upserts.as("u"), Seq("user_id"), "full_outer")
          .select(col("user_id"), greatest(tup("t"), tup("u")).as("p"))
          .select(col("user_id"), col("p.last_ts_us"), col("p.last_event_id"),
            col("p.last_v100"))
    }
  }

  /** Leaderboard-entry processor (round 12): per user, emit each event
    * whose value enters the all-time top-3 at its arrival — the
    * "new record" change-log an alerting pipeline emits, with O(k) state
    * per key (a 3-long ListState) regardless of stream length. An event
    * enters iff fewer than 3 already-seen values are ≥ it (ties keep the
    * earlier event — a duplicate value does not re-enter a full board). */
  private[graft] class TopKEntryProcessor
      extends StatefulProcessor[Long, (Long, Long, Long, Long), (Long, Long, Long, Long)] {
    @transient private var top: ListState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      top = getHandle.getListState[Long]("top",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[(Long, Long, Long, Long)],
                                 timerValues: TimerValues): Iterator[(Long, Long, Long, Long)] = {
      val sorted = rows.toIndexedSeq.sortBy(r => (r._3, r._2))
      var board = top.get().toIndexedSeq
      val out = Seq.newBuilder[(Long, Long, Long, Long)]
      sorted.foreach { r =>
        if (board.count(_ >= r._4) < 3) {
          out += ((key, r._2, r._3, r._4))
          board = (board :+ r._4).sorted(Ordering[Long].reverse).take(3)
        }
      }
      top.put(board.toArray)
      out.result().iterator
    }
  }

  /** Scratch checkpoint dir for the run-once AvailableNow → memory-sink
    * queries, on RAM-backed /dev/shm when present (this host's /tmp is
    * disk-backed ext4; every state-store commit is a write+rename+fsync per
    * store per batch, so a disk checkpoint taxes each query ~100s of ms of
    * pure harness I/O). Safe here ONLY because these checkpoints are
    * deliberately discarded per run — the memory sink is driver-local, so
    * the query is a single-node diagnostic by construction. A production
    * streaming deployment puts its checkpoint on SHARED storage (S3/HDFS)
    * for resumability; that choice is per-query `checkpointLocation`, not
    * engine code. Deleted in `cleanupCkpt` after termination. */
  private[graft] def scratchCkpt(name: String): String = {
    val root =
      if (new java.io.File("/dev/shm").isDirectory) "/dev/shm/graft_ckpt"
      else sys.props("java.io.tmpdir") + "/graft_ckpt"
    s"$root/${name}_${java.util.UUID.randomUUID().toString.replace("-", "").take(8)}"
  }
  private[graft] def cleanupCkpt(path: String): Unit =
    org.apache.spark.network.util.JavaUtils.deleteRecursively(new java.io.File(path))

  /** State-store footprint of the most recent runToMemory query:
    * (state rows, state bytes, micro-batches), summed over the final
    * progress's stateful operators. Read by ScaleProbe so the streaming
    * family's state GROWTH is measured, not asserted (VERDICT r11 #3) —
    * superlinear state (e.g. a watermark that stops evicting) shows up
    * here long before it OOMs a real deployment. */
  @volatile private[graft] var lastStateStats: Option[(Long, Long, Int)] = None

  /** ScaleProbe-only: route the streaming write to the distributed noop
    * sink instead of the driver-local memory sink. The memory sink is a
    * single-node DIAGNOSTIC (collects every batch to the driver — fine at
    * fixture scale, and what Verify's oracle path needs); at the 100×
    * probe the append-mode ops emit data-sized output and the collect
    * itself dominates (stream_session_builtin even exceeds
    * driver.maxResultSize: ~1 GB of emitted sessions). Production puts a
    * distributed sink (parquet/kafka) there; noop is its zero-IO stand-in,
    * so the probe times the state-store path. Downstream batch transforms
    * then see an empty frame — harmless, the probe only times. */
  @volatile private[graft] var probeNoopSink: Boolean = false

  /** Run an availableNow streaming query into a memory sink, return table. */
  private def runToMemory(s: SparkSession, df: DataFrame, name: String,
                          mode: OutputMode): DataFrame = {
    val qn = name + "_" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    val ckpt = scratchCkpt(qn)
    withStreamQueryConf(s) {
      try {
        val w = if (probeNoopSink) df.writeStream.format("noop")
                else df.writeStream.format("memory").queryName(qn)
        val q = w.option("checkpointLocation", ckpt)
          .outputMode(mode).trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        val progress = q.recentProgress
        lastStateStats = progress.reverseIterator
          .find(_.stateOperators.nonEmpty)
          .map(p => (p.stateOperators.map(_.numRowsTotal).sum,
            p.stateOperators.map(_.memoryUsedBytes).sum, progress.length))
      } finally cleanupCkpt(ckpt)
    }
    if (probeNoopSink)
      s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row], df.schema)
    else s.table(qn)
  }

  /** stream_dedup_bands kernel, parameterized on the (already-planted) doc
    * universe so Round16dSpec can drive a hand-built corpus with known
    * cross-wave duplicates. Semantics: base corpus (doc_id % 10 != 7)
    * lands the fingerprint store ONCE (production: last night's output);
    * tonight's batch arrives as THREE mtime-ordered wave files
    * (wave = doc_id % 3) replayed through the streaming engine with
    * maxFilesPerTrigger=1, and each micro-batch is admitted against the
    * store AS OF the previous batch — admitted docs' bands re-land before
    * the next wave probes. This is dedup_incremental_bands' nightly loop
    * promoted to continuous ingestion: per-batch cost scales with the
    * WAVE (one AQE-sized probe join on (band, bh) + one wave-sized delta
    * land — r20: the full-store re-land per wave became a delta append,
    * the CC store's VERDICT r17 #1 discipline), never the corpus, and the
    * store delta chain is batchId-keyed so a micro-batch retry is
    * idempotent (reads v0 + deltas strictly older than itself, overwrites
    * its own delta/b(batchId) — the foreachBatch exactly-once
    * discipline). Batch
    * membership and order are deterministic by construction (the file
    * source processes oldest-modification-time first; the staged waves
    * carry strictly increasing mtimes), which is what lets a batch oracle
    * replay all three admission rounds as unrolled CTEs. */
  private[graft] def streamBandAdmission(s: SparkSession,
      docs: DataFrame): DataFrame = {
    import graft.llm.DedupOps
    // docs feeds the key build and the per-wave staging filters; the
    // registry query passes a landed parquet artifact, so each branch is a
    // scan, not a re-run of the planting joins. Test callers pass tiny
    // hand frames, where re-execution is free.
    val base = Store.fresh(s, "sdb")
    // land the per-doc band keys ONCE (the dedup_incremental_bands
    // rationale: three downstream branches would re-run the signature
    // pipeline per branch; production stores signatures, it never
    // re-derives them per consumer)
    DedupOps.portableBands(DedupOps.portableSignature(docs))
      .write.mode("overwrite").parquet(s"$base/keys")
    val keys = graft.Tables.readParquet(s, s"$base/keys")
    keys.filter(!DedupOps.isBatch(col("doc_id")))
      .select("band", "bh").distinct()
      .write.mode("overwrite").parquet(s"$base/store/v0")
    // stage tonight's batch as 3 wave files. LEFT join keeps shingle-less
    // docs (null band): they can never match the store, so they admit —
    // the same containment the batch twin gets from its doc-frame anti-join.
    val batchKeys = docs.filter(DedupOps.isBatch(col("doc_id")))
      .select("doc_id")
      .join(keys, Seq("doc_id"), "left")
    replayWaves(s, base, "sdb", batchKeys) { (batch, batchId) =>
      // Store AS OF this wave = v0 ∪ the landed per-wave DELTAS
      // b0..b(w−1) — the CC label store's delta-landing discipline
      // (VERDICT r17 #1) applied to the band store (r20, guide
      // §2.4/§6): the r16–r19 loop re-WROTE the full store every
      // micro-batch, a store-sized write per wave that at 100 TB
      // rewrites the corpus fingerprint set nightly; per-wave WRITE
      // bytes must track the WAVE. Disjointness is structural: an
      // admitted doc by the admission rule has NO band in the
      // store-as-of-its-wave, and within-wave dups are distinct()'d,
      // so each delta is provably disjoint from every earlier landed
      // set — the multi-path union scan IS the store, bit-for-bit.
      // Retry idempotence is unchanged: a wave reads only landed
      // state strictly older than itself and overwrites its own
      // batchId-keyed delta.
      val storePaths = s"$base/store/v0" +:
        (0L until batchId).map(w => s"$base/store/delta/b$w")
      val store = s.read.parquet(storePaths: _*)
      val waveDocs = batch.select("doc_id").distinct()
      val waveKeys = batch.filter(col("band").isNotNull)
        .select("doc_id", "band", "bh")
      // pinned: the delta write and the receipt both read the store probe
      val rejected = Pin.shared(waveKeys.join(store, Seq("band", "bh"), "left_semi")
        .select("doc_id").distinct())
      val admitted = Pin.shared(waveDocs.join(rejected, Seq("doc_id"), "left_anti"))
      // repartition(1): one part file per delta, so an EMPTY delta
      // still lands a readable schema (the cc delta rule)
      waveKeys.join(admitted, Seq("doc_id"), "left_semi")
        .select("band", "bh").distinct()
        .repartition(1).write.mode("overwrite")
        .parquet(s"$base/store/delta/b$batchId")
      // one receipt row per micro-batch, batchId-idempotent path.
      // wave is CONTENT-derived (all docs in a wave file share
      // doc_id % 3), so a mis-ordered delivery shows up as a
      // receipt/oracle mismatch instead of passing silently;
      // an empty wave falls back to the batch position.
      // n_store_after stays LANDED-state-derived but is maintained
      // INCREMENTALLY (r20 session 3, the cc n_components rule /
      // VERDICT r19 #3): previous receipt's count + this wave's
      // landed delta row count — exactly the union-scan count, since
      // every landed delta is provably disjoint from all earlier
      // landed state (the admission-rule argument above). Wave 0
      // pays one v0 count; later waves never re-scan the store.
      val prevStore =
        if (batchId == 0L)
          graft.Tables.readParquet(s, s"$base/store/v0")
            .agg(count(lit(1)).as("prev_ns"))
        else graft.Tables.readParquet(s, s"$base/log/b${batchId - 1L}")
          .select(col("n_store_after").as("prev_ns"))
      waveDocs.agg(
          coalesce(max(pmod(col("doc_id"), lit(3L))), lit(batchId))
            .as("wave"),
          count(lit(1)).as("n_batch"))
        .crossJoin(rejected.agg(count(lit(1)).as("n_rejected")))
        .crossJoin(admitted.agg(count(lit(1)).as("n_admitted")))
        .crossJoin(prevStore
          .crossJoin(graft.Tables.readParquet(s, s"$base/store/delta/b$batchId")
            .agg(count(lit(1)).as("nd")))
          .select((col("prev_ns") + col("nd")).as("n_store_after")))
        .write.mode("overwrite").parquet(s"$base/log/b$batchId")
    }
  }

  /** Wave w's landed delta — one commit file per wave, so a micro-batch
    * commits one atomic delta object in one write job. Row kinds: kind=0
    * wave rows (doc_id, label); kind=1 relabel pairs (old_label,
    * new_label). */
  private[graft] def ccDeltaWave(s: SparkSession, base: String, w: Long): DataFrame =
    graft.Tables.readParquet(s, s"$base/labels/delta/b$w")
      .filter(col("kind") === 0).select(col("doc_id"), col("label"))
  private[graft] def ccDeltaRelabel(s: SparkSession, base: String, w: Long): DataFrame =
    graft.Tables.readParquet(s, s"$base/labels/delta/b$w")
      .filter(col("kind") === 1).select(col("old_label"), col("new_label"))

  /** One merge-on-read fold step: labels-through-(w−1) ∪ wave w's rows,
    * mapped through wave w's broadcast relabel pairs. */
  private def ccFoldDelta(s: SparkSession, lab: DataFrame, base: String,
      w: Long): DataFrame = {
    val wave = ccDeltaWave(s, base, w)
    val rel = ccDeltaRelabel(s, base, w)
      .withColumnRenamed("old_label", "label")
    lab.unionByName(wave)
      .join(broadcast(rel), Seq("label"), "left")
      .select(col("doc_id"),
        coalesce(col("new_label"), col("label")).as("label"))
  }

  /** Checkpoint cadence for the CC label store: every K waves the folded
    * served snapshot lands as labels/v(w+1) and the serve path re-roots
    * there — the commit-log checkpointing that makes merge-on-read
    * stores viable (Delta's _last_checkpoint contract). Checkpoint writes
    * are K-amortized (one snapshot per K waves), never per-wave; deltas
    * stay the only per-wave writes. K = 2 makes the 3-wave fixture CROSS
    * a checkpoint in the shipping op: v2 lands after wave 1, wave 2
    * serves from v2 + delta b2. */
  private[graft] val CcCheckpointEveryWaves = 2L

  /** Newest landed snapshot usable for labels-through-`through`: max N
    * with labels/vN present and N ≤ through + 1 (labels/vN = labels
    * through wave N−1; v0 always exists). O(versions) driver listing of
    * directory NAMES — never a data read. */
  private[graft] def ccNewestBase(base: String, through: Long): Long =
    Option(new java.io.File(s"$base/labels").listFiles())
      .getOrElse(Array.empty[java.io.File])
      .map(_.getName).filter(_.matches("v\\d+")).map(_.drop(1).toLong)
      .filter(_ <= through + 1L).foldLeft(0L)(math.max)

  /** The delta chain folded from an EXPLICIT base version — specs replay
    * the full chain from v0 to prove checkpoint-crossing reads equal it;
    * the serve path enters via [[ccServedLabels]] at the newest base. */
  private[graft] def ccServedLabelsFrom(s: SparkSession, base: String,
      from: Long, through: Long): DataFrame = {
    var lab = graft.Tables.readParquet(s, s"$base/labels/v$from")
    for (w <- from to through) lab = ccFoldDelta(s, lab, base, w)
    lab
  }

  /** Merge-on-read label serving for [[streamCcMaintain]]: current labels
    * after wave `through` = the NEWEST landed base snapshot ≤ `through` ∪
    * each suffix wave's landed wave rows, folded through each suffix
    * wave's landed (old_label → new_label) relabel map in wave order.
    * Every per-wave delta is component-/wave-bounded, so each fold step is
    * a BROADCAST join; with the [[CcCheckpointEveryWaves]] cadence the read
    * path costs one base-store scan + at most K−1 suffix folds — bounded
    * regardless of total wave count. `through = -1` is v0 itself. */
  private[graft] def ccServedLabels(s: SparkSession, base: String,
      through: Long): DataFrame =
    ccServedLabelsFrom(s, base, ccNewestBase(base, through), through)

  /** Wave membership for [[streamCcMaintain]]'s fixture protocol: batch
    * docs ([[graft.llm.DedupOps.isBatch]]) arrive in wave doc_id % 3;
    * base docs "arrived" before wave 0. */
  private def ccWaveOf(c: Column): Column =
    when(!graft.llm.DedupOps.isBatch(c), lit(-1L)).otherwise(pmod(c, lit(3L)))

  /** The label store [[streamCcMaintain]] lands for the application of `s`. */
  private[graft] def ccStoreDir(s: SparkSession): String = Store.dir(s, "scc")

  /** Runs `f` under the Spark job description `wave <batchId>: <label>`,
    * so listeners and the event log attribute each [[ccProcessWave]] job
    * to its phase; the previous description is restored afterwards. */
  private def ccPhase[T](s: SparkSession, batchId: Long, label: String)(f: => T): T = {
    val sc = s.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(s"wave $batchId: $label")
    try f finally sc.setJobDescription(prev)
  }

  /** One micro-batch of CC label maintenance — the foreachBatch body,
    * factored out so LabelMergeSpec can re-invoke it on the SAME batchId
    * and pin micro-batch retry idempotence: every write in here lands at a
    * batchId-keyed path in overwrite mode (delta/b$id, log/b$id) or a
    * content-deterministic checkpoint (labels/vN), so a retried wave
    * reproduces byte-identical store state. */
  private[graft] def ccProcessWave(s: SparkSession, base: String,
      edges: DataFrame, batch: DataFrame, batchId: Long): Unit = {
    // the batch's serving snapshot, pinned: the contraction joins and the
    // receipt read it
    val store = ccPhase(s, batchId, "store pin")(
      Pin.shared(ccServedLabels(s, base, batchId - 1)))
    val waveDocs = batch.select("doc_id").distinct()
    // edges first complete in THIS wave
    val newEdges = edges.filter(
      greatest(ccWaveOf(col("a")), ccWaveOf(col("b"))) === batchId)
    val subLab = ccPhase(s, batchId, "contract + sub-CC")(
      graft.llm.DedupOps.mergeComponents(store, newEdges,
        waveDocs.select(col("doc_id").as("node"))))
    val waveOut = waveDocs.join(subLab, col("doc_id") === col("node"))
      .select(col("doc_id"), col("label"))
    // store labels are minima of docs that arrived earlier, so none is a
    // wave doc id, and every other endpoint of a new edge is a wave doc:
    // the sub-labels outside the wave are exactly the touched store labels
    val relabel = subLab.join(waveDocs, col("node") === col("doc_id"), "left_anti")
      .filter(col("node") =!= col("label"))
      .select(col("node").as("old_label"), col("label").as("new_label"))
    // DELTA land — the only per-wave store write, wave-/component-bounded,
    // as one commit file carrying both row kinds (one atomic delta object
    // per micro-batch, one write job). repartition(1) pins one part file
    // so an EMPTY delta still lands a readable schema.
    ccPhase(s, batchId, "delta write")(
      waveOut.select(lit(0).as("kind"), col("doc_id"), col("label"),
          lit(null).cast("long").as("old_label"),
          lit(null).cast("long").as("new_label"))
        .unionByName(relabel.select(lit(1).as("kind"),
          lit(null).cast("long").as("doc_id"),
          lit(null).cast("long").as("label"),
          col("old_label"), col("new_label")))
        .repartition(1).write.mode("overwrite")
        .parquet(s"$base/labels/delta/b$batchId"))
    val landedRelabel = ccDeltaRelabel(s, base, batchId)
    val landedWave = ccDeltaWave(s, base, batchId)
    // n_components is maintained INCREMENTALLY, never by a base-sized
    // countDistinct per wave: it obeys an exact recurrence over the landed
    // delta:
    //   components(w) = components(w−1)
    //     + |landed wave rows with doc_id = label|   (a wave doc that is
    //        its own component min heads a label NEW to the store — store
    //        labels are minima over previously-arrived doc ids, so a
    //        this-wave doc id can never already be one)
    //     − |relabel pairs|                          (each retires one
    //        DISTINCT store label into another component; relabel has one
    //        row per distinct old label by construction)
    // components(−1) falls back to a countDistinct over the pinned v0
    // snapshot (wave 0 only); every later wave reads the previous wave's
    // landed receipt — both deterministic, so retry idempotence holds.
    // The per-wave fold runs only on checkpoint waves, where the
    // labels/vN write is its single consumer.
    val prevComponents =
      if (batchId == 0L) store.agg(countDistinct(col("label")).as("prev_nc"))
      else graft.Tables.readParquet(s, s"$base/log/b${batchId - 1L}")
        .select(col("n_components").as("prev_nc"))
    // receipt: wave CONTENT-derived (the stream_dedup_bands rule —
    // mis-ordered delivery fails the oracle instead of passing);
    // relabeled/components are merge-on-read READS, never writes
    ccPhase(s, batchId, "receipt write")(
      waveDocs.agg(
          coalesce(max(pmod(col("doc_id"), lit(3L))), lit(batchId))
            .as("wave"),
          count(lit(1)).as("n_batch"))
        .crossJoin(newEdges.agg(count(lit(1)).as("n_edges_new")))
        .crossJoin(store.join(
            landedRelabel.select(col("old_label").as("label")),
            Seq("label"))
          .agg(count(lit(1)).as("n_relabeled")))
        .crossJoin(prevComponents
          .crossJoin(landedWave.filter(col("doc_id") === col("label"))
            .agg(count(lit(1)).as("nnew")))
          .crossJoin(landedRelabel.agg(count(lit(1)).as("nrel")))
          .select((col("prev_nc") + col("nnew") - col("nrel")).as("n_components")))
        .crossJoin(landedWave
          .agg(count(lit(1)).as("nw"))
          .crossJoin(landedRelabel.agg(count(lit(1)).as("nr")))
          .select((col("nw") + col("nr")).as("n_delta_rows")))
        .write.mode("overwrite").parquet(s"$base/log/b$batchId"))
    // CHECKPOINT: every K waves, land the folded served snapshot as
    // labels/v(batchId+1) and let ccServedLabels re-root there, so serve
    // cost stops growing with wave count. This is the only non-delta store
    // write, one per K waves; content-deterministic, so a micro-batch
    // retry overwrites it with identical content. Non-checkpoint waves
    // never pay a base-sized pass beyond the store snapshot itself.
    if ((batchId + 1L) % CcCheckpointEveryWaves == 0L)
      ccPhase(s, batchId, "checkpoint fold write")(
        ccFoldDelta(s, store, base, batchId)
          .write.mode("overwrite").parquet(s"$base/labels/v${batchId + 1L}"))
  }

  /** Replays `rows` through the streaming engine as three micro-batches
    * and returns the receipts `perWave` landed under `base/log`. Wave w
    * holds the rows with `doc_id % 3 = w`, staged as the one file
    * `base/staged/wave<w>.parquet`; the files carry strictly increasing
    * modification times well in the past, and the file source reads the
    * oldest first (latestFirst=false), so under maxFilesPerTrigger=1 wave
    * w IS micro-batch w, handed to `perWave(batch, w)`. */
  private def replayWaves(s: SparkSession, base: String, name: String,
      rows: DataFrame)(perWave: (DataFrame, Long) => Unit): DataFrame = {
    val staged = new java.io.File(s"$base/staged")
    staged.mkdirs()
    val t0 = System.currentTimeMillis() - 600000L
    for (w <- 0 until 3) {
      val tmp = s"$base/_w$w"
      rows.filter(pmod(col("doc_id"), lit(3L)) === w)
        .repartition(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file staged for wave $w"))
      val dst = new java.io.File(staged, s"wave$w.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      dst.setLastModified(t0 + w * 2000L)
      org.apache.spark.network.util.JavaUtils.deleteRecursively(new java.io.File(tmp))
    }
    val ckpt = scratchCkpt(name)
    withStreamQueryConf(s) {
      try s.readStream.schema(rows.schema)
        .option("maxFilesPerTrigger", "1").parquet(staged.getPath)
        .writeStream.outputMode(OutputMode.Append())
        .option("checkpointLocation", ckpt)
        .foreachBatch(perWave)
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
      finally cleanupCkpt(ckpt)
    }
    // enumerate the receipt dirs explicitly: a glob path ("log/b*") makes
    // the reader's FileStreamSink.hasMetadata probe log a spurious
    // FileNotFoundException WARN with a full stack trace on every run
    val receipts = new java.io.File(s"$base/log").listFiles()
      .filter(_.getName.startsWith("b")).map(_.getPath).sorted
    s.read.parquet(receipts: _*).orderBy("wave")
  }

  /** stream_cc_maintain kernel: continuous CC-label maintenance —
    * stream_dedup_bands' wave-ingestion protocol composed with
    * [[graft.llm.DedupOps.mergeComponents]] inside foreachBatch, closing
    * the production dedup loop: admission decides what lands, THIS keeps
    * the component labels current as it lands. Setup lands two
    * once-per-corpus stores ([[graft.llm.DedupOps.landBaseStore]];
    * production: both are last night's output): the near-dup edge list
    * and the base CC labels (v0). The batch then replays as three
    * mtime-ordered wave files; each micro-batch bid (1) reads labels
    * v(bid), (2) takes the edges whose LATEST endpoint arrives this wave
    * (edge wave = max over endpoints of arrival; base = −1, batch doc =
    * doc_id % 3 — so every edge is processed exactly once, when it first
    * has both endpoints), (3) merges them into the current labels, running
    * CC on the small contracted graph only, (4) lands ONLY THE DELTA: the
    * wave docs' new labels plus the (old_label → new_label) relabel pairs
    * — both component-/wave-bounded, so per-wave WRITE bytes track touched
    * labels, never the corpus — and (5) writes a receipt row. The current
    * labels are SERVED merge-on-read ([[ccServedLabels]]). Deltas are
    * batchId-keyed (read served(b−1), overwrite delta/b) so a micro-batch
    * retry is idempotent. Per-wave COMPUTE scales with the wave's docs +
    * touched components; the receipt's component count and relabel count
    * are READS over the served view (reads never rewrite the store).
    *
    * Label ground truth: by induction, labels after wave w equal the
    * min-id CC labels of the subgraph induced by everything arrived
    * through wave w — which is exactly what the oracle's four unrolled
    * recursive reach CTEs compute, so every receipt field (including the
    * relabel count and the delta row count, the fields only an
    * incremental implementation can get wrong) is DuckDB-replayed per
    * wave. */
  private[graft] def streamCcMaintain(s: SparkSession,
      docs: DataFrame): DataFrame = {
    import graft.llm.DedupOps
    // docs feeds the edge build, the base-label build and the wave staging
    // filters; the registry query passes a landed parquet artifact, so each
    // branch is a scan. Test callers pass tiny hand frames.
    val base = Store.fresh(s, "scc")
    // edges and base labels v0 (last night's output)
    val edges = DedupOps.landBaseStore(docs, base)
    // stage tonight's batch as 3 mtime-ordered wave files
    val batchDocs = docs.filter(DedupOps.isBatch(col("doc_id"))).select("doc_id")
    replayWaves(s, base, "scc", batchDocs)(ccProcessWave(s, base, edges, _, _))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_dedup_bands" -> ((s, dir) => {
      // Continuous-ingestion near-dup admission (r16): the STREAMING
      // deployment of dedup_incremental_bands' nightly loop — three
      // deterministic micro-batch waves probed in foreachBatch against
      // the landed portable band store, which re-lands cumulatively so
      // wave N+1 sees wave N's admissions (the planted % 100 = 97
      // cross-wave dups exercise exactly that path). Fully DuckDB-
      // oracled: the portable arithmetic minhash plus unrolled per-wave
      // CTEs replay all three admission rounds bit-for-bit.
      // The planted stream universe is a corpus artifact shared with
      // stream_cc_maintain.
      val docs = graft.CorpusArtifacts.parquet(s, "planted_stream_docs", dir)(
        graft.llm.DedupOps.plantedStreamDocs(
          tWide(s, dir)("documents").select("doc_id", "text")))
      streamBandAdmission(s, docs)
    }),

    "stream_cc_maintain" -> ((s, dir) => {
      // Streaming CC-label maintenance: the last piece of the continuous production dedup loop —
      // stream_dedup_bands admits, THIS keeps the component labels
      // current per micro-batch against the landed label artifact (see
      // [[streamCcMaintain]]). Same stream-planted universe, so
      // cross-wave merges (% 100 = 97) and batch-base merges (% 50 = 7)
      // both exercise the per-wave relabel path. Fully DuckDB-oracled:
      // four unrolled recursive reach CTEs replay the label state after
      // the base build and after each wave, so every receipt field —
      // including the per-wave relabel count, the one only an incremental
      // implementation can get wrong — is ground-truth-checked.
      // same landed planted-stream-docs artifact as stream_dedup_bands
      val docs = graft.CorpusArtifacts.parquet(s, "planted_stream_docs", dir)(
        graft.llm.DedupOps.plantedStreamDocs(
          tWide(s, dir)("documents").select("doc_id", "text")))
      streamCcMaintain(s, docs)
    }),

    "stream_backfill_batches" -> ((s, dir) => {
      // Bounded-batch backfill (round 14): replay a historical store
      // through the streaming engine in CONTROLLED increments —
      // maxFilesPerTrigger=1 over a 4-file staging copy + AvailableNow,
      // so the run is 4 micro-batches instead of one giant one. This is
      // THE production backfill pattern: each batch checkpoints, so a
      // 100 TB replay survives restarts at batch granularity and the
      // state store grows stepwise instead of absorbing the whole history
      // in one commit (a single-batch replay of 100 TB is one giant
      // un-resumable transaction). Complete-mode day-grid counts; the
      // final table must equal the all-at-once batch answer — exactly
      // what the oracle states; the spec asserts the run really took ≥4
      // micro-batches (lastStateStats._3).
      val staged = Store.dir(s, "stream_backfill")
      graft.Tables.rawLoad(s, dir, "events").repartition(4)
        .write.mode("overwrite").parquet(staged)
      val schema = graft.Tables.rawLoad(s, dir, "events").schema
      val raw = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(staged)
      val agg = graft.Tables.normalizeTs(raw)
        .withColumn("ts_us", tsDivMicros(col("ts")))
        .groupBy(call_function("div", col("ts_us"), lit(usPerDay)).as("day"))
        .agg(count(lit(1)).as("cnt"), decSumOut(col("value")).as("sum_value"))
      runToMemory(s, agg, "backfill", OutputMode.Complete())
        .orderBy("day")
    }),

    "stream_tumbling_1h" -> ((s, dir) =>
      eventsUs(s, dir)
        .groupBy((call_function("div", col("ts_us"), lit(usPerHour)) * usPerHour).as("win_us"),
          col("event_type"))
        .agg(count(lit(1)).as("cnt"), decSumOut(col("value")).as("sum_value"))
        .orderBy("win_us", "event_type")),

    "stream_sliding_1h_15m" -> ((s, dir) => {
      // 1h windows sliding 15m: each event belongs to 4 windows whose
      // starts are (slot-k)*15m for k in 0..3 — integer arithmetic matches
      // Spark's epoch-aligned window() exactly.
      val e = eventsUs(s, dir)
        .withColumn("slot", call_function("div", col("ts_us"), lit(usPer15m)))
        .withColumn("k", explode(array((0 until 4).map(lit): _*)))
        .withColumn("win_us", (col("slot") - col("k")) * usPer15m)
      e.groupBy("win_us", "event_type")
        .agg(count(lit(1)).as("cnt"), decSumOut(col("value")).as("sum_value"))
        .orderBy("win_us", "event_type")
    }),

    "stream_session_30m" -> ((s, dir) => {
      // Gaps-and-islands sessionization, 30-minute gap.
      val wOrd = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val wSess = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      eventsUs(s, dir)
        .withColumn("prev_us", lag("ts_us", 1).over(wOrd))
        .withColumn("new_sess",
          when(col("prev_us").isNull || col("ts_us") - col("prev_us") > 30L * 60 * 1000000, 1L)
            .otherwise(0L))
        .withColumn("sess_id", sum(col("new_sess")).over(wSess))
        .groupBy("user_id", "sess_id")
        .agg(min(col("ts_us")).as("sess_start_us"), max(col("ts_us")).as("sess_end_us"),
          count(lit(1)).as("cnt"), decSumOut(col("value")).as("sum_value"))
        .orderBy("user_id", "sess_id")
    }),

    "stream_watermark_late" -> ((s, dir) => {
      // Real streaming: watermarked tumbling window aggregation. Single
      // availableNow batch -> no drops; multi-batch late-drop behavior is
      // asserted in StreamingSpec.
      val agg = eventsStream(s, dir)
        .withWatermark("ts_ts", "10 minutes")
        .groupBy(window(col("ts_ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("cnt"), sum(dec(col("value"))).as("sum_value"))
      val out = runToMemory(s, agg, "wml", OutputMode.Append())
      out.select(unix_micros(col("window.start")).as("win_us"),
          col("event_type"), col("cnt"), col("sum_value").cast("double").as("sum_value"))
        .orderBy("win_us", "event_type")
    }),

    "stream_static_join" -> ((s, dir) => {
      // Stream-static enrichment (round 13) — the everyday streaming-ETL
      // join Structured Streaming is built around and the one §2.10 shape
      // the registry lacked: each event micro-batch hash-probes a STATIC
      // dimension (customer segment; unmatched users → 'UNKNOWN'), then a
      // watermarked tumbling window aggregates per segment. The static
      // side needs no watermark and holds NO join state — per batch it is
      // a broadcast/hash probe re-resolved from the table (which is how a
      // slowly-refreshed dim picks up new snapshots at 100 TB), so state
      // is bounded by the window aggregation alone, never the stream
      // length. Single AvailableNow batch ⇒ the emitted (closed) windows
      // equal the batch left-join twin, which is the DuckDB oracle
      // (same HAVING-closed-window form as stream_watermark_late).
      val dim = t(s, dir)("customer").select(col("c_custkey"), col("c_mktsegment"))
      val enriched = eventsStream(s, dir)
        .withWatermark("ts_ts", "10 minutes")
        .join(dim, col("user_id") === col("c_custkey"), "left_outer")
        .withColumn("seg", coalesce(col("c_mktsegment"), lit("UNKNOWN")))
        .groupBy(window(col("ts_ts"), "1 hour"), col("seg"))
        .agg(count(lit(1)).as("cnt"), sum(dec(col("value"))).as("sum_value"))
      val out = runToMemory(s, enriched, "sst", OutputMode.Append())
      out.select(unix_micros(col("window.start")).as("win_us"), col("seg"),
          col("cnt"), col("sum_value").cast("double").as("sum_value"))
        .orderBy("win_us", "seg")
    }),

    "stream_dedup" -> ((s, dir) => {
      val dd = eventsStream(s, dir)
        .withWatermark("ts_ts", "10 minutes")
        .dropDuplicatesWithinWatermark("event_id")
        .select(col("event_id"), col("user_id"))
      val out = runToMemory(s, dd, "sdd", OutputMode.Append())
      out.agg(count(lit(1)).as("n_rows"),
        countDistinct(col("event_id")).as("n_distinct"),
        sum(col("event_id")).as("sum_ids"))
    }),  // single batch -> dedup keeps one row per event_id (oracle below)

    "stream_stateful_count" -> ((s, dir) => {
      // Arbitrary stateful op: running per-user count via
      // flatMapGroupsWithState (KeyValueGroupedDataset surface).
      import s.implicits._
      val typed = eventsStream(s, dir).select(col("user_id"), col("event_id"))
        .as[(Long, Long)]
      val counted = typed.groupByKey(_._1)
        .flatMapGroupsWithState[Long, (Long, Long)](
          OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
          (user: Long, rows: Iterator[(Long, Long)], state: GroupState[Long]) =>
            val prev = state.getOption.getOrElse(0L)
            val next = prev + rows.size
            state.update(next)
            Iterator((user, next))
        }.toDF("user_id", "n_events")
      val out = runToMemory(s, counted, "ssc", OutputMode.Update())
      // last update per user is the final running count
      val w = Window.partitionBy("user_id").orderBy(col("n_events").desc)
      out.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select("user_id", "n_events").orderBy("user_id")
    }),

    "stream_stream_join" -> ((s, dir) => {
      // Real stream-stream INNER join with an event-time range: each click
      // joined to the same user's purchases within the following 30 minutes.
      // Both sides carry watermarks + the range condition, so Spark can
      // evict join state (without them, 100 TB of stream buffers never
      // clear — the state-bound is the scale-critical part). Inner-join
      // matches emit immediately; the watermark only gates eviction, so a
      // single AvailableNow batch emits exactly the batch-join result
      // (= the DuckDB oracle).
      val clicks = eventsStream(s, dir).filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
          col("ts_ts").as("c_ts"))
        .withWatermark("c_ts", "10 minutes")
      val purchases = eventsStream(s, dir).filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
          col("ts_ts").as("p_ts"))
        .withWatermark("p_ts", "10 minutes")
      val joined = clicks.join(purchases,
        col("c_user") === col("p_user") &&
          col("p_ts") >= col("c_ts") &&
          col("p_ts") <= col("c_ts") + expr("INTERVAL 30 MINUTES"))
      val out = runToMemory(s, joined, "ssj", OutputMode.Append())
      out.select(col("c_user").as("user_id"), col("click_id"), col("purchase_id"),
          unix_micros(col("c_ts")).as("click_us"),
          unix_micros(col("p_ts")).as("purchase_us"))
        .orderBy("user_id", "click_id", "purchase_id")
    }),

    "stream_restart_checkpoint" -> ((s, dir) => {
      // Exactly-once INCREMENTAL restart — the nightly Trigger-AvailableNow
      // job every lakehouse pipeline runs: two streaming runs SHARE one
      // checkpoint; files that arrive between them are processed by the
      // second run only, and the running aggregate state resumes where
      // run 1 left it. The final per-type totals equal the batch aggregate
      // over everything — which is the exactly-once proof in both
      // directions: re-processing run-1 files would double-count, and a
      // cold restart would drop them; only resume-from-checkpoint lands
      // on the oracle's numbers. Update-mode output is captured by
      // foreachBatch appending (rows, batch_id) to a parquet log — the
      // CDC-style sink a warehouse target reads — and the final answer is
      // each type's row from its LAST batch (batch numbering continues
      // across the restart, so the log is a valid compaction source).
      // Money stays exact centi-longs. Scratch is per-invocation and
      // deleted in finally — bench reps each pay the full two-run cost.
      val e = t(s, dir)("events").select(col("event_id"), col("event_type"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))
      val scratch = sys.props("java.io.tmpdir") + "/graft_restart_" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(8)
      val inDir = scratch + "/in"; val logDir = scratch + "/log"
      val ckpt = scratch + "/ckpt"
      try {
        def runOnce(): Unit = withStreamQueryConf(s) {
          val src = s.readStream
            .schema("event_id LONG, event_type STRING, cents LONG")
            .parquet(inDir)
          val agg = src.groupBy("event_type")
            .agg(count(lit(1)).as("n_events"), sum("cents").as("sum_cents"))
          val q = agg.writeStream
            .foreachBatch { (df: DataFrame, bid: Long) =>
              df.withColumn("batch_id", lit(bid))
                .write.mode("append").parquet(logDir)
            }
            .option("checkpointLocation", ckpt)
            .outputMode(OutputMode.Update())
            .trigger(Trigger.AvailableNow()).start()
          q.awaitTermination()
        }
        e.filter(col("event_id") % 2 === 0).write.parquet(inDir)
        runOnce()
        e.filter(col("event_id") % 2 === 1).write.mode("append").parquet(inDir)
        runOnce()
        val log = s.read.parquet(logDir)
        val w = Window.partitionBy("event_type").orderBy(col("batch_id").desc)
        log.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select(col("event_type"), col("n_events"), col("sum_cents"))
          .orderBy("event_type")
          .transform(Pin.now) // case (a): the scratch dir dies below
      } finally cleanupCkpt(scratch)
    }),

    "stream_outer_join_watermark" -> ((s, dir) => {
      // LEFT-OUTER stream-stream join — the abandonment shape where
      // ABSENCE is the signal (clicks that never converted within 30
      // minutes). The outer side is what makes this genuinely streaming:
      // a match emits immediately (the inner path), but an unmatched
      // click may only emit its null row once the join watermark passes
      // the end of its match window — before that a matching purchase
      // could still arrive, so the engine holds the row open in state.
      // At stream end the watermark rests at min(max c_ts, max p_ts) −
      // 10 min, so clicks younger than wm − 30 min stay OPEN and emit
      // nothing: the streaming left join is the batch left join MINUS
      // the still-open tail, and the oracle mirrors that closure rule
      // exactly (unmatched kept only where c_us + 30 min < wm_us). The
      // AvailableNow no-data final batch performs the closing flush once
      // the last data batch has advanced the watermark. Unmatched rows
      // carry −1 sentinels, not NULLs, so the dumped schema stays
      // non-nullable BIGINT on both engines.
      val clicks = eventsStream(s, dir).filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
          col("ts_ts").as("c_ts"))
        .withWatermark("c_ts", "10 minutes")
      val purchases = eventsStream(s, dir).filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
          col("ts_ts").as("p_ts"))
        .withWatermark("p_ts", "10 minutes")
      val joined = clicks.join(purchases,
        col("c_user") === col("p_user") &&
          col("p_ts") >= col("c_ts") &&
          col("p_ts") <= col("c_ts") + expr("INTERVAL 30 MINUTES"),
        "left_outer")
      val out = runToMemory(s, joined, "soj", OutputMode.Append())
      out.select(col("c_user").as("user_id"), col("click_id"),
          coalesce(col("purchase_id"), lit(-1L)).as("purchase_id"),
          unix_micros(col("c_ts")).as("click_us"),
          coalesce(unix_micros(col("p_ts")), lit(-1L)).as("purchase_us"))
        .orderBy("user_id", "click_id", "purchase_id")
    }),

    "stream_threshold_alerts" -> ((s, dir) => {
      // Arbitrary stateful detector (round 4): emit an alert row each time
      // a user's cumulative spend crosses another $1000 boundary. State is
      // one LONG (cumulative integer cents — exact, no float drift) per
      // user; rows are sorted per group in-memory because a file-source
      // batch iterator carries no order guarantee (bounded by
      // microbatch-size x key share; a production deployment bounds it
      // with watermark-windowed batches). The alert stream is
      // Update-mode: each crossing emits exactly once.
      import s.implicits._
      val typed = eventsStream(s, dir)
        .select(col("user_id"), col("event_id"), tsDivMicros(col("ts")).as("ts_us"),
          floor(col("value") * 100 + lit(0.5)).cast("long").as("v100"))
        .as[(Long, Long, Long, Long)]
      val alerts = typed.groupByKey(_._1)
        .flatMapGroupsWithState[Long, (Long, Long, Long, Long)](
          OutputMode.Update(), GroupStateTimeout.NoTimeout())(thresholdFn)
        .toDF("user_id", "event_id", "ts_us", "level")
      val out = runToMemory(s, alerts, "sta", OutputMode.Update())
      out.orderBy("user_id", "ts_us", "event_id")
    }),

    "stream_tws_running_max" -> ((s, dir) => {
      // The transformWithState surface (Spark 4's arbitrary-state API):
      // per-user running-max alerts from a typed ValueState handle on a
      // RocksDB state store (TWS requires it; scoped to this query and
      // restored after). Versus flatMapGroupsWithState this is the
      // forward path: named state variables, TTL support, timers.
      import s.implicits._
      val typed = eventsStream(s, dir)
        .select(col("user_id"), col("event_id"), tsDivMicros(col("ts")).as("ts_us"),
          floor(col("value") * 100 + lit(0.5)).cast("long").as("v100"))
        .as[(Long, Long, Long, Long)]
      val alerts = typed.groupByKey(_._1)
        .transformWithState(new RunningMaxProcessor,
          TimeMode.None(), OutputMode.Update())
        .toDF("user_id", "event_id", "ts_us", "max_cents")
      val prevProvider = s.conf.getOption("spark.sql.streaming.stateStore.providerClass")
      s.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val out =
        try runToMemory(s, alerts, "tws", OutputMode.Update())
        finally prevProvider match {
          case Some(p) => s.conf.set("spark.sql.streaming.stateStore.providerClass", p)
          case None => s.conf.unset("spark.sql.streaming.stateStore.providerClass")
        }
      out.orderBy("user_id", "ts_us", "event_id")
    }),

    "stream_tws_topk" -> ((s, dir) => {
      // transformWithState ListState surface (round 12): the per-user
      // top-3 leaderboard ENTRY log — each event whose value breaks into
      // the all-time top-3 at arrival (the "new record" alert shape).
      // Complements stream_tws_running_max's ValueState with the other
      // typed-state handle: a k-bounded ListState, O(k) bytes per key at
      // any stream length — the state-budget discipline that keeps a
      // 100 TB/day leaderboard in RocksDB. Ties keep the earlier event:
      // a duplicate value never re-enters a full board, so the log is
      // deterministic and the batch oracle (count of preceding ≥-values
      // < 3) replays it exactly.
      import s.implicits._
      val typed = eventsStream(s, dir)
        .select(col("user_id"), col("event_id"), tsDivMicros(col("ts")).as("ts_us"),
          floor(col("value") * 100 + lit(0.5)).cast("long").as("v100"))
        .as[(Long, Long, Long, Long)]
      val entries = typed.groupByKey(_._1)
        .transformWithState(new TopKEntryProcessor,
          TimeMode.None(), OutputMode.Update())
        .toDF("user_id", "event_id", "ts_us", "v100")
      val prevProvider = s.conf.getOption("spark.sql.streaming.stateStore.providerClass")
      s.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val out =
        try runToMemory(s, entries, "twsk", OutputMode.Update())
        finally prevProvider match {
          case Some(p) => s.conf.set("spark.sql.streaming.stateStore.providerClass", p)
          case None => s.conf.unset("spark.sql.streaming.stateStore.providerClass")
        }
      out.orderBy("user_id", "ts_us", "event_id")
    }),

    "stream_session_builtin" -> ((s, dir) => {
      // The dedicated session-window state-store path (vs the batch
      // gaps-and-islands in stream_session_30m): merging session state
      // per user with a 30-minute gap, append emission gated by the
      // watermark. Single AvailableNow batch -> exactly the sessions
      // whose end precedes the final watermark are emitted; the oracle
      // mirrors Spark's ms-granularity watermark comparison in integer
      // micros.
      val agg = eventsStream(s, dir)
        .withWatermark("ts_ts", "10 minutes")
        .groupBy(session_window(col("ts_ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("cnt"), sum(dec(col("value"))).as("sum_value"))
      // Pre-merge sessions within each input partition before the state
      // shuffle: rows-per-(user,session) collapse map-side, so the state
      // store ingests merged spans instead of raw events — the same
      // partial-aggregation discipline every batch agg here follows. At
      // 100 TB this is the difference between shuffling events and
      // shuffling sessions. Scoped to this query; restored after.
      val prevMerge =
        s.conf.getOption("spark.sql.streaming.sessionWindow.merge.sessions.in.local.partition")
      s.conf.set("spark.sql.streaming.sessionWindow.merge.sessions.in.local.partition", "true")
      val out =
        try runToMemory(s, agg, "ssb", OutputMode.Append())
        finally prevMerge match {
          case Some(p) =>
            s.conf.set("spark.sql.streaming.sessionWindow.merge.sessions.in.local.partition", p)
          case None =>
            s.conf.unset("spark.sql.streaming.sessionWindow.merge.sessions.in.local.partition")
        }
      out.select(col("user_id"),
          unix_micros(col("session_window.start")).as("sess_start_us"),
          unix_micros(col("session_window.end")).as("sess_end_us"),
          col("cnt"), col("sum_value").cast("double").as("sum_value"))
        .orderBy("user_id", "sess_start_us")
    }),

    "stream_cdc_apply" -> ((s, dir) => {
      // Streaming CDC apply into the lakehouse table (round 12): each
      // event is an upsert of its user's latest reading; every
      // micro-batch collapses to one change row per key, tuple-max-MERGEs
      // into the manifest-logged snapshot, and commits manifest vN+1 —
      // the streaming → lakehouse sync loop every warehouse runs. Readers
      // pinned to vN never see a half-applied batch (the scan_time_travel
      // isolation contract). The merge picks per key by the FULL
      // (ts, event_id, value) tuple max — associative and commutative, so
      // the final table is MICRO-BATCH-PARTITIONING-INVARIANT (an
      // out-of-order batch carrying an older change can never regress a
      // row; Round12bSpec proves exactly that case) — which is why a
      // batch oracle can replay it. This demo table rewrites the
      // user-count-sized snapshot per commit; at 100 TB the merge targets
      // only zone-map-hit files (merge_delete_cow's COW path) with the
      // nightly-small change batch broadcast.
      val base = Store.fresh(s, "cdc")
      val ckpt = scratchCkpt("cdc")
      val changes = eventsStream(s, dir).select(col("user_id"),
        tsDivMicros(col("ts")).as("last_ts_us"),
        col("event_id").as("last_event_id"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("last_v100"))
      var version = -1
      withStreamQueryConf(s) {
        try {
          val q = changes.writeStream
            .outputMode(OutputMode.Append())
            .option("checkpointLocation", ckpt)
            .foreachBatch { (batch: DataFrame, batchId: Long) =>
              val cur = if (version < 0) None
                else Some(s.read.parquet(
                  graft.operators.Scans.readManifest(s, base, version): _*))
              val merged = cdcMerge(cur, batch)
              val commit = s"$base/data/c$batchId" // retry-idempotent path
              merged.write.mode("overwrite").parquet(commit)
              graft.operators.Scans.writeManifest(s, base, version + 1,
                graft.operators.Scans.partFiles(s, commit))
              version += 1
            }
            .trigger(Trigger.AvailableNow()).start()
          q.awaitTermination()
        } finally cleanupCkpt(ckpt)
      }
      s.read.parquet(graft.operators.Scans.readManifest(s, base, version): _*)
        .orderBy("user_id")
    }),

    "stream_sink_foreachBatch" -> ((s, dir) => {
      // Micro-batch parquet upsert, idempotent by batchId (same batch
      // re-written to the same path on retry -> overwrite semantics).
      // Cleared at entry: the final answer is the highest out_<batchId>,
      // so an earlier run's later batches must not survive.
      val base = Store.fresh(s, "febatch")
      // checkpoint on the RAM scratch, fresh per run (a reused checkpoint
      // resumes the previous query and emits nothing new); the parquet
      // OUTPUT is the sink artifact, landed with the other per-op state
      val ckpt = scratchCkpt("febatch")
      val agg = eventsStream(s, dir)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("cnt"), sum(dec(col("value"))).as("sum_value"))
      withStreamQueryConf(s) {
        try {
          val q = agg.writeStream
            .outputMode(OutputMode.Complete())
            .option("checkpointLocation", ckpt)
            .foreachBatch { (batch: DataFrame, batchId: Long) =>
              batch.write.mode("overwrite").parquet(s"$base/out_$batchId")
            }
            .trigger(Trigger.AvailableNow()).start()
          q.awaitTermination()
        } finally cleanupCkpt(ckpt)
      }
      // final batch by NUMERIC batchId — lexicographic sort would pick
      // out_9 over out_10 once >=10 micro-batches exist (ADVICE r1)
      val last = new java.io.File(base).listFiles().filter(_.getName.startsWith("out_"))
        .maxBy(_.getName.stripPrefix("out_").toLong)
      s.read.parquet(last.getAbsolutePath)
        .withColumn("sum_value", col("sum_value").cast("double"))
        .orderBy("event_type")
    }),
  )

  /** One unrolled admission round of the stream_dedup_bands oracle:
    * wave w probes store{w} and lands store{w+1}. Mirrors the foreachBatch
    * body exactly (piv carries bands only for docs with >= 1 shingle, so
    * the piv filter IS the engine's band-not-null filter). */
  private def sdbWaveCtes(w: Int): String = s"""
      w${w}k AS MATERIALIZED (
        SELECT doc_id, band, bh FROM piv
        WHERE doc_id % 10 = 7 AND doc_id % 3 = $w),
      w${w}d AS (SELECT doc_id FROM documents
                 WHERE doc_id % 10 = 7 AND doc_id % 3 = $w),
      rej$w AS MATERIALIZED (
        SELECT DISTINCT k.doc_id FROM w${w}k k
        JOIN store$w s USING (band, bh)),
      adm$w AS MATERIALIZED (
        SELECT doc_id FROM w${w}d
        WHERE doc_id NOT IN (SELECT doc_id FROM rej$w)),
      store${w + 1} AS MATERIALIZED (
        SELECT DISTINCT band, bh FROM (
          SELECT band, bh FROM store$w
          UNION ALL
          SELECT band, bh FROM w${w}k
          WHERE doc_id IN (SELECT doc_id FROM adm$w)))"""

  private def sdbWaveRow(w: Int): String = s"""
      SELECT CAST($w AS BIGINT) AS wave,
             (SELECT COUNT(1) FROM w${w}d) AS n_batch,
             (SELECT COUNT(1) FROM rej$w) AS n_rejected,
             (SELECT COUNT(1) FROM adm$w) AS n_admitted,
             (SELECT COUNT(1) FROM store${w + 1}) AS n_store_after"""

  /** One label-state stage of the stream_cc_maintain oracle: nodes
    * arrived through stage `s` (−1 = base), edges whose latest endpoint
    * arrived by `s`, transitive-closure reach, min-label components. */
  private def sccStageCtes(s: Int): String = {
    val nm = if (s < 0) "b" else s.toString
    val nodeCond =
      if (s < 0) "doc_id % 10 <> 7"
      else s"doc_id % 10 <> 7 OR doc_id % 3 <= $s"
    s"""n$nm AS (SELECT doc_id FROM d WHERE $nodeCond),
      e$nm AS MATERIALIZED (SELECT a, b FROM pw WHERE ew <= $s
             UNION ALL SELECT b, a FROM pw WHERE ew <= $s),
      reach$nm(node, label) AS (
        SELECT doc_id, doc_id FROM n$nm
        UNION
        SELECT e.b, r.label FROM reach$nm r JOIN e$nm e ON r.node = e.a),
      comp$nm AS MATERIALIZED (SELECT node, MIN(label) AS label
               FROM reach$nm GROUP BY node)"""
  }

  /** Receipt row for wave w: batch size, edges first completing in w,
    * docs whose label CHANGED vs the previous state, components after,
    * and the landed DELTA row count (r18: wave rows + relabel pairs —
    * a relabel pair is one DISTINCT changed old label; every doc
    * carrying a changed label changes with it, so distinct-changed-
    * old-labels over the previous state IS the pair count). */
  private def sccWaveRow(w: Int): String = {
    val prev = if (w == 0) "b" else (w - 1).toString
    s"""SELECT CAST($w AS BIGINT) AS wave,
       (SELECT COUNT(1) FROM d WHERE doc_id % 10 = 7 AND doc_id % 3 = $w)
         AS n_batch,
       (SELECT COUNT(1) FROM pw WHERE ew = $w) AS n_edges_new,
       (SELECT COUNT(1) FROM comp$prev p JOIN comp$w c ON p.node = c.node
        WHERE p.label <> c.label) AS n_relabeled,
       (SELECT COUNT(DISTINCT label) FROM comp$w) AS n_components,
       (SELECT COUNT(1) FROM d WHERE doc_id % 10 = 7 AND doc_id % 3 = $w)
         + (SELECT COUNT(DISTINCT p.label)
            FROM comp$prev p JOIN comp$w c ON p.node = c.node
            WHERE p.label <> c.label) AS n_delta_rows"""
  }

  def oracleSql: Map[String, String] = Map(
    // Per-wave label ground truth: labels after wave w = min-id CC of the
    // subgraph induced by everything arrived through w (the incremental
    // merge's correctness invariant), replayed as four unrolled recursive
    // reach CTEs over the shared stream-planted pair chain.
    "stream_cc_maintain" -> s"""
      WITH RECURSIVE ${graft.llm.DedupOps.jaccardPairCtesFrom(
        graft.llm.DedupOps.streamPlantedDCte)},
      pw AS MATERIALIZED (SELECT id1 AS a, id2 AS b,
             GREATEST(CASE WHEN id1 % 10 <> 7 THEN -1 ELSE id1 % 3 END,
                      CASE WHEN id2 % 10 <> 7 THEN -1 ELSE id2 % 3 END)
               AS ew
           FROM pairs),
      ${sccStageCtes(-1)},
      ${sccStageCtes(0)},
      ${sccStageCtes(1)},
      ${sccStageCtes(2)}
      SELECT * FROM (
        ${sccWaveRow(0)} UNION ALL ${sccWaveRow(1)} UNION ALL ${sccWaveRow(2)})
      ORDER BY wave""",

    // Three unrolled wave-admission rounds over the portable band chain
    // (shared with dedup_incremental_bands' oracle so the batch and
    // streaming forms can never drift), on the stream-planted d CTE.
    "stream_dedup_bands" -> s"""
      WITH ${graft.llm.DedupOps.portableBandCtesFrom(
        graft.llm.DedupOps.streamPlantedDCte, "")},
      store0 AS MATERIALIZED (
        SELECT DISTINCT band, bh FROM piv WHERE doc_id % 10 <> 7),
      ${sdbWaveCtes(0)},
      ${sdbWaveCtes(1)},
      ${sdbWaveCtes(2)}
      SELECT * FROM (
        ${sdbWaveRow(0)} UNION ALL ${sdbWaveRow(1)} UNION ALL ${sdbWaveRow(2)})
      ORDER BY wave""",

    // Append-mode watermark emission on a single AvailableNow batch: a
    // window is emitted iff window.end <= watermark, where Spark tracks the
    // watermark in MILLISECONDS: floor(max_event_us/1000) - delay_ms. The
    // HAVING clause mirrors that ms-granularity comparison exactly.
    "stream_static_join" -> """
      WITH e AS (SELECT epoch_ns(ts) // 1000 AS ts_us, user_id, value FROM events),
      j AS (SELECT ts_us // 3600000000 * 3600000000 AS win_us,
                   COALESCE(c_mktsegment, 'UNKNOWN') AS seg, value
            FROM e LEFT JOIN customer ON user_id = c_custkey)
      SELECT win_us, seg, COUNT(1) AS cnt,
             CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
      FROM j
      GROUP BY 1, 2
      HAVING (win_us + 3600000000) // 1000 <=
             (SELECT MAX(ts_us) // 1000 - 600000 FROM e)
      ORDER BY win_us, seg""",
    "stream_watermark_late" -> """
      WITH e AS (SELECT epoch_ns(ts) // 1000 AS ts_us, event_type, value FROM events)
      SELECT ts_us // 3600000000 * 3600000000 AS win_us, event_type,
             COUNT(1) AS cnt,
             CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
      FROM e
      GROUP BY 1, 2
      HAVING (win_us + 3600000000) // 1000 <=
             (SELECT MAX(ts_us) // 1000 - 600000 FROM e)
      ORDER BY win_us, event_type""",
    "stream_backfill_batches" -> """
      SELECT (epoch_ns(ts) // 1000) // 86400000000 AS day,
             COUNT(1) AS cnt,
             CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1 ORDER BY day""",

    "stream_tumbling_1h" -> """
      SELECT (epoch_ns(ts) // 1000) // 3600000000 * 3600000000 AS win_us,
             event_type, COUNT(1) AS cnt,
             CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1, 2 ORDER BY win_us, event_type""",
    "stream_sliding_1h_15m" -> """
      SELECT ((epoch_ns(ts) // 1000) // 900000000 - k) * 900000000 AS win_us,
             event_type, COUNT(1) AS cnt,
             CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
      FROM events CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k) t
      GROUP BY 1, 2 ORDER BY win_us, event_type""",
    // Single-AvailableNow-batch semantics equal batch SQL for the remaining
    // streaming ops: dedup keeps one row per key (nothing is late in batch
    // 1), the final stateful running count is the per-user total, and the
    // Complete-mode foreachBatch snapshot is the full aggregate.
    "stream_threshold_alerts" -> """
      WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us,
                        CAST(floor(value * 100 + 0.5) AS BIGINT) AS v100
                 FROM events),
      r AS (SELECT *, SUM(v100) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
            FROM e)
      SELECT user_id, event_id, ts_us, CAST(cum // 100000 AS BIGINT) AS level
      FROM r WHERE cum // 100000 > (cum - v100) // 100000
      ORDER BY user_id, ts_us, event_id""",
    // the CDC-applied table is batching-invariant: per user, the
    // (ts, event_id, value)-tuple max = the latest event
    "stream_cdc_apply" -> """
      WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS ts_us, event_id,
                        CAST(floor(value * 100 + 0.5) AS BIGINT) AS v100
                 FROM events),
      r AS (SELECT user_id, ts_us, event_id, v100,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                     ORDER BY ts_us DESC, event_id DESC) AS rn
            FROM e)
      SELECT user_id, ts_us AS last_ts_us, event_id AS last_event_id,
             v100 AS last_v100
      FROM r WHERE rn = 1 ORDER BY user_id""",

    // leaderboard entry: an event enters the all-time top-3 iff fewer
    // than 3 strictly-preceding events (user order: ts, event_id) carry a
    // value >= its own — ties keep the earlier event
    "stream_tws_topk" -> """
      WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us,
                        CAST(floor(value * 100 + 0.5) AS BIGINT) AS v100
                 FROM events),
      c AS (SELECT a.user_id, a.event_id, a.ts_us, a.v100,
                   COUNT(b.event_id) AS n_ge
            FROM e a LEFT JOIN e b
              ON b.user_id = a.user_id AND b.v100 >= a.v100
              AND (b.ts_us < a.ts_us
                   OR (b.ts_us = a.ts_us AND b.event_id < a.event_id))
            GROUP BY 1, 2, 3, 4)
      SELECT user_id, event_id, ts_us, v100
      FROM c WHERE n_ge < 3
      ORDER BY user_id, ts_us, event_id""",

    "stream_tws_running_max" -> """
      WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us,
                        CAST(floor(value * 100 + 0.5) AS BIGINT) AS v100
                 FROM events),
      r AS (SELECT *, MAX(v100) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
            FROM e)
      SELECT user_id, event_id, ts_us, v100 AS max_cents
      FROM r WHERE prev_max IS NULL OR v100 > prev_max
      ORDER BY user_id, ts_us, event_id""",
    // Session-window append emission: a merged session is emitted iff its
    // end (last event + 30 min gap, micros) is at or before the final
    // watermark, which Spark tracks in MILLISECONDS (max_event_us//1000 -
    // delay_ms) and compares against as micros (*1000).
    "stream_session_builtin" -> """
      WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us, value FROM events),
      l AS (SELECT *, LAG(ts_us, 1) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev_us FROM e),
      f AS (SELECT *, CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800000000 THEN 1 ELSE 0 END AS new_sess FROM l),
      g AS (SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id FROM f)
      SELECT user_id, MIN(ts_us) AS sess_start_us,
             MAX(ts_us) + 1800000000 AS sess_end_us,
             COUNT(1) AS cnt, CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
      FROM g GROUP BY user_id, sess_id
      HAVING MAX(ts_us) + 1800000000 <=
             ((SELECT MAX(ts_us) FROM e) // 1000 - 600000) * 1000
      ORDER BY user_id, sess_start_us""",
    "stream_dedup" -> """
      SELECT COUNT(1) AS n_rows,
             COUNT(DISTINCT event_id) AS n_distinct,
             CAST(SUM(event_id) AS BIGINT) AS sum_ids
      FROM (SELECT DISTINCT event_id FROM events)""",
    "stream_stateful_count" -> """
      SELECT user_id, COUNT(1) AS n_events
      FROM events GROUP BY user_id ORDER BY user_id""",
    "stream_sink_foreachBatch" -> """
      SELECT event_type, COUNT(1) AS cnt,
             CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
      FROM events GROUP BY event_type ORDER BY event_type""",
    "stream_restart_checkpoint" -> """
      SELECT event_type, COUNT(1) AS n_events,
             CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS sum_cents
      FROM events GROUP BY event_type ORDER BY event_type""",
    "stream_outer_join_watermark" -> """
      WITH c AS (SELECT user_id, event_id AS click_id, epoch_ns(ts) // 1000 AS click_us
                 FROM events WHERE event_type = 'click'),
      p AS (SELECT user_id, event_id AS purchase_id, epoch_ns(ts) // 1000 AS purchase_us
            FROM events WHERE event_type = 'purchase'),
      wm AS (SELECT LEAST((SELECT MAX(click_us) FROM c),
                          (SELECT MAX(purchase_us) FROM p)) - 600000000 AS wm_us),
      j AS (SELECT c.user_id, click_id, purchase_id, click_us, purchase_us
            FROM c LEFT JOIN p ON c.user_id = p.user_id
              AND purchase_us >= click_us
              AND purchase_us <= click_us + 1800000000)
      SELECT user_id, click_id,
             COALESCE(purchase_id, -1) AS purchase_id, click_us,
             COALESCE(purchase_us, -1) AS purchase_us
      FROM j, wm
      WHERE purchase_id IS NOT NULL OR click_us + 1800000000 < wm_us
      ORDER BY user_id, click_id, purchase_id""",
    "stream_stream_join" -> """
      WITH c AS (SELECT user_id, event_id AS click_id, epoch_ns(ts) // 1000 AS click_us
                 FROM events WHERE event_type = 'click'),
      p AS (SELECT user_id, event_id AS purchase_id, epoch_ns(ts) // 1000 AS purchase_us
            FROM events WHERE event_type = 'purchase')
      SELECT c.user_id AS user_id, click_id, purchase_id, click_us, purchase_us
      FROM c JOIN p ON c.user_id = p.user_id
        AND purchase_us >= click_us AND purchase_us <= click_us + 1800000000
      ORDER BY c.user_id, click_id, purchase_id""",
    "stream_session_30m" -> """
      WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us, value FROM events),
      l AS (SELECT *, LAG(ts_us, 1) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev_us FROM e),
      f AS (SELECT *, CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800000000 THEN 1 ELSE 0 END AS new_sess FROM l),
      g AS (SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id FROM f)
      SELECT user_id, CAST(sess_id AS BIGINT) AS sess_id,
             MIN(ts_us) AS sess_start_us, MAX(ts_us) AS sess_end_us,
             COUNT(1) AS cnt, CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
      FROM g GROUP BY user_id, sess_id ORDER BY user_id, sess_id""",
  )
}
