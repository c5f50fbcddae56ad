package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Bench, SparkEntry, Tables}

/** One benchmark run of one workload in one JVM: a closed loop with one
  * client, one op at a time, each op being `SparkEntry.queries(name)`
  * followed by `Bench.materialize`.
  *
  *  1. set-up: session, fixture loads and [[WarmupPasses]] untimed passes.
  *     The first lands the corpus artifacts the ops read and writes every
  *     op's output, with its oracle SQL, for the DuckDB compare done outside
  *     the JVM; in the second, the JIT compiles what ran too few times in
  *     the first, so that the timed passes start near their steady state;
  *  2. timed passes until `--seconds` have gone by, and at least
  *     [[MinTimedPasses]], each in the op order the seed gives that pass.
  *
  * Each op and pass records its wall time, the CPU time of its Java threads
  * ([[ThreadCpu]]) and that of the whole JVM. The kernel accounts CPU time
  * without the time other guests took from this host's CPUs.
  *
  * Writes `result.json` (and with `--trace 1` also `spans.json`) to `--out`;
  * all metrics are derived from those files by `perfbench/report.py`.
  */
object PerfBench {

  /** The op list of each workload; README.md says why each was chosen. */
  val workloads: Map[String, Seq[String]] = Map(
    "olap_relational" -> Seq(
      "q_top_unshipped", "agg_rollup", "events_funnel", "stream_stateful_count"),
    "corpus_serve" -> Seq(
      "jaccard_pairs", "dedup_components", "knn_cosine_topk", "text_tfidf_top"),
  )

  val WarmupPasses = 2

  /** So that every run times at least two whole passes, however busy the
    * host; more would not fit the time a run may take when it is busy. */
  val MinTimedPasses = 2

  final case class OpTime(op: String, startMs: Double, constructEndMs: Double,
                          endMs: Double, threadCpuNs: Long, failed: Boolean) {
    def constructS: Double = (constructEndMs - startMs) / 1e3
    def executeS: Double = (endMs - constructEndMs) / 1e3
  }
  final case class Pass(index: Int, startMs: Double, endMs: Double,
                        ops: Seq[OpTime], gcMs: Long, jitMs: Long, cpuNs: Long,
                        threadCpuNs: Long, steal: Double, codegens: Long)

  private val epoch0Ms = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  /** Wall clock in epoch ms at sub-ms resolution, comparable with the
    * listener events' epoch-ms stamps. */
  def nowMs(): Double = epoch0Ms + (System.nanoTime() - nano0) / 1e6

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Time the JIT compiler threads have spent so far. */
  private def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** Classes Spark's code generator has compiled so far, that is, misses of
    * its codegen cache. */
  private def codegens(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU time of every thread of this JVM so far. */
  private def cpuNs(): Long = os.getProcessCpuTime

  /** CPU time the JVM's Java threads have spent so far: the client thread,
    * Spark's task threads and its other Java threads, but not the JIT
    * compiler's or the garbage collector's threads, which are not Java
    * threads. A sampler reads every thread each [[SampleMs]], so that a
    * thread that ends within an op, such as a stream's execution thread,
    * keeps what it had spent up to its last sample. */
  object ThreadCpu {
    val SampleMs = 20L
    private val mx = ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    private val seen = mutable.LongMap[Long]()
    @volatile private var samplerId = -1L

    def totalNs(): Long = synchronized {
      val ids = mx.getAllThreadIds
      val ns = mx.getThreadCpuTime(ids)
      for (i <- ids.indices if ns(i) >= 0 && ids(i) != samplerId) seen(ids(i)) = ns(i)
      seen.valuesIterator.sum
    }

    def startSampler(): Unit = {
      val t = new Thread(() => while (true) { totalNs(); Thread.sleep(SampleMs) },
        "perfbench-thread-cpu")
      t.setDaemon(true)
      samplerId = t.getId
      t.start()
    }
  }

  /** (steal, total) CPU ticks of the host so far, as /proc/stat gives them. */
  private def cpuTicks(): Option[(Long, Long)] = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    val t = try src.getLines().next().split("\\s+").drop(1).take(8).map(_.toLong)
            finally src.close()
    Some((t(7), t.sum))
  } catch { case NonFatal(_) => None }

  def main(argv: Array[String]): Unit = {
    val arg = argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val name = arg("workload")
    val ops = workloads.getOrElse(name,
      throw new IllegalArgumentException(s"unknown workload $name"))
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val sfDir = arg("sf")
    val out = new File(arg("out"))
    val tracing = arg.get("trace").contains("1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val tmp = new File(System.getProperty("java.io.tmpdir"))
    ThreadCpu.startSampler()

    // the same session graft.Bench builds, with the warehouse kept in the
    // run's own tmpdir, and with room for 1000 generated classes in Spark's
    // codegen cache instead of 100: stream_stateful_count compiles 13 new
    // classes on every run, and at 100 they evict other ops' classes at
    // random (20-63 recompiles a pass instead of 13), which moved a pass's
    // CPU time by a quarter between runs (README.md, "Known nondeterminism")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(tmp, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.GraftOptimizations.install(spark)
    // written first, so that the caller can find and delete this run's
    // `graft_*_<appId>` directories even when the run dies
    out.mkdirs()
    Files.writeString(Paths.get(out.getPath, "app_id"), spark.sparkContext.applicationId)
    val tracer = if (tracing) Some(Tracer.attach(spark)) else None

    val failed = scala.collection.mutable.LinkedHashSet[String]()
    def runOp(op: String, group: String, write: Option[File]): OpTime = {
      val sc = spark.sparkContext
      sc.setJobGroup(group, op, interruptOnCancel = false)
      tracer.foreach(_.currentGroup = group)
      val tc0 = ThreadCpu.totalNs()
      val t0 = nowMs()
      var t1 = t0
      val ok = try {
        val df: DataFrame = SparkEntry.queries(op)(spark, sfDir)
        t1 = nowMs()
        write match {
          case None => Bench.materialize(df)
          case Some(dir) => df.write.mode("overwrite").parquet(dir.getPath)
        }
        true
      } catch {
        case NonFatal(e) =>
          if (t1 == t0) t1 = nowMs()
          failed += op
          System.err.println(s"[perfbench] $op FAILED ($group): ${e.getClass.getSimpleName}: ${e.getMessage}")
          false
      } finally sc.clearJobGroup()
      OpTime(op, t0, t1, nowMs(), ThreadCpu.totalNs() - tc0, !ok)
    }
    def runPass(index: Int, write: Option[File] = None): Pass = {
      // per-pass op order from the seed; the same seed repeats the run
      val order = new scala.util.Random(seed * 1000003L + index).shuffle(ops)
      val gc0 = gcMs()
      val jit0 = jitMs()
      val cg0 = codegens()
      val ticks0 = cpuTicks()
      val c0 = cpuNs()
      val tc0 = ThreadCpu.totalNs()
      val start = nowMs()
      val times = order.map(op => runOp(op, s"perfbench:$index:$op", write.map(new File(_, op))))
      val end = nowMs()
      val c1 = cpuNs()
      val tc1 = ThreadCpu.totalNs()
      val steal = (ticks0, cpuTicks()) match {
        case (Some((s0, n0)), Some((s1, n1))) if n1 > n0 => (s1 - s0).toDouble / (n1 - n0)
        case _ => Double.NaN
      }
      val p = Pass(index, start, end, times, gcMs() - gc0, jitMs() - jit0, c1 - c0,
        tc1 - tc0, steal,
        codegens() - cg0)
      tracer.foreach(_.endPass(p))
      p
    }

    val tablesT0 = nowMs()
    Tables.names.foreach(n => Tables.load(spark, sfDir, n))
    val tablesLoadS = (nowMs() - tablesT0) / 1e3
    val checkDir = new File(out, "check")
    checkDir.mkdirs()
    val warmups = (0 until WarmupPasses).map(i => runPass(i, Some(checkDir).filter(_ => i == 0)))
    val timedStartMs = nowMs()
    val setupS = (timedStartMs - jvmStartMs) / 1e3
    // the Java threads' CPU time since JVM start: the sampler keeps every
    // thread's total from its first reading on
    val setupCpuS = ThreadCpu.totalNs() / 1e9
    tracer.foreach(_.resetHeapPeak())
    val timed = scala.collection.mutable.ArrayBuffer[Pass]()
    while (timed.size < MinTimedPasses || nowMs() - timedStartMs < seconds * 1e3)
      timed += runPass(WarmupPasses + timed.size)
    val heapPeakMb = tracer.map(_.heapPeakMb())
    val oracle = SparkEntry.oracleSql
    Files.writeString(Paths.get(checkDir.getPath, "oracle_sql.json"),
      Json.obj(ops.filter(oracle.contains).map(op => op -> Json.str(oracle(op)))))

    val spans = tracer.map(_.spans(warmups ++ timed))
    spark.stop()

    def passJson(p: Pass): String = Json.obj(Seq(
      "index" -> p.index.toString,
      "wall_s" -> Json.num((p.endMs - p.startMs) / 1e3),
      "gc_s" -> Json.num(p.gcMs / 1e3),
      "jit_s" -> Json.num(p.jitMs / 1e3),
      "codegens" -> p.codegens.toString,
      "cpu_s" -> Json.num(p.cpuNs / 1e9),
      "thread_cpu_s" -> Json.num(p.threadCpuNs / 1e9),
      "steal" -> Json.num(p.steal),
      "ops" -> Json.arr(p.ops.map(o => Json.obj(Seq(
        "op" -> Json.str(o.op),
        "construct_s" -> Json.num(o.constructS),
        "execute_s" -> Json.num(o.executeS),
        "thread_cpu_s" -> Json.num(o.threadCpuNs / 1e9),
        "failed" -> o.failed.toString))))))
    Files.writeString(Paths.get(out.getPath, "result.json"), Json.obj(Seq(
      "workload" -> Json.str(name),
      "ops" -> Json.arr(ops.map(Json.str)),
      "cpus" -> cpus,
      "setup_s" -> Json.num(setupS),
      "setup_cpu_s" -> Json.num(setupCpuS),
      "tables_load_s" -> Json.num(tablesLoadS),
      "warmups" -> Json.arr(warmups.map(passJson)),
      "passes" -> Json.arr(timed.toSeq.map(passJson)),
      "failed_ops" -> Json.arr(failed.toSeq.map(Json.str)),
    ) ++ heapPeakMb.map(h => "heap_peak_mb" -> Json.num(h))))
    spans.foreach(s => Files.writeString(Paths.get(out.getPath, "spans.json"), s))
  }
}
