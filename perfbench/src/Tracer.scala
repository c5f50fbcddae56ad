package graft.perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, GenerateExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import PerfBench.Pass

/** The traced run's recorder. It listens on Spark's public buses and keeps
  * every event in memory; `spans` turns them into the span tree
  * pass → op → construct | execute → job → stage, with each DataFrame
  * action (its planning phases and final-plan node counts) and each stream
  * micro-batch under its op. Nothing here changes what the ops compute.
  *
  * Attribution: the bench thread sets a job group per op; jobs carry it, and
  * so do the jobs of pool threads an op starts. Stream micro-batch jobs
  * carry their query's run id instead, which `onQueryStarted` (called
  * synchronously from `start()`) maps to the op that is running. Actions
  * carry no group and are placed by their planning start time, which is
  * exact because ops run one at a time.
  */
final class Tracer private (spark: SparkSession) {
  @volatile var currentGroup: String = ""

  private final case class Job(id: Int, group: String, startMs: Long, stageIds: Seq[Int])
  private final case class Stage(id: Int, attempt: Int, startMs: Long, endMs: Long,
                                 attrs: Seq[(String, Double)])
  private final case class Action(startMs: Long, endMs: Long, attrs: Seq[(String, Double)])
  private final case class Batch(runId: String, batchId: Long, startMs: Double,
                                 attrs: Seq[(String, Double)]) {
    def durMs: Double = attrs.collectFirst { case ("duration_ms", d) => d }.getOrElse(0.0)
  }

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val jobEnds = new ConcurrentHashMap[Int, Long]()
  private val stages = new ConcurrentLinkedQueue[Stage]()
  private val actions = new ConcurrentLinkedQueue[Action]()
  private val batches = new ConcurrentLinkedQueue[Batch]()
  private val runGroups = new ConcurrentHashMap[String, String]()
  private val artifactsByPass = mutable.Map[Int, (Int, Long)]()
  private val artifactMark = "graft_artifacts_" + spark.sparkContext.applicationId

  private object sparkListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobs.put(e.jobId, Job(e.jobId, runGroups.getOrDefault(g, g), e.time, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobEnds.put(e.jobId, e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val m = si.taskMetrics
      val attrs = Seq("tasks" -> si.numTasks.toDouble) ++ (if (m == null) Nil else Seq(
        "run_ms" -> m.executorRunTime.toDouble,
        "cpu_ms" -> m.executorCpuTime / 1e6,
        "gc_ms" -> m.jvmGCTime.toDouble,
        "input_bytes" -> m.inputMetrics.bytesRead.toDouble,
        "output_bytes" -> m.outputMetrics.bytesWritten.toDouble,
        "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead.toDouble,
        "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten.toDouble,
        "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble))
      stages.add(Stage(si.stageId, si.attemptNumber(), si.submissionTime.getOrElse(0L),
        si.completionTime.getOrElse(0L), attrs))
    }
  }

  private object actionListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      try {
        val phases = qe.tracker.phases
        def phaseMs(p: String) = phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
        val counts = planCounts(qe.executedPlan)
        actions.add(Action(
          if (phases.isEmpty) 0L else phases.values.map(_.startTimeMs).min,
          if (phases.isEmpty) 0L else phases.values.map(_.endTimeMs).max,
          Seq("analysis_ms" -> phaseMs("analysis"),
            "optimization_ms" -> phaseMs("optimization"),
            "planning_ms" -> phaseMs("planning"),
            "execution_ms" -> durationNs / 1e6) ++
            counts.toSeq.sortBy(_._1).map { case (k, v) => k -> v.toDouble }))
      } catch {
        case NonFatal(e) => System.err.println(s"[perfbench] trace: action not recorded: $e")
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private object streamListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      runGroups.put(e.runId.toString, currentGroup)
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      batches.add(Batch(p.runId.toString, p.batchId,
        java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
        Seq("duration_ms" -> p.batchDuration.toDouble,
          "input_rows" -> p.numInputRows.toDouble,
          "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum.toDouble)))
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Exchange, join, Generate and landed-artifact scan nodes of the final
    * plan. Under AQE the executed plan is a single AdaptiveSparkPlanExec
    * leaf to a plain `children` walk, so the walk enters the final adaptive
    * plan, its query stages, reused exchanges and subqueries. */
  private def planCounts(root: SparkPlan): Map[String, Int] = {
    val c = mutable.Map[String, Int]().withDefaultValue(0)
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case r: ReusedExchangeExec => walk(r.child)
      case _ =>
        p match {
          case _: ShuffleExchangeLike | _: BroadcastExchangeLike => c("exchanges") += 1
          case _: SortMergeJoinExec => c("sort_merge_joins") += 1
          case _: BroadcastHashJoinExec | _: BroadcastNestedLoopJoinExec => c("broadcast_joins") += 1
          case _: GenerateExec => c("generates") += 1
          case f: FileSourceScanExec
              if f.relation.location.rootPaths.exists(_.toString.contains(artifactMark)) =>
            c("artifact_scans") += 1
          case _ =>
        }
        p.children.foreach(walk)
        p.subqueries.foreach(walk)
    }
    walk(root)
    Seq("exchanges", "sort_merge_joins", "broadcast_joins", "generates", "artifact_scans")
      .map(k => k -> c(k)).toMap
  }

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
  def heapPeakMb(): Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1e6

  /** Called after each pass: waits for the buses to deliver, and records
    * the artifact directories the pass landed (their `_SUCCESS` markers are
    * newer than the pass start). */
  def endPass(p: Pass): Unit = {
    ListenerBusDrain(spark.sparkContext)
    val root = new File(System.getProperty("java.io.tmpdir"), artifactMark)
    def files(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(files) else Seq(f)
    val built = Option(root.listFiles).toSeq.flatten.filter { d =>
      val ok = new File(d, "_SUCCESS")
      ok.isFile && ok.lastModified >= p.startMs.toLong
    }
    artifactsByPass(p.index) = (built.size, built.flatMap(files).map(_.length).sum)
  }

  /** The span tree of the given passes as a JSON array. */
  def spans(passes: Seq[Pass]): String = {
    ListenerBusDrain(spark.sparkContext)
    val out = mutable.ArrayBuffer[String]()
    def span(id: String, parent: String, kind: String, name: String, start: Double,
             end: Double, pass: Int, attrs: Seq[(String, Double)] = Nil): Unit =
      out += Json.obj(Seq("id" -> Json.str(id),
        "parent" -> (if (parent == null) "null" else Json.str(parent)),
        "kind" -> Json.str(kind), "name" -> Json.str(name),
        "start_ms" -> Json.num(start), "end_ms" -> Json.num(end),
        "pass" -> pass.toString) ++ attrs.map { case (k, v) => k -> Json.num(v) })

    val allJobs = jobs.values.asScala.toSeq.sortBy(_.id)
    val stageJob = allJobs.flatMap(j => j.stageIds.map(_ -> j.id)).reverse.toMap
    val jobsByGroup = allJobs.groupBy(_.group)
    val runsByGroup = runGroups.asScala.toSeq.groupBy(_._2).map { case (g, rs) => g -> rs.map(_._1).toSet }
    val allActions = actions.asScala.toSeq
    val allBatches = batches.asScala.toSeq
    val allStages = stages.asScala.toSeq
    for (p <- passes) {
      val (built, bytes) = artifactsByPass.getOrElse(p.index, (0, 0L))
      val pid = s"p${p.index}"
      span(pid, null, "pass", s"pass ${p.index}", p.startMs, p.endMs,
        p.index, Seq("artifacts_built" -> built.toDouble, "artifacts_bytes" -> bytes.toDouble))
      for (o <- p.ops) {
        val oid = s"$pid/${o.op}"
        val (cid, eid) = (s"$oid/construct", s"$oid/execute")
        span(oid, pid, "op", o.op, o.startMs, o.endMs, p.index,
          Seq("failed" -> (if (o.failed) 1.0 else 0.0)))
        span(cid, oid, "construct", o.op, o.startMs, o.constructEndMs, p.index)
        span(eid, oid, "execute", o.op, o.constructEndMs, o.endMs, p.index)
        def phaseOf(t: Double) = if (t < o.constructEndMs) cid else eid
        val group = s"perfbench:${p.index}:${o.op}"
        for (j <- jobsByGroup.getOrElse(group, Nil)) {
          val end = jobEnds.getOrDefault(j.id, j.startMs)
          span(s"j${j.id}", phaseOf(j.startMs.toDouble), "job", s"job ${j.id}",
            j.startMs.toDouble, end.toDouble, p.index)
        }
        for (a <- allActions if a.startMs >= o.startMs && a.startMs < o.endMs)
          span(s"a${a.startMs}-${out.size}", phaseOf(a.startMs.toDouble), "action", o.op,
            a.startMs.toDouble, a.endMs.toDouble, p.index, a.attrs)
        val runs = runsByGroup.getOrElse(group, Set.empty)
        for (b <- allBatches if runs(b.runId))
          span(s"b${b.runId}/${b.batchId}", oid, "batch", s"batch ${b.batchId}",
            b.startMs, b.startMs + b.durMs, p.index, b.attrs)
      }
      val passJobs = p.ops.flatMap(o => jobsByGroup.getOrElse(s"perfbench:${p.index}:${o.op}", Nil))
        .map(_.id).toSet
      for (s <- allStages if stageJob.get(s.id).exists(passJobs))
        span(s"s${s.id}.${s.attempt}", s"j${stageJob(s.id)}", "stage", s"stage ${s.id}",
          s.startMs.toDouble, s.endMs.toDouble, p.index, s.attrs)
    }
    out.mkString("[\n", ",\n", "\n]\n")
  }
}

object Tracer {
  def attach(spark: SparkSession): Tracer = {
    val t = new Tracer(spark)
    spark.sparkContext.addSparkListener(t.sparkListener)
    spark.listenerManager.register(t.actionListener)
    spark.streams.addListener(t.streamListener)
    t
  }
}
