package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.ContextBridge

/** The one materialization policy of the engine. A pin holds a frame's
  * rows in executor storage (`localCheckpoint`) so that its readers share
  * one derivation and its lineage ends there; it is not reliable state.
  *
  *  - [[shared]] is the rule: a frame that several readers in one op
  *    consume, or that every round of a driver loop consumes (iterative
  *    truncation). The pin is lazy: the first action that reads every
  *    partition of the frame materializes it, so it costs no job of its
  *    own. (Under AQE the frame's shuffle stages still run when the pin is
  *    built.)
  *  - [[now]] is the exception, an eager pin, used only where a lazy one
  *    cannot work: (a) the frame's input is deleted or overwritten before
  *    its first reader runs; (b) its readers run concurrently on
  *    `Profiling.inParallel` pool threads, or the pin is the pool task's
  *    own work. Each call site names its case.
  *  - [[release]] frees every pin. A pin lives for one op: `Bench`,
  *    `Verify` and `ScaleProbe` release after each op. State that must
  *    outlive an op is landed through [[CorpusArtifacts]] or [[Store]]. */
object Pin {
  /** A lazy pin of `df`. */
  def shared(df: DataFrame): DataFrame = df.localCheckpoint(false)

  /** An eager pin of `df`: its rows are materialized before this returns. */
  def now(df: DataFrame): DataFrame = df.localCheckpoint()

  /** Unpersists every pinned RDD of the application of `s`. It goes
    * through the context, not `RDD.unpersist`, which logs a WARN for each
    * locally checkpointed RDD that its lineage cannot be recomputed — true
    * of every pin, and why a pin lives for one op. */
  def release(s: SparkSession): Unit = {
    val sc = s.sparkContext
    sc.getPersistentRDDs.keys.foreach(ContextBridge.unpersistRDD(sc, _))
  }
}
