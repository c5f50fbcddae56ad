package graft

import org.apache.spark.sql.SparkSession

/** The one local session configuration of the mains and the tests:
  * `local[cpus]` with as many shuffle partitions as cores, UTC session
  * time, nanosecond parquet timestamps read as epoch longs (events.parquet
  * is TIMESTAMP(NANOS), which Spark 4 otherwise rejects with
  * [PARQUET_TYPE_ILLEGAL]), no UI, WARN logging. `extra` adds a caller's
  * own settings. Optimizer rules are not installed here: each main calls
  * [[plans.GraftOptimizations.install]], and the shared test session runs
  * without them. */
object GraftSession {
  def create(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"),
             extra: Map[String, String] = Map.empty): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config(extra)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
