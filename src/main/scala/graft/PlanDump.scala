package graft

import java.nio.file.{Files, Paths}

/** Dump `.explain("formatted")` for selected registry queries to files —
  * the optimization-round evidence artifact (plans/rNN/<query>_{before,after}.txt).
  *
  * Usage: runMain graft.PlanDump <outDir> <suffix> <query> [query...]
  * Writes <outDir>/<query>_<suffix>.txt for each named query.
  *
  * The dump builds the DataFrame (no action) and captures the FORMATTED
  * physical plan. Ops that run side-effecting driver sequences (streaming,
  * compaction) still execute their build phase; their final frame's plan is
  * what lands.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <outDir> <suffix> <query>...")
    val outDir = args(0)
    val suffix = args(1)
    val names = args.drop(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.create()
    plans.GraftOptimizations.install(spark)
    Files.createDirectories(Paths.get(outDir))
    // failures are tracked and fail the run (ADVICE r19: an evidence run
    // where every plan dump failed must not exit 0 and look successful)
    var nFailed = 0
    names.foreach { n =>
      SparkEntry.queries.get(n) match {
        case None =>
          System.err.println(s"[plandump] unknown query: $n")
          nFailed += 1
        case Some(fn) =>
          try {
            val df = fn(spark, sfDir)
            val plan = df.queryExecution.explainString(
              org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
            Files.writeString(Paths.get(outDir, s"${n}_$suffix.txt"), plan)
            println(s"[plandump] wrote $n")
          } catch {
            case e: Throwable =>
              System.err.println(s"[plandump] $n failed: ${e.getMessage}")
              nFailed += 1
          }
      }
    }
    spark.stop()
    if (nFailed > 0) {
      System.err.println(s"[plandump] $nFailed of ${names.length} dumps failed")
      sys.exit(1)
    }
  }
}
