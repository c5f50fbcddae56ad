package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
/** Maintenance helper: prints registry size + queries lacking an oracle. */
object QueryCount {
  def main(args: Array[String]): Unit = {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    println(s"COUNTS queries=${q.size} oracled=${o.size}")
    println(s"NO_ORACLE ${(q -- o).toSeq.sorted.mkString(",")}")
    println(s"ORPHAN_ORACLE ${(o -- q).toSeq.sorted.mkString(",")}")
  }
}

object Verify {
  def main(args: Array[String]): Unit = {
    // driver contract: exactly (sfDir, outDir). Extra args (local iteration
    // only) restrict the dump to the named queries.
    val sfDir = args(0); val outDir = args(1)
    val only: Set[String] = args.drop(2).toSet
    val spark = GraftSession.create()
    plans.GraftOptimizations.install(spark)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      } finally Pin.release(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
