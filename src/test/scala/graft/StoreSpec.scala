package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Landed per-op state: where it lives, when it is cleared, and that a
  * landed snapshot never outlives the corpus it was built from. */
class StoreSpec extends GraftSuite {

  test("Store.fresh clears what an earlier run left in the directory") {
    val d = Store.dir(spark, "store_spec")
    new java.io.File(d).mkdirs()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(d, "stale"), "x")
    assert(Store.fresh(spark, "store_spec") === d)
    assert(!new java.io.File(d).exists(), s"$d survived Store.fresh")
  }

  test("Store.dir paths carry the application id under the JVM temp dir") {
    val d = new java.io.File(Store.dir(spark, "store_spec"))
    assert(d.getName === s"graft_store_spec_${spark.sparkContext.applicationId}")
    assert(d.getParentFile === new java.io.File(sys.props("java.io.tmpdir")))
  }

  test("no src/main source hard-codes a /tmp path") {
    import java.nio.file.{Files, Path, Paths}
    val files = Files.walk(Paths.get("src/main")).toArray.toSeq
      .collect { case p: Path if p.toString.endsWith(".scala") => p }
    assert(files.nonEmpty, "src/main not found from the test's working directory")
    val literal = "\"/" + "tmp/" // split, so no source spells the literal itself
    val offenders = files.filter(f => Files.readString(f).contains(literal))
    assert(offenders.isEmpty, s"landed paths must come from Store: ${offenders.mkString(", ")}")
  }

  test("merge_view_refresh_incremental serves each corpus its own snapshot") {
    def recompute(dir: String): DataFrame =
      Tables.load(spark, dir, "orders")
        .groupBy(col("o_orderpriority"),
          year(col("o_orderdate")).cast("long").as("yr"))
        .agg(count(lit(1)).as("n_orders"),
          sum(Helpers.dec(col("o_totalprice"))).cast("double").as("sum_price"))
        .orderBy("o_orderpriority", "yr")
    val copy = TestSpark.tempDir("graft_ivm_corpus_")
    Tables.rawLoad(spark, sfDir, "orders").filter(col("o_orderkey") % 3 =!= 0)
      .write.parquet(s"$copy/orders.parquet")
    for (dir <- Seq(sfDir, copy)) {
      val got = SparkEntry.queries("merge_view_refresh_incremental")(spark, dir).collect().toSeq
      assert(got === recompute(dir).collect().toSeq, s"stale snapshot served for $dir")
    }
  }
}
