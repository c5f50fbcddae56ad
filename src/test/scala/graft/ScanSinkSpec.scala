package graft

import org.apache.spark.sql.functions._

/** §2.1 sink/schema coverage promised by SURVEY: full write→read→compare
  * round-trips for the csv/json sinks and a footer-schema assertion for
  * scan_schema over every fixture table.
  */
class ScanSinkSpec extends GraftSuite {

  test("csv sink round-trips nation exactly (write -> read -> except empty)") {
    val src = spark.read.parquet(s"$sfDir/nation.parquet")
    val out = TestSpark.tempDir("graft_test_csv_")
    src.write.mode("overwrite").option("header", "true").csv(out)
    val back0 = spark.read.option("header", "true").option("inferSchema", "true").csv(out)
    // header round-trip: the INFERRED schema must carry the same columns
    assert(back0.columns.sorted.sameElements(src.columns.sorted),
      s"csv header lost columns: ${back0.columns.mkString(",")}")
    // csv type inference may narrow integers; cast back to the source schema
    val back = back0.select(src.schema.fields.map(f => col(f.name).cast(f.dataType)): _*)
    assert(src.except(back).isEmpty && back.except(src).isEmpty,
      "csv round-trip must be lossless both directions")
    assert(back.count() == src.count())
  }

  test("json sink round-trips region exactly (write -> read -> except empty)") {
    val src = spark.read.parquet(s"$sfDir/region.parquet")
    val out = TestSpark.tempDir("graft_test_json_")
    src.write.mode("overwrite").json(out)
    val back = spark.read.json(out)
      .select(src.schema.fields.map(f => col(f.name).cast(f.dataType)): _*)
    assert(src.except(back).isEmpty && back.except(src).isEmpty,
      "json round-trip must be lossless both directions")
    assert(back.count() == src.count())
  }

  test("orc sink round-trips supplier exactly, schema included (no cast needed)") {
    val src = spark.read.parquet(s"$sfDir/supplier.parquet")
    val out = TestSpark.tempDir("graft_test_orc_")
    src.write.mode("overwrite").orc(out)
    val back = spark.read.orc(out)
    // ORC is typed: the schema must survive verbatim, unlike csv/json
    assert(back.schema.fields.map(f => (f.name, f.dataType))
      .sameElements(src.schema.fields.map(f => (f.name, f.dataType))),
      s"orc schema drifted: ${back.schema.simpleString}")
    assert(src.except(back).isEmpty && back.except(src).isEmpty,
      "orc round-trip must be lossless both directions")
    assert(back.count() == src.count())
  }

  test("scan_schema rows equal the parquet footer schema, all tables introspectable") {
    // the registered op introspects lineitem
    val got = q("scan_schema").collect()
      .map(r => (r.getString(0), r.getString(1), r.getBoolean(2))).toSet
    val expect = spark.read.parquet(s"$sfDir/lineitem.parquet").schema.fields
      .map(f => (f.name, f.dataType.simpleString, f.nullable)).toSet
    assert(got == expect, "scan_schema must mirror the parquet footer of lineitem")
    // every fixture table must load with a non-empty, uniquely-named schema
    Tables.names.foreach { n =>
      val fields = Tables.load(spark, sfDir, n).schema.fields
      assert(fields.nonEmpty, s"$n: empty schema")
      assert(fields.map(_.name).distinct.length == fields.length, s"$n: duplicate columns")
    }
  }
}
