package graft.operators

import graft.{OpRegistry, Store}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** §2.1 Scans / sources / sinks. Projection and predicate pushdown reach the
  * vectorized parquet reader (asserted in ScanSpec via the executed plan —
  * `PushedFilters` / `ReadSchema`), which is what makes these scale: at
  * 100 TB only the referenced columns and row groups are read.
  */
object Scans extends OpRegistry {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "scan_parquet" -> ((s, dir) =>
      t(s, dir)("nation").orderBy("n_nationkey")),

    "scan_projection" -> ((s, dir) =>
      // 3 of 11 lineitem columns: parquet reader only materializes these.
      t(s, dir)("lineitem")
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber")),

    "scan_pushdown" -> ((s, dir) =>
      // Range predicate pushed to parquet row-group stats.
      t(s, dir)("lineitem")
        .filter(col("l_shipdate") >= lit("1998-01-01") && col("l_shipdate") < lit("1998-07-01"))
        .select("l_orderkey", "l_linenumber", "l_shipdate", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")),

    "scan_schema" -> ((s, dir) => {
      // Schema introspection surfaced as rows. Oracle-checked via DuckDB
      // DESCRIBE with a declared type-name correspondence (BIGINT→bigint,
      // VARCHAR→string, TIMESTAMP→timestamp_ntz, …): both engines
      // introspect the same parquet footer through their own type systems.
      val fields = t(s, dir)("lineitem").schema.fields.toSeq
        .map(f => (f.name, f.dataType.simpleString, f.nullable))
      import s.implicits._
      fields.toDF("col_name", "data_type", "nullable").orderBy("col_name")
    }),

    "sink_csv_roundtrip" -> ((s, dir) => {
      // Write->read round-trip through the csv sink; returns per-flag counts
      // so the driver's rows>0 check is meaningful. Unit test asserts
      // equality with the direct read.
      val out = Store.dir(s, "sink_csv")
      val src = t(s, dir)("nation")
      src.write.mode("overwrite").option("header", "true").csv(out)
      val back = s.read.option("header", "true").option("inferSchema", "true").csv(out)
      // cast: csv inference narrows int64 -> int32; pin the boundary type
      back.groupBy(col("n_regionkey").cast("long").as("n_regionkey"))
        .agg(count(lit(1)).as("cnt")).orderBy("n_regionkey")
    }),

    "source_csv_badrecords" -> ((s, dir) => {
      // Malformed-CSV ingestion (round 14) — the PERMISSIVE-mode surface
      // every real ingest needs (crawled/exported CSVs always carry broken
      // lines; failing the job on line 1 billion is not an option): a CSV
      // is generated from orders with every 100th key's price field
      // poisoned to a non-numeric token, read back under an explicit
      // schema with PERMISSIVE + columnNameOfCorruptRecord, and the op
      // reports good/corrupt counts and the decimal-exact sum over the
      // rows that SURVIVED parsing. The oracle never parses the file — it
      // recomputes the expected outcome from the same orders table and
      // poison rule (the sink_csv_roundtrip discipline: WE generate the
      // file, so the table is the ground truth of what parsing must
      // yield). Corrupt rows park in the side column (never dropped rows,
      // never a job failure); the scan stays splittable/distributed.
      import org.apache.spark.sql.types._
      val out = Store.dir(s, "src_csv_bad")
      t(s, dir)("orders")
        .select(concat_ws(",", col("o_orderkey"),
          when(col("o_orderkey") % 100 === 0, lit("notanumber"))
            .otherwise(col("o_totalprice").cast("string"))).as("value"))
        .write.mode("overwrite").text(out)
      val schema = StructType(Seq(
        StructField("k", LongType), StructField("price", DoubleType),
        StructField("_corrupt_record", StringType)))
      // the aggregate reads `price` next to the corrupt-record column, so
      // Spark's guard against a query over that column alone (SPARK-21610)
      // does not apply and the relation is read lazily
      val back = s.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(out)
      back.agg(
          sum(when(col("_corrupt_record").isNull, 1L).otherwise(0L))
            .as("n_good"),
          sum(when(col("_corrupt_record").isNotNull, 1L).otherwise(0L))
            .as("n_corrupt"),
          sum(when(col("_corrupt_record").isNull,
            col("price").cast(DecimalType(38, 6))))
            .cast("double").as("sum_price_good"))
    }),

    "sink_parquet_bloom" -> ((s, dir) => {
      // Parquet bloom-filter sink (round 14) — the file-level point-lookup
      // accelerator: blooms written per column let a needle-in-haystack
      // scan skip whole row groups whose filter says "definitely absent"
      // (zone maps can't help on a high-cardinality key with full min/max
      // span — exactly the customer-id lookup shape). Write orders with a
      // bloom on o_custkey + small row groups (so skipping has granularity
      // to act on), read back with a point predicate, and report count +
      // decimal-exact value. Blooms are TRANSPARENT to results — the
      // oracle is the same predicate on the source table, which is the
      // correctness contract of a skipping index.
      import org.apache.spark.sql.types.DecimalType
      val out = Store.dir(s, "sink_bloom")
      t(s, dir)("orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#o_custkey", "true")
        .option("parquet.block.size", (1 << 20).toString)
        .parquet(out)
      s.read.parquet(out)
        .filter(col("o_custkey") === 7L)
        .agg(count(lit(1)).as("n_rows"),
          sum(col("o_totalprice").cast(DecimalType(38, 6))).cast("double")
            .as("value_sum"))
    }),

    "scan_schema_merge" -> ((s, dir) => {
      // Schema-evolution read (round 11): two parquet snapshots of the
      // same table written under DIFFERENT schemas (snap2 adds
      // n_regionkey — the added-column migration every long-lived
      // dataset goes through), read back in ONE scan with mergeSchema:
      // Spark unions the footer schemas and null-fills the missing
      // column for snap1 files. The aggregate proves both the union
      // schema and the null-fill — the -1 bucket is exactly the snap1
      // row count.
      val base = Store.dir(s, "schema_merge")
      val src = t(s, dir)("nation")
      src.select(col("n_nationkey"), col("n_name"))
        .write.mode("overwrite").parquet(s"$base/snap1")
      src.write.mode("overwrite").parquet(s"$base/snap2")
      s.read.option("mergeSchema", "true")
        .parquet(s"$base/snap1", s"$base/snap2")
        .groupBy(coalesce(col("n_regionkey").cast("long"), lit(-1L))
          .as("region"))
        .agg(count(lit(1)).as("n_rows"))
        .orderBy("region")
    }),

    "scan_time_travel" -> ((s, dir) => {
      // Time-travel read (round 12; VERDICT r11 #5): a manifest-logged
      // two-commit table — commit 0 writes nation, commit 1 appends
      // shifted rows — read back AS OF version 0. The read plans from the
      // COMMIT LOG's file list, never a directory listing, which is the
      // lakehouse primitive (Delta/Iceberg-style): at 100 TB the log is
      // KB-sized driver state while the data directory holds every file
      // of every version; snapshot isolation falls out because a reader
      // pinned to manifest N never sees files a concurrent commit N+1
      // adds. The aggregate equals the same aggregate over the source
      // table — which is oracle-able; Round12Spec asserts the appended
      // rows are absent from the as-of-0 read.
      val base = snapshotTable(s, dir, "time_travel")
      readAsOf(s, base, 0)
        .groupBy(col("n_regionkey").cast("long").as("region"))
        .agg(count(lit(1)).as("cnt"), sum("n_nationkey").as("sum_key"))
        .orderBy("region")
    }),

    "scan_zone_map_prune" -> ((s, dir) => {
      // Zone-map data skipping (round 12): per-file min/max column stats
      // kept in the table's stats manifest prune files BEFORE any scan is
      // planned — the Iceberg/Delta-style data-skipping primitive on top
      // of the manifest log. The table is range-clustered on o_orderkey
      // (repartitionByRange → each file holds a contiguous key slice),
      // which is what makes zone maps selective; an unclustered table has
      // full-range zone maps and prunes nothing — clustering and skipping
      // are one design. The stats manifest is one line per file (KB-sized
      // driver state at any table size), so the prune is an O(files)
      // driver walk; survivors still apply the exact predicate, because
      // zone maps are SOUND but not exact: a surviving file may contain
      // no match, an excluded file can never contain one. At 100 TB this
      // is the difference between reading ~2 files and reading the table.
      // Round12bSpec asserts the prune plans a strict subset of files.
      val (_, stats) = statsTable(s, dir, "zone_map")
      val (lo, hi) = (1000L, 5000L)
      val live = stats.filter(f => f.max >= lo && f.min <= hi).map(_.path)
      s.read.parquet(live: _*)
        .filter(col("o_orderkey").between(lo, hi))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"),
          graft.Helpers.decSumOut(col("o_totalprice")).as("total"))
        .orderBy("o_orderstatus")
    }),

    "scan_stats_sidecar_append" -> ((s, dir) => {
      // Incremental stats-sidecar maintenance + as-of prune (r17, VERDICT
      // r16 #7): an append commit updates the zone-map sidecar by
      // APPENDING the new files' stats (computed from the commit's own
      // files only — see statsSidecarAppendTable), and the v1 read prunes
      // against the UPDATED sidecar with a predicate spanning BOTH
      // commits' key ranges — so the result is wrong unless (a) the old
      // stats survived the commit untouched AND (b) the new files'
      // stats landed. Same soundness shape as scan_zone_map_prune:
      // survivors re-apply the exact predicate; an excluded file can
      // never contain a match. Prune is an O(files) driver walk over the
      // KB-sized sidecar at any table size.
      val base = statsSidecarAppendTable(s, dir)
      val ranges = Seq((1000L, 5000L), (10000100L, 10001200L))
      val live = readStats(s, base, 1)
        .filter(f => ranges.exists { case (lo, hi) => f.max >= lo && f.min <= hi })
        .map(_.path)
      s.read.parquet(live: _*)
        .filter(col("o_orderkey").between(1000L, 5000L) ||
          col("o_orderkey").between(10000100L, 10001200L))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"),
          graft.Helpers.decSumOut(col("o_totalprice")).as("total"))
        .orderBy("o_orderstatus")
    }),

    "scan_snapshot_changes" -> ((s, dir) => {
      // Incremental/CDC read (round 12): the rows ADDED between version 0
      // and version 1 = the parquet files in manifest 1 but not manifest
      // 0 — file-level change capture on an append-only log, the shape
      // every warehouse→downstream sync uses (read ONLY the new files,
      // never rescan the table). O(new data) IO at any table size.
      val base = snapshotTable(s, dir, "snapshot_changes")
      val added = changedFiles(s, base, 0, 1)
      s.read.parquet(added: _*)
        .groupBy(col("n_regionkey").cast("long").as("region"))
        .agg(count(lit(1)).as("cnt"), sum("n_nationkey").as("sum_key"))
        .orderBy("region")
    }),

    "scan_describe_history" -> ((s, dir) => {
      // DESCRIBE HISTORY over the manifest log — the table-audit surface
      // every lakehouse exposes (Delta DESCRIBE HISTORY / Iceberg
      // snapshots metadata table): one row per committed version with
      // row-level content stats certified by actually reading each
      // version's file list. The log walk is O(versions) driver state
      // (KB-sized at any table size); the per-version aggregates are each
      // a pinned readAsOf — at 100 TB a production implementation serves
      // these from commit-time manifest stats instead of re-scanning, but
      // the CONTRACT this op locks is that the history row equals the
      // as-of read, which is exactly what makes manifest stats trustable.
      // Oracle replays both versions from the source table (v1 = source +
      // key+1000/region+100 shifted copies — snapshotTable's fixture).
      val base = snapshotTable(s, dir, "describe_history")
      def summ(v: Int): DataFrame =
        readAsOf(s, base, v).agg(count(lit(1)).as("n_rows"),
            sum("n_nationkey").as("sum_key"),
            countDistinct("n_regionkey").as("n_regions"))
          .select(lit(v.toLong).as("version"), col("n_rows"),
            col("sum_key"), col("n_regions"))
      summ(0).unionByName(summ(1)).orderBy("version")
    }),

    "sink_json_roundtrip" -> ((s, dir) => {
      val out = Store.dir(s, "sink_json")
      val src = t(s, dir)("region")
      src.write.mode("overwrite").json(out)
      s.read.json(out).select("r_regionkey", "r_name").orderBy("r_regionkey")
    }),

    "sink_orc_roundtrip" -> ((s, dir) => {
      // ORC sink/source round-trip (Spark-native columnar alternative to
      // parquet): write supplier as ORC, read it back, aggregate — ORC
      // preserves types exactly (no csv/json narrowing), so the read-back
      // aggregate must equal the same aggregate on the source table.
      val out = Store.dir(s, "sink_orc")
      val src = t(s, dir)("supplier")
      src.write.mode("overwrite").orc(out)
      s.read.orc(out)
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("cnt"),
          graft.Helpers.decSumOut(col("s_acctbal")).as("sum_bal"))
        .orderBy("s_nationkey")
    }),

    "scan_ignore_corrupt_files" -> ((s, dir) => {
      // Corrupt-file-resilient scan (r15): a table directory with one
      // garbage file planted among the real parquet parts, read under
      // ignoreCorruptFiles — at 100 TB a partially-written or
      // bit-rotted file WILL appear eventually, and failing the whole
      // job on it is not an option (the file-level sibling of
      // source_csv_badrecords' row-level PERMISSIVE contract). We
      // generate the directory, so the source table is ground truth for
      // what the resilient read must still yield; the oracle recomputes
      // from it. The corrupt member is skipped at footer-read time —
      // file-level granularity, the scan stays distributed.
      val out = Store.dir(s, "scan_corrupt")
      t(s, dir)("supplier").select("s_suppkey", "s_nationkey", "s_acctbal")
        .write.mode("overwrite").parquet(out)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(out, "part-junk.parquet"),
        "definitely not a parquet footer".getBytes("UTF-8"))
      s.read.option("ignoreCorruptFiles", "true").parquet(out)
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("cnt"),
          graft.Helpers.decSumOut(col("s_acctbal")).as("sum_bal"))
        .orderBy("s_nationkey")
    }),

    "sink_xml_roundtrip" -> ((s, dir) => {
      // Spark-4 built-in XML source/sink round-trip (r15, VERDICT r14 #7
      // — Avro's connector jar does not ship in the offline container;
      // XML landed in sql/core in Spark 4 and does): write supplier rows
      // as XML elements, read back under an EXPLICIT schema (inference
      // would widen/narrow types), aggregate with decimal-exact sums.
      // The oracle never parses XML — it recomputes from the source
      // table (the sink_csv_roundtrip discipline: we generate the file,
      // so the table is ground truth for what parsing must yield). The
      // XML reader splits by rowTag, so the scan stays distributed.
      import org.apache.spark.sql.types._
      val out = Store.dir(s, "sink_xml")
      t(s, dir)("supplier")
        .select("s_suppkey", "s_nationkey", "s_acctbal")
        .write.mode("overwrite").option("rowTag", "supplier")
        .format("xml").save(out)
      val schema = StructType(Seq(
        StructField("s_suppkey", LongType),
        StructField("s_nationkey", IntegerType),
        StructField("s_acctbal", DoubleType)))
      s.read.schema(schema).option("rowTag", "supplier").format("xml").load(out)
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("cnt"),
          graft.Helpers.decSumOut(col("s_acctbal")).as("sum_bal"),
          min(col("s_suppkey")).as("min_key"), max(col("s_suppkey")).as("max_key"))
        .orderBy("s_nationkey")
    }),

    "sink_partitioned_pruned" -> ((s, dir) => {
      // Hive-style partitioned layout + partition pruning — the mechanism
      // that lets a 100 TB table answer a partition-selective query by
      // listing one directory. The read-back filter must appear as a
      // PartitionFilter (not a data filter) in the scan; PlanSpec asserts it.
      val out = Store.dir(s, "part_orders")
      t(s, dir)("orders").select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
        .write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
      s.read.parquet(out)
        .filter(col("o_orderstatus") === "F")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"),
          graft.Helpers.decSumOut(col("o_totalprice")).as("total"))
    }),

    "source_jsonlines" -> ((s, dir) =>
      // Parse the events.props JSON-lines column with an explicit schema —
      // schema-on-read, no inference pass over 100 TB.
      t(s, dir)("events")
        .select(col("event_id"),
          from_json(col("props"), lit("k INT")).getField("k").as("k"))
        .orderBy("event_id")),

    "source_text_raw" -> ((s, dir) => {
      // Raw-text source round-trip (`spark.read.text` — the line-per-row
      // format a crawl dump lands in): write the document texts out as
      // .txt part files, read them back as untyped lines, and aggregate
      // line/char/token totals. Valid because the corpus is single-line
      // text (no embedded newlines — the write would split them); the
      // 1-row aggregate is order-independent so the roundtrip's partition
      // scrambling can't affect the result.
      val out = Store.dir(s, "source_text")
      t(s, dir)("documents").select("text").write.mode("overwrite").text(out)
      val back = s.read.text(out)
      back.agg(
        count(lit(1)).as("n_lines"),
        sum(length(col("value")).cast("long")).as("sum_chars"),
        sum(size(split(col("value"), " ")).cast("long")).as("sum_tokens"))
    }),
  )

  // ---- minimal manifest-logged snapshot layout (time-travel family) ----
  // base/_log/v00000.manifest, v00001.manifest — one parquet path per line;
  // base/data/c0, c1 — the commits' part files. The log is the source of
  // truth: readers plan from a manifest's file list, never from listing
  // base/data (same contract as Delta/Iceberg logs; files of unreachable
  // versions may coexist in the directory).

  private[operators] def hadoopFs(s: SparkSession, p: String) =
    new org.apache.hadoop.fs.Path(p)
      .getFileSystem(s.sparkContext.hadoopConfiguration)

  private[graft] def partFiles(s: SparkSession, dir: String): Seq[String] = {
    val fs = hadoopFs(s, dir)
    fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath.toString)
      .filter(p => p.contains("part-") && p.endsWith(".parquet"))
      .sorted.toSeq
  }

  private[graft] def writeManifest(s: SparkSession, base: String, version: Int,
                                   files: Seq[String]): Unit = {
    val fs = hadoopFs(s, base)
    val p = new org.apache.hadoop.fs.Path(f"$base/_log/v$version%05d.manifest")
    val out = fs.create(p, true)
    try out.write(files.mkString("\n").getBytes("UTF-8")) finally out.close()
  }

  private[graft] def readManifest(s: SparkSession, base: String,
                                  version: Int): Seq[String] = {
    val fs = hadoopFs(s, base)
    val p = new org.apache.hadoop.fs.Path(f"$base/_log/v$version%05d.manifest")
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(_.nonEmpty).toList
    finally in.close()
  }

  /** Builds the two-commit fixture table: v0 = nation, v1 = v0 + shifted
    * copies (keys +1000, regions +100 — disjoint from any real key, so a
    * leak of v1 rows into an as-of-0 read is detectable). Returns base. */
  def snapshotTable(s: SparkSession, dir: String, name: String): String = {
    val base = Store.dir(s, name)
    val src = t(s, dir)("nation")
    src.write.mode("overwrite").parquet(s"$base/data/c0")
    val c0 = partFiles(s, s"$base/data/c0")
    writeManifest(s, base, 0, c0)
    src.withColumn("n_nationkey", col("n_nationkey") + lit(1000))
      .withColumn("n_regionkey", col("n_regionkey") + lit(100))
      .write.mode("overwrite").parquet(s"$base/data/c1")
    writeManifest(s, base, 1, c0 ++ partFiles(s, s"$base/data/c1"))
    base
  }

  /** Snapshot-pinned read: plans from manifest `version`'s file list. */
  def readAsOf(s: SparkSession, base: String, version: Int): DataFrame =
    s.read.parquet(readManifest(s, base, version): _*)

  /** Per-file zone-map stats: path + min/max of the clustering key. */
  private[graft] case class FileStats(path: String, min: Long, max: Long)

  /** Builds a range-clustered orders table (8 files, contiguous
    * o_orderkey slices): a v0 manifest (pure path list — the shared
    * time-travel contract) plus a v0 STATS SIDECAR whose lines carry the
    * per-file zone maps `path\tmin\tmax` (Iceberg keeps column stats in
    * manifest metadata the same way). The stats pass reads the hidden
    * `_metadata.file_path` column — one aggregate over the fresh files,
    * the ANALYZE walk a lakehouse writer folds into its commit. Returns
    * (base, stats). */
  private[graft] def statsTable(s: SparkSession, dir: String,
                                name: String): (String, Seq[FileStats]) = {
    val base = Store.dir(s, name)
    t(s, dir)("orders")
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
      .repartitionByRange(8, col("o_orderkey"))
      .write.mode("overwrite").parquet(s"$base/data/c0")
    // normalize scheme variants (file:/ vs file:///) before matching the
    // stats rows back to the listed part files
    def norm(p: String) = new org.apache.hadoop.fs.Path(p).toUri.getPath
    val byFile = s.read.parquet(s"$base/data/c0")
      .groupBy(col("_metadata.file_path").as("p"))
      .agg(min("o_orderkey").as("mn"), max("o_orderkey").as("mx"))
      .collect().map(r => norm(r.getString(0)) -> (r.getLong(1), r.getLong(2)))
      .toMap
    val stats = partFiles(s, s"$base/data/c0").map { p =>
      val (mn, mx) = byFile(norm(p))
      FileStats(p, mn, mx)
    }
    writeManifest(s, base, 0, stats.map(_.path))
    writeLog(s, f"$base/_log/v00000.stats",
      stats.map(f => s"${f.path}\t${f.min}\t${f.max}"))
    (base, stats)
  }

  private def writeLog(s: SparkSession, path: String,
                       lines: Seq[String]): Unit = {
    val fs = hadoopFs(s, path)
    val out = fs.create(new org.apache.hadoop.fs.Path(path), true)
    try out.write(lines.mkString("\n").getBytes("UTF-8")) finally out.close()
  }

  /** Read a _log sidecar file back as its lines. */
  private[graft] def readLog(s: SparkSession, path: String): List[String] = {
    val fs = hadoopFs(s, path)
    val in = fs.open(new org.apache.hadoop.fs.Path(path))
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(_.nonEmpty).toList
    finally in.close()
  }

  /** Parse a version's stats sidecar back into [[FileStats]]. */
  private[graft] def readStats(s: SparkSession, base: String,
                               version: Int): Seq[FileStats] =
    readLog(s, f"$base/_log/v$version%05d.stats").map { line =>
      val Array(p, mn, mx) = line.split("\t")
      FileStats(p, mn.toLong, mx.toLong)
    }

  /** scan_stats_sidecar_append's table builder (r17, VERDICT r16 #7):
    * commit-time INCREMENTAL maintenance of the zone-map stats sidecar.
    * v0 = statsTable's range-clustered 8-file layout + stats sidecar;
    * commit 1 appends 4 range-clustered files of key-shifted rows
    * (+10,000,000 — disjoint from any real key) and the v1 sidecar is
    * written as v0's LINES READ BACK VERBATIM plus the new files' stats —
    * the only data scanned at commit time is the commit's own files
    * (one `_metadata` aggregate over c1). At 100 TB the sidecar must ride
    * the commit: a rescan-and-rewrite ANALYZE over the whole table per
    * append is the anti-pattern this op exists to rule out; Round17Spec
    * asserts the v0 prefix of the v1 sidecar is byte-identical. */
  private[graft] def statsSidecarAppendTable(s: SparkSession,
                                             dir: String): String = {
    val (base, _) = statsTable(s, dir, "stats_append")
    t(s, dir)("orders")
      .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
        col("o_custkey"), col("o_totalprice"), col("o_orderstatus"))
      .repartitionByRange(4, col("o_orderkey"))
      .write.mode("overwrite").parquet(s"$base/data/c1")
    def norm(p: String) = new org.apache.hadoop.fs.Path(p).toUri.getPath
    val byFile = s.read.parquet(s"$base/data/c1")
      .groupBy(col("_metadata.file_path").as("p"))
      .agg(min("o_orderkey").as("mn"), max("o_orderkey").as("mx"))
      .collect().map(r => norm(r.getString(0)) -> (r.getLong(1), r.getLong(2)))
      .toMap
    val newStats = partFiles(s, s"$base/data/c1").map { p =>
      val (mn, mx) = byFile(norm(p))
      FileStats(p, mn, mx)
    }
    writeManifest(s, base, 1, readManifest(s, base, 0) ++ newStats.map(_.path))
    writeLog(s, f"$base/_log/v00001.stats",
      readLog(s, f"$base/_log/v00000.stats") ++
        newStats.map(f => s"${f.path}\t${f.min}\t${f.max}"))
    base
  }

  /** File-level change capture: files reachable at `to` but not `from`. */
  def changedFiles(s: SparkSession, base: String, from: Int,
                   to: Int): Seq[String] = {
    val before = readManifest(s, base, from).toSet
    readManifest(s, base, to).filterNot(before)
  }

  def oracleSql: Map[String, String] = Map(
    "scan_time_travel" -> """
      SELECT CAST(n_regionkey AS BIGINT) AS region, COUNT(1) AS cnt,
             CAST(SUM(n_nationkey) AS BIGINT) AS sum_key
      FROM nation GROUP BY 1 ORDER BY region""",
    // skipping is sound: survivors re-apply the exact predicate, so the
    // pruned read equals the plain filtered read of the source table
    "scan_zone_map_prune" -> """
      SELECT o_orderstatus, COUNT(1) AS cnt,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total
      FROM orders WHERE o_orderkey BETWEEN 1000 AND 5000
      GROUP BY 1 ORDER BY o_orderstatus""",
    // both commits' ranges replay from the source table: the appended
    // rows are the +1e7 key-shifted copies, so their [10000100, 10001200]
    // slice is the source's [100, 1200] slice (present at every fixture SF;
    // it overlaps the c0 range in [1000, 1200] — those rows legitimately
    // count once per PHYSICAL copy, mirrored by the UNION ALL)
    "scan_stats_sidecar_append" -> """
      WITH u AS (
        SELECT o_orderstatus, o_totalprice FROM orders
        WHERE o_orderkey BETWEEN 1000 AND 5000
        UNION ALL
        SELECT o_orderstatus, o_totalprice FROM orders
        WHERE o_orderkey + 10000000 BETWEEN 10000100 AND 10001200)
      SELECT o_orderstatus, COUNT(1) AS cnt,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total
      FROM u GROUP BY 1 ORDER BY o_orderstatus""",

    // the incremental read returns exactly the v1-appended rows: the
    // shifted copies, replayable from the source table
    "scan_snapshot_changes" -> """
      SELECT CAST(n_regionkey + 100 AS BIGINT) AS region, COUNT(1) AS cnt,
             CAST(SUM(n_nationkey + 1000) AS BIGINT) AS sum_key
      FROM nation GROUP BY 1 ORDER BY region""",
    // v0 = nation verbatim; v1 appends the shifted copies (keys +1000,
    // regions +100, disjoint domains) — so every history row is derivable
    // from the source table alone
    "scan_describe_history" -> """
      WITH v0 AS (SELECT COUNT(1) AS n_rows,
                         CAST(SUM(n_nationkey) AS BIGINT) AS sum_key,
                         COUNT(DISTINCT n_regionkey) AS n_regions
                  FROM nation)
      SELECT CAST(0 AS BIGINT) AS version, n_rows, sum_key, n_regions FROM v0
      UNION ALL
      SELECT 1, 2 * n_rows, CAST(2 * sum_key + 1000 * n_rows AS BIGINT),
             2 * n_regions FROM v0
      ORDER BY version""",
    "scan_parquet" -> "SELECT * FROM nation ORDER BY n_nationkey",
    "scan_projection" -> """
      SELECT l_orderkey, l_linenumber, l_extendedprice
      FROM lineitem ORDER BY l_orderkey, l_linenumber""",
    "scan_pushdown" -> """
      SELECT l_orderkey, l_linenumber, l_shipdate, l_quantity
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1998-01-01' AND l_shipdate < TIMESTAMP '1998-07-01'
      ORDER BY l_orderkey, l_linenumber""",
    "source_jsonlines" -> """
      SELECT event_id, CAST(props->>'$.k' AS INT) AS k
      FROM events ORDER BY event_id""",
    "source_text_raw" -> """
      SELECT COUNT(1) AS n_lines,
             CAST(SUM(length(text)) AS BIGINT) AS sum_chars,
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens
      FROM documents""",
    "sink_partitioned_pruned" -> """
      SELECT o_orderstatus, COUNT(1) AS cnt,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total
      FROM orders WHERE o_orderstatus = 'F' GROUP BY o_orderstatus""",
    "scan_schema" -> """
      SELECT column_name AS col_name,
             CASE column_type
               WHEN 'BIGINT' THEN 'bigint' WHEN 'INTEGER' THEN 'int'
               WHEN 'DOUBLE' THEN 'double' WHEN 'FLOAT' THEN 'float'
               WHEN 'VARCHAR' THEN 'string' WHEN 'TIMESTAMP' THEN 'timestamp_ntz'
               WHEN 'DATE' THEN 'date' WHEN 'BOOLEAN' THEN 'boolean'
               ELSE lower(column_type) END AS data_type,
             "null" = 'YES' AS nullable
      FROM (DESCRIBE SELECT * FROM lineitem)
      ORDER BY col_name""",
    // The sink round-trips are lossless (unit-asserted write->read->except
    // both directions in ScanSinkSpec), so their aggregated outputs equal
    // the same aggregate over the source table — which IS oracle-able.
    // BIGINT casts: the fixture stores these keys as int32; the Spark side
    // emits int64 (csv inference / json read), so the oracle must widen too.
    "sink_orc_roundtrip" -> """
      SELECT s_nationkey, COUNT(1) AS cnt,
             CAST(SUM(CAST(s_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS sum_bal
      FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""",
    "scan_ignore_corrupt_files" -> """
      SELECT s_nationkey, COUNT(1) AS cnt,
             CAST(SUM(CAST(s_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS sum_bal
      FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""",
    "sink_xml_roundtrip" -> """
      SELECT s_nationkey, COUNT(1) AS cnt,
             CAST(SUM(CAST(s_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS sum_bal,
             MIN(s_suppkey) AS min_key, MAX(s_suppkey) AS max_key
      FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""",
    "sink_csv_roundtrip" -> """
      SELECT CAST(n_regionkey AS BIGINT) AS n_regionkey, COUNT(1) AS cnt
      FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""",

    "sink_parquet_bloom" -> """
      SELECT COUNT(1) AS n_rows,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
               AS value_sum
      FROM orders WHERE o_custkey = 7""",

    // recomputed from the source table + poison rule, never by parsing
    "source_csv_badrecords" -> """
      SELECT CAST(SUM(CASE WHEN o_orderkey % 100 <> 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_good,
             CAST(SUM(CASE WHEN o_orderkey % 100 = 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_corrupt,
             CAST(SUM(CASE WHEN o_orderkey % 100 <> 0
               THEN CAST(o_totalprice AS DECIMAL(38,6)) END) AS DOUBLE)
               AS sum_price_good
      FROM orders""",
    "sink_json_roundtrip" -> """
      SELECT CAST(r_regionkey AS BIGINT) AS r_regionkey, r_name
      FROM region ORDER BY r_regionkey""",
    // differential twin replays the union-schema semantics from the
    // SOURCE table: snap1 contributes every row with a NULL added column
    "scan_schema_merge" -> """
      WITH merged AS (
        SELECT n_nationkey, n_name, NULL AS n_regionkey FROM nation
        UNION ALL
        SELECT n_nationkey, n_name, n_regionkey FROM nation)
      SELECT COALESCE(CAST(n_regionkey AS BIGINT), -1) AS region,
             COUNT(1) AS n_rows
      FROM merged GROUP BY 1 ORDER BY region""",
  )
}
