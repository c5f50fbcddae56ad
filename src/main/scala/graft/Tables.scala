package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{DecimalType, StructType, TimestampNTZType, TimestampType}

/** Fixture table loaders + shared determinism helpers.
  *
  * The reference repo (FabianFer08/Big-Data-Management-and-Analytics,
  * reference/README.md:1-2) contains no code; the capability surface is
  * SURVEY.md §2 and the fixtures described in FIXTURES.md. All queries read
  * the ten parquet tables under a scale-factor directory.
  *
  * Determinism rules (SURVEY.md §2 D1-D5) are centralized here:
  *  - D2: money math on DECIMAL(38,6), never bare sum(double)
  *  - D3: averages as round(sum_dec/count, 4), never bare avg(double)
  *  - D4: events.ts is epoch-nanos LongType after `normalizeTs` (the fixture
  *    has shipped both TIMESTAMP(NANOS) and TIMESTAMP micros); convert with
  *    integer division `ts div 1000` -> micros (double round-trip would lose
  *    precision: 1.7e18 exceeds the 53-bit double mantissa)
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    normalizeTs(rawLoad(spark, sfDir, name))

  /** The parquet files exactly as stored — streaming readers need the FILE
    * schema (a projected schema would mismatch the footer). */
  def rawLoad(spark: SparkSession, sfDir: String, name: String): DataFrame =
    readParquet(spark, s"$sfDir/$name.parquet")

  /** The session settings that change what schema Parquet inference yields
    * for the same files. */
  private val ParquetReadConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong", "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp", "spark.sql.parquet.inferTimestampNTZ.enabled")

  /** Inferred schemas, keyed by (app, path, [[fingerprint]], reader settings). */
  private[graft] val schemaMemo = scala.collection.concurrent.TrieMap[String, StructType]()

  /** `spark.read.parquet(path)` with the schema inferred once. Inference
    * without a schema is a one-task Spark job per read (footer reads on the
    * executors); here only the first read of a path pays it, and later reads
    * pass the stored schema. The key carries every file's name, length and
    * modification time and the session's Parquet reading settings, so a
    * path rewritten in place or read under another setting is inferred
    * afresh. A missing path falls through to Spark's own error. */
  def readParquet(spark: SparkSession, path: String): DataFrame =
    fingerprint(spark, path) match {
      case None => spark.read.parquet(path)
      case Some(files) =>
        val key = (Seq(spark.sparkContext.applicationId, path, files) ++
          ParquetReadConfs.map(k => spark.conf.getOption(k).getOrElse(""))).mkString("|")
        schemaMemo.get(key) match {
          case Some(schema) => spark.read.schema(schema).parquet(path)
          case None =>
            val df = spark.read.parquet(path)
            schemaMemo.putIfAbsent(key, df.schema)
            df
        }
    }

  /** Name, length and modification time of every file under `path` (the
    * file itself for a single-file path), sorted; None when it does not
    * exist. Listed through the path's Hadoop file system, so local and
    * shared storage are fingerprinted alike. The walk uses `listStatus`,
    * not `listFiles`: the latter's `LocatedFileStatus` copies each file's
    * permission and owner, which Hadoop's local file system reads by
    * forking `ls -ld` per file. */
  private[graft] def fingerprint(spark: SparkSession, path: String): Option[String] = {
    import org.apache.hadoop.fs.{FileSystem, Path}
    def walk(fs: FileSystem, dir: Path): Seq[String] =
      fs.listStatus(dir).toSeq.flatMap { f =>
        if (f.isDirectory) walk(fs, f.getPath)
        else Seq(s"${f.getPath}:${f.getLen}:${f.getModificationTime}")
      }
    val p = new Path(path)
    try Some(walk(p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
      .sorted.mkString(","))
    catch { case _: java.io.FileNotFoundException => None }
  }

  /** Fixture-representation shim for `events.ts`. The generator has shipped
    * the column two ways across rounds: TIMESTAMP(NANOS) (readable only as
    * epoch-nanos LongType under `spark.sql.legacy.parquet.nanosAsLong`) and
    * plain TIMESTAMP micros. All engine code + every DuckDB oracle twin is
    * written against the epoch-nanos-long contract (D4, SURVEY §1.2) — and
    * DuckDB's `epoch_ns(ts)` yields the same nanos for either storage unit —
    * so here the micros representation is converted once at load:
    * unix_micros × 1000 in 64-bit integers (exact; micros ≈ 1.7e15 · 1000
    * fits long). TIMESTAMP_NTZ casts to TIMESTAMP under the session's pinned
    * UTC zone, which is instant-preserving. */
  def normalizeTs(df: DataFrame): DataFrame =
    df.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(TimestampType) | Some(TimestampNTZType) =>
        df.withColumn("ts", unix_micros(col("ts").cast(TimestampType)) * lit(1000L))
      case _ => df
    }

  /** Register every table as a temp view so ops can also run as Spark SQL. */
  def registerViews(spark: SparkSession, sfDir: String): Unit =
    names.foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))

  /** See [[OpRegistry.tWide]] — scan split counts per (app, table files,
    * split settings). */
  private[graft] val scanPartsMemo =
    scala.collection.concurrent.TrieMap[String, Int]()

  /** See [[graft.llm.VectorOps.embeddingDim]] — embedding dimensions per
    * (app, store path, store files). */
  private[graft] val embeddingDimMemo =
    scala.collection.concurrent.TrieMap[String, Int]()
}

object Helpers {
  /** D2: exact, order-independent money arithmetic. */
  def dec(c: Column): Column = c.cast(DecimalType(38, 6))

  /** D2 at the output boundary: money math stays DECIMAL(38,6) internally
    * (exact, order-independent), but emitted columns are DOUBLE — decimal128
    * parquet round-trips as python Decimal objects while DuckDB's pandas
    * bridge yields float64, so a decimal output column can never hash-match
    * even when values are identical (verified bit-identical once both sides
    * cast; VERDICT.md round 1 "What's wrong" #1). The oracle twins write the
    * same pattern literally: CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE). */
  def decSumOut(c: Column): Column = sum(dec(c)).cast("double")

  /** Cross-engine-safe rounding. Engine `round(double)` implementations
    * disagree at halfway points (Spark rounds the shortest decimal repr
    * HALF_UP; DuckDB rounds the exact binary value), so we never use them
    * in oracle-compared output. This formula is pure IEEE-754 arithmetic —
    * bit-identical in any engine given the same input double. The DuckDB
    * oracle uses the literal same formula (Helpers.r6Sql / r4Sql).
    */
  def rN(x: Column, digits: Int): Column = {
    val p = math.pow(10.0, digits.toDouble)
    floor(x * lit(p) + lit(0.5)) / lit(p)
  }
  def r6(x: Column): Column = rN(x, 6)
  def r4(x: Column): Column = rN(x, 4)
  /** DuckDB-side twin of rN for oracle SQL strings. */
  def rNSql(x: String, digits: Int): String = {
    val p = "1" + ("0" * digits)
    s"floor(($x) * $p + 0.5) / $p"
  }
  def r6Sql(x: String): String = rNSql(x, 6)
  def r4Sql(x: String): String = rNSql(x, 4)

  /** D3: cross-engine-stable average = safe-round(decimal_sum / count, 4). */
  def avg4(sumDec: Column, cnt: Column): Column =
    r4(sumDec.cast("double") / cnt)
  def avg4Sql(sumDec: String, cnt: String): String =
    r4Sql(s"CAST($sumDec AS DOUBLE) / ($cnt)")

  /** D4 epoch-long output: micros since epoch as BIGINT (`ts div 1000`).
    * IntegralDivide keeps the math in 64-bit integers; a double round-trip
    * would corrupt epoch-nanos (~1.7e18 > 2^53). */
  def tsDivMicros(tsNanos: Column): Column =
    call_function("div", tsNanos, lit(1000L))

  /** D4: epoch-nanos long -> TimestampType micros. */
  def tsMicros(tsNanos: Column): Column =
    timestamp_micros(tsDivMicros(tsNanos))

  /** §2.7 keep-first dedup: deterministic one-row-per-key via full tiebreak. */
  def keepFirst(df: DataFrame, keys: Seq[Column], tiebreak: Seq[Column]): DataFrame =
    df.withColumn("__rn",
        row_number().over(Window.partitionBy(keys: _*).orderBy(tiebreak: _*)))
      .filter(col("__rn") === 1)
      .drop("__rn")

  /** Exact GLOBAL running sum of `weight` in total order `sort`, without a
    * single-task global Window (r18, VERDICT r17 #3 — the scale-safe plan
    * for global rank/ntile/cumulative over a user-sized frame):
    * repartitionByRange on the sort key so each shard holds one contiguous
    * key range, a per-shard cumulative window (partitioned by
    * spark_partition_id — each task sorts only its slice), then the
    * earlier-shard prefix offsets merged back via a broadcast triangular
    * self-join over the P per-shard totals (P = shuffle partitions, never
    * data-sized). Range shard i < j ⇒ every key in i precedes every key in
    * j, so local_cum + offset IS the global running sum. `sort` must be a
    * TOTAL order (callers carry a key tiebreak); global row_number is the
    * weight-1 case. Output column is LongType.
    *
    * The ranged frame is pinned ([[Pin.shared]]): the per-shard totals and
    * the final join both read it, and unpinned, correctness would rely on
    * the range exchange re-running with identical __pid boundaries, true
    * only for deterministic inputs. */
  def rangedCumSum(df: DataFrame, weight: Column, sort: Seq[Column],
      out: String): DataFrame = {
    val parted = Pin.shared(df.repartitionByRange(sort: _*)
      .withColumn("__pid", spark_partition_id()))
    val w = Window.partitionBy(col("__pid")).orderBy(sort: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ptot = parted.groupBy(col("__pid"))
      .agg(sum(weight).cast("long").as("__ptot"))
    val earlier = ptot.select(col("__pid").as("__epid"),
      col("__ptot").as("__etot"))
    val offs = ptot.join(broadcast(earlier), col("__epid") < col("__pid"),
        "left")
      .groupBy("__pid")
      .agg(coalesce(sum(col("__etot")), lit(0L)).as("__off"))
    parted.withColumn("__lcum", sum(weight).over(w).cast("long"))
      .join(broadcast(offs), Seq("__pid"))
      .withColumn(out, col("__lcum") + col("__off"))
      .drop("__pid", "__lcum", "__off")
  }

  /** Global row_number in total order `sort` (see [[rangedCumSum]]). */
  def rangedRowNumber(df: DataFrame, sort: Seq[Column], out: String): DataFrame =
    rangedCumSum(df, lit(1L), sort, out)

  /** Exact ntile(k) reconstructed from a global rank + total count — the
    * ntile contract verbatim: the first n mod k buckets carry
    * ceil(n/k) rows, the rest floor(n/k). With [[rangedRowNumber]] this
    * gives bit-identical ntile semantics without the single-task global
    * sort ntile().over(Window.orderBy(..)) plans. Integer-only math
    * (IntegralDivide); the guarded q in the otherwise-branch is
    * unreachable when q = 0 (then rank <= cut always). Returns IntegerType
    * to match Spark's ntile. */
  def ntileFromRank(rank: Column, n: Column, k: Int): Column = {
    val q = call_function("div", n, lit(k.toLong))
    val rem = n % lit(k.toLong)
    val cut = rem * (q + lit(1L))
    when(rank <= cut,
        call_function("div", rank - 1, q + lit(1L)) + lit(1L))
      .otherwise(rem +
        call_function("div", rank - cut - 1, greatest(q, lit(1L))) + lit(1L))
      .cast("int")
  }
}

/** One §2 category = one registry object; SparkEntry flattens them. */
trait OpRegistry {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracleSql: Map[String, String]
  /** Convenience: table loader bound to the op's sfDir. */
  protected def t(spark: SparkSession, sfDir: String)(name: String): DataFrame =
    Tables.load(spark, sfDir, name)

  /** Loader for ops whose map-side work dominates (shingling, regex,
    * per-element vector math): a small single-file table is one parquet
    * row-group, so Spark's byte-range file splits give it ONE task and the
    * whole per-row pipeline runs single-threaded regardless of cores
    * (measured: the sf0.1 documents scan serialized ~2 s of shingling per
    * query). Round-robin repartition spreads it across the cluster; the
    * condition makes it a NO-OP at scale, where a 100 TB table already
    * scans as thousands of splits and a blind repartition would be a
    * pointless full-table shuffle. */
  protected def tWide(spark: SparkSession, sfDir: String)(name: String): DataFrame = {
    val df = Tables.load(spark, sfDir, name)
    val target = spark.sparkContext.defaultParallelism
    // the scan's split count is a pure function of (files, session conf) —
    // memoized because `.rdd.getNumPartitions` runs physical planning for
    // the scan on EVERY call, and this helper fronts most of the
    // text/vector registry (r19 optimization round). The key carries the
    // files' fingerprint and the split settings, so a table rewritten in
    // place or a changed split size is sized afresh.
    val path = s"$sfDir/$name.parquet"
    val key = (Seq(spark.sparkContext.applicationId, path,
        Tables.fingerprint(spark, path).getOrElse("")) ++
      Seq("maxPartitionBytes", "openCostInBytes", "minPartitionNum")
        .map(k => spark.conf.getOption("spark.sql.files." + k).getOrElse(""))).mkString("|")
    val n = Tables.scanPartsMemo.getOrElseUpdate(key, df.rdd.getNumPartitions)
    if (n < target) df.repartition(target) else df
  }
}
