package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Schema-registry-backed table access (SURVEY.md §1.3).
  *
  * The reference discovers schemas at runtime from
  * information_schema (reference: src/_utils/database.py:101-138); here the
  * registry is static: every table the engine reads is named, and reads are
  * plain parquet scans so Catalyst gets pushdown + pruning for free.
  */
object Tables {
  /** All driver-generated test tables (TESTDATA.md). */
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The local session every entrypoint builds: `local[cores]` with as
    * many shuffle partitions, the session timezone pinned UTC (see
    * [[normalizeNtz]]), TIMESTAMP(NANOS) read as long (see [[events]])
    * and no UI. Callers add their own conf before `getOrCreate()`. */
  def localSession(cores: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")

  /** A main's log level: `level` at the root, and Spark's "No Partition
    * Defined for Window operation!" WARN held back as in the test log
    * config — every global window the catalog executes is on
    * UnpartitionedWindowSpec's allowlist of proven-bounded frames. Call
    * it once the context exists: Spark loads its default log4j2 profile
    * when the context starts, which would drop the logger level. */
  def setLogLevel(spark: SparkSession, level: String): Unit = {
    spark.sparkContext.setLogLevel(level)
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
  }

  /** Parquet scan with column pruning / predicate pushdown left to Catalyst.
    * All timestamp columns are normalized via [[normalizeNtz]] so downstream
    * operators see exactly one timestamp type regardless of how the fixture
    * minting round encoded them. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    normalizeNtz(spark.read.parquet(s"$dir/$name.parquet"))

  /** Timestamp-encoding normalization, in ONE shared place (the load path).
    *
    * The driver's test-data mints have used three parquet encodings across
    * rounds: TIMESTAMP(NANOS) (surfaced as LongType under
    * `spark.sql.legacy.parquet.nanosAsLong`), TIMESTAMP_MICROS with
    * `isAdjustedToUTC=0` (surfaced as TIMESTAMP_NTZ), and plain
    * instant-adjusted TIMESTAMP. Downstream code — epoch casts
    * (`cast("long")` is not valid from NTZ), `withWatermark` (refuses NTZ
    * event time), typed Datasets with `java.sql.Timestamp` fields (NTZ
    * decodes as `java.time.LocalDateTime`) — needs exactly one type, so
    * every NTZ column is cast to TimestampType here. The session timezone
    * is pinned UTC in every entrypoint ([[localSession]]), so the NTZ→TZ
    * cast preserves the wall clock and epoch-based comparisons match what
    * DuckDB's naive reads of the same files compute. */
  def normalizeNtz(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    val ntz = df.schema.fields.collect {
      case f if f.dataType == TimestampNTZType => f.name
    }
    ntz.foldLeft(df)((d, c) => d.withColumn(c, col(c).cast(TimestampType)))
  }

  /** Scan-parallelism guard for compute-heavy consumers (hashing,
    * tokenization, pairwise similarity): a parquet file is splittable only
    * at row-group boundaries, so a file written as ONE row group scans as
    * one task no matter how many cores exist — and every map-side
    * expression downstream runs single-threaded. Production tables at
    * 100 TB have thousands of row groups and never hit this; the
    * benchmark fixtures are single-row-group, so heavy pipelines insert
    * one explicit round-robin repartition (which Catalyst still pushes
    * filters and pruning through). Cheap scans must NOT use this — for a
    * plain aggregation the extra shuffle costs more than the parallelism
    * buys. */
  def parallelize(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val cores = spark.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < cores) df.repartition(cores) else df
  }

  /** `events` load, total over every `ts` encoding the mints have produced:
    * TIMESTAMP(NANOS) read as LongType (Spark has no nanosecond type —
    * truncate to micros, the same thing DuckDB's `epoch_ms`/`date_trunc`
    * comparisons see), and the NTZ/TZ micros encodings handled by
    * [[normalizeNtz]] inside [[load]]. A re-mint that switches encoding
    * again lands in one of these branches instead of breaking consumers. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    // Runtime-settable session conf; without it the scan aborts with
    // PARQUET_TYPE_ILLEGAL on TIMESTAMP(NANOS).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = load(spark, dir, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(floor(col("ts") / 1000L).cast("long")))
      case _ => df
    }
  }

  /** JSONC config scan (SURVEY.md §2.1 S6; reference
    * src/_utils/json_converters.py:25-32 strips comments by hand before
    * json.load): Jackson's comment support makes it a reader option. */
  def readJsonc(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema)
      .option("allowComments", "true")
      .option("multiLine", "true")
      .json(path)
}
