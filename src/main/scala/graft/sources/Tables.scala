package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, unix_micros}
import org.apache.spark.sql.types.{DataType, LongType, TimestampNTZType, TimestampType}

/** Parquet table catalog over the driver testdata layout
  * (`<dir>/<name>.parquet`, see /root/repo/TESTDATA.md).
  *
  * Reference analog: mrjob resolves input paths/globs and streams lines
  * (mrjob/runner.py:1069-1091, mrjob/cat.py:79-115). Here the catalog is
  * columnar from the start: `spark.read.parquet` gives Catalyst a real
  * schema, so column pruning and predicate pushdown reach the scan —
  * load-bearing at 100 TB, where "read only 2 of 16 columns" is the
  * difference between minutes and hours.
  */
object Tables {
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Spread an UNDER-SPLIT input across the executors before CPU-heavy
    * per-row work (tokenize/shingle/hash pipelines): the test corpus is
    * a single-row-group parquet file — the same shape as a gzip text
    * input at production scale — so the scan yields ONE partition and
    * everything above it runs single-threaded unless redistributed
    * (r14: doc_sim_sparse ran its whole tokenize→tf→champion→pair
    * pipeline on 1 of 32 cores). CONDITIONAL, unlike a bare
    * `repartition(n)`: a source that already scans at ≥ the session
    * parallelism passes through untouched, so at cluster scale — where
    * the input is split — no wasted full-corpus round-robin exchange
    * is added.
    *
    * PRECONDITION (r14 advice #2): pass a SCAN-shaped frame only —
    * `df.rdd.getNumPartitions` is job-free for a raw file scan, but
    * under AQE a frame with a shuffle upstream would eagerly EXECUTE
    * those query stages at plan-construction time just to answer the
    * probe. Every caller today passes a bare `Tables.load` projection;
    * keep it that way (or switch the probe to the logical scan
    * relation before widening the contract). */
  def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= target) df else df.repartition(target)
  }

  /** Size-adaptive task count: `n` rows at `perTask` rows a task,
    * at least 1 and at most the session parallelism. */
  def width(spark: SparkSession, n: Long, perTask: Long): Int =
    math.max(1L, math.min(spark.sparkContext.defaultParallelism.toLong,
      (n + perTask - 1L) / perTask)).toInt

  /** Projection of an events `ts` column to epoch-micros BIGINT across
    * every physical encoding the table has shipped with: TIMESTAMP /
    * TIMESTAMP_NTZ (current parquet, micros precision) and the legacy
    * nanos-since-epoch BIGINT (what `nanosAsLong` produced from the
    * old ns-precision files). mrjob is schema-agnostic by construction
    * (protocols decode whatever arrives — mrjob/protocol.py:91); the
    * engine's analog is normalizing declared column types at load
    * instead of assuming one physical encoding.
    *
    * The NTZ leg reads the wall clock AS UTC (matching the oracle's
    * `epoch_us(ts)` on DuckDB's naive timestamp) with NO session-
    * timezone dependence: the wall-clock fields — all timezone-free on
    * an NTZ value — are rebuilt into an instant via
    * `make_timestamp(..., 'UTC')`. A `cast(ts AS TIMESTAMP)` would
    * interpret the wall clock in the SESSION timezone instead, which
    * is only right when the session runs UTC — graft entry points do
    * set UTC, but a library caller's pre-existing session may not
    * (SparkSession.builder.getOrCreate silently ignores configs when a
    * session already exists). */
  def epochMicros(tsType: DataType): Column = tsType match {
    case TimestampType    => unix_micros(col("ts"))
    case TimestampNTZType => expr(
      "unix_micros(make_timestamp(year(ts), month(ts), day(ts), " +
        "hour(ts), minute(ts), extract(SECOND FROM ts), 'UTC'))")
    case LongType         => expr("ts DIV 1000") // legacy epoch nanos
    case t => throw new IllegalArgumentException(
      s"events.ts: unsupported physical type $t")
  }

  /** The events table with a normalized `ts_us` (epoch micros BIGINT)
    * column appended — the single load point every events query and
    * stream goes through, so a testdata re-encode is absorbed here. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val df = load(spark, dir, "events")
    df.withColumn("ts_us", epochMicros(df.schema("ts").dataType))
  }
}
