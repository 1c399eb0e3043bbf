package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Central table registry over the driver test data
  * (`/root/testdata/sf{N}/{name}.parquet`, see TESTDATA.md).
  *
  * Every query builder goes through here so schema normalization is
  * done exactly once and identically everywhere.
  */
object Tables {

  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  /** Normalized events table. The contract every downstream operator
    * relies on, regardless of how the parquet file encodes event time:
    *   - `ts`:  TimestampType (microsecond precision, UTC session TZ) —
    *     for date/window functions AND for scan-range predicates; when
    *     the file stores a parquet TIMESTAMP this is the raw scan column,
    *     so range filters land in PushedFilters and prune row groups.
    *   - `ts_us`: epoch-microseconds Long — the canonical cross-engine
    *     arithmetic column (DuckDB: `epoch_us(ts)`).
    *   - `ts_ns`: epoch-nanoseconds Long (the reference keeps event time
    *     as an int64 tick, event.go:8; an integer column is the faithful
    *     analogue).
    *
    * The reader BRANCHES ON THE ACTUAL READ SCHEMA instead of assuming a
    * fixed encoding — Spark 4.1 removed `spark.sql.legacy.parquet
    * .nanosAsLong`, and the testdata has been re-encoded from
    * TIMESTAMP(NANOS) to TIMESTAMP(MICROS) across environment updates;
    * assuming either shape breaks every events query the moment the
    * environment moves. Three shapes are handled:
    *   - LongType (nanos-as-long legacy conf, older Sparks): `ts_us =
    *     ts_ns div 1000` — exact floor division, matching DuckDB's
    *     ns→us truncation.
    *   - TimestampType (tz-adjusted parquet, or NTZ inference disabled):
    *     raw column kept as `ts`; `ts_us = unix_micros(ts)`.
    *   - TimestampNTZType (Spark ≥3.4 default for tz-less parquet):
    *     session TZ is pinned UTC, so NTZ wall time ≡ UTC instant;
    *     cast to TimestampType then as above.
    * GraftSession disables NTZ inference so the TimestampType branch —
    * the one with raw-column predicate pushdown — is the one taken.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = Parquet.read(spark, path(dir, "events"))
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw
          .withColumnRenamed("ts", "ts_ns")
          .withColumn("ts_us", expr("ts_ns div 1000"))
          .withColumn("ts", timestamp_micros(col("ts_us")))
      case org.apache.spark.sql.types.TimestampType =>
        raw
          .withColumn("ts_us", unix_micros(col("ts")))
          .withColumn("ts_ns", col("ts_us") * 1000L)
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw
          .withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
          .withColumn("ts_us", unix_micros(col("ts")))
          .withColumn("ts_ns", col("ts_us") * 1000L)
      case other =>
        throw new IllegalStateException(
          s"events.parquet ts column has unsupported type $other — " +
            "extend Tables.events for this encoding")
    }
  }

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir)
    else Parquet.read(spark, path(dir, name))

  /** Ingest-parallelism guard for per-row-heavy operators (MinHash,
    * SimHash, cosine folds, tokenization): if the scan yields fewer
    * splits than the session's parallelism — a small corpus in one file,
    * or a few huge row groups — redistribute before burning CPU on one
    * core. On a well-partitioned large corpus (splits >= cores) this is
    * a no-op, so it adds no shuffle at scale; the repartition itself
    * moves only the raw rows, which is always cheaper than serializing
    * the downstream compute.
    */
  def widen(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    // File count (a listing lookup) instead of rdd.getNumPartitions —
    // the latter forces a full physical planning of the scan per call.
    // One file CAN split into several partitions (maxPartitionBytes),
    // so this may widen when it strictly needn't; the repartition moves
    // only raw rows and a many-files-at-scale corpus short-circuits it.
    // Non-file-backed frames (unit-test fixtures, foreachBatch
    // microbatches) have no input files; for those the planning cost is
    // trivial (LocalRelation / in-memory scan), so fall back to the
    // actual partition count rather than silently skipping the widen.
    // (.rdd is illegal on a streaming frame — those widen downstream,
    // per-microbatch, so a no-op here is correct, not a regression.)
    if (df.isStreaming) return df
    val nSplits = df.inputFiles.length match {
      case 0 => df.rdd.getNumPartitions
      case n => n
    }
    if (nSplits > 0 && nSplits < target) df.repartition(target) else df
  }

  /** Register all tables as temp views (for spark.sql surfaces/tests). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    all.foreach(n => table(spark, dir, n).createOrReplaceTempView(n))
}
