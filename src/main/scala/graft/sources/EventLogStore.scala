package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Time-partitioned storage layout for the append-only event log.
  *
  * The reference keeps the whole log in one in-memory slice and every
  * delta query is O(total log) (model/eventStream.go:53, 63-71). The
  * scale-correct layout for the same log at 100 TB is parquet
  * partitioned by a coarse time bucket:
  *
  *   - The delta scan's range predicate `(lastKnown, serverT]` implies a
  *     bucket range on the partition column, so the planner prunes
  *     untouched partitions at *file-listing* time — the scan never
  *     opens them. I/O is O(delta), not O(log).
  *   - Within a bucket, files are written sorted by `(ts_us, event_id)`
  *     so parquet row-group min/max stats prune at sub-bucket
  *     granularity too.
  *   - Appends land in the newest bucket only — no rewrite of history,
  *     which is what an append-only log needs from object storage.
  *
  * Bucket size is a parameter: pick it so one bucket at production rate
  * is a few GB (e.g. hourly buckets), keeping both file counts and
  * task sizes sane at 1000 executors.
  */
object EventLogStore {

  /** Canonical row columns stored per event (partition column added). */
  private val rowCols = Seq("event_id", "ts_us", "user_id", "event_type", "value", "props")

  /** Write `events` (normalized schema from [[Tables.events]]) as a
    * time-partitioned log. `repartition` by bucket bounds files-per-
    * partition; the in-partition sort gives row-group stats their
    * pruning power.
    */
  def writePartitioned(events: DataFrame, outDir: String, bucketUs: Long): Unit =
    events
      .select(rowCols.map(col): _*)
      .withColumn("t_bucket", expr(s"ts_us div ${bucketUs}L"))
      .repartition(col("t_bucket"))
      .sortWithinPartitions("ts_us", "event_id")
      .write
      .partitionBy("t_bucket")
      .mode("overwrite")
      .parquet(outDir)

  /** Incremental append: a batch of new events lands in its buckets as
    * ADDITIONAL files — history is never rewritten (the object-store
    * append contract). The cost is small-file accumulation in the hot
    * buckets: every micro-ingest adds at least one file to each bucket
    * it touches. Pair with [[compact]] on a schedule.
    */
  def appendBatch(events: DataFrame, outDir: String, bucketUs: Long): Unit =
    events
      .select(rowCols.map(col): _*)
      .withColumn("t_bucket", expr(s"ts_us div ${bucketUs}L"))
      .repartition(col("t_bucket"))
      .sortWithinPartitions("ts_us", "event_id")
      .write
      .partitionBy("t_bucket")
      .mode("append")
      .parquet(outDir)

  /** Compact buckets whose file count exceeds `maxFilesPerBucket` down
    * to ~`targetBytesPerFile` files, leaving healthy buckets untouched
    * (dynamic partition overwrite rewrites only the buckets read). This
    * is the operational half of the time-partitioned store at scale:
    * unbounded ingest with bounded file counts.
    *
    * Files stay time-clustered: each compacted bucket is sliced into
    * `ceil(bytes / targetBytesPerFile)` CONTIGUOUS time ranges by pure
    * per-row math (`(ts_us mod bucket) · n / bucket` — no window, no
    * skew pivot), so row-group min/max pruning keeps working after
    * compaction. Returns the rewritten bucket ids.
    */
  def compact(
      spark: SparkSession,
      outDir: String,
      bucketUs: Long,
      maxFilesPerBucket: Int = 4,
      targetBytesPerFile: Long = 128L << 20): Seq[Long] = {
    import org.apache.hadoop.fs.Path
    val root = new Path(outDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val oversize = fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("t_bucket="))
      .flatMap { dir =>
        val files = fs.listStatus(dir.getPath).toSeq
          .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        if (files.length > maxFilesPerBucket)
          Some(dir.getPath.getName.stripPrefix("t_bucket=").toLong ->
            math.max(1L, (files.map(_.getLen).sum + targetBytesPerFile - 1) / targetBytesPerFile))
        else None
      }.toMap
    if (oversize.nonEmpty) {
      val prevMode = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      try {
        Parquet.read(spark, outDir)
          .filter(col("t_bucket").isin(oversize.keys.toSeq: _*))
          .withColumn("_nf", element_at(typedlit(oversize), col("t_bucket")))
          .withColumn("_slice",
            (((col("ts_us") % bucketUs) * col("_nf")) / bucketUs).cast("int"))
          .repartition(col("t_bucket"), col("_slice"))
          .drop("_nf", "_slice")
          .sortWithinPartitions("ts_us", "event_id")
          .write
          .partitionBy("t_bucket")
          .mode("overwrite")
          .parquet(outDir)
      } finally prevMode match {
        case Some(m) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", m)
        case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
    }
    oversize.keys.toSeq.sorted
  }

  /** Parquet file count per bucket — the compaction health metric. */
  def bucketFileCounts(spark: SparkSession, outDir: String): Map[Long, Int] = {
    import org.apache.hadoop.fs.Path
    val root = new Path(outDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("t_bucket="))
      .map { dir =>
        dir.getPath.getName.stripPrefix("t_bucket=").toLong ->
          fs.listStatus(dir.getPath).count(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      }.toMap
  }

  /** Delta event scan over the partitioned layout — same contract as
    * [[graft.operators.EventLog.deltaEvents]] (`lastKnown < ts_us <=
    * serverT`, total `(ts_us, event_id)` order), plus an equivalent
    * bucket-range predicate on the partition column. The bucket range is
    * derivable from the row predicate (`ts_us > a  ⇒  bucket >=
    * (a+1) div B`; `ts_us <= b  ⇒  bucket <= b div B` for non-negative
    * times), but Catalyst does not infer it across the div, so we state
    * it explicitly — it shows up in the scan's PartitionFilters.
    */
  def deltaEvents(
      spark: SparkSession,
      dir: String,
      lastKnownUs: Long,
      serverTUs: Long,
      bucketUs: Long): DataFrame = {
    val loBucket = (lastKnownUs + 1) / bucketUs
    val hiBucket = serverTUs / bucketUs
    Parquet.read(spark, dir)
      .filter(
        col("t_bucket") >= loBucket && col("t_bucket") <= hiBucket &&
          col("ts_us") > lastKnownUs && col("ts_us") <= serverTUs)
      .select(rowCols.map(col): _*)
      .orderBy("ts_us", "event_id")
  }
}
