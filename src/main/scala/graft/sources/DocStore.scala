package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Snapshot

/** Id-partitioned storage layout for the document corpus, plus the
  * diff-driven incremental refresh that pairs with
  * [[graft.operators.Snapshot.diff]].
  *
  * Layout: parquet partitioned by `d_bucket = doc_id div span` — RANGE
  * buckets, not hash, because corpus churn is id-local (a crawl refresh
  * appends new ids at the tail and revises a subset of old ones), so a
  * diff touches few buckets; a hash layout would smear any diff across
  * every partition and force a full rewrite. Within a bucket files are
  * sorted by `doc_id`, so point/range lookups prune at row-group level.
  *
  * Refresh contract ([[applyDiff]]): compare the stored corpus against
  * the new snapshot content-hash-wise — the comparison shuffles
  * 32 bytes/doc, never text — and rewrite ONLY the buckets owning an
  * added/removed/changed doc, via dynamic partition overwrite. At
  * 100 TB with a 1% churn crawl this rewrites ~1% of the store instead
  * of re-materializing it; unchanged buckets' files are untouched
  * (byte-for-byte, spec-pinned), which also keeps object-store caches
  * and downstream incremental consumers valid.
  */
object DocStore {

  private val rowCols = Seq("doc_id", "text", "lang", "source", "n_chars")

  private def withBucket(docs: DataFrame, span: Long): DataFrame =
    docs.select(rowCols.map(col): _*)
      .withColumn("d_bucket", expr(s"doc_id div ${span}L"))

  /** Materialize `docs` as the id-partitioned store. */
  def write(docs: DataFrame, outDir: String, span: Long): Unit =
    withBucket(docs, span)
      .repartition(col("d_bucket"))
      .sortWithinPartitions("doc_id")
      .write
      .partitionBy("d_bucket")
      .mode("overwrite")
      .parquet(outDir)

  /** The stored corpus (canonical column set, bucket column retained). */
  def read(spark: SparkSession, dir: String): DataFrame =
    Parquet.read(spark, dir)

  /** Id-range lookup over the partitioned layout. The bucket range is
    * implied by the row predicate but Catalyst does not infer it across
    * the div, so it is stated explicitly — partition pruning happens at
    * file-listing time (PartitionFilters), and the within-bucket sort
    * gives row-group min/max stats the rest. I/O is O(matching
    * buckets), not O(corpus).
    */
  def lookup(spark: SparkSession, dir: String, loId: Long, hiId: Long, span: Long): DataFrame =
    read(spark, dir)
      .filter(
        col("d_bucket") >= loId / span && col("d_bucket") <= hiId / span &&
          col("doc_id") >= loId && col("doc_id") <= hiId)
      .select(rowCols.map(col): _*)
      .orderBy("doc_id")

  /** Refresh the store to match `newSnapshot`, rewriting only the
    * buckets the content diff touches. Returns the rewritten bucket ids
    * (empty ⇒ the store was already current). Buckets whose docs were
    * ALL removed have no rows in the new snapshot — dynamic overwrite
    * cannot clear those, so their partition directories are deleted
    * explicitly.
    */
  /** Driver-side guard for [[applyDiff]]'s touched-bucket collect. The
    * collect is bounded by the BUCKET count, not the doc count, and
    * id-local churn keeps it small — but that is an assumption about
    * the workload, so it is asserted, not trusted: a diff touching more
    * buckets than this fails fast (at which point an incremental
    * rewrite is the wrong tool anyway — a full [[write]] costs the same
    * and needs no driver-side bucket list).
    */
  val MaxTouchedBuckets: Long = 1000000L

  def applyDiff(
      spark: SparkSession,
      storeDir: String,
      newSnapshot: DataFrame,
      span: Long,
      maxTouchedBuckets: Long = MaxTouchedBuckets): Seq[Long] = {
    import spark.implicits._
    val stored = read(spark, storeDir)
    // Bucket ids of every non-unchanged doc. The collect is guarded by
    // a LIMIT cap+1 (one job, driver memory bounded by the cap itself),
    // so a churn-locality violation surfaces as a crisp error instead
    // of a driver OOM.
    val touched0 = Snapshot.diff(stored, newSnapshot)
      .filter(col("status") =!= "unchanged")
      .select(expr(s"doc_id div ${span}L").as("d_bucket"))
      .distinct()
      .limit((maxTouchedBuckets + 1).toInt)
      .as[Long].collect()
    require(
      touched0.length <= maxTouchedBuckets,
      s"applyDiff touches > $maxTouchedBuckets buckets (the cap): churn is not id-local " +
        "here — rewrite the store with DocStore.write instead of an incremental diff")
    val touched = touched0.sorted.toSeq
    if (touched.nonEmpty) {
      val replacement = withBucket(newSnapshot, span)
        .filter(col("d_bucket").isin(touched: _*))
      val nonEmptyBuckets = replacement.select("d_bucket").distinct().as[Long].collect().toSet
      if (nonEmptyBuckets.nonEmpty) {
        val prevMode = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try {
          replacement
            .repartition(col("d_bucket"))
            .sortWithinPartitions("doc_id")
            .write
            .partitionBy("d_bucket")
            .mode("overwrite")
            .parquet(storeDir)
        } finally prevMode match {
          case Some(m) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", m)
          case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
        }
      }
      // Fully-emptied buckets: no replacement rows, drop the partition.
      import org.apache.hadoop.fs.Path
      val fs = new Path(storeDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      (touched.toSet -- nonEmptyBuckets).foreach { b =>
        fs.delete(new Path(storeDir, s"d_bucket=$b"), true)
      }
    }
    touched
  }
}
