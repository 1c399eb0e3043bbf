package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.PortableHash.hash48

/** Persisted unigram language model — the train-once / serve-many
  * closure for the q49 LM quality scorer: `build` scans the reference
  * corpus once and materializes the word-frequency table + the one-row
  * token total; scoring an ARRIVING candidate batch then joins the
  * batch's tokens against the stored table instead of re-deriving the
  * model per scoring run ([[graft.operators.Pipeline.lmScoreStored]]).
  * This is how LM-based quality filtering actually deploys: the model
  * comes from a fixed reference corpus (the KenLM-on-Wikipedia
  * pattern), candidates stream through it.
  *
  * Layout under `dir`:
  *   - `vocab/` — count SEGMENTS (word, n_w) PARTITIONED BY `w_bucket
  *     = hash48(word) mod nBuckets`; the serving view ([[vocab]]) is
  *     the per-word NET across segments (appends positive, deletes
  *     negative — see the maintenance doc below). Scoring joins on
  *     `word`, so bucketing is not a per-query pruning device like
  *     [[VersionedTextIndex]]'s (every batch token needs a lookup) — it
  *     bounds file sizes and keeps the store layout consistent with
  *     the postings convention.
  *   - `stats/` — ONE row (n_total).
  *
  * At 100 TB the vocabulary is the type table (millions of rows, far
  * smaller than the corpus); the scoring join shuffles batch tokens
  * against it by word — the candidate batch, never the reference
  * corpus, is the moving side.
  */
object LmStore {

  def build(docs: DataFrame, dir: String, nBuckets: Int): Unit = {
    // ONE tokenization: the segment's per-word counts also yield the
    // token total (n_total = Σ n_w of what was just written).
    val seg = segCounts(docs).persist()
    writeSegment(seg, dir, nBuckets, sign = 1L, mode = "overwrite")
    seg.agg(coalesce(sum("n_w"), lit(0L)).as("n_total"))
      .write.mode("overwrite").parquet(s"$dir/stats")
    seg.unpersist()
    // A rebuild is a new model: the delete ledger of the old one must
    // not swallow future takedowns against fresh content.
    val led = new org.apache.hadoop.fs.Path(s"$dir/deleted_ids")
    led.getFileSystem(docs.sparkSession.sparkContext.hadoopConfiguration).delete(led, true)
  }

  /** Maintenance is LOG-STRUCTURED (the LSM/compacted-topic shape,
    * deliberately contrasting the tombstone-id sets of
    * [[VersionedTextIndex]]/[[VersionedVectorIndex]]): the stored table is a
    * stack of count SEGMENTS and the serving view ([[vocab]]) sums
    * them per word. [[append]] writes the new batch's counts as a
    * positive segment; [[deleteDocs]] writes the deleted docs' counts
    * NEGATED — an aggregated store has no per-doc rows to tombstone,
    * so the caller supplies the doc content (in production, a
    * [[DocStore]] lookup) and subtraction happens at read time.
    * [[compact]] folds the segment stack into one net row per word,
    * dropping words whose net count reached zero.
    */
  def append(spark: SparkSession, dir: String, newDocs: DataFrame,
             nBuckets: Int): Unit = synchronized {
    advance(spark, dir, newDocs, nBuckets, sign = 1L)
    // Re-ingest of a previously-deleted doc works by pure count
    // algebra (its negative segment nets against the fresh positive
    // one) — but the delete LEDGER must forget the id, or a FUTURE
    // takedown of the re-ingested doc would be swallowed as a
    // duplicate.
    unrecordDeleted(spark, dir,
      newDocs.select(col("doc_id").cast("long").as("doc_id")).distinct())
  }

  /** Remove documents from the model: their per-word counts enter as a
    * negative segment and the token total retreats — after which
    * [[vocab]] (and every score) equals a model built on the live
    * corpus (PipelineSpec pins this). IDEMPOTENT under retries and
    * overlapping batches: a per-doc delete LEDGER (`deleted_ids/`)
    * filters out ids already subtracted, so a replayed takedown tick
    * cannot double-subtract (segments alone can't tell — they hold no
    * per-doc rows).
    */
  def deleteDocs(spark: SparkSession, dir: String, delDocs: DataFrame,
                 nBuckets: Int): Unit = synchronized {
    val newDead = delDocs
      .join(broadcast(deletedIds(spark, dir)), Seq("doc_id"), "left_anti")
    if (newDead.isEmpty) return
    advance(spark, dir, newDead, nBuckets, sign = -1L)
    newDead.select(col("doc_id").cast("long").as("doc_id")).distinct()
      .write.mode("append").parquet(s"$dir/deleted_ids")
  }

  /** The delete ledger (doc_id) — empty when no delete has ever run. */
  def deletedIds(spark: SparkSession, dir: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/deleted_ids")
    if (p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      Parquet.read(spark, s"$dir/deleted_ids")
    else {
      import spark.implicits._
      spark.emptyDataset[Long].toDF("doc_id")
    }
  }

  private def unrecordDeleted(spark: SparkSession, dir: String, ids: DataFrame): Unit = {
    import org.apache.hadoop.fs.Path
    val p = new Path(s"$dir/deleted_ids")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return
    val led = Parquet.read(spark, p.toString)
    if (led.join(broadcast(ids), Seq("doc_id"), "left_semi").isEmpty) return
    val tmp = new Path(s"$dir/deleted_ids_rewriting")
    fs.delete(tmp, true)
    led.join(broadcast(ids), Seq("doc_id"), "left_anti")
      .write.mode("overwrite").parquet(tmp.toString)
    fs.delete(p, true)
    require(fs.rename(tmp, p), s"ledger rewrite swap failed for $dir")
  }

  private def advance(spark: SparkSession, dir: String, docs: DataFrame,
                      nBuckets: Int, sign: Long): Unit = {
    // ONE tokenization serves both the segment and the stats delta.
    val seg = segCounts(docs).persist()
    val batch = seg.agg(coalesce(sum("n_w"), lit(0L))).first().getLong(0)
    if (batch == 0L) { seg.unpersist(); return }
    val old = stats(spark, dir).first()
    writeSegment(seg, dir, nBuckets, sign, mode = "append")
    import spark.implicits._
    Seq(old.getLong(0) + sign * batch).toDF("n_total")
      .write.mode("overwrite").parquet(s"$dir/stats")
    seg.unpersist()
  }

  /** Fold the segment stack into one net row per word (one file per
    * bucket; zero-or-negative nets dropped), scratch + rename swap,
    * summed instead of anti-joined. Serving reads are IDENTICAL before
    * and after. The swap is not a transaction: a crash between the
    * delete and the rename leaves only the scratch dir, which holds the
    * complete new table (recovery = finish the rename).
    */
  def compact(spark: SparkSession, dir: String): Unit = synchronized {
    import org.apache.hadoop.fs.Path
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(s"$dir/vocab_compacting")
    fs.delete(tmp, true)
    rawSegments(spark, dir)
      .groupBy("word", "w_bucket").agg(sum("n_w").as("n_w"))
      .filter(col("n_w") > 0)
      .repartition(col("w_bucket"))
      .sortWithinPartitions("word")
      .write.partitionBy("w_bucket").mode("overwrite").parquet(tmp.toString)
    val live = new Path(s"$dir/vocab")
    fs.delete(live, true)
    require(fs.rename(tmp, live), s"compaction swap failed for $dir")
  }

  private def segCounts(docs: DataFrame): DataFrame =
    Tables.widen(docs)
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n_w"))

  private def writeSegment(seg: DataFrame, dir: String, nBuckets: Int,
                           sign: Long, mode: String): Unit =
    seg
      .withColumn("n_w", col("n_w") * sign)
      .withColumn("w_bucket", pmod(expr(hash48("word")), lit(nBuckets.toLong)))
      .repartition(col("w_bucket"))
      .sortWithinPartitions("word")
      .write.partitionBy("w_bucket").mode(mode).parquet(s"$dir/vocab")

  private def rawSegments(spark: SparkSession, dir: String): DataFrame =
    Parquet.read(spark, s"$dir/vocab")
      .select(col("word"), col("n_w"), col("w_bucket").cast("long").as("w_bucket"))

  /** The SERVING view of the frequency table (word, n_w): net count
    * per word across all segments, zero-or-negative nets invisible.
    * One aggregation over the type table — model-sized, not
    * corpus-sized work.
    */
  def vocab(spark: SparkSession, dir: String): DataFrame =
    rawSegments(spark, dir)
      .groupBy("word").agg(sum("n_w").as("n_w"))
      .filter(col("n_w") > 0)

  /** The one-row token total (n_total). */
  def stats(spark: SparkSession, dir: String): DataFrame =
    Parquet.read(spark, s"$dir/stats")
}
