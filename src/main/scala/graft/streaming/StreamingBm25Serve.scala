package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming lexical serving — the stored inverted index
  * ([[graft.sources.VersionedTextIndex]]) answering a stream of
  * term-set queries: S19's pattern for the BM25 leg. Each microbatch
  * row is one query (qid, terms); each query costs a file-pruned read
  * of its own terms' posting buckets, so a serving stream never scans
  * corpus text and holds no streaming state — the on-disk postings are
  * the only model, shared by every concurrent query stream. Each
  * microbatch resolves the store's latest commit once and serves every
  * query of the batch from it, so q96 appends and q101 tombstone
  * deletes committed between batches are served by the very next
  * batch, and no batch mixes two versions.
  *
  * The per-batch driver iteration over query rows is bounded by the
  * MICROBATCH's query count (queries are small; the corpus-sized work
  * stays distributed inside each BM25 plan) — the bounded-model
  * driver convention of S17/S19.
  */
object StreamingBm25Serve {

  /** Score one microbatch of (qid: Long, terms: array<string>) rows
    * against the stored postings at `dir`. Returns (qid, doc_id, dl,
    * score_micros, score) — per qid, exactly
    * [[graft.sources.VersionedTextIndex.bm25]]'s ranking (StreamingSpec
    * S20 pins stream ≡ batch).
    */
  def scoreBatch(queries: DataFrame, dir: String, k: Int): DataFrame = {
    val spark = queries.sparkSession
    val V = graft.sources.VersionedTextIndex
    val v = V.currentVersion(spark, dir)
    val qs = queries.select(col("qid"), col("terms")).collect()
    val legs = qs.toSeq.map { r =>
      V.bm25(spark, dir, r.getSeq[String](1), k, v)
        .withColumn("qid", lit(r.getLong(0)))
        .select("qid", "doc_id", "dl", "score_micros", "score")
    }
    legs.reduceOption(_.unionAll(_)).getOrElse {
      // Empty microbatch: an empty frame with the serving schema.
      import spark.implicits._
      Seq.empty[(Long, Long, Long, Long, Double)]
        .toDF("qid", "doc_id", "dl", "score_micros", "score")
    }
  }
}
