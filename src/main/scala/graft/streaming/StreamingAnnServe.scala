package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{IvfPqModel, Similarity}

/** Streaming ANN serving — the trained, PERSISTED IVF-PQ index
  * ([[graft.sources.VersionedVectorIndex]]) answering a continuous stream
  * of query vectors: the S17 broadcast-model pattern (Classifier
  * .scoreWith) applied to the vector index. Each microbatch of
  * queries (qid, embedding) runs [[Similarity.ivfPqSearchFrames]]
  * against the STATIC stored artifacts — a stream-static join shape:
  * the stream side is the bounded query batch, the static side is the
  * cid-partitioned code table, and the per-batch read is only the
  * probed cells' code files.
  *
  * Statelessness is the scale property: serving holds NO streaming
  * state (no watermark, no state store) — the "state" is the index
  * artifact on disk, shared by every batch and every concurrent
  * query stream, which is what lets one trained index fan out to any
  * number of serving queries. Index maintenance and serving compose:
  * [[scoreBatchVersioned]] resolves the store's manifest per
  * microbatch and therefore serves a commit (append, delete, compact,
  * reindex) from the very next batch; [[scoreBatch]] over captured
  * frames is the frozen-snapshot variant.
  */
object StreamingAnnServe {

  /** Score ONE microbatch of query vectors (qid, embedding float[64])
    * against a stored index's model and code table. Usable directly
    * under foreachBatch; pure — the same batch against the same
    * artifacts gives the same ranking, so stream results replayed
    * batch-at-a-time equal the one-shot batch call (StreamingSpec pins
    * this).
    */
  def scoreBatch(queries: DataFrame, model: IvfPqModel,
                 codes: DataFrame, nSub: Int, k: Int, nProbe: Int): DataFrame = {
    // foreachBatch hands over a CLONED session, and the combined plan
    // resolves against the STATIC side's session — re-registering the
    // bounded-buffer top-k aggregators on both is idempotent and keeps
    // this callable from any microbatch context.
    graft.GraftSession.registerUdafs(queries.sparkSession)
    graft.GraftSession.registerUdafs(codes.sparkSession)
    val q = queries.select(col("qid"),
      col("embedding").cast("array<double>").as("emb"))
    Similarity.ivfPqSearchFrames(q, model, codes, nSub, k, nProbe)
  }

  /** [[scoreBatch]] against the stored index at `dir`: each
    * microbatch resolves one committed snapshot and serves exactly its
    * file list — never a torn mix of two versions while a writer is
    * mid-flight. Maintenance commits landing between microbatches are
    * served by the very next batch: appended vectors rank, tombstoned
    * ids disappear (the live view), and a reindex is a zero-downtime
    * model swap at a batch boundary (S19b/S19c/S21 pin all three).
    * Passing a pinned `version` instead serves that version forever —
    * in-stream time travel, the reproducible-replay knob (S21 pins a
    * pinned stream riding through a reindex unchanged). `corpusFrom`
    * excludes low vec_ids (the query-batch convention of the q89
    * family).
    */
  def scoreBatchVersioned(queries: DataFrame, dir: String, k: Int, nProbe: Int,
                          corpusFrom: Long = 0L,
                          version: Long = graft.sources.VersionedVectorIndex.Latest): DataFrame = {
    val a = graft.sources.VersionedVectorIndex.serving(queries.sparkSession, dir, version)
    scoreBatch(queries, a.model,
      a.liveCodes.filter(col("vec_id") >= corpusFrom), a.nSub, k, nProbe)
  }
}
