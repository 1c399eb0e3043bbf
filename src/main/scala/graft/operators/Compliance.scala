package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Cross-store compliance (north-star addition; the reference's only
  * forgetting is whole-stream expiry, main.go:32-46 — per-subject
  * erasure across derived stores is new surface).
  *
  * The scenario is the right-to-be-forgotten ticket every production
  * retrieval stack owes its counsel: ONE take-down id set must
  * disappear from EVERY serving surface — lexical, positional, and
  * dense — without rebuilding any of them. Each store already honors
  * tombstones in its live view (VersionedTextIndex.livePostings /
  * livePositions, VersionedVectorIndex.liveCodes); the audit here proves
  * the composition: run every surface's query against the tombstoned
  * stores and emit the actual ranked lists, which the oracle must
  * reproduce from the live corpus alone — if any surface leaked an
  * erased subject, its list could not match a from-scratch live-corpus
  * restatement.
  */
object Compliance {

  /** Dense ranks over a BOUNDED integer-scored top list without a
    * window: collapse to one row, sort (score DESC, id), posexplode —
    * the q87 no-global-window discipline. Input is already LIMIT-ed,
    * so the collect_list is k-bounded. CALLER CONTRACT: never hand
    * this an unbounded frame — the single-row collect_list is only
    * safe because every caller passes a ≤k·|queries| index-probe
    * result; a corpus-sized input would buffer in one task.
    */
  private def rankedDesc(df: DataFrame, scoreCol: String,
                         idCol: String): DataFrame =
    df.select(col(idCol).as("id"), col(scoreCol).as("sc"))
      .agg(expr(
        """array_sort(transform(collect_list(struct(sc, id)),
             s -> struct(-s.sc AS ns, s.id AS id, s.sc AS sc)))""").as("a"))
      .select(posexplode(col("a")))
      .select((col("pos") + 1).cast("long").as("rnk"), col("col.id").as("id"),
        col("col.sc").as("sc"))

  /** Q127 — the post-erasure serving audit: BM25 (stored postings,
    * live view), exact phrase (stored positions, live view), and
    * IVF-PQ ADC (stored codes, live view) ranked lists after the SAME
    * subject id set was tombstoned in both stores — PLUS the RAW
    * document lake itself ([[graft.sources.FactStore]], `rawDir`): the
    * round-8 gap was that the indexes forgot the subject while the
    * source-of-truth table had no transactional takedown. The `raw`
    * surface emits one row per subject document still LIVE in the raw
    * store (none, when the erasure landed) and a `raw_total` row with
    * the live row count, so a leak OR an over-delete both break the
    * hash. One unified report (surface, qid, rnk, id, score), ordered
    * — every row is a claim "this id ranks here with this score on
    * this surface now", and the oracle restates all four surfaces from
    * the live corpus.
    *
    * Scale shape: identical to the underlying serving queries (each
    * leg file-pruned, anti-joins against broadcast tombstones) plus a
    * union of three ≤k·|queries| row lists; the raw leg is one
    * tombstone-filtered aggregate over the fact store (subject rows
    * are residue-filtered BEFORE the bounded rank window) — erasure
    * auditing costs three index probes and one raw-store pass, never
    * an unpruned corpus join.
    */
  def erasureAudit(spark: SparkSession, textDir: String, annDir: String,
                   terms: Seq[String], phrase: Seq[String], kLex: Int,
                   queries: DataFrame, kAnn: Int, nProbe: Int, denseFrom: Long,
                   rawDir: String, rawMod: Long, rawRes: Long): DataFrame = {
    val lex = rankedDesc(
      graft.sources.VersionedTextIndex.bm25(spark, textDir, terms, kLex),
      "score_micros", "doc_id")
      .select(lit("bm25").as("surface"), lit(0L).as("qid"), col("rnk"),
        col("id"), (col("sc").cast("double") / 1e6).as("score"))
    val phr = rankedDesc(
      TextAnalysis.phraseSearchStored(spark, textDir, phrase, kLex),
      "phrase_tf", "doc_id")
      .select(lit("phrase").as("surface"), lit(0L).as("qid"), col("rnk"),
        col("id"), col("sc").cast("double").as("score"))
    val ann = graft.sources.VersionedVectorIndex.serving(spark, annDir)
    val den = Similarity.ivfPqSearchFrames(queries, ann.model,
        ann.liveCodes.filter(col("vec_id") >= denseFrom), ann.nSub, kAnn, nProbe)
      .select(lit("ann").as("surface"), col("qid"), col("rnk"),
        col("vec_id").as("id"), col("adc").as("score"))
    // Raw-lake leg: live subject rows (expected none) + the live total.
    val rawLive = graft.sources.FactStore.read(spark, rawDir)
    val rawLeak = rankedDesc(
      rawLive.where(col("doc_id") % rawMod === rawRes)
        .select(col("doc_id"), lit(1L).as("one")),
      "one", "doc_id")
      .select(lit("raw").as("surface"), lit(0L).as("qid"), col("rnk"),
        col("id"), col("sc").cast("double").as("score"))
    val rawTotal = rawLive
      .agg(count(lit(1)).as("n"))
      .select(lit("raw_total").as("surface"), lit(0L).as("qid"),
        lit(0L).as("rnk"), col("n").as("id"), lit(0.0).as("score"))
    lex.unionByName(phr).unionByName(den)
      .unionByName(rawLeak).unionByName(rawTotal)
      .orderBy("surface", "qid", "rnk")
  }
}
