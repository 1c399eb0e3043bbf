package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.PortableHash.hash48
import graft.sources.{ManifestLog => M}

/** Manifest-versioned inverted index — the train-once / serve-many
  * lexical store: `build` scans the corpus once and materializes the
  * postings; every later query reads ONLY its own terms' posting
  * buckets and the one-row corpus stats, never the text. q86's
  * per-query path recomputes df/avgdl with a full corpus scan; against
  * the store the same ranking (bit-identical — the oracle is shared
  * verbatim) costs a file-pruned postings read of the query terms.
  *
  * The corpus stats are a SEGMENT like any other — every
  * maintenance commit writes a new immutable one-row stats segment and
  * publishes it in the SAME manifest as its postings/tombstone change,
  * so a reader sees postings and stats move together, atomically, or
  * not at all. BM25 is the consistency-sensitive case: df derives from
  * the (pruned, live) postings read while n_docs/avgdl come from the
  * stats row — a torn pair skews every score.
  *
  * Segment kinds: `postings` (term, doc_id, tf, dl, PARTITIONED BY
  * `t_bucket = hash48(term) mod nBuckets` — the serving layout; a
  * query's terms prune every other bucket at file level within each
  * segment, and `term IN (...)` pushes to parquet; `dl` is denormalized
  * into the row so scoring never joins a doc-length table),
  * `positions` (term, doc_id, positions, same bucketing — the
  * proximity index, written by every operation that writes postings,
  * for the same docs), `stats` (ONE row (n_docs, total_dl); exactly
  * one stats segment referenced per version), `tombstones` (deleted
  * doc_ids, VERSION-SCOPED: a tombstone retires only generations
  * committed before it, which is what makes the single-commit
  * [[upsert]] sound). Per-term document frequency is NOT stored: it is
  * the term's own live posting-row count, exact from the pruned read.
  * meta records nBuckets — the store is self-describing, appends
  * cannot mis-bucket, and serving reads the bucket count from the
  * snapshot it serves.
  *
  * Compaction is ADD-only (the [[VersionedVectorIndex.compact]]
  * contract) and — because stats were already adjusted at delete time —
  * simply CARRIES FORWARD the prior stats segment by reference: zero
  * stats rewrite, provably unchanged numbers.
  */
object VersionedTextIndex {

  type Segment = M.Segment
  type Snapshot = M.Snapshot

  /** Sentinel for "latest committed version". */
  val Latest: Long = M.Latest

  def currentVersion(spark: SparkSession, dir: String): Long =
    M.currentVersion(spark, dir)

  def snapshot(spark: SparkSession, dir: String, version: Long = Latest): Snapshot =
    M.snapshot(spark, dir, version)

  // ----------------------------------------------------- segment write

  /** Unique segment dir name — version+op prefix for humans, UUID
    * suffix so racing cross-process committers can never write into
    * the same directory (the [[VersionedVectorIndex]] contract).
    */
  private def segName(v: Long, op: String): String =
    f"seg-$v%08d-$op-${java.util.UUID.randomUUID().toString.take(8)}"

  /** (doc_id, text …, words, dl) — the ONE length/tokenization
    * convention of postings, positions and stats.
    */
  private def docLengths(docs: DataFrame): DataFrame =
    Tables.widen(docs)
      .withColumn("words", split(col("text"), " "))
      .withColumn("dl", size(col("words")).cast("long"))

  /** (term, doc_id, dl, positions, t_bucket): per (term, doc) the
    * SORTED 0-based token offsets of every occurrence — the ONE
    * tokenized, grouped frame both doc segments derive from, and the
    * ONE definition of the bucketing formula; [[bucketOf]] is its Scala
    * twin, and a drift between them would silently prune the wrong
    * buckets at serve time.
    */
  private def termsFrame(docs: DataFrame, nBuckets: Int): DataFrame =
    docLengths(docs)
      .select(col("doc_id"), col("dl"), posexplode(col("words")).as(Seq("pos", "term")))
      .groupBy("term", "doc_id", "dl")
      .agg(sort_array(collect_list(col("pos").cast("long"))).as("positions"))
      .withColumn("t_bucket", pmod(expr(hash48("term")), lit(nBuckets.toLong)))

  /** The postings frame (term, doc_id, dl, tf, t_bucket): postings are
    * positions with `tf = size(positions)`. */
  private def postingsFrame(terms: DataFrame): DataFrame =
    terms.select(col("term"), col("doc_id"), col("dl"),
      size(col("positions")).cast("long").as("tf"), col("t_bucket"))

  /** Positional postings (term, doc_id, positions, t_bucket), bucketed
    * like the postings so a phrase query's terms file-prune exactly as
    * BM25's do. A separate segment kind, not a postings column, because
    * offsets are the heavy payload (Σtf longs vs one tf per row) and
    * frequency-only queries must not scan past them.
    */
  private def positionsFrame(terms: DataFrame): DataFrame =
    terms.select(col("term"), col("doc_id"), col("positions"), col("t_bucket"))

  /** The bucket a term's rows live in — the Scala twin of the build's
    * `hash48(term) mod nBuckets` (VersionedTextIndexSpec pins the
    * Scala and SQL hash48 bit-equal on the corpus vocabulary), used to
    * push the bounded bucket list into the scan as a partition filter.
    */
  def bucketOf(term: String, nBuckets: Int): Long =
    java.lang.Math.floorMod(graft.streaming.SyncCore.hash48(term), nBuckets.toLong)

  /** Write an already-bucketed frame (postings or positions) as an
    * immutable `kind` segment: one file per bucket.
    */
  private def writeBucketedSegment(spark: SparkSession, dir: String, name: String,
                                   kind: String, rowsDf: DataFrame): Segment = {
    rowsDf
      .repartition(col("t_bucket"))
      .sortWithinPartitions("term", "doc_id")
      .write.partitionBy("t_bucket").mode("overwrite").parquet(s"$dir/$name")
    M.segment(spark, dir, kind, name)
  }

  /** The postings AND positions segments of `docs` — every operation
    * that indexes documents writes both, for the same docs, in the same
    * commit. Disjoint dirs, no shared lineage: the two write jobs run
    * concurrently.
    */
  private def writeDocSegments(spark: SparkSession, dir: String, v: Long, op: String,
                               docs: DataFrame, nBuckets: Int): Seq[Segment] = {
    val terms = termsFrame(docs, nBuckets)
    ParallelSteps.run(
      () => writeBucketedSegment(spark, dir, segName(v, op), "postings", postingsFrame(terms)),
      () => writeBucketedSegment(spark, dir, segName(v, s"$op-pos"), "positions",
        positionsFrame(terms)))
  }

  private def writeStatsSegment(spark: SparkSession, dir: String, name: String,
                                nDocs: Long, totalDl: Long): Segment = {
    val segDir = s"$dir/$name"
    import spark.implicits._
    Seq((nDocs, totalDl)).toDF("n_docs", "total_dl")
      .coalesce(1).write.mode("overwrite").parquet(segDir)
    val files = M.listParquet(M.fs(spark, dir), new Path(segDir))
    M.Segment("stats", name, files, nDocs)
  }

  private def writeTombstoneSegment(spark: SparkSession, dir: String, name: String,
                                    ids: DataFrame): Segment = {
    ids.select(col("doc_id").cast("long").as("doc_id"))
      .write.mode("overwrite").parquet(s"$dir/$name")
    M.segment(spark, dir, "tombstones", name)
  }

  // ------------------------------------------------------------- reads

  /** The postings at `version` (term, doc_id, tf, dl, t_bucket). */
  def postings(spark: SparkSession, dir: String, version: Long = Latest): DataFrame = {
    val snap = snapshot(spark, dir, version)
    M.readSegments(spark, dir, snap.segments, "postings", partitioned = true)
      .getOrElse(emptyPostings(spark))
      .select(col("term"), col("doc_id"), col("tf"), col("dl"),
        col("t_bucket").cast("long").as("t_bucket"))
  }

  /** Typed empty frames for a version whose segments of a kind hold
    * zero files (a fully-deleted corpus compacts to nothing).
    */
  private def emptyOf(spark: SparkSession, ddl: String): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(ddl))

  private def emptyPostings(spark: SparkSession): DataFrame =
    emptyOf(spark, "term STRING, doc_id BIGINT, dl BIGINT, tf BIGINT, t_bucket BIGINT")

  private def emptyPositions(spark: SparkSession): DataFrame =
    emptyOf(spark, "term STRING, doc_id BIGINT, positions ARRAY<BIGINT>, t_bucket BIGINT")

  /** The one-row corpus stats at `version` — committed in the SAME
    * manifest as the postings state it describes.
    */
  def stats(spark: SparkSession, dir: String, version: Long = Latest): DataFrame = {
    val snap = snapshot(spark, dir, version)
    M.readSegments(spark, dir, snap.segments, "stats", partitioned = false)
      .getOrElse(sys.error(s"version ${snap.version} of $dir has no stats segment"))
  }

  /** The tombstone set at `version` (empty frame when none). */
  def tombstones(spark: SparkSession, dir: String, version: Long = Latest): DataFrame = {
    val snap = snapshot(spark, dir, version)
    M.readSegments(spark, dir, snap.segments, "tombstones", partitioned = false)
      .getOrElse {
        import spark.implicits._
        spark.emptyDataset[Long].toDF("doc_id")
      }
  }

  /** Serving view at `version`: postings minus tombstoned GENERATIONS.
    * Tombstones are version-scoped ([[ManifestLog.createdVersion]]): a
    * tombstone kills only postings born strictly BEFORE it, which is
    * what lets [[upsert]] retire an id's old generation and publish its
    * replacement in ONE commit — the same-commit postings outlive the
    * same-commit tombstone. For plain deletes (tombstone postdating
    * every generation) this reduces exactly to the unscoped anti-join.
    * Bucket and term pruning stay effective — filters push below the
    * anti-join, so the tombstone pass touches only the query terms'
    * already-pruned rows.
    */
  def livePostings(spark: SparkSession, dir: String, version: Long = Latest): DataFrame =
    liveOf(spark, dir, version, "postings", emptyPostings(spark), Seq("tf", "dl"))

  /** The positional rows at `version` (term, doc_id, positions, t_bucket). */
  def positions(spark: SparkSession, dir: String, version: Long = Latest): DataFrame = {
    val snap = snapshot(spark, dir, version)
    M.readSegments(spark, dir, snap.segments, "positions", partitioned = true)
      .getOrElse(emptyPositions(spark))
      .select(col("term"), col("doc_id"), col("positions"),
        col("t_bucket").cast("long").as("t_bucket"))
  }

  /** Serving view of the positions at `version`: the [[livePostings]]
    * rule (generation-scoped tombstones), so phrase and proximity
    * queries honor takedowns and upserts exactly as BM25 does.
    */
  def livePositions(spark: SparkSession, dir: String, version: Long = Latest): DataFrame =
    liveOf(spark, dir, version, "positions", emptyPositions(spark), Seq("positions"))

  /** The `kind` rows of `version` minus tombstoned generations: a
    * tombstone kills only rows whose segment was created strictly
    * before it. Columns: term, doc_id, `payload`, t_bucket.
    */
  private def liveOf(spark: SparkSession, dir: String, version: Long, kind: String,
                     empty: DataFrame, payload: Seq[String]): DataFrame = {
    val snap = snapshot(spark, dir, version)
    val p = M.readSegmentsScoped(spark, dir, snap.segments, kind,
        partitioned = true, "seg_v")
      .getOrElse(empty.withColumn("seg_v", lit(0L)))
      .select((Seq(col("term"), col("doc_id")) ++ payload.map(col) ++
        Seq(col("t_bucket").cast("long").as("t_bucket"), col("seg_v"))): _*)
    M.readSegmentsScoped(spark, dir, snap.segments, "tombstones",
        partitioned = false, "tomb_v") match {
      case Some(t) =>
        val tt = t.select(col("doc_id").as("t_doc_id"), col("tomb_v"))
        p.join(broadcast(tt),
            p("doc_id") === tt("t_doc_id") && tt("tomb_v") > p("seg_v"),
            "left_anti")
          .drop("seg_v")
      case None => p.drop("seg_v")
    }
  }

  /** The live postings of `terms` at `version`, pruned to the terms'
    * buckets at FILE level (partition `IN`, with the bucket count read
    * from the snapshot) and to the terms themselves by a parquet-pushed
    * `term IN`. Bucket and term filters sit below the tombstone
    * anti-join, so a takedown does not un-scale serving.
    */
  def termPostings(spark: SparkSession, dir: String, terms: Seq[String],
                   version: Long = Latest): DataFrame = {
    val v = snapshot(spark, dir, version).version
    termRows(livePostings(spark, dir, v), nBuckets(spark, dir, v), terms)
  }

  /** [[termPostings]] for the positional rows. */
  def termPositions(spark: SparkSession, dir: String, terms: Seq[String],
                    version: Long = Latest): DataFrame = {
    val v = snapshot(spark, dir, version).version
    termRows(livePositions(spark, dir, v), nBuckets(spark, dir, v), terms)
  }

  private def termRows(rows: DataFrame, nb: Int, terms: Seq[String]): DataFrame = {
    val buckets = terms.map(bucketOf(_, nb)).distinct
    rows.filter(col("t_bucket").isin(buckets.map(Long.box): _*)
      && col("term").isin(terms.distinct: _*))
  }

  /** The bucket count recorded at build time. */
  def nBuckets(spark: SparkSession, dir: String, version: Long = Latest): Int =
    snapshot(spark, dir, version).meta("nBuckets").toInt

  /** Change data feed: per-document changes between two committed
    * versions — (doc_id, change ∈ insert | update | delete). The diff
    * is CONTENT-based: each version's live docs reduce to an exact
    * integer fingerprint (the order-free sum of per-(term, tf) 48-bit
    * digests — two docs differ iff their posting multisets do, modulo
    * the hash), and the two doc→fingerprint maps full-outer-join. That
    * makes physical maintenance invisible by construction: a compaction
    * rewrites every row into a new segment but changes no fingerprint,
    * so `changes(preCompact, postCompact)` is EMPTY — Delta's
    * `dataChange = false` contract, derived rather than flagged. An
    * upsert that re-writes identical text is likewise a no-op to
    * consumers, which is what a downstream incremental pipeline wants
    * (it re-processes CONTENT, not file layout).
    *
    * Scale shape: two column-pruned live reads (doc_id, term, tf — text
    * never shuffles), per-doc map-side-combined sums onto the doc key
    * space, one join of two (doc_id, fp) sets.
    */
  def changes(spark: SparkSession, dir: String, fromVersion: Long,
              toVersion: Long): DataFrame = {
    import graft.functions.PortableHash.hash48
    def fp(v: Long): DataFrame =
      livePostings(spark, dir, v)
        .withColumn("h", expr(hash48("concat(term, ':', CAST(tf AS STRING))")))
        .groupBy("doc_id").agg(sum(col("h")).as("fp"))
    val a = fp(fromVersion).select(col("doc_id"), col("fp").as("fp_a"))
    val b = fp(toVersion).select(col("doc_id"), col("fp").as("fp_b"))
    a.join(b, Seq("doc_id"), "full_outer")
      .withColumn("change",
        when(col("fp_a").isNull, lit("insert"))
          .when(col("fp_b").isNull, lit("delete"))
          .when(col("fp_a") =!= col("fp_b"), lit("update")))
      .where(col("change").isNotNull)
      .select(col("doc_id"), col("change"))
      .orderBy("doc_id")
  }

  /** The df (document-frequency) table at `version`: (term, df) over
    * the live postings — the BM25 model's expensive half, materialized.
    * One full pass; [[dfRollForward]] is the incremental alternative.
    */
  def dfTable(spark: SparkSession, dir: String, version: Long = Latest): DataFrame =
    livePostings(spark, dir, version)
      .groupBy("term").agg(count(lit(1)).as("df"))

  /** Incremental materialized-view maintenance: roll a df table built
    * at `fromVersion` forward to `toVersion` by consuming the change
    * feed instead of recomputing — the postings read is SEMI-JOINED to
    * the feed's doc ids, so the work is proportional to what CHANGED,
    * not to the corpus (the premise of every incremental pipeline; at
    * 100 TB a full df recompute per upsert commit is the thing this
    * exists to avoid). Deltas are exact integers: df' = df − (terms of
    * the changed docs' OLD generations) + (terms of their NEW ones),
    * zero nets dropped — so the rolled table EQUALS a from-scratch
    * rebuild at `toVersion`, row for row. A physical-only commit
    * (compaction) has an empty feed and rolls to the identical table.
    */
  def dfRollForward(spark: SparkSession, dir: String, dfAt: DataFrame,
                    fromVersion: Long, toVersion: Long): DataFrame = {
    val feed = changes(spark, dir, fromVersion, toVersion)
    val oldIds = feed.where(col("change").isin("delete", "update")).select("doc_id")
    val newIds = feed.where(col("change").isin("insert", "update")).select("doc_id")
    def termCounts(v: Long, ids: DataFrame, sign: Long): DataFrame =
      livePostings(spark, dir, v)
        .join(broadcast(ids), Seq("doc_id"), "left_semi")
        .groupBy("term").agg((count(lit(1)) * sign).as("delta"))
    val delta = termCounts(fromVersion, oldIds, -1L)
      .unionByName(termCounts(toVersion, newIds, 1L))
      .groupBy("term").agg(sum("delta").as("delta"))
    dfAt.join(delta, Seq("term"), "full_outer")
      .select(col("term"),
        (coalesce(col("df"), lit(0L)) + coalesce(col("delta"), lit(0L))).as("df"))
      .where(col("df") > 0)
  }
  def history(spark: SparkSession, dir: String): DataFrame = {
    val rows = M.snapshots(spark, dir).map(s =>
      (s.version, s.op, s.rowsOf("postings"), s.rowsOf("tombstones")))
    import spark.implicits._
    rows.toDF("version", "op", "postings_rows", "tombstone_rows")
      .orderBy("version")
  }

  /** Stored BM25 over ONE resolved snapshot (q94) — q86's ranking,
    * bit-identical, from the pinned live postings + their same-manifest
    * stats (the torn-pair hazard this store exists to remove). The
    * query never scans corpus text: the postings read prunes to the
    * query terms' buckets at FILE level, df comes from the pruned read,
    * and after a takedown or upsert the scores equal a from-scratch
    * index over the live corpus (df from the live rows, n_docs/avgdl
    * from the stats row the same commit moved).
    */
  def bm25(spark: SparkSession, dir: String, terms: Seq[String], k: Int,
           version: Long = Latest): DataFrame = {
    val snap = snapshot(spark, dir, version)
    graft.operators.TextAnalysis.bm25Served(
      termPostings(spark, dir, terms, snap.version), stats(spark, dir, snap.version),
      terms, k)
  }

  // -------------------------------------------------------- operations

  /** Index `docs` and commit version 0 (wipes any prior lineage —
    * a rebuild is a new index).
    */
  def build(docs: DataFrame, dir: String, nBuckets: Int): Long = synchronized {
    val spark = docs.sparkSession
    val f = M.fs(spark, dir)
    f.delete(new Path(dir), true)
    // The stats row depends on the corpus alone, not on the postings:
    // its scan runs beside the segment writes.
    val segs = ParallelSteps.run[Seq[Segment]](
      () => writeDocSegments(spark, dir, 0L, "build", docs, nBuckets),
      () => {
        val batch = docLengths(docs)
          .agg(count(lit(1)).as("n"), coalesce(sum("dl"), lit(0L)).as("s")).first()
        Seq(writeStatsSegment(spark, dir, segName(0L, "build-stats"),
          batch.getLong(0), batch.getLong(1)))
      }).flatten
    M.commit(f, dir, M.Snapshot(0L, "build", "", segs,
      Map("nBuckets" -> nBuckets.toString)))
    0L
  }

  /** Admit new documents: their postings (and positions) land as new
    * segments and the stats ADVANCE by the batch's exact counts — one
    * manifest commit carries all of them, so no reader ever sees
    * postings ahead of stats. df needs no
    * maintenance (derived from the pruned live read), so append-then-
    * serve scores exactly like a from-scratch build over the full
    * corpus. Returns the committed version (unchanged for an empty
    * batch — a no-op tick of the ingest loop).
    */
  def append(spark: SparkSession, dir: String, newDocs: DataFrame): Long = synchronized {
    appendImpl(spark, dir, newDocs, Map.empty)
  }

  /** Exactly-once streaming ingest (the `foreachBatch` sink): commit
    * the batch's postings+stats ONLY if `batchId` has not been
    * committed before — Structured Streaming re-delivers the last
    * batch after a failure-recovery, and the manifest's own
    * last-batch-id (carried in meta, so it moves atomically WITH the
    * data it admits) turns the replay into a version no-op. This is
    * the transactional half [[graft.streaming.Sinks]]' idempotent
    * parquet sink provides by path-keying, done instead at the commit
    * layer — no marker files, and the dedup survives compaction
    * because meta is carried forward (S22 pins replay-after-recovery
    * and stream ≡ from-scratch build).
    *
    * The dedup key is `(appId, batchId)` — the Delta `txn` convention —
    * because batch ids are only monotonic WITHIN one checkpoint
    * lineage: a query restarted with a fresh checkpoint dir restarts
    * numbering at 0, and a bare batch-id guard would silently discard
    * its first batches as replays. Pass a stable `appId` per streaming
    * query (e.g. the checkpoint path or query name); distinct apps
    * dedup independently.
    */
  def appendStreamBatch(spark: SparkSession, dir: String, newDocs: DataFrame,
                        batchId: Long, appId: String = "stream"): Long = synchronized {
    M.exactlyOnce(spark, dir, batchId, appId)(appendImpl(spark, dir, newDocs, _))
  }

  private def appendImpl(spark: SparkSession, dir: String, newDocs: DataFrame,
                         extraMeta: Map[String, String]): Long = {
    val batch = docLengths(newDocs)
      .agg(count(lit(1)).as("n"), coalesce(sum("dl"), lit(0L)).as("s")).first()
    if (batch.getLong(0) == 0L) return currentVersion(spark, dir)
    // Revival of a tombstoned doc: the store still holds its OLD rows
    // behind the anti-join, and an unscoped append would serve BOTH
    // generations (double tf). Fold deletions physically first so the
    // new postings land as the doc's only generation.
    val newIds = newDocs.select(col("doc_id").cast("long").as("doc_id")).distinct()
    if (!tombstones(spark, dir).join(broadcast(newIds), Seq("doc_id"), "left_semi").isEmpty)
      compact(spark, dir)
    val prior = snapshot(spark, dir)
    val v = prior.version + 1
    val old = stats(spark, dir, prior.version)
      .select(col("n_docs"), col("total_dl")).first()
    val segs = writeDocSegments(spark, dir, v, "append", newDocs,
      prior.meta("nBuckets").toInt)
    val stat = writeStatsSegment(spark, dir, segName(v, "append-stats"),
      old.getLong(0) + batch.getLong(0), old.getLong(1) + batch.getLong(1))
    M.commit(M.fs(spark, dir), dir,
      M.Snapshot(v, "append", "",
        prior.segments.filter(_.kind != "stats") ++ segs :+ stat,
        prior.meta ++ extraMeta))
    v
  }

  /** Atomic replace-or-insert: ONE commit carries (a) a tombstone
    * segment for every batch id — version-scoped, so it retires only
    * generations OLDER than this commit, (b) the batch's new postings,
    * and (c) the net stats move (retreat by the replaced live docs'
    * exact counts, advance by the batch's). A reader pinned to the
    * prior version sees the old corpus; a reader of this version sees
    * every batch doc replaced — never a state where a doc is deleted
    * but its replacement not yet visible (the two-commit
    * delete-then-append window, closed). Re-upserting a tombstoned doc
    * revives it, no physical fold needed: the old tombstone predates
    * the new generation so the scoped read keeps it. Returns the
    * committed version (unchanged for an empty batch).
    */
  def upsert(spark: SparkSession, dir: String, docs: DataFrame): Long = synchronized {
    upsertImpl(spark, dir, docs, Map.empty)
  }

  /** Exactly-once streaming upsert — [[appendStreamBatch]]'s
    * `(appId, batchId)` replay guard over [[upsert]]: a re-delivered
    * microbatch is a version no-op.
    */
  def upsertStreamBatch(spark: SparkSession, dir: String, docs: DataFrame,
                        batchId: Long, appId: String = "stream"): Long = synchronized {
    M.exactlyOnce(spark, dir, batchId, appId)(upsertImpl(spark, dir, docs, _))
  }

  private def upsertImpl(spark: SparkSession, dir: String, docs: DataFrame,
                         extraMeta: Map[String, String]): Long = {
    val batch = docLengths(docs)
      .agg(count(lit(1)).as("n"), coalesce(sum("dl"), lit(0L)).as("s")).first()
    if (batch.getLong(0) == 0L) return currentVersion(spark, dir)
    val ids = docs.select(col("doc_id").cast("long").as("doc_id")).distinct()
    require(ids.count() == batch.getLong(0),
      "upsert batch carries duplicate doc_ids — two same-commit " +
        "generations of one doc would both survive the scoped tombstone")
    val prior = snapshot(spark, dir)
    val v = prior.version + 1
    // The batch ids' currently-live generation (if any) dies in this
    // commit: its exact (count, Σdl) retreats from the stats the same
    // manifest advances by the batch's own counts.
    val replaced = livePostings(spark, dir, prior.version)
      .join(broadcast(ids), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("dl")).distinct()
      .agg(count(lit(1)).as("n"), coalesce(sum("dl"), lit(0L)).as("s")).first()
    val old = stats(spark, dir, prior.version)
      .select(col("n_docs"), col("total_dl")).first()
    val tomb = writeTombstoneSegment(spark, dir, segName(v, "upsert-tomb"), ids)
    val segs = writeDocSegments(spark, dir, v, "upsert", docs,
      prior.meta("nBuckets").toInt)
    val stat = writeStatsSegment(spark, dir, segName(v, "upsert-stats"),
      old.getLong(0) - replaced.getLong(0) + batch.getLong(0),
      old.getLong(1) - replaced.getLong(1) + batch.getLong(1))
    M.commit(M.fs(spark, dir), dir,
      M.Snapshot(v, "upsert", "",
        (prior.segments.filter(_.kind != "stats") :+ tomb) ++ segs :+ stat,
        prior.meta ++ extraMeta))
    v
  }

  /** Roll back to `toVersion` as a new commit ([[ManifestLog.restore]]):
    * one manifest, zero data movement.
    */
  def restore(spark: SparkSession, dir: String, toVersion: Long): Long = synchronized {
    M.restore(spark, dir, toVersion)
  }

  /** Tombstone-delete documents: no posting file touched; the stats
    * RETREAT by the deleted docs' exact (count, Σdl) — recovered from
    * the postings themselves — in the same manifest commit as the
    * tombstone segment. Already-tombstoned ids are excluded from the
    * decrement, so overlapping delete batches are idempotent. Returns
    * the committed version (unchanged when nothing indexed matches).
    */
  def delete(spark: SparkSession, dir: String, docIds: DataFrame): Long = synchronized {
    val prior = snapshot(spark, dir)
    val ids = docIds.select(col("doc_id").cast("long").as("doc_id")).distinct()
    // "New dead" = batch ids with a LIVE generation — not "ids with no
    // tombstone": an upsert-revived doc carries an old tombstone yet is
    // live, and must die again here. Liveness is the one test that is
    // correct under both plain deletes and upsert generations.
    val dying = livePostings(spark, dir, prior.version)
      .join(broadcast(ids), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("dl")).distinct()
    val newDead = dying.select("doc_id")
    val gone = dying
      .agg(count(lit(1)).as("n"), coalesce(sum("dl"), lit(0L)).as("s")).first()
    if (gone.getLong(0) == 0L) return prior.version
    val v = prior.version + 1
    val old = stats(spark, dir, prior.version)
      .select(col("n_docs"), col("total_dl")).first()
    val tomb = writeTombstoneSegment(spark, dir, segName(v, "delete"), newDead)
    val stat = writeStatsSegment(spark, dir, segName(v, "delete-stats"),
      old.getLong(0) - gone.getLong(0), old.getLong(1) - gone.getLong(1))
    M.commit(M.fs(spark, dir), dir,
      M.Snapshot(v, "delete", "",
        prior.segments.filter(_.kind != "stats") :+ tomb :+ stat, prior.meta))
    v
  }

  /** ADD-only compaction: the live postings and the live positions
    * each rewrite into one merged segment (one file per bucket — the
    * dead positions fold in the SAME commit as the dead postings, so
    * dropping the tombstones resurrects nothing), tombstones drop, and
    * the stats
    * segment is CARRIED FORWARD BY REFERENCE — delete adjusted it
    * already, so compaction provably changes no number (it does not
    * even rewrite the row). Old segments stay for time travel until
    * [[vacuum]].
    */
  def compact(spark: SparkSession, dir: String): Long = synchronized {
    val prior = snapshot(spark, dir)
    val v = prior.version + 1
    val segs = ParallelSteps.run(
      () => writeBucketedSegment(spark, dir, segName(v, "compact"), "postings",
        livePostings(spark, dir, prior.version)),
      () => writeBucketedSegment(spark, dir, segName(v, "compact-pos"), "positions",
        livePositions(spark, dir, prior.version)))
    val stat = prior.segments.filter(_.kind == "stats")
    M.commit(M.fs(spark, dir), dir,
      M.Snapshot(v, "compact", "", segs ++ stat, prior.meta))
    v
  }

  /** Drop all but the newest `retain` versions ([[ManifestLog.vacuum]]). */
  def vacuum(spark: SparkSession, dir: String, retain: Int): Unit = synchronized {
    M.vacuum(spark, dir, retain)
  }
}
