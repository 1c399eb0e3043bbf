package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{BookLit, CentLit, IvfPqModel, Similarity}
import graft.sources.{ManifestLog => M}

/** Manifest-versioned IVF-PQ index — the train-once / serve-many
  * artifact the per-query trainers (q18i/q80/q85) deliberately lack.
  * `build` runs the in-engine training pipeline
  * ([[Similarity.ivfPqArtifacts]]: coarse k-means, residual PQ
  * sub-codebooks, corpus encode) exactly once and materializes the
  * artifacts as parquet; every later search loads them and pays only
  * LUT construction plus a pruned code-table scan. Doubles round-trip
  * parquet bit-exactly, so searches over the loaded artifacts equal
  * searches over the just-trained frames verbatim. Visibility goes
  * through the [[ManifestLog]] core:
  *
  *   - Data files are IMMUTABLE once written. No operation deletes or
  *     rewrites a referenced file — compaction writes NEW merged files
  *     and commits a manifest that stops referencing the old ones, so
  *     the delete-then-rename crash window is gone (a crash before the
  *     manifest rename leaves the old version live and the half-written
  *     segment invisible; the recovery rule is "retry").
  *   - A pinned reader resolves one manifest and reads exactly its file
  *     lists — snapshot isolation under concurrent append/delete/
  *     compact/reindex; old versions stay readable (time travel) until
  *     [[vacuum]].
  *
  * Segment kinds: `codes` (vec_id, codes, PARTITIONED BY cid — the
  * serving layout: a query batch probes a bounded cell set, so the scan
  * prunes unprobed cells at FILE level within every segment, and code
  * bytes are ~nSub integers per vector; the ADC path never reads a
  * float),
  * `vectors` (cell-partitioned raw floats, see [[writeVectorSegment]]),
  * `tombstones` (deleted vec_ids). The manifest's meta records the
  * training parameters, so the store is self-describing and [[reindex]]
  * needs no caller-supplied config. The segment count a read unions is
  * the number of commits since the last compaction — bounded by the
  * maintenance schedule, the LSM/Delta shape.
  */
object VersionedVectorIndex {

  type Segment = M.Segment
  type Snapshot = M.Snapshot

  /** Sentinel for "latest committed version". */
  val Latest: Long = M.Latest

  def currentVersion(spark: SparkSession, dir: String): Long =
    M.currentVersion(spark, dir)

  /** The resolved manifest of `version` ([[Latest]] = newest). */
  def snapshot(spark: SparkSession, dir: String, version: Long = Latest): Snapshot =
    M.snapshot(spark, dir, version)

  /** Test seam for the optimistic-concurrency guard: attempt a raw
    * manifest commit (what a concurrent cross-process writer's final
    * step is). Throws the conflict error if the version slot is taken.
    */
  private[graft] def commitForTest(spark: SparkSession, dir: String, snap: Snapshot): Unit =
    M.commit(M.fs(spark, dir), dir, snap)

  // ----------------------------------------------------- segment write

  /** Unique directory name for a new segment/model: version+op prefix
    * for humans, a UUID suffix so two cross-process writers racing for
    * the same version slot can NEVER write into the same directory —
    * the losing committer's files are garbage for [[vacuum]], not a
    * clobber of the winner's committed data (the manifest tmp-file
    * pattern, applied to data dirs).
    */
  private def segName(v: Long, op: String): String =
    f"seg-$v%08d-$op-${java.util.UUID.randomUUID().toString.take(8)}"

  /** Write `codesDf` as an immutable cid-partitioned code segment and
    * return its manifest entry. The segment is INVISIBLE until a
    * manifest referencing it commits.
    */
  private def writeCodeSegment(spark: SparkSession, dir: String, name: String,
                               codesDf: DataFrame): Segment = {
    codesDf
      .repartition(col("cid"))
      .sortWithinPartitions("vec_id")
      .write.partitionBy("cid").mode("overwrite").parquet(s"$dir/$name")
    M.segment(spark, dir, "codes", name)
  }

  /** Write `assigned` (vec_id, cid, embedding) as an immutable
    * cell-partitioned RAW-VECTOR segment. The store owning a second,
    * cell-partitioned copy of the floats is a deliberate trade (the
    * FAISS-deployment layout): it costs float storage twice, and buys
    * (a) file-pruned exact re-rank — a query's float reads drop to
    * |probed cells| / |cells| of the corpus instead of a full
    * id-keyed lookup table scan — and (b) self-contained [[reindex]],
    * which retrains from the store alone without the original corpus.
    */
  private def writeVectorSegment(spark: SparkSession, dir: String, name: String,
                                 assigned: DataFrame): Segment = {
    assigned
      .select(col("vec_id"), col("cid").cast("long").as("cid"), col("embedding"))
      .repartition(col("cid"))
      .sortWithinPartitions("vec_id")
      .write.partitionBy("cid").mode("overwrite").parquet(s"$dir/$name")
    M.segment(spark, dir, "vectors", name)
  }

  private def writeTombstoneSegment(spark: SparkSession, dir: String, name: String,
                                    ids: DataFrame): Segment = {
    ids.select(col("vec_id").cast("long").as("vec_id"))
      .write.mode("overwrite").parquet(s"$dir/$name")
    M.segment(spark, dir, "tombstones", name)
  }

  /** Typed empty frames for a version whose segments hold zero files
    * (a fully-deleted store compacts to nothing — legitimate, not
    * corrupt).
    */
  private def emptyCodes(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(
        "vec_id BIGINT, cid BIGINT, codes ARRAY<BIGINT>"))

  private def emptyVectors(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(
        "vec_id BIGINT, cid BIGINT, embedding ARRAY<FLOAT>"))

  // ------------------------------------------------------------- reads

  /** The code table at `version`: (vec_id, cid, codes) — a union of the
    * version's code segments, each read by its frozen file list (cid
    * pruning stays file-level inside every segment).
    */
  def codes(spark: SparkSession, dir: String, version: Long = Latest): DataFrame = {
    val snap = snapshot(spark, dir, version)
    M.readSegments(spark, dir, snap.segments, "codes", partitioned = true)
      .getOrElse(emptyCodes(spark))
      .select(col("vec_id"), col("cid").cast("long").as("cid"), col("codes"))
  }

  /** The tombstone set at `version` (empty frame when none). */
  def tombstones(spark: SparkSession, dir: String, version: Long = Latest): DataFrame = {
    val snap = snapshot(spark, dir, version)
    M.readSegments(spark, dir, snap.segments, "tombstones", partitioned = false)
      .getOrElse {
        import spark.implicits._
        spark.emptyDataset[Long].toDF("vec_id")
      }
  }

  /** Serving view at `version`: codes minus tombstoned ids. The
    * tombstone side is broadcast (between compactions it is small —
    * compact precisely when it is not), and cell pruning happens on the
    * codes side first, so the anti-join touches only probed-cell rows.
    */
  def liveCodes(spark: SparkSession, dir: String, version: Long = Latest): DataFrame = {
    val snap = snapshot(spark, dir, version)
    val c = M.readSegmentsScoped(spark, dir, snap.segments, "codes",
        partitioned = true, "seg_v")
      .getOrElse(emptyCodes(spark).withColumn("seg_v", lit(0L)))
      .select(col("vec_id"), col("cid").cast("long").as("cid"), col("codes"),
        col("seg_v"))
    antiTombstoned(spark, dir, snap, c)
  }

  /** Generation-scoped tombstone filter shared by [[liveCodes]] and
    * [[liveVectors]]: a tombstone kills only rows born strictly BEFORE
    * it ([[ManifestLog.createdVersion]]), so [[upsert]]'s same-commit
    * replacement rows outlive its same-commit tombstone. For plain
    * deletes this reduces exactly to the unscoped anti-join.
    */
  private def antiTombstoned(spark: SparkSession, dir: String,
                             snap: Snapshot, rows: DataFrame): DataFrame =
    M.readSegmentsScoped(spark, dir, snap.segments, "tombstones",
        partitioned = false, "tomb_v") match {
      case Some(t) =>
        val tt = t.select(col("vec_id").as("t_vec_id"), col("tomb_v"))
        rows.join(broadcast(tt),
            rows("vec_id") === tt("t_vec_id") && tt("tomb_v") > rows("seg_v"),
            "left_anti")
          .drop("seg_v")
      case None => rows.drop("seg_v")
    }

  /** The raw-vector table at `version`: (vec_id, cid, embedding) —
    * cell-partitioned float vectors owned by the store (see
    * [[writeVectorSegment]] for the storage trade).
    */
  def vectors(spark: SparkSession, dir: String, version: Long = Latest): DataFrame = {
    val snap = snapshot(spark, dir, version)
    M.readSegments(spark, dir, snap.segments, "vectors", partitioned = true)
      .getOrElse(emptyVectors(spark))
      .select(col("vec_id"), col("cid").cast("long").as("cid"), col("embedding"))
  }

  /** Serving view of the raw vectors: minus tombstoned generations
    * (same scoped rule as [[liveCodes]]).
    */
  def liveVectors(spark: SparkSession, dir: String, version: Long = Latest): DataFrame = {
    val snap = snapshot(spark, dir, version)
    val v = M.readSegmentsScoped(spark, dir, snap.segments, "vectors",
        partitioned = true, "seg_v")
      .getOrElse(emptyVectors(spark).withColumn("seg_v", lit(0L)))
      .select(col("vec_id"), col("cid").cast("long").as("cid"), col("embedding"),
        col("seg_v"))
    antiTombstoned(spark, dir, snap, v)
  }

  /** The version's coarse quantizer and sub-codebooks as driver
    * values, read from the model files on the driver
    * ([[Parquet.readLocal]]: a few KB, no Spark job). */
  def model(spark: SparkSession, dir: String, version: Long = Latest): IvfPqModel = {
    val m = s"$dir/${snapshot(spark, dir, version).modelDir}"
    IvfPqModel(
      Parquet.readLocal(spark, s"$m/centroids")
        .map(r => CentLit(r.getAs[Long]("cid"), r.getAs[Seq[Double]]("cemb"))),
      Parquet.readLocal(spark, s"$m/codebooks")
        .map(r => BookLit(r.getAs[Int]("m"), r.getAs[Long]("cid"), r.getAs[Seq[Double]]("cemb"))))
  }

  /** The ADC serving artifacts of ONE resolved snapshot: the model,
    * the live code table, and the `nSub` the model was trained with,
    * read from the snapshot's own recorded parameters — a caller-held
    * copy could disagree with the model and mis-slice the LUTs.
    */
  final case class Serving(model: IvfPqModel, liveCodes: DataFrame, nSub: Int)

  def serving(spark: SparkSession, dir: String, version: Long = Latest): Serving = {
    val snap = snapshot(spark, dir, version)
    Serving(model(spark, dir, snap.version), liveCodes(spark, dir, snap.version),
      snap.meta("nSub").toInt)
  }

  /** Change data feed — (vec_id, change ∈ insert | update | delete)
    * between two committed versions, CONTENT-based like
    * [[VersionedTextIndex.changes]]: per live id the (cell, codes)
    * pair IS the content (already a compact fixed-width encoding, so
    * no fingerprinting detour is needed — the structs compare exactly
    * in the join). Physical rewrites (compaction) emit nothing; only
    * real re-encodes surface.
    */
  def changes(spark: SparkSession, dir: String, fromVersion: Long,
              toVersion: Long): DataFrame = {
    def gen(v: Long, as: String): DataFrame =
      liveCodes(spark, dir, v)
        .select(col("vec_id"), struct(col("cid"), col("codes")).as(as))
    gen(fromVersion, "g_a").join(gen(toVersion, "g_b"), Seq("vec_id"), "full_outer")
      .withColumn("change",
        when(col("g_a").isNull, lit("insert"))
          .when(col("g_b").isNull, lit("delete"))
          .when(col("g_a") =!= col("g_b"), lit("update")))
      .where(col("change").isNotNull)
      .select(col("vec_id"), col("change"))
      .orderBy("vec_id")
  }

  /** The commit log as a frame — (version, op, codes_rows,
    * tombstone_rows), straight from the manifests: answering "what
    * happened to this index and how big was it" reads METADATA only,
    * never a data file.
    */
  def history(spark: SparkSession, dir: String): DataFrame = {
    val rows = M.snapshots(spark, dir).map(s =>
      (s.version, s.op, s.rowsOf("codes"), s.rowsOf("tombstones")))
    import spark.implicits._
    rows.toDF("version", "op", "codes_rows", "tombstone_rows")
      .orderBy("version")
  }

  // -------------------------------------------------------- operations

  /** Train on `emb` and commit version 0. Wipes any prior lineage under
    * `dir` first — a rebuild is a NEW index: tombstones of an old
    * lineage must not shadow fresh rows. Training already ran when the
    * writes start, and the artifacts live in disjoint dirs, so the
    * model, code and vector writes run as concurrent jobs.
    */
  def build(emb: DataFrame, dir: String, nCentroids: Int, nSub: Int,
            nCodes: Int, iters: Int): Long = synchronized {
    val spark = emb.sparkSession
    val f = M.fs(spark, dir)
    f.delete(new Path(dir), true)
    val (coarse, books, codesDf) =
      Similarity.ivfPqArtifacts(emb, nCentroids, nSub, nCodes, iters)
    val modelDir = segName(0L, "model")
    val segs = ParallelSteps.run[Seq[Segment]](
      () => {
        coarse.write.mode("overwrite").parquet(s"$dir/$modelDir/centroids")
        books.write.mode("overwrite").parquet(s"$dir/$modelDir/codebooks")
        Nil
      },
      () => Seq(writeCodeSegment(spark, dir, segName(0L, "build"), codesDf)),
      // Raw vectors, cell-partitioned under the SAME assignment the
      // codes carry (assignTo is deterministic) — map-only.
      () => Seq(writeVectorSegment(spark, dir, segName(0L, "build-vecs"),
        Similarity.assignTo(Similarity.withEmb(emb), coarse)))).flatten
    M.commit(f, dir, M.Snapshot(0L, "build", modelDir, segs,
      trainParams(nCentroids, nSub, nCodes, iters)))
    0L
  }

  private def trainParams(nCentroids: Int, nSub: Int, nCodes: Int,
                          iters: Int): Map[String, String] =
    Map("nCentroids" -> nCentroids.toString, "nSub" -> nSub.toString,
      "nCodes" -> nCodes.toString, "iters" -> iters.toString)

  /** Admit new vectors against the STORED model without retraining
    * (assign to stored centroids, encode the residual against stored
    * books with [[Similarity.encodeResidualsModel]], the kernel the
    * build used) and commit a version whose
    * manifest is the prior segments plus new code/vector segments.
    * Existing files and the model are untouched. Returns the committed
    * version.
    */
  def append(spark: SparkSession, dir: String, newVecs: DataFrame): Long = synchronized {
    // Empty batch: a no-op tick of the ingest loop, not a version.
    if (newVecs.isEmpty) return currentVersion(spark, dir)
    // Revival of a tombstoned id must not leave two live generations
    // (double ADC contributions): fold deletions physically first — an
    // extra committed version, amortized because revivals are rare.
    val newIds = newVecs.select(col("vec_id").cast("long").as("vec_id")).distinct()
    if (!tombstones(spark, dir).join(broadcast(newIds), Seq("vec_id"), "left_semi").isEmpty)
      compact(spark, dir)
    val prior = snapshot(spark, dir)
    val v = prior.version + 1
    val nSub = prior.meta("nSub").toInt
    val m = model(spark, dir, prior.version)
    val resid = Similarity.residualsModel(Similarity.withEmb(newVecs), m.coarse)
    val seg = writeCodeSegment(spark, dir, segName(v, "append"),
      Similarity.encodeResidualsModel(resid, m.books, nSub))
    val vseg = writeVectorSegment(spark, dir, segName(v, "append-vecs"),
      Similarity.assignToModel(Similarity.withEmb(newVecs), m.coarse))
    M.commit(M.fs(spark, dir), dir,
      M.Snapshot(v, "append", prior.modelDir, prior.segments :+ seg :+ vseg,
        prior.meta))
    v
  }

  /** Atomic replace-or-insert against the STORED model: ONE commit
    * carries a version-scoped tombstone for every batch id (retiring
    * only generations OLDER than this commit) plus the batch's new
    * code and vector segments — so re-embedding a document (model
    * refresh, content edit) swaps its vector with no window where the
    * id is deleted but its replacement not yet searchable, and no
    * physical rewrite of any existing file. Re-upserting a tombstoned
    * id revives it (its new generation postdates the old tombstone).
    * Returns the committed version (unchanged for an empty batch).
    */
  def upsert(spark: SparkSession, dir: String, newVecs: DataFrame): Long = synchronized {
    if (newVecs.isEmpty) return currentVersion(spark, dir)
    val prior = snapshot(spark, dir)
    val v = prior.version + 1
    val ids = newVecs.select(col("vec_id").cast("long").as("vec_id")).distinct()
    require(ids.count() == newVecs.count(),
      "upsert batch carries duplicate vec_ids — two same-commit " +
        "generations of one id would both survive the scoped tombstone")
    val nSub = prior.meta("nSub").toInt
    val m = model(spark, dir, prior.version)
    val resid = Similarity.residualsModel(Similarity.withEmb(newVecs), m.coarse)
    val tomb = writeTombstoneSegment(spark, dir, segName(v, "upsert-tomb"), ids)
    val seg = writeCodeSegment(spark, dir, segName(v, "upsert"),
      Similarity.encodeResidualsModel(resid, m.books, nSub))
    val vseg = writeVectorSegment(spark, dir, segName(v, "upsert-vecs"),
      Similarity.assignToModel(Similarity.withEmb(newVecs), m.coarse))
    M.commit(M.fs(spark, dir), dir,
      M.Snapshot(v, "upsert", prior.modelDir,
        prior.segments :+ tomb :+ seg :+ vseg, prior.meta))
    v
  }

  /** Tombstone-delete `ids`: one new tombstone segment, no code file
    * touched. Ids already tombstoned are excluded (the
    * [[VersionedTextIndex.delete]] idempotence contract — a replayed
    * takedown batch must not commit a version or inflate the history's
    * tombstone counts). Returns the committed version (unchanged when
    * nothing new dies).
    */
  def delete(spark: SparkSession, dir: String, ids: DataFrame): Long = synchronized {
    val prior = snapshot(spark, dir)
    // "New dead" = batch ids with a LIVE generation — not "ids with no
    // tombstone": an upsert-revived id carries an old tombstone yet is
    // live, and must die again here (the [[VersionedTextIndex.delete]]
    // liveness rule).
    val newDead = ids.select(col("vec_id").cast("long").as("vec_id")).distinct()
      .join(liveCodes(spark, dir, prior.version).select("vec_id"),
        Seq("vec_id"), "left_semi")
    if (newDead.isEmpty) return prior.version
    val v = prior.version + 1
    val seg = writeTombstoneSegment(spark, dir, segName(v, "delete"), newDead)
    M.commit(M.fs(spark, dir), dir,
      M.Snapshot(v, "delete", prior.modelDir, prior.segments :+ seg, prior.meta))
    v
  }

  /** Physical compaction WITHOUT a destructive swap: write the live
    * view as new merged code/vector segments (one file per cell) and
    * commit a manifest referencing ONLY them — no tombstones, no prior
    * segments. The superseded files stay on disk untouched, so a reader
    * pinned at any earlier version is completely unaffected and time
    * travel works THROUGH the compaction; [[vacuum]] reclaims the space
    * once old versions age out.
    */
  def compact(spark: SparkSession, dir: String): Long = synchronized {
    val prior = snapshot(spark, dir)
    val v = prior.version + 1
    val seg = writeCodeSegment(spark, dir, segName(v, "compact"),
      liveCodes(spark, dir, prior.version))
    val vseg = writeVectorSegment(spark, dir, segName(v, "compact-vecs"),
      liveVectors(spark, dir, prior.version))
    M.commit(M.fs(spark, dir), dir,
      M.Snapshot(v, "compact", prior.modelDir, Seq(seg, vseg), prior.meta))
    v
  }

  /** Retrain the WHOLE index from the store's own live vectors — the
    * model-refresh an operator schedules when [[history]]/occupancy
    * drift says the append stream has outgrown the trained quantizer.
    * Commits a new model dir plus fully re-encoded code and re-
    * partitioned vector segments as ONE version; the training
    * parameters come from the manifest (the store is self-describing).
    * This is the blue/green index swap: readers pinned at any earlier
    * version keep serving the OLD model untouched (spec-pinned), and
    * the first read after the commit serves the new one — zero
    * downtime, no coordination beyond the manifest rename.
    */
  def reindex(spark: SparkSession, dir: String): Long = synchronized {
    val prior = snapshot(spark, dir)
    val v = prior.version + 1
    val p = prior.meta
    require(Seq("nCentroids", "nSub", "nCodes", "iters").forall(p.contains),
      s"store $dir has no recorded training parameters — built by an older layout?")
    val vecs = liveVectors(spark, dir, prior.version)
      .select(col("vec_id"), col("embedding"))
    val (coarse, books, codesDf) = Similarity.ivfPqArtifacts(vecs,
      p("nCentroids").toInt, p("nSub").toInt, p("nCodes").toInt, p("iters").toInt)
    val modelDir = segName(v, "model")
    coarse.write.mode("overwrite").parquet(s"$dir/$modelDir/centroids")
    books.write.mode("overwrite").parquet(s"$dir/$modelDir/codebooks")
    val seg = writeCodeSegment(spark, dir, segName(v, "reindex"), codesDf)
    // The new model reshapes the cells, so the vector copy re-partitions
    // under the NEW assignment (old segments stay for time travel).
    val vseg = writeVectorSegment(spark, dir, segName(v, "reindex-vecs"),
      Similarity.assignTo(Similarity.withEmb(vecs), coarse))
    M.commit(M.fs(spark, dir), dir,
      M.Snapshot(v, "reindex", modelDir, Seq(seg, vseg), prior.meta))
    v
  }

  /** Drop all but the newest `retain` versions and reclaim their
    * unreferenced files ([[ManifestLog.vacuum]]).
    */
  def vacuum(spark: SparkSession, dir: String, retain: Int): Unit = synchronized {
    M.vacuum(spark, dir, retain)
  }

  /** Roll the live state back to `toVersion` as a NEW commit
    * ([[ManifestLog.restore]]): one manifest, zero data movement — the
    * recovery move when a reindex or ingest shipped bad state.
    */
  def restore(spark: SparkSession, dir: String, toVersion: Long): Long = synchronized {
    M.restore(spark, dir, toVersion)
  }
}
