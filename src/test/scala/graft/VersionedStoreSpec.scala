package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Similarity
import graft.sources.{Tables, VersionedVectorIndex => V}

/** Contract of the persisted, manifest-versioned ANN index (q89/q90/
  * q98/q107 families): the store is train-once / serve-many — searches
  * over the loaded artifacts equal the retrain-per-query path
  * row-for-row, append admits new vectors WITHOUT touching the trained
  * model or existing codes, and serving reads only the probed cells'
  * code files. Immutable data files + atomic manifest commits give
  * snapshot isolation (a pinned reader is unaffected by later
  * append/delete/compact), crash-invisible partial writes, optimistic
  * conflict detection, time travel through compaction, and vacuum that
  * reclaims only unreferenced files.
  */
class VersionedStoreSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    GraftSession.registerUdafs(s)
    s
  }

  override def afterAll(): Unit = spark.stop()

  private val (nCents, nSub, nCodes, iters, nQ, k, nProbe) = (8, 4, 8, 2, 4, 10, 2)
  private lazy val emb = Tables.table(spark, "/root/testdata/sf0.001", "embeddings")
  private def base = emb.filter(col("vec_id") < 400)
  private def rest = emb.filter(col("vec_id") >= 400)
  private def delIds = emb.select(col("vec_id"))
    .filter(col("vec_id") % 7 === 3 && col("vec_id") >= nQ)
  private def queries = Similarity.withEmb(emb)
    .filter(col("vec_id") < nQ).select(col("vec_id").as("qid"), col("emb"))

  /** One full lifecycle (v0 build, v1 append, v2 delete, v3 compact)
    * in a fresh dir.
    */
  private def freshLifecycle(): String = {
    val d = Files.createTempDirectory("graft_verspec").toString
    V.build(emb.filter(col("vec_id") < 400), d, nCents, nSub, nCodes, iters)
    V.append(spark, d, rest)
    V.delete(spark, d, delIds)
    V.compact(spark, d)
    d
  }

  private lazy val store = freshLifecycle()

  /** ADC search of the query batch over the live codes at `version`. */
  private def search(dir: String, version: Long = V.Latest): Seq[org.apache.spark.sql.Row] =
    Similarity.ivfPqSearchFrames(queries,
      V.model(spark, dir, version),
      V.liveCodes(spark, dir, version).filter(col("vec_id") >= nQ),
      nSub, k, nProbe).collect().toSeq

  /** A fresh v0 over the whole corpus. */
  private lazy val full = {
    val d = Files.createTempDirectory("graft_verspec_full").toString
    V.build(emb, d, nCents, nSub, nCodes, iters)
    d
  }

  private def codesSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Seq[Long])] =
    df.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getSeq[Long](2).toList: Seq[Long])).toSet

  test("snapshot isolation: a reader pinned at v1 is unaffected by the delete and compaction that committed after it") {
    val d = Files.createTempDirectory("graft_verspec_iso").toString
    V.build(base, d, nCents, nSub, nCodes, iters)
    V.append(spark, d, rest)
    val pinned = codesSet(V.codes(spark, d, 1L))
    V.delete(spark, d, delIds)
    V.compact(spark, d)
    assert(codesSet(V.codes(spark, d, 1L)) == pinned,
      "the pinned version's file list is immutable — later commits must not change what it reads")
    val latest = codesSet(V.liveCodes(spark, d))
    assert(latest != pinned && latest.subsetOf(pinned),
      "the latest version should be the pinned set minus the deleted rows")
  }

  test("a half-written segment with no manifest is invisible to every reader") {
    val d = freshLifecycle()
    val before = codesSet(V.codes(spark, d))
    // Simulate a writer that crashed after its data files but before
    // its manifest commit: a code segment on disk, referenced nowhere.
    V.codes(spark, d).limit(5)
      .write.partitionBy("cid").parquet(s"$d/seg-99999999-crashed")
    assert(codesSet(V.codes(spark, d)) == before,
      "reads resolve the manifest's file list — unreferenced files must not leak in")
    assert(V.currentVersion(spark, d) == 3L)
  }

  test("optimistic concurrency: committing into an occupied version slot fails with a conflict, store intact") {
    val d = freshLifecycle()
    val snap = V.snapshot(spark, d)
    val ex = intercept[IllegalStateException] {
      V.commitForTest(spark, d, snap.copy(op = "rogue"))
    }
    assert(ex.getMessage.contains("concurrent commit"))
    assert(V.snapshot(spark, d).op == "compact",
      "the losing committer must leave the committed lineage untouched")
  }

  test("time travel THROUGH compaction: v1 and v2 stay serveable after v3 rewrote the live set") {
    val fromV1 = Similarity.ivfPqSearchFrames(queries,
      V.model(spark, store, 1L),
      V.codes(spark, store, 1L).filter(col("vec_id") >= nQ),
      nSub, k, nProbe).collect().toSeq
    // v1 ≡ a fresh build-then-append store's answers (the q90b contract).
    val appended = {
      val d2 = Files.createTempDirectory("graft_verspec_ref").toString
      V.build(base, d2, nCents, nSub, nCodes, iters)
      V.append(spark, d2, rest)
      search(d2)
    }
    assert(fromV1 == appended)
    // v2 (tombstone view) ≡ v3 (compacted) — compaction changes no answer.
    val atV2 = Similarity.ivfPqSearchFrames(queries,
      V.model(spark, store, 2L),
      V.liveCodes(spark, store, 2L).filter(col("vec_id") >= nQ),
      nSub, k, nProbe).collect().toSeq
    val atV3 = Similarity.ivfPqSearchFrames(queries,
      V.model(spark, store),
      V.liveCodes(spark, store).filter(col("vec_id") >= nQ),
      nSub, k, nProbe).collect().toSeq
    assert(atV2 == atV3)
  }

  test("history is manifest-only and matches the lifecycle's operation sizes") {
    val h = V.history(spark, store).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    val nBase = base.count(); val nAll = emb.count(); val nDel = delIds.count()
    assert(h == Seq(
      (0L, "build", nBase, 0L),
      (1L, "append", nAll, 0L),
      (2L, "delete", nAll, nDel),
      (3L, "compact", nAll - nDel, 0L)))
  }

  test("vacuum(retain=1) drops old versions and their files; the latest serves byte-identically") {
    val d = freshLifecycle()
    val before = Similarity.ivfPqSearchFrames(queries,
      V.model(spark, d),
      V.liveCodes(spark, d).filter(col("vec_id") >= nQ),
      nSub, k, nProbe).collect().toSeq
    val buildSeg = V.snapshot(spark, d, 0L).segments
      .find(_.kind == "codes").get.dir
    val modelDir = V.snapshot(spark, d, 0L).modelDir
    V.vacuum(spark, d, retain = 1)
    intercept[IllegalArgumentException] { V.snapshot(spark, d, 0L) }
    intercept[IllegalArgumentException] { V.snapshot(spark, d, 2L) }
    val f = new org.apache.hadoop.fs.Path(d)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!f.exists(new org.apache.hadoop.fs.Path(s"$d/$buildSeg")),
      "the build segment is unreferenced by the retained compact version and must be reclaimed")
    assert(f.exists(new org.apache.hadoop.fs.Path(s"$d/$modelDir")),
      "the model is still referenced by the retained version and must survive")
    val after = Similarity.ivfPqSearchFrames(queries,
      V.model(spark, d),
      V.liveCodes(spark, d).filter(col("vec_id") >= nQ),
      nSub, k, nProbe).collect().toSeq
    assert(after == before)
  }

  test("reindex is blue/green: a reader pinned at the old model is untouched; the new version equals a from-scratch build on the live set") {
    val d = freshLifecycle()
    def searchLatest() = Similarity.ivfPqSearchFrames(queries,
      V.model(spark, d),
      V.liveCodes(spark, d).filter(col("vec_id") >= nQ),
      nSub, k, nProbe).collect().toSeq
    def searchAt(v: Long) = Similarity.ivfPqSearchFrames(queries,
      V.model(spark, d, v),
      V.liveCodes(spark, d, v).filter(col("vec_id") >= nQ),
      nSub, k, nProbe).collect().toSeq
    val oldModel = searchAt(3L)
    V.reindex(spark, d)
    assert(V.snapshot(spark, d).op == "reindex" && V.currentVersion(spark, d) == 4L)
    assert(searchAt(3L) == oldModel,
      "the pinned pre-reindex version must keep serving the OLD model unchanged")
    // The reindexed store ≡ a fresh v0 build on the live population
    // (same kernels, same training input).
    val live = emb.filter(!(col("vec_id") % 7 === 3 && col("vec_id") >= nQ))
    val d2 = Files.createTempDirectory("graft_verspec_fresh").toString
    V.build(live, d2, nCents, nSub, nCodes, iters)
    val fresh = search(d2)
    assert(searchLatest() == fresh,
      "reindex-from-store must equal retraining from scratch on the live corpus")
  }

  test("pruned re-rank from the store's cell-partitioned vectors equals the unpruned corpus-table re-rank") {
    val cellVecs = V.liveVectors(spark, store)
      .withColumn("emb", col("embedding").cast("array<double>"))
      .select(col("vec_id"), col("cid"), col("emb"))
    val pruned = Similarity.ivfPqRerankPruned(queries,
      V.model(spark, store),
      V.liveCodes(spark, store).filter(col("vec_id") >= nQ),
      cellVecs, nSub, 50, k, nProbe).collect().toSeq
    val unpruned = Similarity.ivfPqRerankFrames(queries,
      V.model(spark, store),
      V.liveCodes(spark, store).filter(col("vec_id") >= nQ),
      Similarity.withEmb(emb), nSub, 50, k, nProbe).collect().toSeq
    assert(pruned == unpruned,
      "restricting the float source to probed cells must not change the exact re-rank")
    // And the float tier really is file-pruned: a probed-cells read
    // touches fewer vector files than the full vector table.
    val allFiles = V.vectors(spark, store)
      .select(input_file_name()).distinct().count()
    val oneCell = V.vectors(spark, store).filter(col("cid") === 0L)
      .select(input_file_name()).distinct().count()
    assert(oneCell < allFiles,
      s"a one-cell vector read must touch fewer float files ($oneCell vs $allFiles)")
  }

  test("vector upsert swaps generations in ONE commit: live search equals the delete-then-append lineage, pinned v3 untouched, revivals included") {
    def res(dir: String, v: Long) = Similarity.ivfPqSearchFrames(queries,
      V.model(spark, dir, v),
      V.liveCodes(spark, dir, v).filter(col("vec_id") >= nQ),
      nSub, k, nProbe).collect().toSeq
    val patch = emb.filter(col("vec_id") >= 400 && col("vec_id") % 5 === 2)
      .withColumn("embedding", expr("reverse(embedding)"))
    val d = freshLifecycle()
    val v3 = V.currentVersion(spark, d)
    val before = res(d, v3)
    val v4 = V.upsert(spark, d, patch)
    assert(v4 == v3 + 1, "an upsert is exactly one commit")
    // Reference lineage: the same replacement via the two-commit
    // delete-then-append path (training is exact-integer deterministic,
    // so both stores carry the identical model).
    val d2 = freshLifecycle()
    V.delete(spark, d2, patch.select("vec_id"))
    V.append(spark, d2, patch)
    assert(res(d, V.Latest) == res(d2, V.Latest),
      "one-commit upsert must serve exactly what delete-then-append serves")
    assert(res(d, v3) == before,
      "a reader pinned to the pre-upsert version is untouched")
    // Exactly one live generation per upserted id, and the deleted ids
    // the patch touches are live again.
    val ups = V.liveCodes(spark, d)
      .filter(col("vec_id") >= 400 && col("vec_id") % 5 === 2)
    assert(ups.count() == ups.select("vec_id").distinct().count())
    val revived = V.liveCodes(spark, d)
      .filter(col("vec_id") % 7 === 3 && col("vec_id") >= nQ).count()
    val expectedRevived = emb.filter(col("vec_id") >= 400 &&
      col("vec_id") % 5 === 2 && col("vec_id") % 7 === 3).count()
    assert(revived == expectedRevived && expectedRevived > 0,
      s"exactly the upserted deleted ids must revive ($revived vs $expectedRevived)")
  }

  test("vector change feed: deletes and appends report exactly; compaction emits NOTHING; upsert splits into revivals and re-encodes") {
    val d = freshLifecycle()
    def feed(a: Long, b: Long): Map[Long, String] =
      V.changes(spark, d, a, b).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    val appendedIds = rest.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(feed(0L, 1L) == appendedIds.map(_ -> "insert").toMap)
    val deadIds = delIds.collect().map(_.getLong(0)).toSet
    assert(feed(1L, 2L) == deadIds.map(_ -> "delete").toMap)
    assert(feed(2L, 3L).isEmpty,
      "compaction rewrites every code file yet must be invisible to the feed")
    val patch = emb.filter(col("vec_id") >= 400 && col("vec_id") % 5 === 2)
      .withColumn("embedding", expr("reverse(embedding)"))
    V.upsert(spark, d, patch)
    val got = feed(3L, 4L)
    val patchIds = patch.select("vec_id").collect().map(_.getLong(0)).toSet
    val expected = patchIds.map(id =>
      id -> (if (deadIds.contains(id)) "insert" else "update")).toMap
    // Re-encoded ids whose reversed embedding happens to re-quantize to
    // the SAME (cell, codes) are legitimate feed no-ops — allow them,
    // but everything the feed DOES report must be in the patch set and
    // correctly classified, and every revival must surface.
    assert(got.keySet.subsetOf(patchIds), s"feed leaked ids outside the patch")
    got.foreach { case (id, ch) => assert(ch == expected(id), s"id $id: $ch") }
    assert(patchIds.filter(deadIds.contains).forall(got.contains),
      "every revival must surface as an insert")
  }

  test("replayed delete batches are version no-ops: no junk version, no inflated tombstone counts") {
    val d = freshLifecycle()
    // freshLifecycle ends compacted (tombstones folded); delete the
    // residue ONCE more to re-establish tombstones, then replay it.
    val moreDead = emb.select(col("vec_id"))
      .filter(col("vec_id") % 11 === 5 && col("vec_id") >= nQ)
    val v1 = V.delete(spark, d, moreDead)
    val tombAfterFirst = V.tombstones(spark, d).count()
    val v2 = V.delete(spark, d, moreDead)
    assert(v2 == v1, "a fully-replayed delete must not commit a version")
    assert(V.tombstones(spark, d).count() == tombAfterFirst,
      "a replay must not inflate the tombstone set")
  }

  test("restore rolls the live state back as a new commit: zero data movement, target reproduced exactly, mistake still inspectable") {
    val d = freshLifecycle()
    def search(v: Long) = Similarity.ivfPqSearchFrames(queries,
      V.model(spark, d, v),
      V.liveCodes(spark, d, v).filter(col("vec_id") >= nQ),
      nSub, k, nProbe).collect().toSeq
    val atV3 = search(3L)
    V.reindex(spark, d)
    val atV4 = search(4L)
    assert(atV4 != atV3, "fixture must make the reindex visible")
    val filesBefore = new org.apache.hadoop.fs.Path(d)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(new org.apache.hadoop.fs.Path(d)).map(_.getPath.getName).toSet
    val v5 = V.restore(spark, d, 3L)
    assert(v5 == 5L && V.snapshot(spark, d).op == "restore")
    val filesAfter = new org.apache.hadoop.fs.Path(d)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(new org.apache.hadoop.fs.Path(d)).map(_.getPath.getName).toSet
    assert(filesAfter == filesBefore,
      "restore must move no data — it is one manifest referencing old files")
    assert(search(V.currentVersion(spark, d)) == atV3,
      "the restored latest must reproduce its target bit-for-bit")
    assert(search(4L) == atV4,
      "the rolled-back version must stay inspectable for the post-mortem")
  }

  test("cid pruning stays file-level through the explicit-file-list snapshot read") {
    val allFiles = V.codes(spark, store)
      .select(input_file_name()).distinct().count()
    val oneCell = V.codes(spark, store).filter(col("cid") === 0L)
      .select(input_file_name()).distinct().count()
    assert(oneCell < allFiles,
      s"a one-cell read must touch fewer files than the full scan ($oneCell vs $allFiles)")
  }

  test("stored-index search equals the retrain-per-query path row-for-row") {
    val retrained = Similarity.ivfPqSearch(emb, nCents, nSub, nCodes, iters,
      nQ, k, nProbe).collect().toSeq
    assert(search(full) == retrained,
      "a persisted index must answer exactly what the just-trained one answers")
  }

  test("append admits new vectors without retraining: model frozen, existing codes untouched") {
    val d = Files.createTempDirectory("graft_verspec_app").toString
    V.build(base, d, nCents, nSub, nCodes, iters)
    val modelBefore = V.model(spark, d)
    val codesBefore = V.codes(spark, d).orderBy("vec_id").collect().toSeq
    V.append(spark, d, rest)
    val model = V.model(spark, d)
    assert(model.coarse == modelBefore.coarse, "append must not touch the coarse quantizer")
    assert(model.books == modelBefore.books, "append must not touch the sub-codebooks")
    val after = V.codes(spark, d).orderBy("vec_id").collect().toSeq
    assert(after.filter(_.getLong(0) < 400) == codesBefore,
      "existing code rows must be byte-stable under append")
    val total = emb.count()
    assert(after.length.toLong == total && after.map(_.getLong(0)).distinct.length.toLong == total,
      "every vector coded exactly once after append")
    // The appended rows are coded against the STORED model: re-encoding
    // them from the stored artifacts reproduces them.
    val expected = Similarity.encodeResidualsModel(
      Similarity.residualsModel(Similarity.withEmb(rest), model.coarse),
      model.books, nSub).orderBy("vec_id").collect().toSeq
    assert(after.filter(_.getLong(0) >= 400).map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2)))
      == expected.map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2))))
  }

  test("tombstone delete hides rows from serving without touching code files; compact preserves answers") {
    val d = Files.createTempDirectory("graft_verspec_del").toString
    V.build(emb, d, nCents, nSub, nCodes, iters)
    def codeFiles(): Set[String] = V.codes(spark, d).inputFiles.toSet
    val filesBefore = codeFiles()
    val before = search(d)

    // Tombstone ~1/7 of the corpus: serving flips to the live view,
    // yet not one code file changed (deletion is metadata-only).
    V.delete(spark, d, delIds)
    val live = search(d)
    assert(codeFiles() == filesBefore, "delete must not rewrite code files")
    assert(live != before, "a 1/7 deletion must visibly reshape top-k on the fixture")
    assert(!live.exists(r => r.getLong(2) % 7 == 3), "no tombstoned id may be served")

    // Cell pruning SURVIVES the tombstone anti-join: a cid filter on
    // the live view pushes below the join and lands on the parquet
    // scan as a PARTITION filter — without this the takedown path
    // would silently un-scale serving.
    val pruned = V.liveCodes(spark, d).filter(col("cid").isin(0L, 1L))
    val storeScans = pruned.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains(d)) &&
            f.requiredSchema.fieldNames.contains("codes") => f
    }
    assert(storeScans.nonEmpty)
    assert(storeScans.forall(_.partitionFilters.exists(
        _.references.exists(_.name == "cid"))),
      s"cid filter must reach the scan's partition filters through the anti-join: " +
        storeScans.map(_.partitionFilters).mkString(";"))

    // Physical compaction: identical answers from the merged code
    // segment, tombstones gone, exactly one file per cell.
    V.compact(spark, d)
    assert(search(d) == live, "compaction must not change a single answer")
    assert(V.tombstones(spark, d).count() == 0)
    val perCell = V.codes(spark, d)
      .select(col("cid"), input_file_name().as("f"))
      .distinct()
      .groupBy("cid").count()
      .collect()
    assert(perCell.nonEmpty && perCell.forall(_.getLong(1) == 1L),
      s"compaction must leave one file per cell: ${perCell.mkString(",")}")
    // liveCodes degenerates to codes once tombstones are folded in.
    assert(V.liveCodes(spark, d).count() == V.codes(spark, d).count())

    // Compaction is IDEMPOTENT: a second pass over an already-compacted
    // store must reproduce the same rows (a maintenance scheduler may
    // fire it redundantly).
    val snap = V.codes(spark, d).orderBy("vec_id").collect().toSeq
    V.compact(spark, d)
    assert(V.codes(spark, d).orderBy("vec_id").collect().toSeq == snap,
      "double compaction must be a no-op on the rows")

    // REVIVAL: re-ingesting tombstoned ids must serve them again with
    // exactly ONE generation of codes — append folds deletions
    // physically first, so the full-corpus ranking comes back.
    val d2 = Files.createTempDirectory("graft_verspec_rev").toString
    V.build(emb, d2, nCents, nSub, nCodes, iters)
    V.delete(spark, d2, delIds)
    V.append(spark, d2, emb.join(delIds, "vec_id"))
    assert(V.tombstones(spark, d2).count() == 0,
      "revival must clear the revived ids' tombstones")
    val after2 = V.codes(spark, d2)
    assert(after2.count() == after2.select("vec_id").distinct().count(),
      "exactly one code generation per id after revival")
    assert(search(d2) == before, "delete-then-reingest must restore the full-corpus ranking")
  }

  test("ADC serving never scans the float embedding column on the corpus side") {
    val a = V.serving(spark, full)
    assert(a.nSub == nSub, "nSub comes from the snapshot's recorded training parameters")
    val q = Similarity.ivfPqSearchFrames(queries, a.model,
      a.liveCodes.filter(col("vec_id") >= nQ), a.nSub, k, nProbe)
    import org.apache.spark.sql.execution.FileSourceScanExec
    val storeScans = q.queryExecution.sparkPlan.collectLeaves().collect {
      case f: FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains(full)) =>
        f.requiredSchema.fieldNames.toSet
    }
    assert(storeScans.nonEmpty, "the stored code table must be scanned")
    storeScans.foreach(cols =>
      assert(!cols.contains("emb") && !cols.contains("embedding"),
        s"store scans must read codes only, got $cols"))
  }
}
