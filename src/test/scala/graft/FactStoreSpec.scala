package graft

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{FactStore => F, ManifestLog => M, Tables}

/** The raw-lake DML contracts (q140 family + the q127 raw leg): every
  * mutation is one atomic manifest commit; deletes/upserts follow the
  * version-scoped tombstone rule (kill only rows born strictly
  * earlier); a crashed mutation is invisible; and the z-order/stats
  * pruning tier SURVIVES row-level DML — pruned reads stay exactly
  * equal to plain scans, deleted rows can never resurface through a
  * pruned path, and exclusions remain provable.
  */
class FactStoreSpec extends AnyFunSuite with BeforeAndAfterAll {

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
    s
  }

  override def afterAll(): Unit = spark.stop()

  private val nFiles = 8
  private lazy val ev = Tables.events(spark, "/root/testdata/sf0.001")
    .select(col("event_id"), col("user_id"), col("ts_us"),
      col("event_type"), col("value"))

  private def sortedRows(df: DataFrame): Seq[String] =
    df.select("event_id", "user_id", "ts_us", "event_type", "value")
      .collect().map(_.toString).toSeq.sorted

  /** The full lifecycle used across tests: v1 build (first half),
    * v2 append (second half), v3 delete (user residue), v4 upsert
    * (corrections, disjoint from the deleted users), v5 compact.
    */
  private lazy val dmlDir: String = {
    val d = Files.createTempDirectory("graft_fact").toString
    F.build(ev.where(col("event_id") % 2 === 0), d, "event_id",
      Seq("user_id", "ts_us"), nFiles, Seq("user_id", "ts_us", "event_id"))
    F.append(spark, d, ev.where(col("event_id") % 2 =!= 0), nFiles)
    F.deleteMatching(spark, d, col("user_id") % 5 === 1)
    F.upsert(spark, d, patch, nFiles)
    F.compact(spark, d, nFiles)
    d
  }
  private lazy val patch = ev
    .where(col("event_id") % 3 === 0 && col("user_id") % 5 =!= 1)
    .withColumn("value", col("value") + 7.0)
    .withColumn("event_type", lit("fixed"))
  private lazy val expectedLive = ev
    .where(col("user_id") % 5 =!= 1)
    .withColumn("patched", col("event_id") % 3 === 0)
    .withColumn("value", when(col("patched"), col("value") + 7.0).otherwise(col("value")))
    .withColumn("event_type", when(col("patched"), lit("fixed")).otherwise(col("event_type")))
    .drop("patched")

  test("the DML lineage restates as plain frames at every version (build/append/delete/upsert/compact)") {
    assert(M.currentVersion(spark, dmlDir) == 5L)
    assert(sortedRows(F.read(spark, dmlDir, 1L))
      == sortedRows(ev.where(col("event_id") % 2 === 0)))
    assert(sortedRows(F.read(spark, dmlDir, 2L)) == sortedRows(ev))
    assert(sortedRows(F.read(spark, dmlDir, 3L))
      == sortedRows(ev.where(col("user_id") % 5 =!= 1)))
    val live = sortedRows(expectedLive)
    assert(sortedRows(F.read(spark, dmlDir, 4L)) == live,
      "upsert: tombstone + replacement land in ONE commit")
    assert(sortedRows(F.read(spark, dmlDir)) == live,
      "compact preserves the live rows exactly")
    // Time travel is real isolation: the v3 pin still shows the
    // pre-upsert generation of a patched row.
    val pinned = F.read(spark, dmlDir, 3L)
      .where(col("event_id") % 3 === 0).select("event_type")
      .distinct().collect().map(_.getString(0)).toSet
    assert(!pinned.contains("fixed"))
  }

  test("a deleted row never resurfaces: full reads, box reads, and post-compact reads all exclude it") {
    val deletedUsers = F.read(spark, dmlDir).where(col("user_id") % 5 === 1)
    assert(deletedUsers.isEmpty)
    // Through the PRUNED path too: a box that covers a deleted user's
    // rows must not leak them past the tombstone join.
    val someDeleted = ev.where(col("user_id") % 5 === 1)
      .select("user_id", "ts_us").head()
    val boxed = F.readBox(spark, dmlDir, Map(
      "user_id" -> (someDeleted.getLong(0), someDeleted.getLong(0)),
      "ts_us" -> (someDeleted.getLong(1), someDeleted.getLong(1))))
    assert(boxed.isEmpty, "pruned read leaked a tombstoned row")
  }

  test("pruning SURVIVES DML: box reads prune files, stay sound, and equal the plain filtered scan") {
    val (uLo, uHi) = (3L, 5L)
    val t = ev.agg(min("ts_us"), max("ts_us")).head()
    val (tLo, tHi) = (t.getLong(0), t.getLong(0) + (t.getLong(1) - t.getLong(0)) / 4)
    val bounds = Map("user_id" -> (uLo, uHi), "ts_us" -> (tLo, tHi))
    // At the post-delete, pre-compact version (4): multiple segments +
    // tombstones in play — pruning must still skip and still answer.
    val (kept4, total4) = F.pruneBox(spark, dmlDir, bounds, 4L)
    assert(kept4.values.map(_.size).sum < total4,
      s"box kept every one of $total4 files — no skipping through DML")
    val want4 = sortedRows(
      F.read(spark, dmlDir, 4L)
        .where(col("user_id").between(uLo, uHi) && col("ts_us").between(tLo, tHi)))
    assert(sortedRows(F.readBox(spark, dmlDir, bounds, 4L)) == want4)
    // Compaction re-tightens: one generation, still sound, still equal.
    val (kept5, total5) = F.pruneBox(spark, dmlDir, bounds)
    assert(kept5.values.map(_.size).sum < total5)
    assert(sortedRows(F.readBox(spark, dmlDir, bounds)) == want4,
      "compact changed a pruned read's answer")
    // Soundness: every excluded file provably holds no box row.
    val snap = M.snapshot(spark, dmlDir, 4L)
    snap.segments.filter(_.kind == "data").foreach { s =>
      val keptSet = kept4.getOrElse(s.dir, Seq.empty).toSet
      s.files.filterNot(keptSet).foreach { f =>
        val n = spark.read.parquet(s"$dmlDir/${s.dir}/$f")
          .where(col("user_id").between(uLo, uHi) && col("ts_us").between(tLo, tHi))
          .count()
        assert(n == 0L, s"excluded file ${s.dir}/$f held $n matching rows")
      }
    }
  }

  test("change feed: every lifecycle edge surfaces as exactly its row changes; compaction is invisible") {
    import spark.implicits._
    def feed(a: Long, b: Long): Map[String, Set[Long]] =
      F.changes(spark, dmlDir, a, b).as[(Long, String)].collect()
        .groupBy(_._2).map { case (k, v) => k -> v.map(_._1).toSet }
    // v1 -> v2: the append — pure inserts of the odd ids.
    val f12 = feed(1L, 2L)
    assert(f12.keySet == Set("insert") &&
      f12("insert") == ev.where(col("event_id") % 2 =!= 0)
        .select("event_id").as[Long].collect().toSet)
    // v2 -> v3: the GDPR delete — pure deletes of the subject users' rows.
    val f23 = feed(2L, 3L)
    assert(f23.keySet == Set("delete") &&
      f23("delete") == ev.where(col("user_id") % 5 === 1)
        .select("event_id").as[Long].collect().toSet)
    // v3 -> v4: the corrections upsert — pure updates of the patch set.
    val f34 = feed(3L, 4L)
    assert(f34.keySet == Set("update") &&
      f34("update") == ev.where(col("event_id") % 3 === 0 && col("user_id") % 5 =!= 1)
        .select("event_id").as[Long].collect().toSet)
    // v4 -> v5: compaction — NO content change, an empty feed.
    assert(F.changes(spark, dmlDir, 4L, 5L).isEmpty,
      "physical maintenance leaked into the change feed")
  }

  test("readBox's residual predicate pushes into the surviving parquet scans") {
    val df = F.readBox(spark, dmlDir, Map("user_id" -> (3L, 5L)))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters:") &&
      plan.contains("GreaterThanOrEqual(user_id,3)") &&
      plan.contains("LessThanOrEqual(user_id,5)"),
      s"box residual must reach the scan as a pushed filter:\n$plan")
  }

  test("a crashed mutation (segment files on disk, no manifest commit) is invisible") {
    val before = sortedRows(F.read(spark, dmlDir))
    val vBefore = M.currentVersion(spark, dmlDir)
    // Simulate the crash window: a data segment AND a tombstone segment
    // fully written — stats sidecar included — but no manifest swap.
    val orphanData = s"$dmlDir/seg-00000099-append-orphan"
    ev.limit(5).write.parquet(orphanData)
    val f = M.fs(spark, dmlDir)
    val out = f.create(new Path(s"$orphanData/_filestats.json"), false)
    out.write("{}".getBytes("UTF-8")); out.close()
    ev.limit(3).select(col("event_id"))
      .write.parquet(s"$dmlDir/seg-00000099-delete-tomb-orphan")
    assert(M.currentVersion(spark, dmlDir) == vBefore)
    assert(sortedRows(F.read(spark, dmlDir)) == before,
      "uncommitted segments leaked into a read")
    f.delete(new Path(orphanData), true)
    f.delete(new Path(s"$dmlDir/seg-00000099-delete-tomb-orphan"), true)
  }

  test("additive schema evolution: new columns null-fill old generations, indexed columns stay required, pruning and DML survive") {
    import spark.implicits._
    val d = Files.createTempDirectory("graft_fact_evo").toString
    F.build(ev.where(col("event_id") % 2 === 0), d, "event_id",
      Seq("user_id", "ts_us"), 4, Seq("user_id", "ts_us", "event_id"))
    F.append(spark, d,
      ev.where(col("event_id") % 2 =!= 0)
        .withColumn("source", lit("batch2")), 4)
    val live = F.read(spark, d)
    assert(live.columns.contains("source"))
    // Pre-evolution rows null-fill; evolved rows carry the value.
    assert(live.where(col("event_id") % 2 === 0 && col("source").isNotNull).isEmpty)
    assert(live.where(col("event_id") % 2 =!= 0 && col("source") =!= "batch2").isEmpty)
    assert(live.count() == ev.count())
    // A batch MISSING an indexed column is rejected loudly.
    val e = intercept[IllegalArgumentException] {
      F.append(spark, d, ev.limit(5).drop("ts_us"), 2)
    }
    assert(e.getMessage.contains("missing indexed column"))
    // DML composes with evolution: upsert a patched evolved row over a
    // PRE-evolution key — the replacement carries the new column.
    val patch = ev.where(col("event_id") === 0)
      .withColumn("source", lit("patched"))
    if (!patch.isEmpty) {
      F.upsert(spark, d, patch, 2)
      val got = F.read(spark, d).where(col("event_id") === 0)
        .select("source").collect().map(_.getString(0)).toSeq
      assert(got == Seq("patched"))
    }
    // The change feed does NOT flag unchanged rows across the
    // evolution boundary: v1 -> v2 is pure inserts (the appended odd
    // rows), no spurious updates from the schema change.
    val f12 = F.changes(spark, d, 1L, 2L)
      .as[(Long, String)].collect().groupBy(_._2).view.mapValues(_.length).toMap
    assert(f12.keySet == Set("insert"),
      s"schema evolution must not fabricate changes, got $f12")
    // Pruning still prunes across mixed-schema generations.
    val (kept, total) = F.pruneBox(spark, d, Map("user_id" -> (3L, 5L)))
    assert(kept.values.map(_.size).sum < total)
  }

  test("concurrent writers: the version slot is optimistic — the loser's commit throws and the winner's store is intact") {
    val d = Files.createTempDirectory("graft_fact_conflict").toString
    F.build(ev.limit(200), d, "event_id", Seq("user_id", "ts_us"), 2)
    // Two writers race version 2 (simulated at the ManifestLog layer —
    // in-process FactStore calls serialize on the object lock, so the
    // race is the cross-process one).
    val prior = M.snapshot(spark, d)
    val f = M.fs(spark, d)
    M.commit(f, d, prior.copy(version = 2L, op = "writer-a"))
    val e = intercept[IllegalStateException] {
      M.commit(f, d, prior.copy(version = 2L, op = "writer-b"))
    }
    assert(e.getMessage.contains("concurrent commit"))
    assert(M.snapshot(spark, d).op == "writer-a",
      "the losing writer must not clobber the winner")
    assert(sortedRows(F.read(spark, d)) == sortedRows(ev.limit(200)))
  }

  test("restore republishes an old version as a NEW commit; vacuum keeps retained versions byte-identical") {
    val d = Files.createTempDirectory("graft_fact_restore").toString
    F.build(ev, d, "event_id", Seq("user_id", "ts_us"), nFiles)
    F.deleteMatching(spark, d, col("user_id") % 5 === 1)
    val v3 = F.restore(spark, d, 1L)
    assert(v3 == 3L)
    assert(sortedRows(F.read(spark, d)) == sortedRows(ev),
      "restore must republish v1's exact rows")
    assert(sortedRows(F.read(spark, d, 2L))
      == sortedRows(ev.where(col("user_id") % 5 =!= 1)),
      "the intermediate version stays inspectable")
    F.vacuum(spark, d, retain = 1)
    assert(sortedRows(F.read(spark, d)) == sortedRows(ev),
      "vacuum touched the retained version's files")
  }

  test("incremental compaction rewrites ONLY over-threshold segments — carried files byte-identical, reads unchanged, tombstones retired selectively") {
    def fileBytes(d: String): Map[String, (Long, Long)] = {
      val fs = new Path(d).getFileSystem(spark.sparkContext.hadoopConfiguration)
      def walk(p: Path): Seq[org.apache.hadoop.fs.FileStatus] =
        fs.listStatus(p).toSeq.flatMap(s =>
          if (s.isDirectory) walk(s.getPath) else Seq(s))
      walk(new Path(d)).filter(_.getPath.getName.endsWith(".parquet"))
        .map(s => s.getPath.toString -> (s.getLen, s.getModificationTime)).toMap
    }
    val d = Files.createTempDirectory("graft_fact_incr").toString
    // v1: even events; v2: odd events; v3: delete concentrated in the
    // APPENDED generation (odd ids) — the base generation stays under
    // the tombstone-fraction threshold, the appended one crosses it.
    F.build(ev.where(col("event_id") % 2 === 0), d, "event_id",
      Seq("user_id", "ts_us"), nFiles, Seq("user_id", "ts_us", "event_id"))
    F.append(spark, d, ev.where(col("event_id") % 2 =!= 0), nFiles)
    F.deleteMatching(spark, d, col("event_id") % 4 === 1)
    val before = sortedRows(F.read(spark, d))
    val segsBefore = M.snapshot(spark, d).segments
    val baseSeg = segsBefore.find(s => s.kind == "data" && s.dir.contains("base")).get
    val bytesBefore = fileBytes(d)
    // ~50% of the appended seg is tombstoned vs 0% of the base.
    val (v4, rewritten) = F.compactIncremental(spark, d, nFiles, maxTombFrac = 0.2)
    assert(v4 == 4L && rewritten.length == 1 && rewritten.head.contains("append"),
      s"only the tombstone-heavy appended segment should fold, got $rewritten")
    val after = M.snapshot(spark, d)
    assert(after.op == "compact-incr")
    // The carried base segment: same dir, same files, bytes untouched.
    assert(after.segments.exists(s => s.dir == baseSeg.dir && s.files == baseSeg.files),
      "the healthy segment must be carried by reference")
    val bytesAfter = fileBytes(d)
    baseSeg.files.foreach { f =>
      val p = bytesAfter.keys.find(_.endsWith(s"${baseSeg.dir}/$f")).get
      assert(bytesAfter(p) == bytesBefore(p),
        s"carried file $f must be byte-identical (size+mtime)")
    }
    // Tombstones retired: nothing carried predates the delete (base is
    // v1 < tomb v3), so the tombstone must STILL be carried...
    assert(after.segments.count(_.kind == "tomb") == 1,
      "the tombstone still scopes the carried v1 segment")
    // ...and reads are unchanged through the bounded rewrite.
    assert(sortedRows(F.read(spark, d)) == before)
    // Pruning re-tightened on the rewritten subset only: the new
    // segment has its own stats sidecar and box reads stay ≡ scans.
    val lo = ev.agg(min("user_id")).head.getLong(0)
    val boxed = sortedRows(F.readBox(spark, d, Map("user_id" -> (lo, lo + 5))))
    val want = sortedRows(F.read(spark, d)
      .where(col("user_id").between(lo, lo + 5)))
    assert(boxed == want)
    // A healthy store is a version no-op, not an empty rewrite.
    assert(F.compactIncremental(spark, d, nFiles, maxTombFrac = 0.2) == (4L, Nil))
    assert(M.currentVersion(spark, d) == 4L)
    // Forcing EVERY segment over the file-count threshold degenerates
    // to full compact: all rewritten, tombstones retired entirely.
    F.deleteMatching(spark, d, col("event_id") % 4 === 2)
    val liveBefore = sortedRows(F.read(spark, d))
    val (v6, rew2) = F.compactIncremental(spark, d, nFiles,
      maxTombFrac = 0.0, maxFilesPerSeg = 0)
    assert(v6 == 6L && rew2.length == 2)
    val snap6 = M.snapshot(spark, d)
    assert(snap6.segments.count(_.kind == "tomb") == 0,
      "with every scoped segment rewritten, tombstones retire")
    assert(sortedRows(F.read(spark, d)) == liveBefore)
  }

  test("Bloom point lookups: zero false negatives over every stored key, real file pruning, deleted keys stay invisible") {
    import spark.implicits._
    // Through the FULL DML lineage (build/append/delete/upsert/compact
    // is dmlDir's shape — but pre-compact versions exercise multi-
    // segment pruning, so probe at v4).
    val live = F.read(spark, dmlDir, 4L)
    val liveKeys = live.select("event_id").as[Long].collect().toSeq
    // Zero false negatives: EVERY live key, probed alone, is found.
    // (Batch the assertion as one IN-probe per 500 keys for runtime,
    // plus a per-key sweep over a sample — same guarantee.)
    liveKeys.grouped(500).foreach { g =>
      val got = F.readPoint(spark, dmlDir, g, 4L)
        .select("event_id").as[Long].collect().toSet
      assert(got == g.toSet, "a stored key must never be bloom-pruned away")
    }
    liveKeys.take(25).foreach { k =>
      val got = F.readPoint(spark, dmlDir, Seq(k), 4L)
        .select("event_id").as[Long].collect().toSeq
      assert(got == Seq(k))
    }
    // The tier PRUNES: a single-key probe keeps strictly fewer files
    // than the version references.
    val (kept, total) = F.prunePoint(spark, dmlDir, Seq(liveKeys.head), 4L)
    assert(total > 1 && kept.values.map(_.size).sum < total,
      s"bloom pruning kept ${kept.values.map(_.size).sum} of $total files")
    // A deleted user's key is tombstoned — the point read cannot
    // resurface it even when the bloom says the FILE may hold it.
    val deleted = ev.where(col("user_id") % 5 === 1)
      .select("event_id").as[Long].head(3).toSeq
    assert(F.readPoint(spark, dmlDir, deleted, 4L).isEmpty,
      "a tombstoned key must not resurface through the point path")
    // A key that never existed: empty result, and typically zero files.
    assert(F.readPoint(spark, dmlDir, Seq(Long.MaxValue - 7), 4L).isEmpty)
    // Rows served match the plain read exactly (values, not just keys).
    val probe = liveKeys.take(100)
    assert(F.readPoint(spark, dmlDir, probe, 4L)
        .collect().map(_.toString).toSeq.sorted
      == live.where(col("event_id").isin(probe: _*))
        .collect().map(_.toString).toSeq.sorted)
  }

  test("non-additive schema evolution: rename/drop are metadata-only, time travel serves each version's own schema, the feed stays exact") {
    import spark.implicits._
    val d = Files.createTempDirectory("graft_fact_cm").toString
    // v1 build → v2 rename value→amount → v3 drop event_type →
    // v4 upsert THROUGH the mapping (logical schema) → v5 delete.
    F.build(ev, d, "event_id", Seq("user_id", "ts_us"), nFiles,
      Seq("user_id", "ts_us", "event_id"))
    val files1 = M.snapshot(spark, d).segments.flatMap(_.files).sorted
    assert(F.renameColumn(spark, d, "value", "amount") == 2L)
    assert(F.dropColumn(spark, d, "event_type") == 3L)
    // Metadata-only: not one data file added or removed.
    assert(M.snapshot(spark, d).segments.flatMap(_.files).sorted == files1)
    // Each version serves ITS schema under time travel.
    assert(F.read(spark, d, 1L).columns.toSeq
      == Seq("event_id", "user_id", "ts_us", "event_type", "value"))
    assert(F.read(spark, d, 2L).columns.toSeq
      == Seq("event_id", "user_id", "ts_us", "event_type", "amount"))
    assert(F.read(spark, d, 3L).columns.toSeq
      == Seq("event_id", "user_id", "ts_us", "amount"))
    // The renamed column is the SAME physical data.
    assert(F.read(spark, d, 2L)
        .select(sum(col("amount").cast("decimal(38,6)"))).head.getDecimal(0)
      == ev.select(sum(col("value").cast("decimal(38,6)"))).head.getDecimal(0))
    // The feed fabricates NOTHING from schema changes...
    assert(F.changes(spark, d, 1L, 2L).isEmpty, "rename must be silent")
    assert(F.changes(spark, d, 2L, 3L).isEmpty, "drop must be silent")
    // ...but a real value change THROUGH the rename is caught.
    val patch = ev.where(col("event_id") % 97 === 3)
      .select(col("event_id"), col("user_id"), col("ts_us"),
        (col("value") + 5.0).as("amount"))
    F.upsert(spark, d, patch, nFiles)
    val f34 = F.changes(spark, d, 3L, 4L)
      .as[(Long, String)].collect().toMap
    assert(f34.values.toSet == Set("update") &&
      f34.keySet == patch.select("event_id").as[Long].collect().toSet,
      "an update through a renamed field must surface as exactly its keys")
    // DML through the mapping: deleteMatching on a logical predicate.
    F.deleteMatching(spark, d, col("amount") < 1.0)
    assert(F.read(spark, d).where(col("amount") < 1.0).isEmpty)
    // Box reads take LOGICAL bounds and prune on the physical stats.
    val lo = ev.agg(min("user_id")).head.getLong(0)
    val boxed = F.readBox(spark, d, Map("user_id" -> (lo, lo + 5)))
    assert(boxed.columns.toSeq == Seq("event_id", "user_id", "ts_us", "amount"))
    assert(boxed.collect().map(_.toString).toSeq.sorted
      == F.read(spark, d).where(col("user_id").between(lo, lo + 5))
        .collect().map(_.toString).toSeq.sorted)
    // changeRows serves BOTH images under the current logical schema.
    val cr = F.changeRows(spark, d, 3L, 4L)
    assert(cr.columns.contains("amount") && !cr.columns.contains("value"))
    assert(cr.where(col("_change_type") === "update_postimage").count()
      == f34.size)
    // Guards: the pruning tier and name collisions are non-negotiable.
    assert(intercept[IllegalArgumentException](
      F.dropColumn(spark, d, "user_id")).getMessage.contains("non-negotiable"))
    assert(intercept[IllegalArgumentException](
      F.renameColumn(spark, d, "amount", "user_id")).getMessage.contains("already exists"))
    assert(intercept[IllegalArgumentException](
      F.renameColumn(spark, d, "ghost", "x")).getMessage.contains("no active column"))
    // A NEW column may not shadow a dropped field's physical name.
    val bad = ev.limit(3).select(col("event_id"), col("user_id"), col("ts_us"),
      col("value").as("amount"), lit("x").as("event_type"))
    assert(intercept[IllegalArgumentException](
      F.append(spark, d, bad, 2)).getMessage.contains("physical name"))
    // Compaction carries the mapping: physical rewrite, logical reads
    // unchanged, and pre-compact versions still time-travel.
    val before = F.read(spark, d).collect().map(_.toString).toSeq.sorted
    F.compact(spark, d, nFiles)
    assert(F.read(spark, d).collect().map(_.toString).toSeq.sorted == before)
    assert(F.read(spark, d, 1L).columns.toSeq
      == Seq("event_id", "user_id", "ts_us", "event_type", "value"))
  }

  test("timestamp time travel: AS OF a wall-clock instant serves the version committed at or before it") {
    val d = Files.createTempDirectory("graft_fact_asof").toString
    F.build(ev, d, "event_id", Seq("user_id", "ts_us"), 4)
    Thread.sleep(5)
    F.deleteMatching(spark, d, col("user_id") % 5 === 1)
    Thread.sleep(5)
    F.append(spark, d, ev.limit(0), 4) // no-op, no commit
    val t1 = M.commitTimeMs(spark, d, 1L)
    val t2 = M.commitTimeMs(spark, d, 2L)
    assert(t2 > t1, "in-commit timestamps must be monotone here")
    // Exactly at a commit instant → that version; between commits →
    // the earlier one; after the last → latest.
    assert(M.versionAt(spark, d, t1) == 1L)
    assert(M.versionAt(spark, d, t2 - 1) == 1L)
    assert(M.versionAt(spark, d, t2) == 2L)
    assert(M.versionAt(spark, d, t2 + 60000) == 2L)
    assert(sortedRows(F.readAsOf(spark, d, t1)) == sortedRows(ev))
    assert(sortedRows(F.readAsOf(spark, d, t2))
      == sortedRows(ev.where(col("user_id") % 5 =!= 1)))
    // Predating the first commit is a loud error, not an empty frame.
    assert(intercept[IllegalArgumentException](
      M.versionAt(spark, d, t1 - 60000)).getMessage.contains("predates"))
  }

  test("recluster: metadata-only order-key switch — sound mixed-generation pruning, tightening as compaction migrates") {
    val d = Files.createTempDirectory("graft_fact_recluster").toString
    // Clustered (and stats'd) on user_id only.
    F.build(ev, d, "event_id", Seq("user_id"), nFiles, Seq("user_id"))
    val before = sortedRows(F.read(spark, d))
    // A bound on a never-declared column fails loudly.
    assert(intercept[IllegalArgumentException](
      F.pruneBox(spark, d, Map("ts_us" -> (0L, 1L)))).getMessage.contains("no stats"))
    // Switch clustering to ts_us: one metadata commit, zero files.
    val files1 = M.snapshot(spark, d).segments.flatMap(_.files).sorted
    assert(F.recluster(spark, d, Seq("ts_us")) == 2L)
    assert(M.snapshot(spark, d).op == "recluster")
    assert(M.snapshot(spark, d).segments.flatMap(_.files).sorted == files1)
    // Mixed generation: the pre-recluster segment has no ts_us stats,
    // so a ts_us box keeps ALL its files (sound), and results equal
    // the plain filtered scan.
    val (tsLo, tsHi) = {
      val r = ev.agg(min("ts_us"), max("ts_us")).head
      val lo = r.getLong(0); (lo, lo + (r.getLong(1) - lo) / 8)
    }
    val (kept2, total2) = F.pruneBox(spark, d, Map("ts_us" -> (tsLo, tsHi)))
    assert(kept2.values.map(_.size).sum == total2,
      "a segment without stats for the bound column must keep all files")
    assert(F.readBox(spark, d, Map("ts_us" -> (tsLo, tsHi)))
        .collect().map(_.toString).toSeq.sorted
      == F.read(spark, d).where(col("ts_us").between(tsLo, tsHi))
        .collect().map(_.toString).toSeq.sorted)
    // Old bounds STILL prune exactly (stats kept covering user_id).
    val lo = ev.agg(min("user_id")).head.getLong(0)
    val (kept2b, total2b) = F.pruneBox(spark, d, Map("user_id" -> (lo, lo + 2)))
    assert(kept2b.values.map(_.size).sum < total2b)
    // Fold everything under the new order: pruning on ts_us tightens.
    val (v3, rew) = F.compactIncremental(spark, d, nFiles,
      maxTombFrac = 0.0, maxFilesPerSeg = 0)
    assert(v3 == 3L && rew.nonEmpty)
    val (kept3, total3) = F.pruneBox(spark, d, Map("ts_us" -> (tsLo, tsHi)))
    assert(kept3.values.map(_.size).sum < total3,
      "after migration the new clustering must actually prune")
    assert(F.readBox(spark, d, Map("ts_us" -> (tsLo, tsHi)))
        .collect().map(_.toString).toSeq.sorted
      == F.read(spark, d).where(col("ts_us").between(tsLo, tsHi))
        .collect().map(_.toString).toSeq.sorted)
    // Rows never changed through the whole lifecycle; old versions
    // time-travel with their own clustering metadata.
    assert(sortedRows(F.read(spark, d)) == before)
    assert(M.snapshot(spark, d, 1L).meta("orderCols") == "user_id")
    assert(M.snapshot(spark, d, 3L).meta("orderCols") == "ts_us")
  }

  test("an upsert batch with duplicate keys is rejected (two same-commit generations would both survive)") {
    val d = Files.createTempDirectory("graft_fact_dup").toString
    F.build(ev.limit(100), d, "event_id", Seq("user_id", "ts_us"), 2)
    val dup = ev.limit(1).unionAll(ev.limit(1))
    val e = intercept[IllegalArgumentException] {
      F.upsert(spark, d, dup, 2)
    }
    assert(e.getMessage.contains("duplicate keys"))
  }

  // ------------------------------------------------------------- MERGE

  private val MergeOffset = 1000000000000L

  /** The q140k merge batch: a matched half (same keys, value shifted
    * +100 on even ids / −100 on odd — so `s.value >= t.value` splits
    * exactly on parity) and a new half (offset keys, type 'inserted'). */
  private def mergeSource(base: DataFrame): DataFrame =
    base.where(col("event_id") % 9 === 4)
      .withColumn("value", col("value") +
        when(col("event_id") % 2 === 0, lit(100.0)).otherwise(lit(-100.0)))
      .unionByName(
        base.where(col("event_id") % 9 === 5)
          .withColumn("event_id", col("event_id") + MergeOffset)
          .withColumn("event_type", lit("inserted")))

  test("MERGE: conditional update/delete/insert clauses, first-match precedence, ONE atomic commit") {
    import F.MergeClause._
    val d = Files.createTempDirectory("graft_fact_merge").toString
    F.build(ev, d, "event_id", Seq("user_id", "ts_us"), nFiles,
      Seq("user_id", "ts_us", "event_id"))
    val vmid = ev.agg(expr("percentile_approx(value, 0.5)")).head().getDouble(0)
    val v = F.merge(spark, d, mergeSource(ev), nFiles, Seq(
      Update(Some("s.value >= t.value"),
        Map("value" -> "s.value + t.value", "event_type" -> "'merged'")),
      Delete(None),
      Insert(Some(s"s.value >= $vmid"))))
    assert(v == 2L, "the whole merge is one commit")
    assert(M.snapshot(spark, d, 2L).op == "merge")
    val expected = ev.where(col("event_id") % 9 =!= 4) // untouched
      .unionByName(ev.where(col("event_id") % 9 === 4 && col("event_id") % 2 === 0)
        .withColumn("value", (col("value") + 100.0) + col("value"))
        .withColumn("event_type", lit("merged")))
      // matched odd rows: deleted by the second clause
      .unionByName(ev.where(col("event_id") % 9 === 5 && col("value") >= vmid)
        .withColumn("event_id", col("event_id") + MergeOffset)
        .withColumn("event_type", lit("inserted")))
    assert(sortedRows(F.read(spark, d)) == sortedRows(expected))
    // Every clause leg actually fired on this data.
    assert(ev.where(col("event_id") % 9 === 4 && col("event_id") % 2 === 0).count() > 0)
    assert(ev.where(col("event_id") % 9 === 4 && col("event_id") % 2 =!= 0).count() > 0)
    assert(ev.where(col("event_id") % 9 === 5 && col("value") >= vmid).count() > 0)
    assert(ev.where(col("event_id") % 9 === 5 && col("value") < vmid).count() > 0,
      "the insert condition must actually drop some source rows")
    // Time travel: v1 still serves the pre-merge table.
    assert(sortedRows(F.read(spark, d, 1L)) == sortedRows(ev))
  }

  test("MERGE: rows matching no clause stay live; a merge that changes nothing is a version no-op") {
    import F.MergeClause._
    val d = Files.createTempDirectory("graft_fact_merge_noop").toString
    F.build(ev.limit(200), d, "event_id", Seq("user_id", "ts_us"), 2)
    val before = sortedRows(F.read(spark, d))
    val v0 = M.currentVersion(spark, d)
    // Conditions that can never hold: no updates, no deletes, no inserts.
    val v = F.merge(spark, d, ev.limit(50), 2, Seq(
      Update(Some("s.value > 1e18"), Map("event_type" -> "'never'")),
      Delete(Some("s.value > 1e18")),
      Insert(Some("s.value > 1e18"))))
    assert(v == v0, "no-change merge must not mint a version")
    assert(sortedRows(F.read(spark, d)) == before)
    // And the probe segments it wrote are not referenced by any manifest.
    val segs = M.snapshot(spark, d).segments.map(_.dir).toSet
    assert(segs.forall(!_.contains("merge")), "no merge segment should be referenced")
  }

  test("MERGE through column mapping: SET on a renamed column lands on the physical field") {
    import F.MergeClause._
    val d = Files.createTempDirectory("graft_fact_merge_cm").toString
    F.build(ev, d, "event_id", Seq("user_id", "ts_us"), nFiles,
      Seq("user_id", "ts_us", "event_id"))
    F.renameColumn(spark, d, "value", "amount")
    val src = ev.where(col("event_id") % 4 === 1)
      .withColumnRenamed("value", "amount")
    F.merge(spark, d, src, nFiles, Seq(
      Update(None, Map("amount" -> "t.amount + 5.0", "event_type" -> "'bumped'"))))
    val got = F.read(spark, d)
    assert(got.columns.toSeq ==
      Seq("event_id", "user_id", "ts_us", "event_type", "amount"))
    val expected = ev
      .withColumn("hit", col("event_id") % 4 === 1)
      .withColumn("amount",
        when(col("hit"), col("value") + 5.0).otherwise(col("value")))
      .withColumn("event_type",
        when(col("hit"), lit("bumped")).otherwise(col("event_type")))
      .select("event_id", "user_id", "ts_us", "event_type", "amount")
    assert(got.select("event_id", "user_id", "ts_us", "event_type", "amount")
      .collect().map(_.toString).toSeq.sorted
      == expected.collect().map(_.toString).toSeq.sorted)
  }

  test("MERGE: a source with duplicate keys, an unknown SET column, and a SET on the key are all rejected") {
    import F.MergeClause._
    val d = Files.createTempDirectory("graft_fact_merge_bad").toString
    F.build(ev.limit(100), d, "event_id", Seq("user_id", "ts_us"), 2)
    val dup = ev.limit(1).unionAll(ev.limit(1))
    assert(intercept[IllegalArgumentException] {
      F.merge(spark, d, dup, 2, Seq(Update(None, Map("value" -> "s.value"))))
    }.getMessage.contains("duplicate keys"))
    assert(intercept[IllegalArgumentException] {
      F.merge(spark, d, ev.limit(10), 2, Seq(Update(None, Map("nope" -> "1"))))
    }.getMessage.contains("non-target"))
    assert(intercept[IllegalArgumentException] {
      F.merge(spark, d, ev.limit(10), 2, Seq(Update(None, Map("event_id" -> "1"))))
    }.getMessage.contains("non-target or key"))
  }

  test("CHECK constraints: ADD validates existing rows, writers reject violating batches whole, DROP lifts the rule, time travel keeps each version's rules") {
    import F.MergeClause._
    val d = Files.createTempDirectory("graft_fact_check").toString
    F.build(ev, d, "event_id", Seq("user_id", "ts_us"), nFiles)
    // A rule the data already violates is never recorded.
    assert(intercept[IllegalArgumentException] {
      F.addConstraint(spark, d, "chk_big", "value >= 1e9")
    }.getMessage.contains("existing rows violate"))
    assert(F.constraints(spark, d).isEmpty)
    val v2 = F.addConstraint(spark, d, "chk_value", "value >= 0")
    assert(v2 == 2L && M.snapshot(spark, d, 2L).op == "constraint-add")
    assert(F.constraints(spark, d) == Map("chk_value" -> "value >= 0"))
    val before = sortedRows(F.read(spark, d))
    val bad = ev.limit(50).withColumn("value", -col("value") - 1.0)
      .withColumn("event_id", col("event_id") + 5000000L)
    // Every write path enforces; the rejected batch leaves NO version.
    assert(intercept[IllegalArgumentException] { F.append(spark, d, bad, 2) }
      .getMessage.contains("chk_value"))
    assert(intercept[IllegalArgumentException] { F.upsert(spark, d, bad, 2) }
      .getMessage.contains("chk_value"))
    assert(intercept[IllegalArgumentException] {
      F.merge(spark, d, bad, 2, Seq(Insert(None)))
    }.getMessage.contains("chk_value"))
    // ...including a merge whose UPDATE would breach the rule.
    assert(intercept[IllegalArgumentException] {
      F.merge(spark, d, ev.limit(20), 2,
        Seq(Update(None, Map("value" -> "-1.0"))))
    }.getMessage.contains("chk_value"))
    assert(M.currentVersion(spark, d) == 2L)
    assert(sortedRows(F.read(spark, d)) == before)
    // A rule-satisfying batch lands; NULL evaluates as pass (SQL CHECK).
    val v3 = F.append(spark, d,
      ev.limit(30).withColumn("event_id", col("event_id") + 6000000L)
        .withColumn("value", lit(null).cast("double")), 2)
    assert(v3 == 3L)
    // Renaming or dropping a referenced column is blocked; DROP
    // CONSTRAINT lifts the rule and the write goes through.
    assert(intercept[IllegalArgumentException] {
      F.renameColumn(spark, d, "value", "amount")
    }.getMessage.contains("chk_value"))
    val v4 = F.dropConstraint(spark, d, "chk_value")
    assert(v4 == 4L && F.constraints(spark, d).isEmpty)
    assert(F.constraints(spark, d, 3L) == Map("chk_value" -> "value >= 0"),
      "time travel serves the version's own rule set")
    F.append(spark, d, bad, 2)
    assert(M.currentVersion(spark, d) == 5L)
  }

  test("null keys are rejected on every write path (a null-keyed row could never be tombstoned)") {
    val d = Files.createTempDirectory("graft_fact_nullkey").toString
    val withNull = ev.limit(10).withColumn("event_id",
      when(col("event_id") % 2 === 0, col("event_id")).otherwise(lit(null)))
    assert(intercept[IllegalArgumentException] {
      F.build(withNull, d, "event_id", Seq("user_id"), 2)
    }.getMessage.contains("null key"))
    F.build(ev.limit(100), d, "event_id", Seq("user_id"), 2)
    assert(intercept[IllegalArgumentException] { F.append(spark, d, withNull, 2) }
      .getMessage.contains("null key"))
    assert(intercept[IllegalArgumentException] { F.upsert(spark, d, withNull, 2) }
      .getMessage.contains("null key"))
  }

  test("SHALLOW CLONE: zero-copy branch — independent lineages, DML on the clone works, compaction localizes, clone vacuum never touches source files") {
    val src = Files.createTempDirectory("graft_clone_src").toString
    F.build(ev, src, "event_id", Seq("user_id", "ts_us"), nFiles,
      Seq("user_id", "ts_us", "event_id"))
    F.deleteMatching(spark, src, col("user_id") % 11 === 3)
    val srcRows = sortedRows(F.read(spark, src))

    val dst = Files.createTempDirectory("graft_clone_dst").toString
    val v = F.clone(spark, src, dst)
    assert(v == 2L, "the clone keeps the source's version number")
    assert(M.snapshot(spark, dst).op == "clone")
    // Zero-copy: the clone directory holds NO data — only the manifest.
    val fs = M.fs(spark, dst)
    val local = fs.listStatus(new org.apache.hadoop.fs.Path(dst))
      .map(_.getPath.getName).toSet
    assert(local == Set("_versions"), s"clone must copy nothing, found $local")
    assert(sortedRows(F.read(spark, dst)) == srcRows)
    // The pruned paths work through the foreign references too.
    assert(F.readPoint(spark, dst, Seq(8L, 24L)).collect().map(_.toString).sorted
      .toSeq == F.readPoint(spark, src, Seq(8L, 24L)).collect().map(_.toString)
      .sorted.toSeq)

    // Independent lineages: DML on the clone is invisible to the
    // source and vice versa.
    F.deleteMatching(spark, dst, col("event_type") === "error")
    assert(sortedRows(F.read(spark, src)) == srcRows)
    F.append(spark, src,
      ev.limit(10).withColumn("event_id", col("event_id") + 7000000L), nFiles)
    assert(F.read(spark, dst).where(col("event_id") >= 7000000L).isEmpty,
      "source appends must not leak into the clone")
    val dstRows = sortedRows(F.read(spark, dst))
    assert(dstRows == sortedRows(
      ev.where(col("user_id") % 11 =!= 3 && col("event_type") =!= "error")))

    // Compaction localizes the clone; its vacuum deletes only local
    // dirs — the source still serves everything afterwards.
    F.compact(spark, dst, nFiles)
    F.vacuum(spark, dst, 1)
    assert(sortedRows(F.read(spark, dst)) == dstRows)
    assert(sortedRows(F.read(spark, src)).size == srcRows.size + 10,
      "clone vacuum must never delete source files")

    // And the SQL statement drives the same path.
    val dst2 = Files.createTempDirectory("graft_clone_dst2").toString
    val v2 = spark.sql(s"GRAFT CLONE '$src' TO '$dst2'").head().getLong(0)
    assert(v2 == 3L)
    assert(sortedRows(F.read(spark, dst2)) == sortedRows(F.read(spark, src)))
    assert(intercept[IllegalArgumentException] {
      F.clone(spark, src, dst2)
    }.getMessage.contains("already has commits"))
  }

  test("retry-rebase: an append losing the version race to a foreign append re-commits — both batches live, linear lineage") {
    val d = Files.createTempDirectory("graft_fact_rebase").toString
    F.build(ev.where(col("event_id") < 200), d, "event_id", Seq("user_id", "ts_us"), 2)
    val batchA = ev.where(col("event_id").between(200, 259))
      .withColumn("event_id", col("event_id") + 1000000L)
    val batchB = ev.where(col("event_id").between(260, 319))
      .withColumn("event_id", col("event_id") + 2000000L)
    // The seam interleaves a REAL foreign append (committing v2) after
    // batchA's segment is written but before its commit — batchA hits
    // the occupied slot and must rebase to v3, restamping its segment.
    F.testBeforeCommitHook = () => F.append(spark, d, batchB, 2)
    val v = F.append(spark, d, batchA, 2)
    assert(v == 3L, "the losing append must rebase to the next slot")
    assert(M.committedVersions(M.fs(spark, d), d) == Seq(1L, 2L, 3L))
    assert(M.snapshots(spark, d).map(_.op) == Seq("build", "append", "append"))
    val live = F.read(spark, d)
    assert(live.where(col("event_id") >= 2000000L).count() == batchB.count())
    assert(live.where(col("event_id").between(1000000L, 1999999L)).count()
      == batchA.count(), "BOTH racing batches must survive")
    // Segment stamps stay exact: the rebased segment carries v3's stamp.
    val segs = M.snapshot(spark, d).segments.filter(_.kind == "data")
    assert(segs.map(M.createdVersion).sorted == Seq(1L, 2L, 3L))
    // And a later delete still scopes correctly over the rebased rows.
    F.delete(spark, d, batchA.select(col("event_id")).limit(5))
    assert(F.read(spark, d).count() == live.count() - 5)
  }

  test("retry-rebase: an append races a compaction — the compacted table keeps the appended batch") {
    val d = Files.createTempDirectory("graft_fact_rebase_c").toString
    F.build(ev.where(col("event_id") < 200), d, "event_id", Seq("user_id", "ts_us"), 2)
    F.deleteMatching(spark, d, col("event_id") % 7 === 0)
    val batch = ev.where(col("event_id").between(200, 259))
      .withColumn("event_id", col("event_id") + 1000000L)
    F.testBeforeCommitHook = () => F.compact(spark, d, 2)
    val v = F.append(spark, d, batch, 2)
    assert(v == 4L, "append rebases past the concurrent compaction")
    assert(sortedRows(F.read(spark, d)) == sortedRows(
      ev.where(col("event_id") < 200 && col("event_id") % 7 =!= 0).unionByName(batch)))
  }

  test("retry-rebase: a COMPACTION losing the race to a blind append re-commits its rewrite — append carried, rewrite kept, lineage linear") {
    val d = Files.createTempDirectory("graft_fact_rebase_cc").toString
    F.build(ev.where(col("event_id") < 200), d, "event_id", Seq("user_id", "ts_us"), 2)
    F.deleteMatching(spark, d, col("event_id") % 7 === 0)
    val batch = ev.where(col("event_id").between(200, 259))
      .withColumn("event_id", col("event_id") + 1000000L)
    // The seam lands a REAL foreign append (v3) after the compaction's
    // rewrite is written but before its commit: the compaction must
    // restamp to v4 and carry the appended segment VERBATIM instead of
    // discarding its (expensive) rewrite.
    F.testBeforeCommitHook = () => F.append(spark, d, batch, 2)
    val v = F.compact(spark, d, 2)
    assert(v == 4L, "the losing compaction must rebase to the next slot")
    assert(M.snapshots(spark, d).map(_.op) ==
      Seq("build", "delete", "append", "compact"))
    val snap = M.snapshot(spark, d)
    assert(snap.segments.forall(_.kind == "data"),
      "tombstones retire with the rewrite; the carried append needs none")
    assert(snap.segments.exists(s => M.createdVersion(s) == 3L),
      "the winner's appended segment must be carried by reference")
    assert(sortedRows(F.read(spark, d)) == sortedRows(
      ev.where(col("event_id") < 200 && col("event_id") % 7 =!= 0).unionByName(batch)))
    // The rewrite stayed a rewrite: the folded generation's tombstoned
    // rows are gone from the compacted segment itself.
    val compactSeg = snap.segments.filter(s => M.createdVersion(s) == 4L)
    assert(compactSeg.map(_.rows).sum ==
      ev.where(col("event_id") < 200 && col("event_id") % 7 =!= 0).count())
  }

  test("retry-rebase: an INCREMENTAL compaction rebases past an append; compact-vs-delete still conflicts loudly") {
    val d = Files.createTempDirectory("graft_fact_rebase_ci").toString
    F.build(ev.where(col("event_id") < 150), d, "event_id", Seq("user_id", "ts_us"), 2)
    F.append(spark, d, ev.where(col("event_id").between(150, 299)), 2)
    F.deleteMatching(spark, d, col("event_id") < 100) // v1's segment is 2/3 dead
    val batch = ev.where(col("event_id").between(300, 349))
      .withColumn("event_id", col("event_id") + 1000000L)
    F.testBeforeCommitHook = () => F.append(spark, d, batch, 2)
    val (v, rewritten) = F.compactIncremental(spark, d, 2, maxTombFrac = 0.5)
    assert(v == 5L && rewritten.length == 1,
      s"only the unhealthy segment folds, rebased to v5 (got v=$v rw=$rewritten)")
    assert(sortedRows(F.read(spark, d)) == sortedRows(
      ev.where(col("event_id").between(100, 299)).unionByName(batch)))
    // A concurrent DELETE is NOT rebasable: its tombstone would scope
    // rows the restamped rewrite no longer exposes to it.
    F.testBeforeCommitHook =
      () => F.deleteMatching(spark, d, col("event_id").between(100, 110))
    val e = intercept[IllegalStateException](F.compact(spark, d, 2))
    assert(e.getMessage.contains("not rebasable"), s"got: ${e.getMessage}")
    // The loud path discarded nothing silently: the table still serves
    // the winner's delete, and a RETRY compaction now succeeds.
    val after = F.compact(spark, d, 2)
    assert(after == M.currentVersion(spark, d))
    assert(sortedRows(F.read(spark, d)) == sortedRows(
      ev.where(col("event_id").between(111, 299)).unionByName(batch)))
  }

  test("retry-rebase: non-commutative races still conflict loudly (append vs ADD CONSTRAINT; upsert vs upsert)") {
    val d = Files.createTempDirectory("graft_fact_rebase_x").toString
    F.build(ev.where(col("event_id") < 200), d, "event_id", Seq("user_id", "ts_us"), 2)
    // A constraint added mid-flight: the batch was never validated
    // against it — the rebase must refuse.
    F.testBeforeCommitHook =
      () => F.addConstraint(spark, d, "chk_live", "value IS NOT NULL OR value IS NULL")
    val e = intercept[IllegalStateException] {
      F.append(spark, d,
        ev.where(col("event_id").between(200, 259))
          .withColumn("event_id", col("event_id") + 1000000L), 2)
    }
    assert(e.getMessage.contains("not rebasable"))
    assert(M.snapshot(spark, d).op == "constraint-add",
      "the loser must not clobber the winner")
    F.dropConstraint(spark, d, "chk_live")
    // Upserts never rebase: overlapping-key writers must not silently
    // widen their tombstone scope.
    val up = ev.limit(50).withColumn("value", col("value") + 1.0)
    F.testBeforeCommitHook = () => F.upsert(spark, d,
      ev.limit(50).withColumn("value", col("value") + 2.0), 2)
    val e2 = intercept[IllegalStateException](F.upsert(spark, d, up, 2))
    assert(e2.getMessage.contains("concurrent commit"))
  }

  test("type widening: int→bigint is one metadata commit — old files read wide, writers normalize, feed silent, narrowing loud") {
    val d = Files.createTempDirectory("graft_fact_widen").toString
    val base = ev.where(col("event_id") % 2 === 0)
      .withColumn("clicks", (col("event_id") % 1000).cast("int"))
    F.build(base, d, "event_id", Seq("user_id", "ts_us"), nFiles,
      Seq("user_id", "ts_us", "event_id"))
    assert(F.read(spark, d).schema("clicks").dataType.catalogString == "int")
    val v2 = F.widenColumn(spark, d, "clicks", "bigint")
    assert(v2 == 2L)
    // Declared type serves immediately — zero files rewritten.
    assert(F.read(spark, d).schema("clicks").dataType.catalogString == "bigint")
    assert(M.snapshot(spark, d, 2L).segments == M.snapshot(spark, d, 1L).segments)
    // Time travel serves v1's own (narrow) type.
    assert(F.read(spark, d, 1L).schema("clicks").dataType.catalogString == "int")
    // A pure widen fabricates ZERO change-feed rows.
    assert(F.changes(spark, d, 1L, 2L).isEmpty)
    // Values that NEED the width land and read back exactly.
    val wide = ev.where(col("event_id") % 2 =!= 0)
      .withColumn("clicks", col("event_id") % 1000 + 3000000000L)
    F.append(spark, d, wide, nFiles)
    val got = F.read(spark, d)
    assert(got.where(col("clicks") >= 3000000000L).count() == wide.count())
    assert(got.count() == base.count() + wide.count())
    // Compaction migrates the narrow generation; rows hash-stable.
    val before = got.select(col("event_id"), col("clicks")).collect()
      .map(_.toString).sorted.toSeq
    F.compact(spark, d, nFiles)
    assert(F.read(spark, d).select(col("event_id"), col("clicks")).collect()
      .map(_.toString).sorted.toSeq == before)
    // Narrowing and cross-family changes are rejected loudly.
    assert(intercept[IllegalArgumentException](
      F.widenColumn(spark, d, "clicks", "int")).getMessage.contains("widen"))
    assert(intercept[IllegalArgumentException](
      F.widenColumn(spark, d, "event_type", "bigint")).getMessage.contains("widen"))
    // float→double is the other legal leg.
    val d2 = Files.createTempDirectory("graft_fact_widen_f").toString
    F.build(ev.limit(100).withColumn("score", col("value").cast("float")),
      d2, "event_id", Seq("user_id"), 2)
    F.widenColumn(spark, d2, "score", "double")
    assert(F.read(spark, d2).schema("score").dataType.catalogString == "double")
    assert(F.changes(spark, d2, 1L, 2L).isEmpty)
  }

  test("constraint references resolve case-insensitively: rename/drop of a column named in ANY case is blocked") {
    val d = Files.createTempDirectory("graft_fact_ci").toString
    F.build(ev.limit(100), d, "event_id", Seq("user_id"), 2)
    F.addConstraint(spark, d, "chk_up", "VALUE >= -1e18")
    assert(intercept[IllegalArgumentException](
      F.renameColumn(spark, d, "value", "amount")).getMessage.contains("chk_up"))
    assert(intercept[IllegalArgumentException](
      F.dropColumn(spark, d, "value")).getMessage.contains("chk_up"))
    F.dropConstraint(spark, d, "chk_up")
    F.renameColumn(spark, d, "value", "amount")
    assert(F.read(spark, d).columns.contains("amount"))
  }

  test("time-based vacuum NEVER deletes the latest version, even under inverted commit timestamps") {
    val d = Files.createTempDirectory("graft_fact_vkeep").toString
    F.build(ev.limit(100), d, "event_id", Seq("user_id"), 2)
    F.deleteMatching(spark, d, col("user_id") % 9 === 1)
    val latestRows = sortedRows(F.read(spark, d))
    // Invert the clock: rewrite v2's in-commit timestamp to predate
    // v1's by an hour (the copy/rsync mtime-fallback hazard).
    val p = java.nio.file.Paths.get(d, "_versions", "v00000002.json")
    val t1 = M.commitTimeMs(spark, d, 1L)
    val json = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
    java.nio.file.Files.write(p, json.replaceAll(
      "\"committedAtMs\"\\s*:\\s*\\d+",
      s""""committedAtMs" : ${t1 - 3600000L}""").getBytes("UTF-8"))
    // The rewrite bypassed the Hadoop checksum layer — drop the stale
    // .crc sidecar so the store keeps reading the edited manifest.
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(d, "_versions", ".v00000002.json.crc"))
    assert(M.commitTimeMs(spark, d, 2L) < t1, "timestamp inversion staged")
    // A cutoff between the two timestamps keeps v1 by time — and MUST
    // keep v2 (the latest) regardless, or the table silently rewinds.
    M.vacuumOlderThan(spark, d, retainMs = 1800000L, nowMs = t1 + 1200000L)
    val vs = M.committedVersions(M.fs(spark, d), d)
    assert(vs.contains(2L), s"the latest version must always survive (got $vs)")
    assert(sortedRows(F.read(spark, d)) == latestRows)
  }

  test("clone relativizes through the Hadoop path layer: scheme-qualified local URIs work") {
    val src = Files.createTempDirectory("graft_clone_uri_src").toString
    F.build(ev.limit(120), src, "event_id", Seq("user_id"), 2)
    val dstRaw = Files.createTempDirectory("graft_clone_uri_dst").toString
    M.fs(spark, dstRaw).delete(new Path(dstRaw), true)
    val dst = s"file:$dstRaw"
    F.clone(spark, s"file:$src", dst)
    assert(sortedRows(F.read(spark, dst)) == sortedRows(ev.limit(120)))
    // Same-directory clones are refused rather than emitting an empty
    // relative reference.
    assert(intercept[IllegalArgumentException](
      F.clone(spark, src, s"file:$src/")).getMessage.contains("already has commits"))
  }

  test("clone/vacuum shared fate (pinned behavior): vacuum of the SOURCE can strand a clone; clone vacuum never touches the source") {
    val src = Files.createTempDirectory("graft_clone_fate_src").toString
    F.build(ev.limit(150), src, "event_id", Seq("user_id"), 2)
    val dst = Files.createTempDirectory("graft_clone_fate_dst").toString
    M.fs(spark, dst).delete(new Path(dst), true)
    F.clone(spark, src, dst)
    assert(F.read(spark, dst).count() == 150)
    // The source compacts and vacuums its history — the immutable
    // files the clone references are now gone. TODAY'S CONTRACT: the
    // clone is stranded (reads fail loudly, they never silently serve
    // partial data); operators must vacuum a cloned-from store only
    // after its clones localize (compact) or are dropped.
    F.compact(spark, src, 2)
    F.vacuum(spark, src, retain = 1)
    assert(intercept[Exception](F.read(spark, dst).count()) != null,
      "a stranded clone must fail loudly, not serve partial data")
  }

  test("the key column's integral contract fails at table creation, not mid-merge") {
    val e = intercept[IllegalArgumentException] {
      F.build(ev.limit(10).withColumn("k", col("event_type")),
        Files.createTempDirectory("graft_fact_strkey").toString,
        "k", Seq("user_id"), 2)
    }
    assert(e.getMessage.contains("integral"))
  }

  test("streaming MERGE: a crash-replayed batchId is a version no-op") {
    import F.MergeClause._
    val d = Files.createTempDirectory("graft_fact_merge_stream").toString
    F.build(ev, d, "event_id", Seq("user_id", "ts_us"), nFiles)
    val clauses = Seq(
      Update(None, Map("value" -> "s.value + 1.0")),
      Insert(None))
    val batch = ev.where(col("event_id") % 11 === 3)
    val v1 = F.mergeStreamBatch(spark, d, batch, nFiles, clauses, batchId = 0L)
    val after = sortedRows(F.read(spark, d))
    val v2 = F.mergeStreamBatch(spark, d, batch, nFiles, clauses, batchId = 0L)
    assert(v1 == 2L && v2 == 2L, "replayed batch must not mint a version")
    assert(sortedRows(F.read(spark, d)) == after)
    val v3 = F.mergeStreamBatch(spark, d, batch, nFiles, clauses, batchId = 1L)
    assert(v3 == 3L, "the next batch commits normally")
  }

  // ------------------------------------------------ the z-order layout tier
  //
  // The data-skipping contracts behind q113–q116: pruning is real (files
  // skipped on EVERY indexed dimension), sound (an excluded file
  // provably holds no matching row), and pure I/O (answers equal the
  // plain scan — pinned by the oracles; here we pin the file counts the
  // oracles cannot see).

  private val layoutFiles = 16
  private val sliceLo = 1705708800000000L // 2024-01-20
  private val sliceHi = 1705881600000000L // 2024-01-22
  private val layoutBox = Map("user_id" -> (3L, 7L), "ts_us" -> (sliceLo, sliceHi))
  private lazy val layoutWant = ids(ev.where(col("user_id").between(3, 7) &&
    col("ts_us").between(sliceLo, sliceHi)))

  private def ids(df: DataFrame): Seq[Long] =
    df.select("event_id").collect().map(_.getLong(0)).sorted.toSeq
  private def keptFiles(kept: Map[String, Seq[String]]): Int = kept.values.map(_.size).sum

  /** The rows of every data file at the latest version that `kept`
    * does not list. */
  private def excludedRows(d: String, kept: Map[String, Seq[String]]): DataFrame = {
    val files = M.snapshot(spark, d).segments.filter(_.kind == "data").flatMap { s =>
      s.files.filterNot(kept.getOrElse(s.dir, Seq.empty).toSet).map(f => s"$d/${s.dir}/$f")
    }
    assert(files.nonEmpty, "nothing was excluded")
    spark.read.parquet(files: _*)
  }

  /** Keyed on event_id (so its files carry the key Bloom bitsets),
    * z-ordered on (user, time). */
  private lazy val zDir = {
    val d = Files.createTempDirectory("graft_fact_z").toString
    F.build(ev, d, "event_id", Seq("user_id", "ts_us"), layoutFiles)
    d
  }
  /** The single-dimension strawman: sorted by user_id alone, with
    * ts_us stats still recorded (the LAYOUT decides their power). */
  private lazy val linDir = {
    val d = Files.createTempDirectory("graft_fact_lin").toString
    F.build(ev, d, "event_id", Seq("user_id"), layoutFiles, Seq("user_id", "ts_us"))
    d
  }

  test("layout: a two-dimensional box prunes files AND answers exactly the plain filtered scan") {
    val (kept, total) = F.pruneBox(spark, zDir, layoutBox)
    assert(total == layoutFiles)
    assert(keptFiles(kept) > 0 && keptFiles(kept) < total,
      s"the box must skip files (${keptFiles(kept)}/$total kept)")
    assert(ids(F.readBox(spark, zDir, layoutBox)) == layoutWant,
      "skipping must never change an answer")
  }

  test("layout: the interleave skips on the dimension a linear sort cannot (time-only slice, z-order vs user-sorted)") {
    val bounds = Map("ts_us" -> (sliceLo, sliceHi))
    val (z, zTotal) = F.pruneBox(spark, zDir, bounds)
    val (lin, linTotal) = F.pruneBox(spark, linDir, bounds)
    // Every user appears in the slice, so every user-sorted file
    // overlaps it (totals differ slightly: 15 distinct users underfill
    // the range partitioner; fractions are the honest comparison).
    assert(keptFiles(lin) == linTotal,
      s"the strawman should be unable to skip (kept ${keptFiles(lin)}/$linTotal)")
    assert(keptFiles(z).toDouble / zTotal < keptFiles(lin).toDouble / linTotal,
      s"z-order must beat the linear layout on its blind dimension " +
        s"(${keptFiles(z)}/$zTotal vs ${keptFiles(lin)}/$linTotal)")
    assert(F.readBox(spark, zDir, bounds).count() == F.readBox(spark, linDir, bounds).count())
  }

  test("layout: skipping is SOUND — every excluded file provably holds no matching row") {
    val (kept, _) = F.pruneBox(spark, zDir, layoutBox)
    val leaked = excludedRows(zDir, kept)
      .where(col("user_id").between(3, 7) && col("ts_us").between(sliceLo, sliceHi)).count()
    assert(leaked == 0L, s"$leaked matching rows hid in excluded files")
  }

  test("layout: a box outside the data's range reads zero files and zero rows, safely") {
    val bounds = Map("user_id" -> (100000L, 200000L))
    assert(keptFiles(F.pruneBox(spark, zDir, bounds)._1) == 0)
    assert(F.readBox(spark, zDir, bounds).count() == 0L)
  }

  test("layout: an unindexed bound is rejected, not silently unskipped") {
    val ex = intercept[IllegalArgumentException] {
      F.pruneBox(spark, zDir, Map("value" -> (0L, 1L)))
    }
    assert(ex.getMessage.contains("no stats for column value"))
  }

  test("layout: append stays sound but loosens pruning; compact restores it; vacuum reclaims only unreferenced segments") {
    val d = Files.createTempDirectory("graft_fact_life").toString
    F.build(ev.where(col("event_id") % 4 =!= 0), d, "event_id", Seq("user_id", "ts_us"), layoutFiles)
    F.append(spark, d, ev.where(col("event_id") % 4 === 0), 4)
    assert(ids(F.readBox(spark, d, layoutBox)) == layoutWant,
      "an appended batch must be served, exactly")
    val (app, appTotal) = F.pruneBox(spark, d, layoutBox)
    F.compact(spark, d, layoutFiles)
    assert(ids(F.readBox(spark, d, layoutBox)) == layoutWant, "compact must not change a single row")
    val (cmp, cmpTotal) = F.pruneBox(spark, d, layoutBox)
    assert(cmpTotal < appTotal, "compact folds the generations")
    assert(keptFiles(cmp).toDouble / cmpTotal <= keptFiles(app).toDouble / appTotal,
      s"compact must not loosen pruning (${keptFiles(cmp)}/$cmpTotal vs ${keptFiles(app)}/$appTotal)")
    // Old generations linger for pinned readers, then vacuum reclaims
    // exactly them.
    val segDirs = () => new java.io.File(d).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("seg-")).map(_.getName).toSet
    assert(segDirs().exists(_.contains("-base-")) && segDirs().exists(_.contains("-append-")))
    F.vacuum(spark, d, retain = 1)
    assert(segDirs().forall(_.contains("-compact-")),
      s"vacuum must drop unreferenced segments, left ${segDirs()}")
    assert(ids(F.readBox(spark, d, layoutBox)) == layoutWant,
      "the compacted generation serves after vacuum")
  }

  // The Bloom tier (q116): event_id is the high-cardinality key the
  // (user, time) z-order scatters, so its per-file [min, max] spans
  // nearly everything; zDir records no key stats at all, so every
  // exclusion below is the Bloom bitset's alone.
  private val probeIds = Seq(11L, 203L, 555L, 909L)

  test("layout: a Bloom point probe prunes files zone maps cannot, and answers exactly the plain IN scan") {
    val (kept, total) = F.prunePoint(spark, zDir, probeIds)
    assert(total == layoutFiles)
    assert(keptFiles(kept) > 0 && keptFiles(kept) < total,
      s"the Bloom tier must skip files (${keptFiles(kept)}/$total kept)")
    val want = ids(ev.where(col("event_id").isin(probeIds: _*)))
    assert(ids(F.readPoint(spark, zDir, probeIds)) == want && want.size == probeIds.size)
  }

  test("layout: Bloom exclusion is SOUND — an excluded file holds no probe value") {
    val (kept, _) = F.prunePoint(spark, zDir, probeIds)
    val leaked = excludedRows(zDir, kept).where(col("event_id").isin(probeIds: _*)).count()
    assert(leaked == 0L, s"$leaked probe rows hid in Bloom-excluded files")
  }

  test("layout: a probe for absent values reads (almost) nothing and returns zero rows") {
    val ghosts = Seq(-5L, -77L, Long.MaxValue / 2)
    val (kept, total) = F.prunePoint(spark, zDir, ghosts)
    // False positives are allowed but must be rare at ~10 bits/key.
    assert(keptFiles(kept) <= total / 4, s"${keptFiles(kept)}/$total kept for absent values")
    assert(F.readPoint(spark, zDir, ghosts).count() == 0L)
  }

  test("layout: appends carry Bloom bitsets — an appended key is probe-visible, via its batch segment") {
    val d = Files.createTempDirectory("graft_fact_bloom_app").toString
    F.build(ev.where(col("event_id") =!= 500L), d, "event_id", Seq("user_id", "ts_us"), layoutFiles)
    assert(F.readPoint(spark, d, Seq(500L)).count() == 0L)
    F.append(spark, d, ev.where(col("event_id") === 500L), 1)
    val (kept, _) = F.prunePoint(spark, d, Seq(500L))
    assert(kept.exists { case (seg, files) => seg.contains("-append-") && files.nonEmpty },
      s"the appended batch's bloom must admit its own row, kept: $kept")
    assert(F.readPoint(spark, d, Seq(500L)).count() == 1L)
  }

  test("layout: a crashed append (segment written, no manifest commit) is invisible") {
    val d = Files.createTempDirectory("graft_fact_crash").toString
    F.build(ev, d, "event_id", Seq("user_id", "ts_us"), layoutFiles)
    val before = F.read(spark, d).count()
    F.testBeforeCommitHook = () => throw new IllegalStateException("crash before commit")
    intercept[IllegalStateException](F.append(spark, d, ev.limit(50), 1))
    assert(new java.io.File(d).listFiles().exists(_.getName.contains("-append-")),
      "the crashed append's segment must be on disk")
    assert(F.read(spark, d).count() == before,
      "reads resolve the manifest's file list — unreferenced files must not leak in")
  }

  test("a pruned read keys the prune and the scan by ONE snapshot: compacting past it changes nothing") {
    val d = Files.createTempDirectory("graft_fact_snap").toString
    F.build(ev.where(col("event_id") % 2 === 0), d, "event_id", Seq("user_id", "ts_us"), nFiles)
    F.append(spark, d, ev.where(col("event_id") % 2 =!= 0), nFiles)
    val snap = M.snapshot(spark, d)
    F.compact(spark, d, nFiles)
    assert(M.currentVersion(spark, d) == snap.version + 1)
    val (box, keptBox, totalBox) = F.readPruned(spark, d, snap, Right(layoutBox))
    val (atSnap, atSnapTotal) = F.pruneBox(spark, d, layoutBox, snap.version)
    assert(keptBox > 0 && (keptBox, totalBox) == (keptFiles(atSnap), atSnapTotal),
      "the counts must be the pinned version's, not the compacted one's")
    assert(sortedRows(box) == sortedRows(F.read(spark, d, snap.version)
      .where(col("user_id").between(3, 7) && col("ts_us").between(sliceLo, sliceHi))))
    val (point, keptPoint, _) = F.readPruned(spark, d, snap, Left(probeIds))
    assert(keptPoint > 0)
    assert(sortedRows(point) == sortedRows(F.read(spark, d, snap.version)
      .where(col("event_id").isin(probeIds: _*))))
  }
}
