package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.TextAnalysis
import graft.sources.{Tables, VersionedTextIndex => V}

/** Contract of the persisted, manifest-versioned lexical index (q94/
  * q101/q109/q121 families): stored BM25 equals the full-scan q86
  * ranking row-for-row, the Scala bucket hash equals the SQL one the
  * build used (so the driver-pushed bucket list is sound), a query's
  * postings and positions scans prune unqueried buckets at FILE level
  * and never read text, and the BM25 stats row commits in the SAME
  * manifest as the postings change it describes — plus time travel,
  * delete idempotence, and compaction that carries the stats segment
  * forward by reference.
  */
class VersionedTextIndexSpec extends AnyFunSuite with BeforeAndAfterAll {

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

  private val nBuckets = 8
  private val terms = Seq("spark", "join", "window")
  private lazy val docs = Tables.table(spark, "/root/testdata/sf0.001", "documents")
  private def base = docs.filter(col("doc_id") < 400)
  private def rest = docs.filter(col("doc_id") >= 400)
  private def delIds = docs.select(col("doc_id")).filter(col("doc_id") % 9 === 4)

  private def freshLifecycle(): String = {
    val d = Files.createTempDirectory("graft_vtispec").toString
    V.build(base, d, nBuckets)
    V.append(spark, d, rest)
    V.delete(spark, d, delIds)
    V.compact(spark, d)
    d
  }

  private lazy val store = freshLifecycle()

  /** A fresh v0 over the whole corpus. */
  private lazy val full = {
    val d = Files.createTempDirectory("graft_vtispec_v0").toString
    V.build(docs, d, nBuckets)
    d
  }

  /** A fresh v0 over `corpus` — the from-scratch reference. */
  private def freshBm25(corpus: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long, Double)] = {
    val d = Files.createTempDirectory("graft_vtispec_ref").toString
    V.build(corpus, d, nBuckets)
    bm25Rows(d, V.Latest)
  }

  private def filesTouched(df: org.apache.spark.sql.DataFrame): Long =
    df.select(input_file_name()).distinct().count()

  private def bm25Rows(dir: String, version: Long): Seq[(Long, Long, Long, Double)] =
    V.bm25(spark, dir, terms, 20, version)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq

  private def statsOf(dir: String, version: Long): (Long, Long) = {
    val r = V.stats(spark, dir, version).first()
    (r.getLong(0), r.getLong(1))
  }

  private def countsOf(d: org.apache.spark.sql.DataFrame): (Long, Long) = {
    val r = d.withColumn("dl", size(split(col("text"), " ")).cast("long"))
      .agg(count(lit(1)), coalesce(sum("dl"), lit(0L))).first()
    (r.getLong(0), r.getLong(1))
  }

  test("every version's stats row matches exactly the corpus its postings describe") {
    assert(statsOf(store, 0L) == countsOf(base), "v0 stats = base corpus")
    assert(statsOf(store, 1L) == countsOf(docs), "v1 stats = full corpus")
    val live = docs.filter(col("doc_id") % 9 =!= 4)
    assert(statsOf(store, 2L) == countsOf(live), "v2 stats retreated to the live corpus")
    assert(statsOf(store, 3L) == countsOf(live), "v3 stats carried forward unchanged")
  }

  test("a torn writer (postings and stats files on disk, no manifest) is invisible — the pair moves atomically or not at all") {
    val d = freshLifecycle()
    val before = bm25Rows(d, V.Latest)
    val stBefore = statsOf(d, V.Latest)
    // Simulate a crash between the data writes and the commit: both new
    // data files land, the manifest does not.
    V.postings(spark, d).limit(3)
      .write.partitionBy("t_bucket").parquet(s"$d/seg-99999999-crashed")
    import spark.implicits._
    Seq((999999L, 999999L)).toDF("n_docs", "total_dl")
      .write.parquet(s"$d/seg-99999999-crashed-stats")
    assert(bm25Rows(d, V.Latest) == before && statsOf(d, V.Latest) == stBefore,
      "uncommitted postings AND stats must both stay invisible")
  }

  test("overlapping delete batches are idempotent: the replay commits nothing and moves no number") {
    val d = freshLifecycle()
    val vBefore = V.currentVersion(spark, d)
    val stBefore = statsOf(d, V.Latest)
    // Every id in the batch is already gone (compact folded them) —
    // nothing indexed matches, so delete must be a version no-op.
    val v = V.delete(spark, d, delIds)
    assert(v == vBefore, "a fully-replayed delete must not commit a version")
    assert(statsOf(d, V.Latest) == stBefore)
  }

  test("compaction carries the stats segment forward by reference and changes no answer") {
    val preCompact = V.snapshot(spark, store, 2L)
    val postCompact = V.snapshot(spark, store, 3L)
    val statDirs = (s: V.Snapshot) =>
      s.segments.filter(_.kind == "stats").map(_.dir)
    assert(statDirs(preCompact) == statDirs(postCompact),
      "compact must reference the delete's stats segment, not rewrite it")
    assert(bm25Rows(store, 2L) == bm25Rows(store, 3L),
      "compaction must not change a single score")
    assert(V.snapshot(spark, store, 3L).segments.count(_.kind == "postings") == 1,
      "compaction folds the postings to one segment")
    assert(V.tombstones(spark, store, 3L).count() == 0)
  }

  test("latest equals a from-scratch index over the live corpus; a pinned pre-delete reader is unaffected") {
    val live = docs.filter(col("doc_id") % 9 =!= 4)
    assert(bm25Rows(store, V.Latest) == freshBm25(live),
      "the versioned lifecycle must score exactly like a fresh live-corpus index")
    // And v1 (the full-corpus index) still serves its original ranking.
    assert(bm25Rows(store, 1L) == bm25Rows(full, V.Latest),
      "time travel to the pre-delete version must serve the full-corpus ranking")
  }

  test("upsert replaces live docs and revives deleted ones in ONE commit; latest equals a from-scratch index over the patched corpus") {
    val d = freshLifecycle()
    val v3 = V.currentVersion(spark, d)
    val before = bm25Rows(d, V.Latest)
    val patch = docs.filter(col("doc_id") % 5 === 1)
      .withColumn("text", concat(col("text"), lit(" spark spark")))
    val v4 = V.upsert(spark, d, patch)
    assert(v4 == v3 + 1, "an upsert is exactly one commit — no " +
      "delete-then-append window in the lineage")
    // The patched live corpus: (not deleted) OR upserted — the upsert
    // revives the deleted docs it touches — with upserted text patched.
    val patched = docs
      .filter(col("doc_id") % 9 =!= 4 || col("doc_id") % 5 === 1)
      .withColumn("text", when(col("doc_id") % 5 === 1,
        concat(col("text"), lit(" spark spark"))).otherwise(col("text")))
    assert(bm25Rows(d, V.Latest) == freshBm25(patched),
      "post-upsert serving must score exactly like a fresh index over the patched corpus")
    assert(statsOf(d, V.Latest) == countsOf(patched),
      "stats must move by the exact net of the replaced docs' retreat and the batch's advance")
    assert(bm25Rows(d, v3) == before,
      "a reader pinned to the pre-upsert version is untouched")
    // Revival check, explicitly: every deleted doc in the upsert set is
    // live again — and no other deleted doc came back.
    val revivedLive = V.livePostings(spark, d)
      .filter(col("doc_id") % 9 === 4).select("doc_id").distinct().count()
    val expected = docs.filter(col("doc_id") % 9 === 4 && col("doc_id") % 5 === 1).count()
    assert(revivedLive == expected && expected > 0,
      s"exactly the upserted deleted docs must revive ($revivedLive vs $expected)")
  }

  test("successive upserts of one doc: last write wins, exactly one live generation, no compaction needed") {
    val d = freshLifecycle()
    import spark.implicits._
    val gen1 = Seq((7L, "alpha join beta")).toDF("doc_id", "text")
    val gen2 = Seq((7L, "spark window gamma spark")).toDF("doc_id", "text")
    V.upsert(spark, d, gen1)
    V.upsert(spark, d, gen2)
    val live = V.livePostings(spark, d).filter(col("doc_id") === 7L)
      .select("term", "tf", "dl").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(live == Set(("spark", 2L, 4L), ("window", 1L, 4L), ("gamma", 1L, 4L)),
      s"only the LAST generation may serve, got $live")
    // And the doc can still be deleted afterwards — the liveness-based
    // delete sees through its (revival-bearing) tombstone history.
    V.delete(spark, d, Seq(7L).toDF("doc_id"))
    assert(V.livePostings(spark, d).filter(col("doc_id") === 7L).isEmpty,
      "a delete after upserts must kill the final generation")
  }

  test("change feed: content-based diff matches the brute live-set diff; physical rewrites and no-op upserts emit NOTHING") {
    val d = freshLifecycle()
    def feed(a: Long, b: Long): Map[Long, String] =
      V.changes(spark, d, a, b).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    // v0 → v1 is the append: every appended doc is an insert, nothing else.
    val appended = rest.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(feed(0L, 1L) == appended.map(_ -> "insert").toMap)
    // v1 → v2 is the delete: exactly the takedown set.
    val dead = docs.filter(col("doc_id") % 9 === 4)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(feed(1L, 2L) == dead.map(_ -> "delete").toMap)
    // v2 → v3 is the COMPACTION: every row physically rewrote into a
    // new segment, no content changed — the feed must be empty (the
    // dataChange=false contract, derived from fingerprints rather than
    // trusted from a flag).
    assert(feed(2L, 3L).isEmpty,
      "physical maintenance must be invisible to the change feed")
    // An upsert that rewrites IDENTICAL text commits a version but
    // changes no content — a downstream incremental consumer sees
    // nothing to re-process.
    import spark.implicits._
    val sameDoc = docs.filter(col("doc_id") === 10L).select("doc_id", "text")
    val v = V.upsert(spark, d, sameDoc)
    assert(feed(v - 1, v).isEmpty,
      "a content-identical upsert must be a change-feed no-op")
    // And a REAL upsert reports exactly its doc, as an update.
    val v2 = V.upsert(spark, d, Seq((10L, "spark gamma")).toDF("doc_id", "text"))
    assert(feed(v2 - 1, v2) == Map(10L -> "update"))
  }

  test("df table rolls forward through the feed, touching only changed docs — equal to a from-scratch rebuild at every lifecycle step") {
    val d = freshLifecycle()
    def tbl(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
      df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // Through the delete commit (real deltas).
    assert(tbl(V.dfRollForward(spark, d, V.dfTable(spark, d, 1L), 1L, 2L))
      == tbl(V.dfTable(spark, d, 2L)),
      "rolling through a delete must equal the rebuild")
    // Through the compaction (empty feed → identity, no work).
    assert(tbl(V.dfRollForward(spark, d, V.dfTable(spark, d, 2L), 2L, 3L))
      == tbl(V.dfTable(spark, d, 3L)),
      "a physical-only commit must roll to the identical table")
    // Through an upsert (inserts + updates at once).
    val patch = docs.filter(col("doc_id") % 5 === 1)
      .withColumn("text", concat(col("text"), lit(" spark spark")))
    V.upsert(spark, d, patch)
    assert(tbl(V.dfRollForward(spark, d, V.dfTable(spark, d, 3L), 3L, 4L))
      == tbl(V.dfTable(spark, d, 4L)),
      "rolling through an upsert must equal the rebuild")
  }

  test("stored BM25 equals the full-scan ranking row-for-row") {
    val fromStore = V.bm25(spark, full, terms, 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val fullScan = TextAnalysis.bm25(docs, terms, 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(fromStore == fullScan,
      "the persisted postings must reproduce the full-scan scores exactly")
  }

  test("stored sparse dot product equals the full-text weighted-tf ranking, exactly") {
    val weights = Seq(("spark", 5L), ("join", 3L), ("window", 1L))
    val fromStore = TextAnalysis.sparseDotStored(spark, full, weights, 20)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // The naive definition straight off the text: per-doc tf per term,
    // weighted, summed — all integers, so equality is exact.
    val wCase = weights.map { case (t, w) => s"WHEN '$t' THEN ${w}L" }
      .mkString("CASE term ", " ", " ELSE 0L END")
    val naive = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(col("term").isin(weights.map(_._1): _*))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .withColumn("c", expr(s"($wCase) * tf"))
      .groupBy("doc_id").agg(sum("c").as("score"))
      .orderBy(col("score").desc, col("doc_id")).limit(20)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(fromStore == naive,
      "the stored postings must reproduce the weighted-tf ranking exactly")
    // Duplicate terms and non-positive weights are contract violations.
    intercept[IllegalArgumentException] {
      TextAnalysis.sparseDotStored(spark, full, Seq(("spark", 1L), ("spark", 2L)), 5)
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.sparseDotStored(spark, full, Seq(("spark", 0L)), 5)
    }
  }

  test("Scala bucketOf equals the SQL hash the build partitioned by, on the whole vocabulary") {
    import graft.functions.PortableHash.hash48
    val vocab = docs
      .select(explode(split(col("text"), " ")).as("term")).distinct()
      .withColumn("b_sql", pmod(expr(hash48("term")), lit(nBuckets.toLong)))
      .collect()
    assert(vocab.nonEmpty)
    vocab.foreach { r =>
      assert(V.bucketOf(r.getString(0), nBuckets) == r.getLong(1),
        s"bucket drift for term '${r.getString(0)}'")
    }
  }

  test("postings and positions segments keep their parquet file schemas") {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.Type
    def describe(t: Type): String =
      if (t.isPrimitive) s"${t.getRepetition} ${t.getName} ${t.asPrimitiveType.getPrimitiveTypeName}"
      else s"${t.getRepetition} ${t.getName} " +
        t.asGroupType.getFields.toArray(Array.empty[Type]).map(describe).mkString("(", ", ", ")")
    def fileSchema(kind: String): Seq[String] = {
      val seg = V.snapshot(spark, full).segments.find(_.kind == kind).get
      val path = new org.apache.hadoop.fs.Path(s"$full/${seg.dir}/${seg.files.head}")
      val r = ParquetFileReader.open(
        HadoopInputFile.fromPath(path, spark.sparkContext.hadoopConfiguration))
      try r.getFooter.getFileMetaData.getSchema.getFields.toArray(Array.empty[Type])
        .map(describe).toSeq
      finally r.close()
    }
    assert(fileSchema("postings") == Seq("REQUIRED term BINARY", "OPTIONAL doc_id INT64",
      "OPTIONAL dl INT64", "REQUIRED tf INT64"))
    assert(fileSchema("positions") == Seq("REQUIRED term BINARY", "OPTIONAL doc_id INT64",
      "REQUIRED positions (REPEATED list (REQUIRED element INT64))"))
  }

  test("a query's postings scan prunes unqueried buckets at FILE level") {
    val p = V.postings(spark, full)
    val all = filesTouched(p)
    val b = V.bucketOf("spark", nBuckets)
    val pruned = filesTouched(p.filter(col("t_bucket") === b))
    assert(pruned < all, s"bucket filter must prune files: $pruned vs $all")
    // And the term's postings really live there.
    assert(p.filter(col("t_bucket") === b && col("term") === "spark").count() > 0)
    // The serving read prunes the same way, with the bucket count read
    // from the snapshot.
    assert(filesTouched(V.termPostings(spark, full, Seq("spark"))) <= pruned)
  }

  test("append admits new documents: existing postings untouched, ranking ≡ from-scratch") {
    val d = Files.createTempDirectory("graft_vtispec_app").toString
    V.build(base, d, nBuckets)
    val before = V.postings(spark, d).orderBy("term", "doc_id").collect().toSeq
    V.append(spark, d, rest)
    val after = V.postings(spark, d).orderBy("term", "doc_id").collect().toSeq
    assert(after.filter(_.getLong(1) < 400) == before,
      "existing posting rows must be byte-stable under append")
    assert(statsOf(d, V.Latest) == countsOf(docs), "stats must advance by exact integers")
    assert(bm25Rows(d, V.Latest) == bm25Rows(full, V.Latest),
      "an append-maintained index must score exactly like a from-scratch build")
  }

  test("tombstone delete: no posting file touched, live ranking ≡ from-scratch, bucket pruning survives, compact and revival exact") {
    val d = Files.createTempDirectory("graft_vtispec_del").toString
    V.build(docs, d, nBuckets)
    def postingFiles(): Set[String] = V.postings(spark, d).inputFiles.toSet
    val filesBefore = postingFiles()
    val before = bm25Rows(d, V.Latest)
    V.delete(spark, d, delIds)
    assert(postingFiles() == filesBefore, "delete must not rewrite posting files")
    val live = bm25Rows(d, V.Latest)
    assert(live != before, "a 1/9 deletion must reshape the ranking on the fixture")
    assert(!live.exists(_._1 % 9 == 4), "no tombstoned doc may rank")
    assert(live == freshBm25(docs.filter(col("doc_id") % 9 =!= 4)),
      "tombstone serving must equal a from-scratch live-corpus index")

    // Bucket pruning SURVIVES the tombstone anti-join: the t_bucket
    // filter pushes below the join and lands on the parquet scan as a
    // PARTITION filter — the takedown path must not un-scale serving.
    val pruned = V.termPostings(spark, d, Seq("spark"))
    val storeScans = pruned.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains(d)) &&
            f.requiredSchema.fieldNames.contains("tf") => f
    }
    assert(storeScans.nonEmpty)
    assert(storeScans.forall(_.partitionFilters.exists(
        _.references.exists(_.name == "t_bucket"))),
      s"bucket filter must reach the scan's partition filters through the anti-join: " +
        storeScans.map(_.partitionFilters).mkString(";"))

    // Physical compaction: identical answers, tombstones gone, one
    // file per bucket, and a redundant second pass changes no row.
    V.compact(spark, d)
    assert(bm25Rows(d, V.Latest) == live, "compaction must not change a single answer")
    assert(V.tombstones(spark, d).count() == 0)
    val perBucket = V.postings(spark, d)
      .select(col("t_bucket"), input_file_name().as("f"))
      .distinct().groupBy("t_bucket").count().collect()
    assert(perBucket.nonEmpty && perBucket.forall(_.getLong(1) == 1L),
      "compaction must leave one file per bucket")
    val snap = V.postings(spark, d).orderBy("term", "doc_id").collect().toSeq
    V.compact(spark, d)
    assert(V.postings(spark, d).orderBy("term", "doc_id").collect().toSeq == snap,
      "double compaction must be a no-op on the rows")

    // REVIVAL: re-ingesting tombstoned docs must serve them again with
    // exactly ONE generation of postings, and the full-corpus ranking
    // and stats come back.
    val d2 = Files.createTempDirectory("graft_vtispec_rev").toString
    V.build(docs, d2, nBuckets)
    V.delete(spark, d2, delIds)
    V.append(spark, d2, docs.filter(col("doc_id") % 9 === 4))
    assert(V.tombstones(spark, d2).count() == 0,
      "revival must clear the revived ids' tombstones")
    assert(bm25Rows(d2, V.Latest) == before,
      "delete-then-reingest must restore the full-corpus ranking")
    assert(statsOf(d2, V.Latest) == countsOf(docs), "stats must return to the full corpus")
  }

  test("stored BM25 never scans document text — postings and stats only") {
    val q = V.bm25(spark, full, Seq("spark", "join"), 20)
    import org.apache.spark.sql.execution.FileSourceScanExec
    val scans = q.queryExecution.sparkPlan.collectLeaves().collect {
      case f: FileSourceScanExec =>
        (f.relation.location.rootPaths.mkString(","), f.requiredSchema.fieldNames.toSet)
    }
    assert(scans.nonEmpty)
    scans.foreach { case (path, cols) =>
      assert(!path.contains("documents"), s"query-time scan of the corpus: $path")
      assert(!cols.contains("text"), s"query-time scan reads text: $cols")
      assert(!cols.contains("positions"), s"a frequency query scans positions: $cols")
    }
    // And the duplicate-term weighting matches the full-scan fold.
    val dup = V.bm25(spark, full, Seq("spark", "spark"), 20)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
    val want = TextAnalysis.bm25(docs, Seq("spark", "spark"), 20)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
    assert(dup == want, "a term listed twice must contribute twice, as in the per-position fold")
  }

  test("a term absent from the corpus contributes nothing and breaks nothing") {
    val got = V.bm25(spark, full, Seq("spark", "zzzznotaword"), 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
    val want = TextAnalysis.bm25(docs, Seq("spark", "zzzznotaword"), 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
    assert(got == want)
  }

  /** 0-based (doc_id, p, w) token stream straight off the text — the
    * independent recompute the positional tests compare against. */
  private lazy val toks = docs
    .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("p", "w")))

  test("positions are an exact refinement of the frequency postings") {
    val joined = V.positions(spark, full)
      .join(V.postings(spark, full), Seq("term", "doc_id"))
    assert(joined.where(size(col("positions")) =!= col("tf")).isEmpty,
      "size(positions) must equal tf for every posting row")
    assert(joined.count() == V.postings(spark, full).count() &&
      V.positions(spark, full).count() == V.postings(spark, full).count(),
      "every frequency posting must have exactly one positional row")
    // Offsets sorted and within [0, dl) — dl from the frequency row.
    val rangeBad = joined.where(
      expr("positions != array_sort(positions)")
        || expr("array_min(positions) < 0")
        || expr("array_max(positions) >= dl"))
    assert(rangeBad.isEmpty, "offsets must be sorted and within [0, dl)")
  }

  test("stored phrase search equals a raw-text self-join recompute, exactly") {
    val phrase = Seq("data", "line")
    val got = TextAnalysis.phraseSearchStored(spark, full, phrase, 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // Independent recompute: consecutive-offset SELF-JOIN on the raw
    // token stream (no arrays, no store).
    val a = toks.filter(col("w") === phrase(0)).select(col("doc_id"), col("p"))
    val b = toks.filter(col("w") === phrase(1)).select(col("doc_id"), col("p").as("p2"))
    val want = a.join(b, Seq("doc_id"))
      .where(col("p2") === col("p") + 1)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("phrase_tf"), min(col("p").cast("long")).as("first_pos"))
      .orderBy(col("phrase_tf").desc, col("doc_id")).limit(20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(want.nonEmpty, "fixture phrase must occur in the corpus")
    assert(got == want, "stored phrase search must equal the raw-text recompute")
    intercept[IllegalArgumentException] {
      TextAnalysis.phraseSearchStored(spark, full, Seq("data"), 5)
    }
  }

  test("stored proximity search equals a raw-text pair-join recompute, exactly") {
    val (ta, tb, w) = ("spark", "query", 3)
    val got = TextAnalysis.proximitySearchStored(spark, full, ta, tb, w, 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val pa = toks.filter(col("w") === ta).select(col("doc_id"), col("p").cast("long").as("p1"))
    val pb = toks.filter(col("w") === tb).select(col("doc_id"), col("p").cast("long").as("p2"))
    val pairs = pa.join(pb, Seq("doc_id")).withColumn("dist", abs(col("p2") - col("p1")))
    val md = pairs.groupBy("doc_id").agg(min("dist").as("min_dist"))
    val nn = pairs.where(col("dist") <= w)
      .select("doc_id", "p1").distinct()
      .groupBy("doc_id").agg(count(lit(1)).as("n_near"))
    val want = md.where(col("min_dist") <= w).join(nn, Seq("doc_id"))
      .orderBy(col("min_dist"), col("n_near").desc, col("doc_id")).limit(20)
      .select("doc_id", "min_dist", "n_near")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(want.nonEmpty, "fixture pair must co-occur within the window")
    assert(got == want, "stored proximity search must equal the pair-join recompute")
    intercept[IllegalArgumentException] {
      TextAnalysis.proximitySearchStored(spark, full, "spark", "spark", w, 5)
    }
  }

  test("positions follow the store lifecycle: delete hides, compact folds, append admits, upsert replaces") {
    val d = Files.createTempDirectory("graft_vtispec_poslc").toString
    V.build(base, d, nBuckets)
    val phrase = Seq("data", "line")
    def phraseDocs(): Seq[Long] =
      TextAnalysis.phraseSearchStored(spark, d, phrase, 200).collect().map(_.getLong(0)).toSeq
    val before = phraseDocs()
    assert(before.nonEmpty)
    // Tombstone-delete: dead docs vanish from phrase results with no
    // positional file rewritten.
    V.delete(spark, d, docs.select(col("doc_id")).filter(col("doc_id") % 7 === 2))
    val afterDel = phraseDocs()
    assert(!afterDel.exists(_ % 7 == 2), "no tombstoned doc may match a phrase")
    assert(afterDel == before.filterNot(_ % 7 == 2),
      "survivors must be exactly the live prefix of the pre-delete result")
    // Physical compaction folds the positions too — the tombstones are
    // gone but the dead positions went WITH them.
    V.compact(spark, d)
    assert(phraseDocs() == afterDel,
      "compaction must not change phrase answers (dead positions must not resurrect)")
    assert(V.positions(spark, d).filter(col("doc_id") % 7 === 2).isEmpty)
    // Append: new docs become phrase-visible.
    V.append(spark, d, rest)
    val afterApp = phraseDocs()
    assert(afterApp.exists(_ >= 400), "appended docs must match phrases")
    // Upsert: a doc's replacement text replaces its positions in the
    // same commit (the scoped tombstone retires the old generation).
    val hit = afterApp.head
    import spark.implicits._
    V.upsert(spark, d, Seq((hit, "line data gamma")).toDF("doc_id", "text"))
    assert(!phraseDocs().contains(hit), "the replaced generation's positions must not serve")
    assert(V.livePositions(spark, d).filter(col("doc_id") === hit)
      .select("term", "positions").collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap ==
      Map("line" -> Seq(0L), "data" -> Seq(1L), "gamma" -> Seq(2L)))
  }

  test("a phrase query's positions scan prunes unqueried buckets at FILE level and never reads text") {
    val q = TextAnalysis.phraseSearchStored(spark, full, Seq("data", "line"), 20)
    import org.apache.spark.sql.execution.FileSourceScanExec
    val scans = q.queryExecution.sparkPlan.collectLeaves().collect {
      case f: FileSourceScanExec =>
        (f.relation.location.rootPaths.mkString(","), f.requiredSchema.fieldNames.toSet)
    }
    assert(scans.nonEmpty)
    scans.foreach { case (path, cols) =>
      assert(!path.contains("documents"), s"query-time scan of the corpus: $path")
      assert(!cols.contains("text"), s"query-time scan reads text: $cols")
    }
    // File pruning: the two-term bucket set touches fewer files than
    // the full positions table holds.
    val p = V.positions(spark, full)
    val all = filesTouched(p)
    val bs = Seq("data", "line").map(V.bucketOf(_, nBuckets)).distinct
    val pruned = filesTouched(p.filter(col("t_bucket").isin(bs.map(Long.box): _*)))
    assert(pruned < all, s"bucket filter must prune positional files: $pruned vs $all")
  }
}
