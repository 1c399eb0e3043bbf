package graft

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, lit, when}
import graft.SparkEntry._
import graft.sources.{DocStore, EventLogStore, LmStore, ManifestLog, ParallelSteps,
  Tables, VersionedTextIndex, VersionedVectorIndex}
import graft.sources.{FactStore => FS}

/** A derived store: a pure function of (name, SF dir), built by
  * `build(session, sfDir, dir)` after its `deps`, at most once per JVM
  * ([[Fixtures.ensure]]). A `perSession` fixture registers session-
  * catalog state (tables, bucketed mirrors) that a new SparkContext
  * does not inherit, so it is built once per SparkContext instead; its
  * dir is only the registry key.
  */
final class Fixture private[graft] (val name: String, val deps: Seq[Fixture],
    val perSession: Boolean, val build: (SparkSession, String, String) => Unit) {
  /** The store directory for the SF dir `d`. */
  def dir(d: String): String = Fixtures.storeDir(name, d)
  /** Ensure this fixture for `d` and return its directory. */
  def apply(s: SparkSession, d: String): String = Fixtures.ensure(s, d, this)
  override def toString: String = name
}

/** A store-backed query: its plan builder plus the fixtures that
  * builder reads. Applying it prepares the fixtures first, then builds
  * the plan with only those fixtures (and their deps) readable — an
  * undeclared fixture read fails instead of building inside the query.
  */
final class Reads private[graft] (val fixtures: Seq[Fixture],
    body: (SparkSession, String) => DataFrame)
    extends ((SparkSession, String) => DataFrame) {
  def apply(s: SparkSession, d: String): DataFrame = {
    Fixtures.prepare(s, d, fixtures)
    Fixtures.declaring(fixtures)(body(s, d))
  }
}

/** The one registry of the engine's /tmp stores: every store a query
  * reads is a [[Fixture]] declared here, and [[once]] is the one
  * build-once memoizer. Nothing is served from whatever an earlier
  * process left under a fixture's dir: the first use in a JVM always
  * builds, so a store and the timings over it depend only on the code
  * and the SF dir.
  */
object Fixtures {

  /** The location rule of the per-SF stores:
    * `<tmpdir>/graft_<name>_<sf dir name>`. */
  def storeDir(name: String, d: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_${name}_${new java.io.File(d).getName}"

  // ---------------------------------------------------------- memoizer

  /** A completed build: its wall seconds, and how many later calls
    * found it already built. */
  final case class Record(seconds: Double, reuses: Int)

  private val records = new ConcurrentHashMap[String, Record]()
  private val locks = new ConcurrentHashMap[String, AnyRef]()

  /** Run `build` for `key` at most once per JVM. The lock is per key:
    * builds of different stores run concurrently, while two callers of
    * one key wait for a single build. A build that throws is not
    * recorded, so the next caller retries it.
    */
  def once(key: String)(build: => Unit): Unit =
    locks.computeIfAbsent(key, _ => new AnyRef).synchronized {
      records.get(key) match {
        case null =>
          val t0 = System.nanoTime()
          build
          records.put(key, Record((System.nanoTime() - t0) / 1e9, 0))
        case r => records.put(key, r.copy(reuses = r.reuses + 1))
      }
    }

  def record(key: String): Option[Record] = Option(records.get(key))

  /** Number of builds completed in this JVM. */
  def builds: Int = records.size

  private def key(s: SparkSession, d: String, f: Fixture): String =
    if (f.perSession) s"${f.dir(d)}@${s.sparkContext.applicationId}" else f.dir(d)

  /** The record of `f`'s build for `d` in this JVM (and session). */
  def record(s: SparkSession, d: String, f: Fixture): Option[Record] = record(key(s, d, f))

  /** The fixtures a thread's running query builder may read. */
  private val declared = new ThreadLocal[Set[Fixture]]

  /** `fs` and everything they depend on. */
  private[graft] def closure(fs: Seq[Fixture]): Set[Fixture] =
    fs.toSet ++ fs.flatMap(f => closure(f.deps))

  private[graft] def declaring[T](fs: Seq[Fixture])(body: => T): T = {
    declared.set(closure(fs))
    try body finally declared.remove()
  }

  /** Build `f` for `d` (its deps first) unless this JVM already has,
    * and return its dir. */
  def ensure(s: SparkSession, d: String, f: Fixture): String = {
    val readable = declared.get
    require(readable == null || readable(f),
      s"fixture '${f.name}' is read by a query that does not declare it")
    f.deps.foreach(ensure(s, d, _))
    once(key(s, d, f))(f.build(s, d, f.dir(d)))
    f.dir(d)
  }

  /** Ensure every fixture in `fs` for `d`; independent fixtures build
    * concurrently (a shared dep builds once, under its own lock). */
  def prepare(s: SparkSession, d: String, fs: Seq[Fixture]): Unit = {
    val todo = fs.distinct.filter(f => record(s, d, f).isEmpty)
    if (todo.size == 1) ensure(s, d, todo.head)
    else if (todo.nonEmpty) ParallelSteps.run(todo.map(f => () => ensure(s, d, f)): _*)
  }

  private def fixture(name: String, deps: Fixture*)(
      build: (SparkSession, String, String) => Unit): Fixture =
    new Fixture(name, deps, perSession = false, build)

  private def sessionFixture(name: String, deps: Fixture*)(
      build: (SparkSession, String, String) => Unit): Fixture =
    new Fixture(name, deps, perSession = true, build)

  /** The SF tag of table names: `sf0.01` → `sf0_01`. */
  private def sfTag(d: String): String = new java.io.File(d).getName.replace('.', '_')

  // ------------------------------------------------------ vector stores

  /** Train the ANN index on `emb` — every stored-ANN store's v0. */
  private def buildAnn(emb: DataFrame, dir: String): Long =
    VersionedVectorIndex.build(emb, dir, NumCentroids, PqSub, PqCodes, KmeansIters)
  /** The q98 tombstone set for `d`: corpus ids of the delete residue. */
  private def annDeleteIds(s: SparkSession, d: String): DataFrame =
    Tables.table(s, d, "embeddings")
      .select(col("vec_id"))
      .filter(col("vec_id") % AnnDeleteMod === AnnDeleteRes &&
        col("vec_id") >= BatchQueries)
  /** The q107 lifecycle in `dir`: v0 build-on-base, v1 append, v2
    * delete, v3 compact. */
  private def annLifecycle(s: SparkSession, d: String, dir: String): Unit = {
    val emb = Tables.table(s, d, "embeddings")
    buildAnn(emb.filter(col("vec_id") < AnnAppendSplit), dir)
    VersionedVectorIndex.append(s, dir, emb.filter(col("vec_id") >= AnnAppendSplit))
    VersionedVectorIndex.delete(s, dir, annDeleteIds(s, d))
    VersionedVectorIndex.compact(s, dir)
  }
  /** Q111d's patch: appended ids of the upsert residue, re-embedded
    * (reversed — deterministic, norm-preserving, cheap to restate in
    * SQL). */
  private def annPatchVecs(s: SparkSession, d: String): DataFrame =
    Tables.table(s, d, "embeddings")
      .filter(col("vec_id") >= AnnAppendSplit &&
        col("vec_id") % AnnUpsertMod === AnnUpsertRes)
      .withColumn("embedding", expr("reverse(embedding)"))
  /** Q127: the ONE take-down subject id set, shared by every store. */
  private def erasureIds(df: DataFrame, idCol: String): DataFrame =
    df.select(col(idCol)).filter(col(idCol) % ErasureMod === ErasureRes)

  /** The full-corpus ANN store (q89 family). */
  val AnnStore: Fixture = fixture("annstore") { (s, d, dir) =>
    buildAnn(Tables.table(s, d, "embeddings"), dir)
  }
  /** The base-trained + appended store (q90 family). */
  val AppendedAnn: Fixture = fixture("annstore_base") { (s, d, dir) =>
    val emb = Tables.table(s, d, "embeddings")
    buildAnn(emb.filter(col("vec_id") < AnnAppendSplit), dir)
    VersionedVectorIndex.append(s, dir, emb.filter(col("vec_id") >= AnnAppendSplit))
  }
  /** The built-then-tombstoned store (q98). */
  val DeletedAnn: Fixture = fixture("annstore_del") { (s, d, dir) =>
    buildAnn(Tables.table(s, d, "embeddings"), dir)
    VersionedVectorIndex.delete(s, dir, annDeleteIds(s, d))
  }
  /** The built-deleted-COMPACTED store (q98b). */
  val CompactedAnn: Fixture = fixture("annstore_cmp") { (s, d, dir) =>
    buildAnn(Tables.table(s, d, "embeddings"), dir)
    VersionedVectorIndex.delete(s, dir, annDeleteIds(s, d))
    VersionedVectorIndex.compact(s, dir)
  }
  /** The versioned store after its full q107 lifecycle. Every version
    * stays readable — the time-travel queries pin v1; the latest-serve
    * query reads v3. */
  val VersionedAnn: Fixture = fixture("annstore_ver") { (s, d, dir) =>
    annLifecycle(s, d, dir)
  }
  /** The q107 lifecycle plus a v4 REINDEX (full retrain from the
    * store's own live vectors) and a v5 RESTORE back to v3 (the
    * "reindex shipped bad state, roll it back" drill: v4 stays
    * inspectable, v5 serves v3's exact files) — the q108b/q107d state. */
  val ReindexedAnn: Fixture = fixture("annstore_reidx") { (s, d, dir) =>
    annLifecycle(s, d, dir)
    VersionedVectorIndex.reindex(s, dir)
    VersionedVectorIndex.restore(s, dir, 3L)
  }
  /** The q107 lifecycle plus a v4 atomic UPSERT against the stored
    * model (re-embedded live ids AND revivals of deleted ones, one
    * commit). */
  val UpsertedAnn: Fixture = fixture("annstore_ups") { (s, d, dir) =>
    annLifecycle(s, d, dir)
    VersionedVectorIndex.upsert(s, dir, annPatchVecs(s, d))
  }
  /** Vector store after the q127 erasure. */
  val ErasureAnn: Fixture = fixture("erasure_ann") { (s, d, dir) =>
    val emb = Tables.table(s, d, "embeddings")
    buildAnn(emb, dir)
    VersionedVectorIndex.delete(s, dir, erasureIds(emb, "vec_id"))
  }

  // -------------------------------------------------------- text stores

  /** Index `docs` — every stored-text store's v0 (postings and
    * positions). */
  private def buildText(docs: DataFrame, dir: String): Long =
    VersionedTextIndex.build(docs, dir, TextIndexBuckets)
  private def textDeleteIds(s: SparkSession, d: String): DataFrame =
    Tables.table(s, d, "documents").select(col("doc_id"))
      .filter(col("doc_id") % TextDeleteMod === TextDeleteRes)
  /** The q109 lifecycle in `dir`: v0 build-on-base, v1 append, v2
    * delete, v3 compact — stats move in the same commit as postings. */
  private def textLifecycle(s: SparkSession, d: String, dir: String): Unit = {
    val docs = Tables.table(s, d, "documents")
    buildText(docs.filter(col("doc_id") < TextAppendSplit), dir)
    VersionedTextIndex.append(s, dir, docs.filter(col("doc_id") >= TextAppendSplit))
    VersionedTextIndex.delete(s, dir, textDeleteIds(s, d))
    VersionedTextIndex.compact(s, dir)
  }
  private def textPatchDocs(s: SparkSession, d: String): DataFrame =
    Tables.table(s, d, "documents")
      .filter(col("doc_id") % TextUpsertMod === TextUpsertRes)
      .withColumn("text", expr(s"concat(text, '$TextUpsertSuffix')"))

  /** The persisted inverted index (q94/q119/q121 families). */
  val TextIndex: Fixture = fixture("textindex") { (s, d, dir) =>
    buildText(Tables.table(s, d, "documents"), dir)
  }
  /** Built on the base corpus, the rest admitted by append (q96). */
  val AppendedText: Fixture = fixture("textindex_app") { (s, d, dir) =>
    val docs = Tables.table(s, d, "documents")
    buildText(docs.filter(col("doc_id") < TextAppendSplit), dir)
    VersionedTextIndex.append(s, dir, docs.filter(col("doc_id") >= TextAppendSplit))
  }
  /** The built-then-tombstoned lexical index (q101). */
  val DeletedText: Fixture = fixture("textindex_del") { (s, d, dir) =>
    buildText(Tables.table(s, d, "documents"), dir)
    VersionedTextIndex.delete(s, dir, textDeleteIds(s, d))
  }
  /** The built-deleted-compacted lexical index (q101b). */
  val CompactedText: Fixture = fixture("textindex_cmp") { (s, d, dir) =>
    buildText(Tables.table(s, d, "documents"), dir)
    VersionedTextIndex.delete(s, dir, textDeleteIds(s, d))
    VersionedTextIndex.compact(s, dir)
  }
  /** The versioned lexical index after its full q109 lifecycle. */
  val VersionedText: Fixture = fixture("textindex_ver") { (s, d, dir) =>
    textLifecycle(s, d, dir)
  }
  /** The q109 lifecycle plus a v4 atomic UPSERT (replacements for live
    * docs AND revivals of deleted ones, one commit). */
  val UpsertedText: Fixture = fixture("textindex_ups") { (s, d, dir) =>
    textLifecycle(s, d, dir)
    VersionedTextIndex.upsert(s, dir, textPatchDocs(s, d))
  }
  /** Text index after the q127 erasure. */
  val ErasureText: Fixture = fixture("erasure_text") { (s, d, dir) =>
    val docs = Tables.table(s, d, "documents")
    buildText(docs, dir)
    VersionedTextIndex.delete(s, dir, erasureIds(docs, "doc_id"))
  }

  // ------------------------------------------------------- LM stores

  /** The q49 scorer's model persisted from the base corpus (q102). */
  val LmModel: Fixture = fixture("lmstore") { (s, d, dir) =>
    LmStore.build(Tables.table(s, d, "documents").filter(col("doc_id") < TextAppendSplit),
      dir, TextIndexBuckets)
  }
  /** Built on the base, the next band appended as a positive segment
    * (q104). */
  val AppendedLm: Fixture = fixture("lmstore_app") { (s, d, dir) =>
    val docs = Tables.table(s, d, "documents")
    LmStore.build(docs.filter(col("doc_id") < LmBaseSplit), dir, TextIndexBuckets)
    LmStore.append(s, dir,
      docs.filter(col("doc_id") >= LmBaseSplit && col("doc_id") < TextAppendSplit),
      TextIndexBuckets)
  }
  private def lmDeleted(s: SparkSession, d: String, dir: String): Unit = {
    val docs = Tables.table(s, d, "documents")
    LmStore.build(docs.filter(col("doc_id") < TextAppendSplit), dir, TextIndexBuckets)
    LmStore.deleteDocs(s, dir,
      docs.filter(col("doc_id") >= LmDeleteFrom && col("doc_id") < TextAppendSplit),
      TextIndexBuckets)
  }
  /** Built, then the delete band entered as a NEGATIVE segment (q104b). */
  val DeletedLm: Fixture = fixture("lmstore_del")(lmDeleted)
  /** The q104b store with its segment stack compacted (q104c). */
  val CompactedLm: Fixture = fixture("lmstore_cmp") { (s, d, dir) =>
    lmDeleted(s, d, dir)
    LmStore.compact(s, dir)
  }

  // ------------------------------------------------- partitioned layouts

  /** The time-partitioned events log (q01b). */
  val EvStore: Fixture = fixture("evstore") { (s, d, dir) =>
    EventLogStore.writePartitioned(Tables.events(s, d), dir, DeltaBucketUs)
  }
  /** The id-partitioned corpus store (q64). */
  val DocIdStore: Fixture = fixture("docstore") { (s, d, dir) =>
    DocStore.write(Tables.table(s, d, "documents"), dir, DocSpan)
  }
  private def skipEvents(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).select(col("event_id"), col("user_id"),
      col("ts_us"), col("value"))
  private val SkipOrder = Seq("user_id", "ts_us")
  /** The q114 base build plus one appended batch (every 4th event, so
    * the batch's times span the whole month and its file boxes are
    * wide) — pruning sound but loosened. */
  private def skipAppended(s: SparkSession, d: String, dir: String): Unit = {
    val ev = skipEvents(s, d)
    FS.build(ev.filter(col("event_id") % 4 =!= 0), dir, "event_id", SkipOrder, SkipFiles)
    FS.append(s, dir, ev.filter(col("event_id") % 4 === 0), math.max(1, SkipFiles / 4))
  }
  /** The z-ordered events fact store (q113/q116): keyed on event_id,
    * so its files carry the key-column Bloom bitsets q116 probes. */
  val SkipStore: Fixture = fixture("skipstore") { (s, d, dir) =>
    FS.build(skipEvents(s, d), dir, "event_id", SkipOrder, SkipFiles)
  }
  /** The store AFTER an ingest batch (q114). */
  val AppendedSkip: Fixture = fixture("skipstore_app")(skipAppended)
  /** The appended store after compaction — one globally z-ordered
    * generation again (q114b). */
  val OptimizedSkip: Fixture = fixture("skipstore_opt") { (s, d, dir) =>
    skipAppended(s, d, dir)
    FS.compact(s, dir, SkipFiles)
  }

  // -------------------------------------------------------- fact stores

  private def factEvents(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).select(col("event_id"), col("user_id"),
      col("ts_us"), col("event_type"), col("value"))
  /** [[FS.build]] of `df` keyed on event_id, z-ordered on (user, time). */
  private def factBuild(df: DataFrame, dir: String): Long =
    FS.build(df, dir, "event_id", Seq("user_id", "ts_us"), FactFiles,
      Seq("user_id", "ts_us", "event_id"))
  private def factPatch(s: SparkSession, d: String): DataFrame =
    factEvents(s, d)
      .where(col("event_id") % FactPatchMod === FactPatchRes &&
        col("user_id") % FactDelUserMod =!= FactDelUserRes)
      .withColumn("value", col("value") + FactPatchBump)
      .withColumn("event_type", lit("corrected"))
  /** Q140k: the conditional-MERGE batch over `base` — a matched half
    * (same keys, value shifted ±[[SparkEntry.FactMergeShift]] by id
    * parity, so the update condition `s.value >= t.value` splits
    * exactly on parity) and a new half (keys offset beyond any real id,
    * type 'inserted'). */
  private def factMergeSource(base: DataFrame): DataFrame =
    base.where(col("event_id") % FactMergeMod === FactMergeMatchRes)
      .withColumn("value", col("value") +
        when(col("event_id") % 2 === 0, lit(FactMergeShift))
          .otherwise(lit(-FactMergeShift)))
      .unionByName(
        base.where(col("event_id") % FactMergeMod === FactMergeInsRes)
          .withColumn("event_id", col("event_id") + FactMergeIdOffset)
          .withColumn("event_type", lit("inserted")))
  private def factMergeClauses = Seq(
    FS.MergeClause.Update(Some("s.value >= t.value"),
      Map("value" -> "s.value + t.value", "event_type" -> "'merged'")),
    FS.MergeClause.Delete(None),
    FS.MergeClause.Insert(Some(s"s.value >= $FactMergeInsMin")))

  /** Q140: the events DML lifecycle — v1 build, v2 GDPR delete of one
    * user residue, v3 corrections upsert, v4 compact. */
  val Fact: Fixture = fixture("factstore") { (s, d, dir) =>
    factBuild(factEvents(s, d), dir)
    FS.deleteMatching(s, dir, col("user_id") % FactDelUserMod === FactDelUserRes)
    FS.upsert(s, dir, factPatch(s, d), FactFiles)
    FS.compact(s, dir, FactFiles)
  }
  /** Q140f: additive schema evolution — v1 holds the even events in the
    * ORIGINAL schema; v2 appends the odd events WITH a new `source`
    * column; old rows null-fill at read (the mergeSchema contract). */
  val EvolvedFact: Fixture = fixture("factstore_evo") { (s, d, dir) =>
    val ev = factEvents(s, d)
    factBuild(ev.where(col("event_id") % 2 === 0), dir)
    FS.append(s, dir,
      ev.where(col("event_id") % 2 =!= 0)
        .withColumn("source", expr("concat('s', CAST(user_id % 3 AS STRING))")),
      FactFiles)
  }
  /** Q140o: type widening — v1 build with an INT `clicks` column, v2
    * widen clicks → BIGINT (one metadata commit), v3 append values
    * that NEED the width, v4 compact migrating the narrow generation. */
  val WidenedFact: Fixture = fixture("factstore_wd") { (s, d, dir) =>
    val ev = factEvents(s, d)
    factBuild(ev.where(col("event_id") % 2 === 0)
      .withColumn("clicks", (col("event_id") % 1000).cast("int")), dir)
    FS.widenColumn(s, dir, "clicks", "bigint")
    FS.append(s, dir,
      ev.where(col("event_id") % 2 =!= 0)
        .withColumn("clicks", col("event_id") % 1000 + lit(FactWidenBase)),
      FactFiles)
    FS.compact(s, dir, FactFiles)
  }
  /** Q140p/q: the q140 lake registered in the session catalog as
    * [[factCatalogTable]] (`CREATE TABLE … USING graft LOCATION`). */
  val FactCatalog: Fixture = sessionFixture("fact_catalog", Fact) { (s, d, _) =>
    s.sql(s"CREATE TABLE IF NOT EXISTS ${factCatalogTable(d)} USING graft " +
      s"LOCATION '${Fact.dir(d)}'")
  }
  /** Keyed on the SF dir: a session that evaluates two scale factors
    * must not serve the first SF's store to the second. */
  def factCatalogTable(d: String): String = s"graft_fact_events_${sfTag(d)}"
  /** Q140r: `CREATE TABLE … AS SELECT` against the `graft` catalog —
    * creation IS `FactStore.createEmpty` and the CTAS rows land as one
    * append commit. */
  val CtasCatalog: Fixture = fixture("ctas_catalog") { (s, d, _) =>
    val tbl = ctasTable(d)
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    factEvents(s, d).where(col("user_id") % FactDelUserMod =!= FactDelUserRes)
      .createOrReplaceTempView(s"graft_ctas_src_${sfTag(d)}")
    s.sql(
      s"""CREATE TABLE $tbl
          TBLPROPERTIES ('key'='event_id', 'order'='user_id,ts_us',
                         'stats'='user_id,ts_us,event_id')
          AS SELECT * FROM graft_ctas_src_${sfTag(d)}""")
  }
  def ctasTable(d: String): String = s"graft.db_${sfTag(d)}.ctas_events"
  /** Q140s: STANDARD SQL `UPDATE t SET … WHERE …`, routed by
    * [[graft.plans.GraftRowLevelSql]] into the one-scan
    * tombstone+post-image commit. */
  val SqlUpdatedFact: Fixture = fixture("factstore_us") { (s, d, dir) =>
    factBuild(factEvents(s, d), dir)
    val tbl = s"graft_fact_sqlupd_${sfTag(d)}"
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    s.sql(s"CREATE TABLE $tbl USING graft LOCATION '$dir'")
    s.sql(s"""UPDATE $tbl SET value = value * 2 + 1, event_type = 'bumped'
              WHERE user_id % $FactSqlUpdMod = $FactSqlUpdRes""")
  }
  /** Q140u: STANDARD `ALTER TABLE` DDL — ADD COLUMNS / ALTER COLUMN
    * TYPE / RENAME COLUMN through the graft TableCatalog, each change
    * one versioned evolution commit, interleaved with plain INSERTs. */
  val AlterDdlCatalog: Fixture = fixture("alter_catalog") { (s, d, _) =>
    val (sf, tbl) = (sfTag(d), alterTable(d))
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    s.sql(
      s"""CREATE TABLE $tbl
          (event_id BIGINT, user_id BIGINT, ts_us BIGINT, event_type STRING,
           value DOUBLE, clicks INT)
          TBLPROPERTIES ('key'='event_id', 'order'='user_id,ts_us',
                         'stats'='user_id,ts_us,event_id')""")
    factEvents(s, d).where(col("event_id") % 2 === 0)
      .withColumn("clicks", (col("event_id") % 1000).cast("int"))
      .createOrReplaceTempView(s"graft_alter_even_$sf")
    s.sql(s"INSERT INTO $tbl SELECT * FROM graft_alter_even_$sf")
    s.sql(s"ALTER TABLE $tbl ADD COLUMNS (boost DOUBLE)")
    s.sql(s"ALTER TABLE $tbl ALTER COLUMN clicks TYPE BIGINT")
    factEvents(s, d).where(col("event_id") % 2 =!= 0)
      .withColumn("clicks", col("event_id") % 1000 + lit(FactWidenBase))
      .withColumn("boost", col("value") * 2)
      .createOrReplaceTempView(s"graft_alter_odd_$sf")
    s.sql(s"INSERT INTO $tbl SELECT * FROM graft_alter_odd_$sf")
    s.sql(s"ALTER TABLE $tbl RENAME COLUMN event_type TO kind")
  }
  def alterTable(d: String): String = s"graft.db_${sfTag(d)}.alter_events"
  /** Q140v: ONE standard MERGE with matched / insert / `WHEN NOT
    * MATCHED BY SOURCE` legs as ONE atomic commit, then a COMPOUND-ON
    * merge whose extra conjunct lowers into the matched condition. */
  val FullMergedFact: Fixture = fixture("factstore_mf") { (s, d, dir) =>
    val sf = sfTag(d)
    factBuild(factEvents(s, d), dir)
    val tbl = s"graft_fact_mfull_$sf"
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    s.sql(s"CREATE TABLE $tbl USING graft LOCATION '$dir'")
    val matchedSrc = factEvents(s, d).where(col("event_id") % 3 === 0)
      .withColumn("event_type", lit("src"))
      .withColumn("value", col("value") + 100)
    matchedSrc.unionByName(
        matchedSrc.withColumn("event_id", col("event_id") + FactMrgOff))
      .createOrReplaceTempView(s"graft_mfull_src_$sf")
    s.sql(
      s"""MERGE INTO $tbl t USING graft_mfull_src_$sf s
          ON t.event_id = s.event_id
          WHEN MATCHED AND s.user_id % 2 = 0 THEN
            UPDATE SET value = s.value + 10, event_type = 'merged'
          WHEN NOT MATCHED THEN INSERT *
          WHEN NOT MATCHED BY SOURCE AND t.user_id % 5 = 0 THEN DELETE
          WHEN NOT MATCHED BY SOURCE AND t.user_id % 5 = 1 THEN
            UPDATE SET event_type = 'stale'""")
    factEvents(s, d).where(col("event_id") % 4 === 1)
      .createOrReplaceTempView(s"graft_mfull_src2_$sf")
    s.sql(
      s"""MERGE INTO $tbl t USING graft_mfull_src2_$sf s
          ON t.event_id = s.event_id AND t.user_id % 7 = 2
          WHEN MATCHED THEN UPDATE SET event_type = 'extra'""")
  }
  /** Q140t's two co-keyed stores. */
  val StorageJoinA: Fixture = fixture("factstore_sja") { (s, d, dir) =>
    factBuild(factEvents(s, d), dir)
  }
  val StorageJoinB: Fixture = fixture("factstore_sjb") { (s, d, dir) =>
    FS.build(factEvents(s, d).where(col("event_id") % 2 === 0)
      .select(col("event_id"), (col("value") * 3).as("score")),
      dir, "event_id", Seq("event_id"), FactFiles)
  }
  /** Q140t: both stores registered as [[storageJoinTables]] with FRESH
    * bucketed mirrors, so the [[graft.plans.GraftStorageJoin]] rule
    * plans their key equi-join without exchanging either side. */
  val StorageJoin: Fixture = sessionFixture("storage_join", StorageJoinA, StorageJoinB) {
    (s, d, _) =>
      val sf = sfTag(d)
      val (tblA, tblB) = storageJoinTables(d)
      s.sql(s"CREATE TABLE IF NOT EXISTS $tblA USING graft LOCATION '${StorageJoinA.dir(d)}'")
      s.sql(s"CREATE TABLE IF NOT EXISTS $tblB USING graft LOCATION '${StorageJoinB.dir(d)}'")
      FS.ensureBucketedMirror(s, StorageJoinA.dir(d), s"graft_sj_mirror_a_$sf", FactFiles)
      FS.ensureBucketedMirror(s, StorageJoinB.dir(d), s"graft_sj_mirror_b_$sf", FactFiles)
  }
  def storageJoinTables(d: String): (String, String) =
    (s"graft_fact_sja_${sfTag(d)}", s"graft_fact_sjb_${sfTag(d)}")
  /** Q140g: non-additive schema evolution — v1 build, v2 RENAME
    * value→amount, v3 DROP event_type (both metadata-only), v4 upsert a
    * corrections batch in the NEW logical schema. */
  val RenamedFact: Fixture = fixture("factstore_cm") { (s, d, dir) =>
    factBuild(factEvents(s, d), dir)
    FS.renameColumn(s, dir, "value", "amount")
    FS.dropColumn(s, dir, "event_type")
    FS.upsert(s, dir,
      factEvents(s, d)
        .where(col("event_id") % FactRenamePatchMod === FactRenamePatchRes)
        .select(col("event_id"), col("user_id"), col("ts_us"),
          (col("value") + FactRenamePatchBump).as("amount")),
      FactFiles)
  }
  /** Q140i: v1 build clustered on user_id ONLY, v2 metadata-only
    * RECLUSTER to ts_us, v3 bounded compaction migrating every
    * generation to the new order. */
  val ReclusteredFact: Fixture = fixture("factstore_rc") { (s, d, dir) =>
    FS.build(factEvents(s, d), dir, "event_id", Seq("user_id"), FactFiles, Seq("user_id"))
    FS.recluster(s, dir, Seq("ts_us"))
    FS.compactIncremental(s, dir, FactFiles, maxTombFrac = 0.0, maxFilesPerSeg = 0)
  }
  /** Q140k: v1 build, v2 one conditional MERGE exercising all three
    * clause kinds (first-match precedence) in ONE atomic commit. */
  val MergedFact: Fixture = fixture("factstore_mg") { (s, d, dir) =>
    factBuild(factEvents(s, d), dir)
    FS.merge(s, dir, factMergeSource(factEvents(s, d)), FactFiles, factMergeClauses)
  }
  /** Q140l: the SAME lakehouse lifecycle driven ENTIRELY from SQL —
    * GRAFT BUILD / DELETE / MERGE / COMPACT through the injected
    * parser. The merge source excludes the deleted users so the oracle
    * composes the two DMLs cleanly. */
  val SqlDmlFact: Fixture = fixture("factstore_sql") { (s, d, dir) =>
    factEvents(s, d).createOrReplaceTempView("graft_dml_ev")
    factMergeSource(factEvents(s, d)
        .where(col("user_id") % FactDelUserMod =!= FactDelUserRes))
      .createOrReplaceTempView("graft_dml_msrc")
    s.sql(s"GRAFT BUILD '$dir' KEY event_id ORDER BY (user_id, ts_us) " +
      s"STATS (user_id, ts_us, event_id) FILES $FactFiles USING graft_dml_ev")
    s.sql(s"GRAFT DELETE FROM '$dir' WHERE user_id % $FactDelUserMod = $FactDelUserRes")
    s.sql(
      s"""GRAFT MERGE INTO '$dir' FILES $FactFiles USING graft_dml_msrc
          WHEN MATCHED AND s.value >= t.value THEN UPDATE SET value = s.value + t.value, event_type = 'merged'
          WHEN MATCHED THEN DELETE
          WHEN NOT MATCHED AND s.value >= $FactMergeInsMin THEN INSERT""")
    s.sql(s"GRAFT COMPACT '$dir' FILES $FactFiles")
  }
  /** Q140m: v1 build, v2 ADD CONSTRAINT, a VIOLATING append that must
    * bounce whole (required loudly), v3 a satisfying append. */
  val ConstrainedFact: Fixture = fixture("factstore_ck") { (s, d, dir) =>
    val ev = factEvents(s, d)
    factBuild(ev, dir)
    FS.addConstraint(s, dir, "chk_value", "value >= 0")
    val threw = try {
      FS.append(s, dir,
        ev.where(col("event_id") % FactConsMod === 0)
          .withColumn("event_id", col("event_id") + FactConsIdOffset)
          .withColumn("value", -col("value") - 1.0), FactFiles)
      false
    } catch { case _: IllegalArgumentException => true }
    require(threw, "the violating batch must be rejected whole")
    FS.append(s, dir,
      ev.where(col("event_id") % FactConsMod === 0)
        .withColumn("event_id", col("event_id") + FactConsIdOffset)
        .withColumn("event_type", lit("audited")), FactFiles)
  }
  /** Q140n: the q140 lake branched by one zero-copy manifest commit,
    * then diverging with a clone-local reconciliation upsert. */
  val ClonedFact: Fixture = fixture("factstore_cl", Fact) { (s, d, dir) =>
    ManifestLog.fs(s, dir).delete(new org.apache.hadoop.fs.Path(dir), true)
    FS.clone(s, Fact.dir(d), dir)
    FS.upsert(s, dir,
      factEvents(s, d)
        .where(col("user_id") % FactDelUserMod =!= FactDelUserRes &&
          col("event_id") % FactCloneMod === FactCloneRes)
        .withColumn("value", col("value") * 2)
        .withColumn("event_type", lit("reconciled")), FactFiles)
  }
  /** The RAW document lake after the q127 erasure: v1 build, v2
    * tombstone-delete of the subject residue — the takedown lands on
    * the source of truth, not just the derived indexes. */
  val ErasureFact: Fixture = fixture("erasure_raw") { (s, d, dir) =>
    val docs = Tables.table(s, d, "documents")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    FS.build(docs, dir, "doc_id", Seq("doc_id", "n_chars"), FactFiles)
    FS.deleteMatching(s, dir, col("doc_id") % ErasureMod === ErasureRes)
  }
}
