package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Row-level DML + versioning for the RAW fact tables — the lakehouse
  * layer the round-8 verdict named as the top coverage gap: the
  * transactional machinery ([[ManifestLog]]) wrapped the two INDEX
  * stores, but a GDPR ticket or CDC merge lands on the raw
  * events/documents lake first. This store composes the two proven
  * pieces:
  *
  *   - [[ManifestLog]] snapshots: every mutation is one atomic
  *     manifest commit — append-only version lineage, snapshot
  *     isolation, time travel, restore, vacuum; a crash before the
  *     commit leaves unreferenced files (invisible by construction).
  *   - a z-order layout ([[writeSubdir]]): each data segment is
  *     z-sorted on the declared order columns with exact per-file
  *     [min, max] stats and a key-column Bloom bitset recorded in a
  *     sidecar (`_filestats.json`, written BEFORE the manifest commit
  *     so stats and data become visible atomically together), so box
  *     reads ([[readBox]], q113/q114) and key probes ([[readPoint]],
  *     q116) prune files before any data I/O — through every DML
  *     generation.
  *
  * DML semantics are the q111 version-scoped tombstone rule
  * ([[ManifestLog.readSegmentsScoped]]): every data row carries its
  * segment's CREATING version; a tombstone (key, committed at version
  * v) kills only rows born strictly BEFORE v. So
  *
  *   - [[delete]]/[[deleteMatching]] = one tombstone segment: no data
  *     file is rewritten, the erased keys vanish from every subsequent
  *     read, and pinned/time-travel readers of older versions still
  *     see them (takedown is a new version, not history rewriting —
  *     [[vacuum]] is the physical-erasure step).
  *   - [[upsert]] = tombstone(batch keys) + new data segment in ONE
  *     commit: the replaced generation dies and its replacement goes
  *     live atomically — no delete-then-append window where a reader
  *     sees neither.
  *   - [[compact]] = rewrite the LIVE rows as one fresh globally
  *     z-ordered generation (pruning re-tightens, tombstone anti-join
  *     cost drops to zero) and commit a manifest referencing only it.
  *
  * Scale shape: tombstones are key lists (bounded by deleted rows, not
  * table size) and broadcast into the anti-join; the per-file stats
  * live one JSON per segment, a driver-side metadata read over a
  * bounded file list. At 100 TB this is the Delta/Iceberg MERGE story:
  * DML cost ∝ the change, reads prune by manifest stats, and nothing
  * ever scans the table to delete a user.
  */
object FactStore {

  private val M = ManifestLog
  private val mapper = new ObjectMapper

  private def segName(v: Long, op: String): String =
    f"seg-$v%08d-$op-${java.util.UUID.randomUUID().toString.take(8)}"

  // ------------------------------------------------------- meta keys
  private def metaOf(spark: SparkSession, dir: String, version: Long) = {
    val m = M.snapshot(spark, dir, version).meta
    (m("keyCol"), m("orderCols").split(' ').toSeq, m("statsCols").split(' ').toSeq)
  }

  // ------------------------------------------- column mapping (rename/drop)
  //
  // Non-additive schema evolution follows Delta's column-mapping /
  // Iceberg's field-id semantics: every field gets ONE physical name,
  // frozen at first write (initially = its logical name), and the
  // snapshot meta carries the ACTIVE (physical → logical) mapping.
  // Rename = update the logical name (metadata-only commit, zero files
  // touched); drop = remove the pair (old files keep the physical
  // column, reads stop projecting it). Because meta is per-snapshot,
  // every version time-travels with its OWN schema, and the change
  // feed aligns by PHYSICAL field — so rename and drop fabricate zero
  // spurious row changes while real value changes through a rename are
  // still caught. Key/stats/order columns are tracked physically
  // everywhere below; only the read/write boundary translates.

  /** The active (physical, logical) pairs at a snapshot, in schema
    * order; None for stores predating column mapping (identity). */
  private def colmapOf(snap: M.Snapshot): Option[Seq[(String, String)]] =
    snap.meta.get("colmap").map(_.split(' ').toSeq.filter(_.nonEmpty).map { p =>
      val i = p.indexOf('=')
      (p.substring(0, i), p.substring(i + 1))
    })

  /** Physical names ever dropped — reserved forever: old files still
    * carry the column, so a new field reusing the name would resurrect
    * dropped data through the tolerant union. */
  private def retiredOf(snap: M.Snapshot): Set[String] =
    snap.meta.get("colretired").map(_.split(' ').filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)

  private def encodeColmap(cm: Seq[(String, String)]): String =
    cm.map { case (p, l) => s"$p=$l" }.mkString(" ")

  private def requireIdent(name: String, what: String): Unit =
    require(name.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"$what must be an identifier ([A-Za-z_][A-Za-z0-9_]*), got '$name'")

  /** Translate an incoming LOGICAL frame to physical column names and
    * return it with the colmap extended by any NEW columns (additive
    * evolution under mapping). A new logical name colliding with an
    * existing physical name would alias two fields in the files —
    * rejected loudly. */
  private def toPhysical(df: DataFrame, cm: Seq[(String, String)],
                         retired: Set[String]): (DataFrame, Seq[(String, String)]) = {
    val byLogical = cm.map(_.swap).toMap
    val physicals = cm.map(_._1).toSet ++ retired
    val fresh = df.columns.toSeq.filterNot(byLogical.contains)
    fresh.foreach { c =>
      require(!physicals.contains(c),
        s"new column '$c' collides with an active or retired field's physical name — " +
          "old files still carry that column, so reusing it would resurrect dropped data")
    }
    val out = df.columns.foldLeft(df) { (d, c) =>
      byLogical.get(c).map(p => d.withColumnRenamed(c, p)).getOrElse(d)
    }
    (out, cm ++ fresh.map(c => (c, c)))
  }

  /** Project a PHYSICAL frame to the snapshot's logical schema: active
    * fields only, logical names, colmap order (dropped physical
    * columns in old files vanish here). */
  private def toLogical(df: DataFrame, cm: Seq[(String, String)]): DataFrame = {
    val present = df.columns.toSet
    df.select(cm.collect { case (p, l) if present.contains(p) => col(p).as(l) }: _*)
  }

  /** RENAME a column: one metadata commit — the field's physical name
    * (and every data file, stats sidecar, and tombstone) is untouched;
    * only the logical projection changes from this version on. Earlier
    * versions keep serving the old name under time travel. */
  def renameColumn(spark: SparkSession, dir: String, from: String, to: String): Long = synchronized {
    requireIdent(to, "the new column name")
    val prior = M.snapshot(spark, dir)
    val cm = activeColmap(spark, dir, prior)
    require(cm.exists(_._2 == from), s"no active column '$from' to rename")
    require(!cm.exists(_._2 == to), s"rename target '$to' already exists")
    requireUnconstrained(prior, from, "rename")
    val next = cm.map { case (p, l) => (p, if (l == from) to else l) }
    val v = prior.version + 1
    M.commit(M.fs(spark, dir), dir, M.Snapshot(v, "rename", "",
      prior.segments, prior.meta + ("colmap" -> encodeColmap(next))))
    v
  }

  /** DROP a column: one metadata commit — data files keep the physical
    * column (time travel still serves it at older versions); reads at
    * this version on stop projecting it. The key and stats/order
    * columns are the pruning tier and cannot be dropped. */
  def dropColumn(spark: SparkSession, dir: String, name: String): Long = synchronized {
    val prior = M.snapshot(spark, dir)
    val (keyCol, _, statsCols) = metaOf(spark, dir, prior.version)
    val cm = activeColmap(spark, dir, prior)
    val phys = cm.find(_._2 == name)
      .getOrElse(throw new IllegalArgumentException(s"no active column '$name' to drop"))._1
    require(phys != keyCol && !statsCols.contains(phys),
      s"'$name' is the key or a stats/order column — the skipping tier is non-negotiable")
    requireUnconstrained(prior, name, "drop")
    val v = prior.version + 1
    val retired = (retiredOf(prior) + phys).toSeq.sorted.mkString(" ")
    M.commit(M.fs(spark, dir), dir, M.Snapshot(v, "drop", "",
      prior.segments, prior.meta +
        ("colmap" -> encodeColmap(cm.filterNot(_._1 == phys))) +
        ("colretired" -> retired)))
    v
  }

  // ---------------------------------------------------- type widening
  //
  // The third leg of the Delta/Iceberg schema-evolution triad (after
  // additive columns and rename/drop): declare a column's type WIDER
  // (int → long, float → double) as ONE metadata commit — zero files
  // rewritten. Old segments keep their narrow physical type; the
  // read boundary injects a lossless cast (so every reader sees the
  // declared type), writers normalize incoming batches to it (new
  // files carry the wide type), and compaction migrates old
  // generations as it folds. Declarations live per-snapshot
  // (`colwiden` meta), so time travel serves each version's own
  // types, and the change feed hashes BOTH sides at the target
  // version's declared type — a pure widen fabricates zero updates.

  private val IntWidenRank = Map("tinyint" -> 1, "smallint" -> 2, "int" -> 3, "bigint" -> 4)

  /** Declared (physical name → SQL type) widenings at a snapshot. */
  private def widenedOf(snap: M.Snapshot): Map[String, String] =
    snap.meta.get("colwiden").map(_.split(' ').filter(_.nonEmpty).map { p =>
      val i = p.indexOf('=')
      p.substring(0, i) -> p.substring(i + 1)
    }.toMap).getOrElse(Map.empty)

  /** Cast every declared-widened physical column present in `df` to
    * its declared type (a same-type cast folds away in Catalyst). */
  private def applyWiden(df: DataFrame, widen: Map[String, String]): DataFrame =
    widen.foldLeft(df) { case (d, (p, t)) =>
      if (d.columns.contains(p)) d.withColumn(p, col(p).cast(t)) else d
    }

  /** WIDEN a column's declared type: one metadata commit. Only
    * lossless widenings are legal — tinyint/smallint/int → a wider
    * integral, float → double; narrowing or cross-family changes are
    * rejected loudly. */
  def widenColumn(spark: SparkSession, dir: String, name: String,
                  toType: String): Long = synchronized {
    val target = toType.trim.toLowerCase
    val prior = M.snapshot(spark, dir)
    val cm = activeColmap(spark, dir, prior)
    val phys = cm.find(_._2 == name)
      .getOrElse(throw new IllegalArgumentException(s"no active column '$name' to widen"))._1
    val widen = widenedOf(prior)
    val current = widen.getOrElse(phys,
      read(spark, dir).schema(name).dataType.catalogString.toLowerCase)
    val ok =
      (IntWidenRank.contains(current) && IntWidenRank.contains(target) &&
        IntWidenRank(target) > IntWidenRank(current)) ||
      (current == "float" && target == "double")
    require(ok,
      s"cannot widen '$name' $current -> $target: only lossless widenings " +
        "(tinyint/smallint/int -> a wider integral, float -> double) are supported")
    val v = prior.version + 1
    val enc = (widen + (phys -> target)).toSeq.sorted
      .map { case (p, t) => s"$p=$t" }.mkString(" ")
    M.commit(M.fs(spark, dir), dir, M.Snapshot(v, "widen", "",
      prior.segments, prior.meta + ("colwiden" -> enc)))
    v
  }

  // ------------------------------------------------------- constraints
  //
  // Delta-style table CHECK constraints: each lives in the snapshot
  // meta as `check.<name> -> <sql expr over the LOGICAL schema>`, so
  // constraints version with the table (time travel serves each
  // version's own rule set). ADD validates the existing live rows
  // first — a constraint that is already violated is rejected, never
  // recorded; every subsequent batch write (append/upsert/merge)
  // re-validates the INCOMING rows and rejects the whole batch loudly
  // (atomicity: a rejected batch leaves no version behind). SQL
  // semantics: a row violates only when the expression is FALSE —
  // NULL passes, as in standard CHECK. Independent of constraints,
  // the key column is always required non-null: a null-keyed row
  // could never be tombstoned (null never equi-joins), making
  // delete/upsert silently incomplete.

  private def constraintsOf(snap: M.Snapshot): Map[String, String] =
    snap.meta.collect { case (k, v) if k.startsWith("check.") =>
      k.stripPrefix("check.") -> v }

  /** Stored constraint expressions reference LOGICAL column names as
    * free text, so renaming or dropping a referenced column would
    * orphan the rule — rejected; drop the constraint first. The check
    * is a CASE-INSENSITIVE word-boundary text match (Spark resolves
    * `CHECK (VALUE >= 0)` against column `value`, so the guard must
    * too): conservative (a same-named identifier inside a string
    * literal also blocks), never silent. */
  private def requireUnconstrained(snap: M.Snapshot, colName: String, what: String): Unit =
    constraintsOf(snap).foreach { case (name, rule) =>
      require(!s"(?i)\\b${java.util.regex.Pattern.quote(colName)}\\b".r
          .findFirstIn(rule).isDefined,
        s"cannot $what column '$colName': CHECK constraint $name ($rule) " +
          "references it — drop the constraint first")
    }

  /** Reject `df` (a LOGICAL-schema batch) if any row breaks a
    * constraint or carries a null key — one probe per rule, loudly. */
  private def enforceConstraints(df: DataFrame, snap: M.Snapshot,
                                 logicalKey: String, what: String): Unit = {
    require(df.where(col(logicalKey).isNull).limit(1).isEmpty,
      s"$what carries null key(s) in '$logicalKey' — a null-keyed row can " +
        "never be tombstoned, so row-level DML could not reach it")
    constraintsOf(snap).toSeq.sortBy(_._1).foreach { case (name, rule) =>
      require(df.where(not(expr(rule)) <=> lit(true)).limit(1).isEmpty,
        s"$what violates CHECK constraint $name ($rule) — the batch is rejected whole")
    }
  }

  /** ADD CONSTRAINT: validate the live rows, then one metadata commit.
    * The expression speaks the CURRENT logical schema. */
  def addConstraint(spark: SparkSession, dir: String, name: String,
                    rule: String): Long = synchronized {
    requireIdent(name, "a constraint name")
    val prior = M.snapshot(spark, dir)
    require(!prior.meta.contains(s"check.$name"), s"constraint $name already exists")
    val live = read(spark, dir)
    require(live.where(not(expr(rule)) <=> lit(true)).limit(1).isEmpty,
      s"existing rows violate CHECK constraint $name ($rule) — not recorded")
    val v = prior.version + 1
    M.commit(M.fs(spark, dir), dir, M.Snapshot(v, "constraint-add", "",
      prior.segments, prior.meta + (s"check.$name" -> rule)))
    v
  }

  /** DROP CONSTRAINT: one metadata commit. */
  def dropConstraint(spark: SparkSession, dir: String, name: String): Long = synchronized {
    val prior = M.snapshot(spark, dir)
    require(prior.meta.contains(s"check.$name"), s"no constraint $name to drop")
    val v = prior.version + 1
    M.commit(M.fs(spark, dir), dir, M.Snapshot(v, "constraint-drop", "",
      prior.segments, prior.meta - s"check.$name"))
    v
  }

  /** Active constraints at a version, for introspection/specs. */
  def constraints(spark: SparkSession, dir: String,
                  version: Long = M.Latest): Map[String, String] =
    constraintsOf(M.snapshot(spark, dir, version))

  /** The snapshot's colmap, materializing the identity mapping from
    * the observed physical schema for stores that predate column
    * mapping (their physical IS their logical). */
  private def activeColmap(spark: SparkSession, dir: String, snap: M.Snapshot): Seq[(String, String)] =
    colmapOf(snap).getOrElse {
      readScopedTolerant(spark, dir, snap.segments, "_seg_v")
        .map(_.columns.toSeq.filterNot(_ == "_seg_v").map(c => (c, c)))
        .getOrElse(Seq.empty)
    }

  // ------------------------------------------------ z-order layout kernel
  //
  // Multi-dimensional data skipping — the Iceberg/Delta trick of
  // pruning FILES by per-file column stats, with a Z-ORDER clustering
  // so the stats are tight in EVERY indexed dimension at once:
  //
  //   - each order column is fixed-width-bucketed to 10 bits from its
  //     global [min, max] (one agg pass; exact integer math), the
  //     buckets BIT-INTERLEAVE into a z-value, and the frame range-
  //     partitions + sorts on it — so each file covers a small
  //     HYPER-RECTANGLE of the index space, not a thin slab of one
  //     dimension (a single-column sort prunes perfectly on that column
  //     and not at all on any other);
  //   - one grouped pass over `input_file_name()` records each file's
  //     exact per-column [min, max] plus a Bloom bitset of the key
  //     column — the tier for EQUALITY probes on a high-cardinality key
  //     the layout scatters, where min/max spans everything;
  //   - reads keep only files whose stats overlap every bound (and
  //     whose Bloom may hold a probe key) — a driver-side metadata
  //     decision — and the residual filter still pushes into the
  //     surviving parquet scans, where the z-sort makes ROW-GROUP
  //     min/max pruning tight too.

  private val Bits = 10

  /** Bloom sizing: 2^15 bits (4 KB) / 5 probes per file — ~10 bits per
    * key at the store's file granularity, <1% false positives. The FP
    * rate only costs extra files READ, never a wrong answer (the
    * residual filter still runs). */
  private val BloomBits: Int = 1 << 15
  private val BloomK: Int = 5

  /** The Bloom hash family — pure Scala (NOT a SQL builtin) because
    * the same function must run on executors at build time (inside the
    * Aggregator) and on the driver at probe time; self-consistency is
    * the only requirement. Finalizer is splitmix64; probe i uses
    * double hashing h1 + i·h2 (Kirsch–Mitzenmacher). */
  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private def bloomPositions(value: Long, m: Int, k: Int): Array[Int] = {
    val h1 = mix64(value)
    val h2 = mix64(value ^ 0x5851f42d4c957f2dL) | 1L
    Array.tabulate(k)(i => java.lang.Long.remainderUnsigned(h1 + i * h2, m).toInt)
  }

  private def mayContain(bits: Array[Long], value: Long, k: Int): Boolean =
    bloomPositions(value, bits.length * 64, k).forall(p =>
      (bits(p >> 6) & (1L << (p & 63))) != 0L)

  /** Per-file Bloom build as a typed Aggregator: buffer = the fixed
    * m-bit bitset (m/64 longs), reduce sets the value's k bits, merge
    * ORs two bitsets — constant executor state per file at any size. */
  private final class BloomAgg(m: Int, k: Int)
      extends Aggregator[Long, Array[Long], Array[Long]] {
    def zero: Array[Long] = new Array[Long](m / 64)
    def reduce(b: Array[Long], v: Long): Array[Long] = {
      bloomPositions(v, m, k).foreach(p => b(p >> 6) |= 1L << (p & 63))
      b
    }
    def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0; while (i < a.length) { a(i) |= b(i); i += 1 }; a
    }
    def finish(b: Array[Long]): Array[Long] = b
    def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
    def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  }

  private def encodeBits(bits: Array[Long]): String = {
    val bb = java.nio.ByteBuffer.allocate(bits.length * 8)
    bits.foreach(bb.putLong)
    java.util.Base64.getEncoder.encodeToString(bb.array())
  }

  private def decodeBits(s: String): Array[Long] = {
    val bytes = java.util.Base64.getDecoder.decode(s)
    val bb = java.nio.ByteBuffer.wrap(bytes)
    Array.fill(bytes.length / 8)(bb.getLong)
  }

  /** One file's sidecar entry: name, exact per-stats-column [min, max],
    * and the encoded key-column Bloom bitset (None for a carrier). */
  private final case class FileEntry(file: String, mins: Seq[Long], maxs: Seq[Long],
                                     bloom: Option[String])

  /** Z-sort `df` on `orderCols` (integral-typed) into `nFiles` files
    * under `dir/$sub` and return the new files' entries — stats and
    * Bloom bitsets from ONE grouped pass over the written files. */
  private def writeSubdir(df: DataFrame, dir: String, sub: String,
                          orderCols: Seq[String], statsCols: Seq[String],
                          bloomCol: String, nFiles: Int): Seq[FileEntry] = {
    val rangeAggs = orderCols.flatMap(c =>
      Seq(min(col(c).cast("long")).as(s"mn_$c"), max(col(c).cast("long")).as(s"mx_$c")))
    val ranges = df.agg(rangeAggs.head, rangeAggs.tail: _*).first()
    // 10-bit fixed-width bucket per column from its global range —
    // deterministic and one-pass; skew only loosens file boxes, never
    // correctness, because the stats record what actually landed.
    val buckets = orderCols.zipWithIndex.map { case (c, i) =>
      val mn = ranges.getLong(2 * i)
      val span = math.max(1L, ranges.getLong(2 * i + 1) - mn + 1)
      s"(((CAST($c AS BIGINT) - ${mn}L) * ${1L << Bits}L) DIV ${span}L)"
    }
    val k = orderCols.length
    val zExpr = (for (i <- 0 until k; j <- 0 until Bits)
      yield s"(((${buckets(i)} >> $j) & 1) << ${j * k + i})").mkString(" + ")
    df.withColumn("_z", expr(zExpr))
      .repartitionByRange(nFiles, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z")
      .write.mode("overwrite").parquet(s"$dir/$sub")
    val statAggs = statsCols.flatMap(c =>
      Seq(min(col(c).cast("long")).as(s"mn_$c"), max(col(c).cast("long")).as(s"mx_$c")))
    val bloomUdaf = udaf(new BloomAgg(BloomBits, BloomK))
    val aggs = statAggs :+ bloomUdaf(col(bloomCol).cast("long"))
    Parquet.read(df.sparkSession, s"$dir/$sub")
      .groupBy(input_file_name().as("_f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
      .map { r =>
        FileEntry(r.getString(0).substring(r.getString(0).lastIndexOf('/') + 1),
          statsCols.indices.map(i => r.getLong(1 + 2 * i)),
          statsCols.indices.map(i => r.getLong(2 + 2 * i)),
          Some(encodeBits(r.getSeq[Long](1 + 2 * statsCols.length).toArray)))
      }.toSeq
  }

  /** The segment's stats sidecar, INSIDE the segment dir: unreferenced
    * until the manifest commit lands, deleted with the segment at
    * vacuum. */
  private def writeSidecar(spark: SparkSession, dir: String, name: String,
                           statsCols: Seq[String], keyCol: String,
                           entries: Seq[FileEntry]): Unit = {
    val root = mapper.createObjectNode()
    val cArr = root.putArray("statsCols"); statsCols.foreach(cArr.add)
    root.put("bloomCol", keyCol)
    root.put("bloomM", BloomBits)
    root.put("bloomK", BloomK)
    val fArr = root.putArray("files")
    entries.foreach { e =>
      val n = fArr.addObject()
      n.put("file", e.file)
      val mn = n.putArray("min"); val mx = n.putArray("max")
      e.mins.foreach(mn.add); e.maxs.foreach(mx.add)
      e.bloom.foreach(n.put("bloom", _))
    }
    val out = M.fs(spark, dir).create(new Path(s"$dir/$name/_filestats.json"), false)
    try out.write(mapper.writerWithDefaultPrettyPrinter()
      .writeValueAsString(root).getBytes("UTF-8")) finally out.close()
  }

  // -------------------------------------------------- segment writers

  /** Z-sort `df` into a new data segment and record its per-file stats
    * and key-column Bloom sidecar: 4 KB per file buys point lookups
    * that prune to the files that MAY hold the key. */
  private def writeDataSegment(spark: SparkSession, dir: String, name: String,
                               df: DataFrame, orderCols: Seq[String],
                               statsCols: Seq[String], nFiles: Int,
                               keyCol: String): M.Segment = {
    val entries = writeSubdir(df, dir, name, orderCols, statsCols, keyCol, nFiles)
    writeSidecar(spark, dir, name, statsCols, keyCol, entries)
    M.segment(spark, dir, "data", name)
  }

  private def writeTombSegment(spark: SparkSession, dir: String, name: String,
                               keys: DataFrame, keyCol: String): M.Segment = {
    val segDir = s"$dir/$name"
    keys.select(col(keyCol).cast("long").as(keyCol)).distinct()
      .coalesce(1).write.mode("overwrite").parquet(segDir)
    M.segment(spark, dir, "tomb", name)
  }

  // --------------------------------------------------------- mutations

  /** Version 1: the base generation, globally z-ordered. Wipes `dir`. */
  def build(df: DataFrame, dir: String, keyCol: String, orderCols: Seq[String],
            nFiles: Int, statsColsOpt: Seq[String] = Seq.empty): Long = synchronized {
    val spark = df.sparkSession
    val statsCols = if (statsColsOpt.isEmpty) orderCols else statsColsOpt
    require(orderCols.forall(statsCols.contains),
      "statsCols must cover every order column")
    require(df.columns.contains(keyCol), s"no key column $keyCol")
    // Tombstones store keys as long (the point-probe/Bloom tier's type),
    // so the key contract is integral — enforced HERE, at table
    // creation, not as a misleading mid-merge "duplicate keys" failure.
    require(Set("tinyint", "smallint", "int", "bigint")
        .contains(df.schema(keyCol).dataType.catalogString.toLowerCase),
      s"key column $keyCol must be an integral type (tombstones and the " +
        s"Bloom point tier store keys as long), got ${df.schema(keyCol).dataType.sql}")
    df.columns.foreach(requireIdent(_, "a fact-store column name"))
    require(df.where(col(keyCol).isNull).limit(1).isEmpty,
      s"base generation carries null key(s) in '$keyCol' — a null-keyed " +
        "row can never be tombstoned, so row-level DML could not reach it")
    M.fs(spark, dir).delete(new Path(dir), true)
    val seg = writeDataSegment(spark, dir, segName(1, "base"), df,
      orderCols, statsCols, nFiles, keyCol)
    M.commit(M.fs(spark, dir), dir, M.Snapshot(1, "build", "", Seq(seg),
      Map("keyCol" -> keyCol, "orderCols" -> orderCols.mkString(" "),
        "statsCols" -> statsCols.mkString(" "),
        "colmap" -> encodeColmap(df.columns.toSeq.map(c => (c, c))))))
    1L
  }

  /** CREATE an EMPTY table — the catalog `CREATE TABLE` / CTAS path
    * ([[GraftCatalog.createTable]]): version 1 carries the declared
    * schema and the full key/clustering contract but zero rows, so the
    * first `INSERT INTO` is an ordinary [[append]] commit. The one
    * data segment is a single zero-row parquet file (the schema
    * carrier — every read path unions data segments, so an empty
    * store reads as an empty frame of the right shape, no special
    * case); its stats sidecar records an EMPTY range (min > max) per
    * column, which both pruning tiers treat as proof of absence —
    * the seed segment costs no I/O to any pruned read, ever. Fails if
    * `dir` already has commits ([[build]] is the overwriting verb). */
  def createEmpty(spark: SparkSession, dir: String, schema: org.apache.spark.sql.types.StructType,
                  keyCol: String, orderCols: Seq[String],
                  statsColsOpt: Seq[String] = Seq.empty): Long = synchronized {
    val statsCols = if (statsColsOpt.isEmpty) orderCols else statsColsOpt
    require(orderCols.nonEmpty, "a graft table needs at least one order column")
    require(orderCols.forall(statsCols.contains),
      "statsCols must cover every order column")
    val fields = schema.fieldNames.toSeq
    val missing = (keyCol +: statsCols).distinct.filterNot(fields.contains)
    require(missing.isEmpty,
      s"declared schema is missing indexed column(s): ${missing.mkString(", ")}")
    require(Set("tinyint", "smallint", "int", "bigint")
        .contains(schema(keyCol).dataType.catalogString.toLowerCase),
      s"key column $keyCol must be an integral type (tombstones and the " +
        s"Bloom point tier store keys as long), got ${schema(keyCol).dataType.sql}")
    fields.foreach(requireIdent(_, "a fact-store column name"))
    val f = M.fs(spark, dir)
    require(M.committedVersions(f, dir).isEmpty,
      s"cannot CREATE at $dir — it already has commits (did you mean INSERT/build?)")
    val seg = writeCarrierSegment(spark, dir, segName(1, "create"),
      schema, statsCols, keyCol)
    M.commit(f, dir, M.Snapshot(1, "create", "", Seq(seg),
      Map("keyCol" -> keyCol, "orderCols" -> orderCols.mkString(" "),
        "statsCols" -> statsCols.mkString(" "),
        "colmap" -> encodeColmap(fields.map(c => (c, c))))))
    1L
  }

  /** A zero-row SCHEMA-CARRIER data segment: one empty parquet file
    * whose stats sidecar records an EMPTY range (min > max) per
    * indexed column, which both pruning tiers treat as proof of
    * absence — the carrier costs no I/O to any pruned read, ever.
    * Every read path unions data segments by name, so the carrier's
    * columns surface (null-filled) without a special case. */
  private def writeCarrierSegment(spark: SparkSession, dir: String, name: String,
                                  schema: org.apache.spark.sql.types.StructType,
                                  statsCols: Seq[String], keyCol: String): M.Segment = {
    val f = M.fs(spark, dir)
    spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
      .repartition(1).write.mode("overwrite").parquet(s"$dir/$name")
    val sidecarCols = (statsCols :+ keyCol).distinct
    val files = M.listParquet(f, new Path(s"$dir/$name"))
    writeSidecar(spark, dir, name, sidecarCols, keyCol, files.map(file =>
      FileEntry(file, sidecarCols.map(_ => Long.MaxValue), sidecarCols.map(_ => Long.MinValue), None)))
    M.Segment("data", name, files, 0L)
  }

  /** ADD COLUMN(s) with no data — the `ALTER TABLE … ADD COLUMNS`
    * path ([[GraftCatalog.alterTable]]): one versioned commit whose
    * only payload is a zero-row schema-carrier segment holding the new
    * fields (pruned from every filtered read by its empty stats range)
    * plus the extended colmap. Existing rows read the new columns as
    * NULL; earlier versions time-travel without them; the first batch
    * that actually CARRIES the column is an ordinary append. The same
    * collision rules as batch-borne additive evolution apply: a new
    * logical name may not alias any active or retired physical field. */
  def addColumns(spark: SparkSession, dir: String,
                 cols: Seq[org.apache.spark.sql.types.StructField]): Long = synchronized {
    require(cols.nonEmpty, "ADD COLUMNS needs at least one column")
    val prior = M.snapshot(spark, dir)
    val (keyCol, _, statsCols) = metaOf(spark, dir, prior.version)
    val cm = activeColmap(spark, dir, prior)
    val physicals = cm.map(_._1).toSet ++ retiredOf(prior)
    cols.foreach { fld =>
      requireIdent(fld.name, "a fact-store column name")
      require(!cm.exists(_._2 == fld.name),
        s"column '${fld.name}' already exists")
      require(!physicals.contains(fld.name),
        s"new column '${fld.name}' collides with an active or retired field's " +
          "physical name — old files still carry that column, so reusing it " +
          "would resurrect dropped data")
    }
    val v = prior.version + 1
    val seg = writeCarrierSegment(spark, dir, segName(v, "addcol"),
      org.apache.spark.sql.types.StructType(cols), statsCols, keyCol)
    M.commit(M.fs(spark, dir), dir, M.Snapshot(v, "addcol", "",
      prior.segments :+ seg,
      prior.meta + ("colmap" -> encodeColmap(cm ++ cols.map(f2 => (f2.name, f2.name))))))
    v
  }

  /** Ingest: one new data segment (batch-local z-sort), no tombstones. */
  def append(spark: SparkSession, dir: String, df: DataFrame, nFiles: Int): Long =
    synchronized { appendImpl(spark, dir, df, nFiles, Map.empty) }

  /** Additive schema evolution contract: a batch may carry NEW columns
    * (old segments null-fill at read — [[readScopedTolerant]]) and may
    * omit non-indexed columns, but the key and every stats/order column
    * must be present — the skipping tier is non-negotiable. */
  private def requireIndexed(df: DataFrame, keyCol: String, statsCols: Seq[String]): Unit = {
    val missing = (keyCol +: statsCols).distinct.filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"batch is missing indexed column(s): ${missing.mkString(", ")} — " +
        "schema evolution is additive; the key and stats/order columns are required")
  }

  private def appendImpl(spark: SparkSession, dir: String, df: DataFrame,
                         nFiles: Int, extraMeta: Map[String, String]): Long = {
    if (df.isEmpty) return M.currentVersion(spark, dir)
    val prior = M.snapshot(spark, dir)
    val (keyCol, orderCols, statsCols) = metaOf(spark, dir, prior.version)
    enforceConstraints(df, prior, logicalKeyOf(spark, dir, prior, keyCol), "append batch")
    // Incoming batches speak the CURRENT logical schema; files store
    // physical names, so a renamed field keeps one on-disk identity.
    val cmPrior = activeColmap(spark, dir, prior)
    val (dfP0, cm2) = toPhysical(df, cmPrior, retiredOf(prior))
    // New files carry the DECLARED (widened) types — narrow batches
    // normalize here, so the physical schema converges forward.
    val dfP = applyWiden(dfP0, widenedOf(prior))
    requireIndexed(dfP, keyCol, statsCols)
    val v = prior.version + 1
    val seg = writeDataSegment(spark, dir, segName(v, "append"), dfP,
      orderCols, statsCols, nFiles, keyCol)
    testBeforeCommit()
    commitAppendRebasing(spark, dir, prior, seg, cmPrior,
      cm2.drop(cmPrior.length), extraMeta)
  }

  // -------------------------------------------- retry-rebase commits
  //
  // Delta/Iceberg-style optimistic-concurrency RESOLUTION for the one
  // genuinely commutative operation: a blind APPEND. Two ingest jobs
  // racing a version slot both carry brand-new segments that touch no
  // existing row, so the loser need not re-run its batch — it re-reads
  // the winner's snapshot, verifies nothing it depended on changed,
  // restamps its already-written segment to the next slot, and
  // re-commits. Everything non-commutative stays a loud conflict:
  //   - upsert/merge/delete: their tombstones are scoped "kill rows
  //     born strictly before MY version" — rebasing one past a
  //     concurrent append would silently widen the kill to rows the
  //     writer never saw;
  //   - metadata ops (constraints, recluster, rename/drop, restore):
  //     the loser's batch was validated against the OLD table rules.
  // The rebase check is exactly that line: the winner's commits may
  // have added/removed segments (append, compaction, DML) and extended
  // the colmap or replay cursors, but the CORE meta (key, clustering,
  // constraints, schema mapping of every column this batch wrote) must
  // be unchanged — else the loser throws the original conflict.

  /** Test seam: a one-shot hook between segment write and the commit
    * attempt, so specs can interleave a REAL foreign commit and drive
    * the production rebase path (in-process FactStore calls otherwise
    * serialize on the object lock and never race). No-op in production. */
  private[graft] var testBeforeCommitHook: () => Unit = () => ()
  private def testBeforeCommit(): Unit = {
    val h = testBeforeCommitHook
    testBeforeCommitHook = () => ()
    h()
  }

  private val MaxRebaseAttempts = 5

  /** Move an already-written local segment to a new creating-version
    * stamp (the scoped-tombstone axis follows the directory name). */
  private def restamp(spark: SparkSession, dir: String, seg: M.Segment,
                      v: Long): M.Segment = {
    if (M.createdVersion(seg) == v) return seg
    val newName = f"seg-$v%08d-" + seg.dir.substring(12).stripPrefix("-")
    require(M.fs(spark, dir).rename(
      new Path(s"$dir/${seg.dir}"), new Path(s"$dir/$newName")),
      s"could not restamp segment ${seg.dir} to version $v")
    seg.copy(dir = newName)
  }

  /** The snapshot meta minus the axes a rebase is ALLOWED to see move:
    * the column mapping (appends extend it), retired names, and the
    * streaming replay cursors. Everything else — key, order/stats
    * columns, constraints — must be identical for a rebase to be safe. */
  private def coreMeta(m: Map[String, String]): Map[String, String] =
    m.filterNot { case (k, _) =>
      k == "colmap" || k == "colretired" || k.startsWith(M.BatchIdPrefix) }

  private def commitAppendRebasing(spark: SparkSession, dir: String,
                                   firstPrior: M.Snapshot, firstSeg: M.Segment,
                                   cmBase: Seq[(String, String)],
                                   fresh: Seq[(String, String)],
                                   extraMeta: Map[String, String]): Long = {
    var prior = firstPrior
    var seg = firstSeg
    var attempts = 0
    while (true) {
      val v = prior.version + 1
      seg = restamp(spark, dir, seg, v)
      val cmCur = activeColmap(spark, dir, prior)
      val cm2 = cmCur ++ fresh.filterNot(p => cmCur.exists(_._1 == p._1))
      try {
        M.commit(M.fs(spark, dir), dir,
          M.Snapshot(v, "append", "", prior.segments :+ seg,
            prior.meta ++ extraMeta + ("colmap" -> encodeColmap(cm2))))
        return v
      } catch {
        case e: IllegalStateException if e.getMessage.contains("concurrent commit") =>
          attempts += 1
          if (attempts >= MaxRebaseAttempts)
            throw new IllegalStateException(
              s"append lost $MaxRebaseAttempts rebase races in $dir — giving up", e)
          val cur = M.snapshot(spark, dir)
          requireRebasable(spark, dir, firstPrior, cur, cmBase, fresh, e)
          prior = cur
      }
    }
    -1L // unreachable
  }

  /** An append written against `base` may re-commit on top of `cur`
    * iff nothing the batch depended on moved: same core meta (key,
    * clustering, constraints, widen declarations), every column the
    * batch wrote still active under the SAME (physical → logical)
    * pair, and none of its new columns claimed or retired meanwhile.
    * Anything else re-throws the original conflict. */
  private def requireRebasable(spark: SparkSession, dir: String,
                               base: M.Snapshot, cur: M.Snapshot,
                               cmBase: Seq[(String, String)],
                               fresh: Seq[(String, String)],
                               cause: Throwable): Unit = {
    def conflict(why: String): Nothing =
      throw new IllegalStateException(
        s"concurrent commit in $dir is not rebasable for this append: $why", cause)
    if (coreMeta(cur.meta) != coreMeta(base.meta))
      conflict("table metadata changed (constraints/clustering/key/widen)")
    val cmCur = activeColmap(spark, dir, cur)
    cmBase.foreach { pair =>
      if (!cmCur.contains(pair))
        conflict(s"column mapping of '${pair._2}' changed (renamed or dropped)")
    }
    val retired = retiredOf(cur)
    fresh.foreach { case (p, _) =>
      if (retired.contains(p) || cmCur.exists(c => c._1 == p && !fresh.contains(c)))
        conflict(s"new column '$p' was claimed or retired by a concurrent commit")
    }
  }

  /** Exactly-once streaming ingest: the `(appId, batchId)` replay
    * guard over [[append]] — the manifest itself carries the last
    * applied batch id, so a re-delivered microbatch (foreachBatch
    * replays after a crash) is a version no-op instead of duplicate
    * rows in the lake. */
  def appendStreamBatch(spark: SparkSession, dir: String, df: DataFrame,
                        nFiles: Int, batchId: Long, appId: String = "stream"): Long = synchronized {
    M.exactlyOnce(spark, dir, batchId, appId)(appendImpl(spark, dir, df, nFiles, _))
  }

  /** Exactly-once streaming CDC MERGE: the replay guard over
    * [[upsert]] — each microbatch's changed rows land atomically
    * (tombstone + replacement in one commit), last-write-wins across
    * batches, and a crash-replayed batch is a version no-op. */
  def upsertStreamBatch(spark: SparkSession, dir: String, df: DataFrame,
                        nFiles: Int, batchId: Long, appId: String = "stream"): Long = synchronized {
    M.exactlyOnce(spark, dir, batchId, appId)(upsertImpl(spark, dir, df, nFiles, _))
  }

  /** INSERT OVERWRITE: replace the table's live rows with `df` in ONE
    * commit — the new manifest references only the fresh generation,
    * but HISTORY IS PRESERVED (unlike [[build]], which wipes the dir):
    * every earlier version still time-travels until [[vacuum]], and
    * the key/clustering/constraint declarations carry forward
    * unchanged. Constraints validate the incoming frame exactly as
    * [[append]] does. */
  def overwrite(spark: SparkSession, dir: String, df: DataFrame,
                nFiles: Int): Long = synchronized {
    val prior = M.snapshot(spark, dir)
    val (keyCol, orderCols, statsCols) = metaOf(spark, dir, prior.version)
    if (df.isEmpty) {
      // INSERT OVERWRITE with an empty source EMPTIES the table (the
      // standard SQL idiom): one tombstone over every live key —
      // history intact, and no zero-row data segment for the stats
      // writer to choke on. Overwriting an already-empty table is a
      // version no-op — probed BEFORE the tombstone write (limit(1)
      // against the live view), so the no-op path leaves no
      // unreferenced segment directory behind for vacuum to sweep.
      val logicalKey = logicalKeyOf(spark, dir, prior, keyCol)
      val liveKeys = read(spark, dir).select(col(logicalKey).as(keyCol))
      if (liveKeys.isEmpty) return prior.version
      val v = prior.version + 1
      val tomb = writeTombSegment(spark, dir, segName(v, "overwrite-tomb"),
        liveKeys, keyCol)
      if (tomb.rows == 0L) return prior.version
      M.commit(M.fs(spark, dir), dir,
        M.Snapshot(v, "overwrite", "", prior.segments :+ tomb, prior.meta))
      return v
    }
    enforceConstraints(df, prior, logicalKeyOf(spark, dir, prior, keyCol), "overwrite batch")
    val (dfP0, cm2) = toPhysical(df, activeColmap(spark, dir, prior), retiredOf(prior))
    val dfP = applyWiden(dfP0, widenedOf(prior))
    requireIndexed(dfP, keyCol, statsCols)
    val v = prior.version + 1
    val seg = writeDataSegment(spark, dir, segName(v, "overwrite"), dfP,
      orderCols, statsCols, nFiles, keyCol)
    M.commit(M.fs(spark, dir), dir,
      M.Snapshot(v, "overwrite", "", Seq(seg),
        prior.meta + ("colmap" -> encodeColmap(cm2))))
    v
  }

  /** Row-level DELETE by key set: one tombstone segment, one commit —
    * no data file rewritten. */
  def delete(spark: SparkSession, dir: String, keys: DataFrame): Long = synchronized {
    val prior = M.snapshot(spark, dir)
    val (keyCol, _, _) = metaOf(spark, dir, prior.version)
    // Callers pass the key under its CURRENT logical name; tombstones
    // store the physical one (stable across renames).
    val logicalKey = activeColmap(spark, dir, prior)
      .find(_._1 == keyCol).map(_._2).getOrElse(keyCol)
    val keysP =
      if (logicalKey != keyCol && keys.columns.contains(logicalKey))
        keys.withColumnRenamed(logicalKey, keyCol)
      else keys
    val v = prior.version + 1
    val tomb = writeTombSegment(spark, dir, segName(v, "delete-tomb"), keysP, keyCol)
    if (tomb.rows == 0L) return prior.version
    M.commit(M.fs(spark, dir), dir,
      M.Snapshot(v, "delete", "", prior.segments :+ tomb, prior.meta))
    v
  }

  /** DELETE WHERE: resolve the predicate against the LIVE rows, then
    * tombstone the matching keys — the GDPR-ticket shape ("erase user
    * X") without the caller enumerating row keys. */
  def deleteMatching(spark: SparkSession, dir: String, cond: Column): Long = synchronized {
    val snap = M.snapshot(spark, dir)
    val keyCol = snap.meta("keyCol")
    val logicalKey = activeColmap(spark, dir, snap)
      .find(_._1 == keyCol).map(_._2).getOrElse(keyCol)
    delete(spark, dir, read(spark, dir).where(cond).select(col(logicalKey)))
  }

  /** Row-level UPSERT (MERGE): tombstone the batch's keys AND publish
    * their replacement rows in ONE commit. The version-scoped rule
    * makes this atomic: the tombstone (version v) kills only rows born
    * before v; the new segment IS version v, so it survives its own
    * commit's tombstone. */
  def upsert(spark: SparkSession, dir: String, df: DataFrame, nFiles: Int): Long =
    synchronized { upsertImpl(spark, dir, df, nFiles, Map.empty) }

  /** Row-level UPDATE: commit a batch of POST-IMAGE rows (the updated
    * rows' full new images, key-unique) as one tombstone+data commit —
    * the [[upsert]] machinery with an `update` audit label. This is
    * what standard SQL `UPDATE t SET … WHERE …` lowers to
    * ([[graft.plans.GraftRowLevelSql]] computes the post-image frame
    * from the resolved assignments): cost is one target scan to build
    * the post-image plus a write ∝ the matched rows — no
    * copy-on-write amplification of untouched rows. */
  def update(spark: SparkSession, dir: String, postImage: DataFrame,
             nFiles: Int): Long =
    synchronized { upsertImpl(spark, dir, postImage, nFiles, Map.empty, "update") }

  /** The key column's LOGICAL name at `snap`. */
  private def logicalKeyOf(spark: SparkSession, dir: String, snap: M.Snapshot,
                           keyCol: String): String =
    activeColmap(spark, dir, snap).find(_._1 == keyCol).map(_._2).getOrElse(keyCol)

  private def upsertImpl(spark: SparkSession, dir: String, df: DataFrame,
                         nFiles: Int, extraMeta: Map[String, String],
                         opLabel: String = "upsert"): Long = {
    if (df.isEmpty) return M.currentVersion(spark, dir)
    val prior = M.snapshot(spark, dir)
    val (keyCol, orderCols, statsCols) = metaOf(spark, dir, prior.version)
    enforceConstraints(df, prior, logicalKeyOf(spark, dir, prior, keyCol), "upsert batch")
    val (dfP0, cm2) = toPhysical(df, activeColmap(spark, dir, prior), retiredOf(prior))
    val dfP = applyWiden(dfP0, widenedOf(prior))
    requireIndexed(dfP, keyCol, statsCols)
    // ONE pre-commit probe (not count(keys)+count(df)): any key with
    // two batch rows fails the merge contract. Grouped on the RAW key
    // column — a cast-to-long grouping would falsely merge distinct
    // keys that collide (or null out) under the cast.
    val dup = dfP.groupBy(col(keyCol))
      .count().where(col("count") > 1).limit(1)
    require(dup.isEmpty,
      "upsert batch carries duplicate keys — two same-commit " +
        "generations of one row would both survive the scoped tombstone")
    val v = prior.version + 1
    val tomb = writeTombSegment(spark, dir, segName(v, s"$opLabel-tomb"),
      dfP.select(col(keyCol)), keyCol)
    val seg = writeDataSegment(spark, dir, segName(v, opLabel), dfP,
      orderCols, statsCols, nFiles, keyCol)
    // No rebase for upserts: the scoped tombstone kills rows born
    // strictly before ITS version, so restamping one past a concurrent
    // commit would widen the kill to rows this writer never saw — a
    // racing upsert conflicts loudly instead (the test seam lets specs
    // drive that interleaving).
    testBeforeCommit()
    M.commit(M.fs(spark, dir), dir,
      M.Snapshot(v, opLabel, "", prior.segments :+ tomb :+ seg,
        prior.meta ++ extraMeta + ("colmap" -> encodeColmap(cm2))))
    v
  }

  // ----------------------------------------------------------- MERGE

  /** One `WHEN` clause of a [[merge]] — the Delta/Iceberg `MERGE INTO`
    * clause model. Conditions and SET expressions are Spark SQL strings
    * over the aliases `t` (target row) and `s` (source row); inside a
    * clause, column references MUST be qualified (`t.value`, `s.value`)
    * — the joined frame carries both sides' columns, so a bare name is
    * ambiguous and rejected by the analyzer, loudly.
    */
  sealed trait MergeClause
  object MergeClause {
    /** WHEN MATCHED [AND cond] THEN UPDATE SET col = expr, … —
      * `set` maps LOGICAL target columns (never the key) to
      * expressions; unassigned columns keep the target row's values.
      * Each expression is cast to its column's existing type, so an
      * update can never drift the table schema. */
    final case class Update(cond: Option[String], set: Map[String, String]) extends MergeClause
    /** WHEN MATCHED [AND cond] THEN DELETE. */
    final case class Delete(cond: Option[String]) extends MergeClause
    /** WHEN NOT MATCHED [AND cond] THEN INSERT — inserts the source
      * row as-is (its condition sees only `s.*`). The source must
      * carry the key and every stats/order column; extra columns ride
      * the additive-evolution path. */
    final case class Insert(cond: Option[String]) extends MergeClause
    /** WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE SET … —
      * applies to TARGET rows whose key is absent from the source;
      * condition and SET expressions see only `t.*` (there is no
      * source row — an `s.` reference fails analysis loudly). */
    final case class BySourceUpdate(cond: Option[String], set: Map[String, String]) extends MergeClause
    /** WHEN NOT MATCHED BY SOURCE [AND cond] THEN DELETE — the
      * source-absence reconciliation leg (full-snapshot CDC loads). */
    final case class BySourceDelete(cond: Option[String]) extends MergeClause
  }

  /** Full conditional MERGE — the Delta `MERGE INTO` semantics on the
    * versioned lake, generalizing [[upsert]] (which is
    * `WHEN MATCHED THEN UPDATE SET * / WHEN NOT MATCHED THEN INSERT`):
    *
    *   - rows are matched on the store's key column (source batch must
    *     be key-unique — probed; the store itself is key-unique by the
    *     same contract upsert enforces on every generation);
    *   - a MATCHED (target, source) pair applies the FIRST
    *     Update/Delete clause (in the given order) whose condition
    *     holds — none holding leaves the row untouched (its old
    *     generation is NOT tombstoned);
    *   - a NOT-matched source row inserts iff some Insert clause's
    *     condition holds; otherwise it is dropped;
    *   - a target row whose key is ABSENT from the source applies the
    *     first BySourceUpdate/BySourceDelete clause whose condition
    *     holds (`WHEN NOT MATCHED BY SOURCE` — the full-snapshot CDC
    *     reconciliation legs); none holding leaves it untouched.
    *
    * The whole merge is ONE atomic commit: one tombstone segment
    * covering exactly the updated+deleted keys, one data segment
    * carrying the update post-images and the inserts — the
    * version-scoped rule makes the new generation survive its own
    * commit's tombstone, and a reader never sees a delete-then-insert
    * window. A merge that changes nothing is a version no-op.
    *
    * Scale shape: cost ∝ target-scan + |source| (the matched join
    * broadcasts nothing corpus-sized; update/insert frames and the
    * tombstone are bounded by the CHANGE, not the table) — the
    * Delta/Iceberg MERGE story with file granularity replaced by the
    * scoped-tombstone rule, so no copy-on-write amplification of
    * untouched rows in touched files.
    */
  def merge(spark: SparkSession, dir: String, source: DataFrame, nFiles: Int,
            clauses: Seq[MergeClause]): Long =
    synchronized { mergeImpl(spark, dir, source, nFiles, clauses, Map.empty) }

  /** Exactly-once streaming MERGE: the `(appId, batchId)` replay guard
    * over [[merge]] — a crash-replayed microbatch is a version no-op. */
  def mergeStreamBatch(spark: SparkSession, dir: String, source: DataFrame,
                       nFiles: Int, clauses: Seq[MergeClause], batchId: Long,
                       appId: String = "stream"): Long = synchronized {
    M.exactlyOnce(spark, dir, batchId, appId)(mergeImpl(spark, dir, source, nFiles, clauses, _))
  }

  private def mergeImpl(spark: SparkSession, dir: String, source: DataFrame,
                        nFiles: Int, clauses: Seq[MergeClause],
                        extraMeta: Map[String, String]): Long = {
    import MergeClause._
    require(clauses.nonEmpty, "merge needs at least one WHEN clause")
    val prior = M.snapshot(spark, dir)
    val (keyCol, orderCols, statsCols) = metaOf(spark, dir, prior.version)
    val cm = activeColmap(spark, dir, prior)
    val logicalKey = cm.find(_._1 == keyCol).map(_._2).getOrElse(keyCol)
    require(source.columns.contains(logicalKey),
      s"merge source is missing the key column '$logicalKey'")
    // Same-batch key uniqueness — the upsert contract: two generations
    // of one row in one commit would both survive the scoped tombstone.
    // Grouped on the RAW key column (no lossy pre-cast).
    val dup = source.groupBy(col(logicalKey))
      .count().where(col("count") > 1).limit(1)
    require(dup.isEmpty,
      "merge source carries duplicate keys — two same-commit " +
        "generations of one row would both survive the scoped tombstone")

    val target = read(spark, dir)
    val tCols = target.columns.toSeq
    val matchedClauses: Seq[MergeClause] = clauses.filter {
      case _: Insert | _: BySourceUpdate | _: BySourceDelete => false
      case _ => true
    }
    val insertClauses: Seq[Insert] = clauses.collect { case i: Insert => i }
    val bySourceClauses: Seq[MergeClause] = clauses.filter {
      case _: BySourceUpdate | _: BySourceDelete => true; case _ => false
    }
    (matchedClauses.collect { case u: Update => u.set } ++
      bySourceClauses.collect { case u: BySourceUpdate => u.set }).foreach { set =>
      val bad = set.keySet.filterNot(c => tCols.contains(c) && c != logicalKey)
      require(bad.isEmpty,
        s"UPDATE SET names non-target or key column(s): ${bad.mkString(", ")}")
    }

    val s = source.as("s")
    val t = target.as("t")
    val onKey = col(s"s.$logicalKey") === col(s"t.$logicalKey")
    // First-matching-clause outcome, evaluated once per matched pair.
    val outcome = matchedClauses.zipWithIndex.foldRight(lit(-1)) {
      case ((cl, i), els) =>
        val cond = cl match {
          case Update(c, _) => c; case Delete(c) => c; case _ => None
        }
        when(cond.map(expr).getOrElse(lit(true)), lit(i)).otherwise(els)
    }
    // The matched join is evaluated ONCE and persisted: its output is
    // CHANGE-bounded (≤ |source| rows — key-unique source, inner join
    // on the key), while the join itself is the merge's one scan of
    // the target. Every clause leg, the tombstone key list, AND the
    // not-matched set then derive from the cached rows — so the whole
    // merge costs ONE pass over the table plus work ∝ the batch (the
    // naive shape re-scans the target once per clause and once more
    // for the insert anti-join: ~5 full scans at 3 clauses, fatal at
    // 100 TB).
    val matched = s.join(t, onKey, "inner").withColumn("_mc", outcome)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      mergeCommit(spark, dir, prior, source, nFiles, matched, s,
        matchedClauses, insertClauses, bySourceClauses, tCols, target, logicalKey,
        keyCol, orderCols, statsCols, cm, extraMeta)
    } finally matched.unpersist()
  }

  private def mergeCommit(spark: SparkSession, dir: String, prior: M.Snapshot,
                          source: DataFrame, nFiles: Int, matched: DataFrame,
                          s: DataFrame, matchedClauses: Seq[MergeClause],
                          insertClauses: Seq[MergeClause.Insert],
                          bySourceClauses: Seq[MergeClause],
                          tCols: Seq[String], target: DataFrame,
                          logicalKey: String, keyCol: String,
                          orderCols: Seq[String], statsCols: Seq[String],
                          cm: Seq[(String, String)],
                          extraMeta: Map[String, String]): Long = {
    import MergeClause._
    val updateFrames = matchedClauses.zipWithIndex.collect { case (u: Update, i) =>
      matched.where(col("_mc") === i).select(tCols.map { c =>
        u.set.get(c)
          .map(e => expr(e).cast(target.schema(c).dataType).as(c))
          .getOrElse(col(s"t.$c").as(c))
      }: _*)
    }
    val deleteKeyFrames = matchedClauses.zipWithIndex.collect { case (_: Delete, i) =>
      matched.where(col("_mc") === i).select(col(s"t.$logicalKey").as(logicalKey))
    }

    // NOT MATCHED BY SOURCE legs: target rows whose key is ABSENT from
    // the (key-unique, change-bounded) source — one additional target
    // scan, the source keys broadcast into an anti-join, shared by all
    // by-source clauses through a first-matching-clause tag. Unlike
    // the matched frame this output is NOT change-bounded (an empty
    // source by-source-deletes the whole table — inherent to the
    // semantics), so it is never persisted: each leg re-derives
    // through the same pushed-down scan, and the tombstone/post-image
    // cost is exactly the rows the clauses actually claim.
    val bySourceTagged: Option[DataFrame] = if (bySourceClauses.isEmpty) None else {
      val srcKeys = s.select(col(s"s.$logicalKey").as("_sk"))
      val absent = target.as("t").join(broadcast(srcKeys),
        col(s"t.$logicalKey") === col("_sk"), "left_anti")
      val outcome = bySourceClauses.zipWithIndex.foldRight(lit(-1)) {
        case ((cl, i), els) =>
          val cond = cl match {
            case BySourceUpdate(c, _) => c
            case BySourceDelete(c) => c
            case _ => None
          }
          when(cond.map(expr).getOrElse(lit(true)), lit(i)).otherwise(els)
      }
      Some(absent.withColumn("_bc", outcome))
    }
    val bySourceUpdateFrames = bySourceClauses.zipWithIndex.collect {
      case (u: BySourceUpdate, i) =>
        bySourceTagged.get.where(col("_bc") === i).select(tCols.map { c =>
          u.set.get(c)
            .map(e => expr(e).cast(target.schema(c).dataType).as(c))
            .getOrElse(col(s"t.$c").as(c))
        }: _*)
    }
    val bySourceDeleteKeyFrames = bySourceClauses.zipWithIndex.collect {
      case (_: BySourceDelete, i) =>
        bySourceTagged.get.where(col("_bc") === i)
          .select(col(s"t.$logicalKey").as(logicalKey))
    }
    val inserts: Option[DataFrame] = insertClauses match {
      case Seq() => None
      case cs =>
        val admit = cs.map(_.cond.map(expr).getOrElse(lit(true))).reduce(_ || _)
        // NOT-matched = source minus the matched keys. The matched key
        // list is cached and change-bounded, so this anti-join never
        // touches the target again (same semantics as anti-joining the
        // table: matched covers exactly the source keys present in it).
        val matchedKeys = matched.select(col(s"s.$logicalKey").as("_mk"))
        Some(s.join(matchedKeys, col(s"s.$logicalKey") === col("_mk"), "left_anti")
          .where(admit)
          .select(source.columns.map(c => col(s"s.$c").as(c)).toSeq: _*))
    }

    val newRows = (updateFrames ++ bySourceUpdateFrames ++ inserts)
      .reduceOption(_.unionByName(_, allowMissingColumns = true))
    val tombKeys = ((updateFrames ++ bySourceUpdateFrames).map(_.select(col(logicalKey))) ++
        deleteKeyFrames ++ bySourceDeleteKeyFrames)
      .reduceOption(_ unionByName _)
    if (newRows.isEmpty && tombKeys.isEmpty) return prior.version

    val v = prior.version + 1
    // Write both segments BEFORE deciding: emptiness falls out of the
    // row counts the writers record anyway (no extra pre-commit scans);
    // a no-change merge cleans up its unreferenced files and no-ops.
    val tombSeg = tombKeys.map { k =>
      writeTombSegment(spark, dir, segName(v, "merge-tomb"),
        k.withColumnRenamed(logicalKey, keyCol), keyCol)
    }.filter(_.rows > 0L)
    val (dataSeg, cm2) = newRows match {
      case None => (None, cm)
      case Some(rows) =>
        enforceConstraints(rows, prior, logicalKey, "merge post-image")
        val (dfP0, cmNext) = toPhysical(rows, cm, retiredOf(prior))
        val dfP = applyWiden(dfP0, widenedOf(prior))
        requireIndexed(dfP, keyCol, statsCols)
        // An all-empty post-image frame must not become a segment — the
        // z-order stats writer has no rows to describe.
        if (dfP.isEmpty) (None, cm)
        else (Some(writeDataSegment(spark, dir, segName(v, "merge"), dfP,
          orderCols, statsCols, nFiles, keyCol)), cmNext)
    }
    if (tombSeg.isEmpty && dataSeg.isEmpty) {
      // Nothing matched any clause: drop the empty segment dirs the
      // probe writes left behind and report the unchanged version.
      val f = M.fs(spark, dir)
      f.listStatus(new Path(dir)).foreach { st =>
        val n = st.getPath.getName
        if (st.isDirectory && n.startsWith(f"seg-$v%08d-merge"))
          f.delete(st.getPath, true)
      }
      return prior.version
    }
    M.commit(M.fs(spark, dir), dir,
      M.Snapshot(v, "merge", "",
        prior.segments ++ tombSeg ++ dataSeg,
        prior.meta ++ extraMeta + ("colmap" -> encodeColmap(cm2))))
    v
  }

  /** Rewrite the live rows as ONE fresh globally z-ordered generation;
    * the new manifest references only it (tombstones retired, pruning
    * re-tightened). Old versions still time-travel until [[vacuum]].
    * Losing a version race to concurrent PURE APPENDS re-commits the
    * (expensive) rewrite instead of discarding it — see
    * [[commitCompactRebasing]]. */
  def compact(spark: SparkSession, dir: String, nFiles: Int): Long = synchronized {
    val prior = M.snapshot(spark, dir)
    val (keyCol, orderCols, statsCols) = metaOf(spark, dir, prior.version)
    // Rewrites move PHYSICAL rows — the logical projection is a read-
    // time concern; a compacted file must keep serving older colmaps.
    val seg = writeDataSegment(spark, dir, segName(prior.version + 1, "compact"),
      readLive(spark, dir, prior, prior.segments.filter(_.kind == "data")),
      orderCols, statsCols, nFiles, keyCol)
    commitCompactRebasing(spark, dir, prior, Seq.empty, Some(seg), "compact")
  }

  /** Commit a compaction/rewrite, rebasing past concurrent PURE
    * APPENDS (the round-11 gap: a compaction losing a race to a blind
    * ingest threw away its rewrite — the costliest op to re-run). A
    * rebase is sound iff the winners only ADDED data segments:
    *
    *   - every segment of the compaction's basis is still referenced
    *     and no tombstone was added — a concurrent delete/upsert/merge
    *     would scope rows my RESTAMPED rewrite no longer exposes to it
    *     (the rewrite's new creating version postdates the tombstone,
    *     so deleted rows would resurrect) — loud conflict;
    *   - core meta unchanged (a widen/recluster invalidates the
    *     rewrite's layout; constraints its validation basis);
    *   - the winners' appended segments are carried VERBATIM into the
    *     rebased manifest: born after every retired tombstone's
    *     version, so dropping those tombstones stays correct.
    */
  private def commitCompactRebasing(spark: SparkSession, dir: String,
                                    firstPrior: M.Snapshot,
                                    carry: Seq[M.Segment], seg: Option[M.Segment],
                                    op: String): Long = {
    val baseDirs = firstPrior.segments.map(_.dir).toSet
    val carriedVersions = carry.map(M.createdVersion)
    val tombs = firstPrior.segments.filter(s => s.kind == "tomb" &&
      carriedVersions.exists(_ < M.createdVersion(s)))
    var prior = firstPrior
    var mySeg = seg
    var attempts = 0
    while (true) {
      val v = prior.version + 1
      mySeg = mySeg.map(restamp(spark, dir, _, v))
      val appended = prior.segments.filter(s =>
        s.kind == "data" && !baseDirs.contains(s.dir))
      testBeforeCommit()
      try {
        M.commit(M.fs(spark, dir), dir,
          M.Snapshot(v, op, "", (carry ++ tombs ++ appended) ++ mySeg, prior.meta))
        return v
      } catch {
        case e: IllegalStateException if e.getMessage.contains("concurrent commit") =>
          attempts += 1
          if (attempts >= MaxRebaseAttempts)
            throw new IllegalStateException(
              s"$op lost $MaxRebaseAttempts rebase races in $dir — giving up", e)
          val cur = M.snapshot(spark, dir)
          def conflict(why: String): Nothing =
            throw new IllegalStateException(
              s"concurrent commit in $dir is not rebasable for this $op: $why", e)
          if (coreMeta(cur.meta) != coreMeta(firstPrior.meta))
            conflict("table metadata changed (constraints/clustering/key/widen)")
          val curDirs = cur.segments.map(_.dir).toSet
          if (!baseDirs.subsetOf(curDirs))
            conflict("a concurrent commit removed segments this rewrite folded " +
              "(another compaction/overwrite/restore won)")
          val added = cur.segments.filterNot(s => baseDirs.contains(s.dir))
          if (added.exists(_.kind != "data"))
            conflict("a concurrent commit added tombstones — restamping the " +
              "rewrite past them would resurrect their deleted rows")
          prior = cur
      }
    }
    -1L // unreachable
  }

  /** Bounded compaction — the 100 TB answer to [[compact]]'s full-table
    * rewrite: fold ONLY the data segments whose tombstone-hit fraction
    * exceeds `maxTombFrac` or whose file count exceeds
    * `maxFilesPerSeg`; every healthy segment is carried BY REFERENCE
    * (same immutable files, same stats sidecar, same creating version —
    * zero I/O). The same over-limit-only rule as
    * [[EventLogStore.compact]], applied to the manifest lineage:
    * rewrite cost ∝ the unhealthy fraction, not the table.
    *
    * Tombstones are retired selectively: a tombstone segment is carried
    * only while some carried data segment predates it (the scoped rule
    * means it can still kill rows there); once every segment it scopes
    * is rewritten, it drops from the manifest. With every segment
    * unhealthy this degenerates to exactly [[compact]].
    *
    * Returns (new version, rewritten segment dirs) — (prior version,
    * Nil) when nothing crosses a threshold: a healthy store is a
    * version no-op, not an empty rewrite. */
  def compactIncremental(spark: SparkSession, dir: String, nFiles: Int,
                         maxTombFrac: Double = 0.1,
                         maxFilesPerSeg: Int = Int.MaxValue): (Long, Seq[String]) = synchronized {
    val prior = M.snapshot(spark, dir)
    val (keyCol, orderCols, statsCols) = metaOf(spark, dir, prior.version)
    val dataSegs = prior.segments.filter(s => s.kind == "data" && s.files.nonEmpty)
    // Per-segment tombstone-hit counts: one aggregate over the scoped
    // key×tombstone join — work ∝ live keys + tombstones; the driver
    // receives one (segment, count) row per segment.
    val killed: Map[String, Long] =
      M.readSegmentsScoped(spark, dir, prior.segments, "tomb",
        partitioned = false, "_tomb_v") match {
        case None => Map.empty
        case Some(t) =>
          val tt = t.select(col(keyCol).as("_t_key"), col("_tomb_v"))
          dataSegs.map { s =>
            Parquet.read(spark, s.files.map(f => s"$dir/${s.dir}/$f"))
              .select(col(keyCol))
              .withColumn("_seg", lit(s.dir))
              .withColumn("_seg_v", lit(M.createdVersion(s)))
          }.reduceOption(_ unionByName _).map { keys =>
            keys.join(broadcast(tt),
                keys(keyCol) === tt("_t_key") && tt("_tomb_v") > keys("_seg_v"),
                "left_semi")
              .groupBy("_seg").count()
              .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
          }.getOrElse(Map.empty)
      }
    val (rewrite, carry) = dataSegs.partition { s =>
      val frac = if (s.rows == 0L) 0.0
                 else killed.getOrElse(s.dir, 0L).toDouble / s.rows
      frac > maxTombFrac || s.files.length > maxFilesPerSeg
    }
    if (rewrite.isEmpty) return (prior.version, Nil)
    val v = prior.version + 1
    // The rewritten generation = the LIVE rows of the selected segments
    // only (their tombstoned rows die here; carried segments keep
    // theirs, still scoped by the carried tombstones).
    val liveSel = readLive(spark, dir, prior, rewrite)
    // Segments whose rows are ALL tombstoned fold to nothing — commit
    // no segment rather than ask the stats writer to describe zero
    // rows. A store whose every segment is both unhealthy and fully
    // dead would end up with no data segment at all (unreadable), so
    // that degenerate fold is a no-op instead.
    val liveEmpty = liveSel.isEmpty
    if (liveEmpty && carry.isEmpty) return (prior.version, Nil)
    val seg = if (liveEmpty) None
      else Some(writeDataSegment(spark, dir, segName(v, "compact-incr"),
        liveSel, orderCols, statsCols, nFiles, keyCol))
    (commitCompactRebasing(spark, dir, prior, carry, seg, "compact-incr"),
      rewrite.map(_.dir))
  }

  /** Timestamp time travel (Delta `TIMESTAMP AS OF`): serve the newest
    * version committed at or before the wall-clock instant — in-commit
    * timestamps make the resolution copy-safe. */
  def readAsOf(spark: SparkSession, dir: String, tsMs: Long): DataFrame =
    read(spark, dir, M.versionAt(spark, dir, tsMs))

  /** RE-CLUSTER the lake on new order columns (the liquid-clustering
    * story): one METADATA commit switches the declared z-order and
    * stats columns — zero files rewritten. From this version on, every
    * new segment (append/upsert) z-sorts and records stats on the new
    * keys, and [[compactIncremental]]/[[compact]] migrate old
    * generations as they fold; until then, a box bound on a new stats
    * column keeps every file of a segment whose sidecar predates it
    * (no stats = no proof = no pruning — sound, never wrong).
    * `newOrderCols` speak the current LOGICAL schema. The key column's
    * Bloom sidecar tier is independent of clustering and unaffected. */
  def recluster(spark: SparkSession, dir: String, newOrderCols: Seq[String],
                extraStatsCols: Seq[String] = Seq.empty): Long = synchronized {
    require(newOrderCols.nonEmpty, "recluster needs at least one order column")
    val prior = M.snapshot(spark, dir)
    val cm = activeColmap(spark, dir, prior)
    val byLogical = cm.map(_.swap).toMap
    def phys(c: String): String = byLogical.getOrElse(c,
      throw new IllegalArgumentException(
        s"no active column '$c' (have: ${cm.map(_._2).mkString(", ")})"))
    val orderP = newOrderCols.map(phys)
    // Stats keep covering the OLD columns too: pruned reads on them
    // must stay exact through the transition.
    val statsP = (prior.meta("statsCols").split(' ').toSeq ++ orderP ++
      extraStatsCols.map(phys)).distinct
    val v = prior.version + 1
    M.commit(M.fs(spark, dir), dir, M.Snapshot(v, "recluster", "",
      prior.segments, prior.meta +
        ("orderCols" -> orderP.mkString(" ")) +
        ("statsCols" -> statsP.mkString(" "))))
    v
  }

  /** SHALLOW CLONE (the Delta zero-copy branch): one manifest commit
    * at `dstDir` referencing the SOURCE's immutable files through
    * relative paths — no data is read or copied, however large the
    * table. The clone's first version keeps the source's version
    * NUMBER, so the segment-name version stamps stay ordered for the
    * scoped-tombstone rule and row-level DML on the clone works
    * unchanged (its tombstones commit at later versions than every
    * inherited segment). From then on the two lineages are fully
    * independent: writes to either side are invisible to the other
    * (snapshot isolation by construction — new segments are never
    * referenced across), and compaction progressively localizes the
    * clone's data into its own directory. The one shared-fate hazard,
    * exactly as with Delta shallow clones: [[vacuum]] of the SOURCE
    * can drop files a clone still references — vacuum of the clone
    * itself only ever deletes clone-local directories. */
  def clone(spark: SparkSession, srcDir: String, dstDir: String): Long = synchronized {
    val src = M.snapshot(spark, srcDir)
    require(src.modelDir.isEmpty, "fact stores carry no model dir")
    val f = M.fs(spark, dstDir)
    require(M.committedVersions(f, dstDir).isEmpty,
      s"clone target $dstDir already has commits")
    val rel = relativize(spark, fromDir = dstDir, toDir = srcDir)
    val segs = src.segments.map(s => s.copy(dir = s"$rel/${s.dir}"))
    M.commit(f, dstDir, M.Snapshot(src.version, "clone", "", segs,
      src.meta + ("clonedFrom" -> srcDir) +
        ("cloneSrcCommitMs" ->
          M.commitTimeMs(spark, srcDir, src.version).toString)))
    src.version
  }

  /** The `..`-style path from `fromDir` to `toDir`, computed over the
    * HADOOP filesystem abstraction (qualified paths), not
    * `java.nio.file` — so scheme-qualified URIs neither throw nor
    * mangle. Cross-scheme/authority pairs fail loudly: a manifest
    * cannot carry a relative reference across filesystems. */
  private def relativize(spark: SparkSession, fromDir: String, toDir: String): String = {
    val from = M.fs(spark, fromDir).makeQualified(new Path(fromDir)).toUri
    val to = M.fs(spark, toDir).makeQualified(new Path(toDir)).toUri
    require(Option(from.getScheme) == Option(to.getScheme) &&
      Option(from.getAuthority) == Option(to.getAuthority),
      s"clone source and target must share a filesystem " +
        s"(got $to vs $from) — relative manifest references cannot cross schemes")
    val f = from.getPath.split('/').filter(_.nonEmpty).toSeq
    val t = to.getPath.split('/').filter(_.nonEmpty).toSeq
    val common = f.zip(t).takeWhile { case (a, b) => a == b }.length
    val rel = Seq.fill(f.length - common)("..") ++ t.drop(common)
    require(rel.nonEmpty, "clone source and target are the same directory")
    rel.mkString("/")
  }

  /** Materialize (or refresh) the table's BUCKETED MIRROR: the live
    * rows written once as a session-catalog parquet table hash-
    * bucketed and sorted on the key ([[Bucketed.writeBucketed]]),
    * registered with [[graft.plans.GraftStorageJoin]] stamped with the
    * store version it reflects. From then on a fact⋈fact equi-join on
    * the two stores' keys plans with ZERO Exchange (the optimizer rule
    * swaps the scans for the co-bucketed layout while the mirrors are
    * FRESH — one manifest read verifies; any DML makes the rule stand
    * down to the ordinary shuffle plan, never a stale answer). This is
    * the Iceberg storage-partitioned-join trade made explicit: pay the
    * key shuffle ONCE at mirror-refresh time (compaction cadence), and
    * every recurring join on that key stops exchanging 100 TB. */
  def writeBucketedMirror(spark: SparkSession, dir: String, table: String,
                          buckets: Int): Long = synchronized {
    val v = M.currentVersion(spark, dir)
    val ts = M.commitTimeMs(spark, dir, v)
    if (!spark.catalog.tableExists(table)) {
      // A previous JVM's mirror directory with no catalog entry (the
      // in-memory catalog died with that session) blocks saveAsTable
      // with LOCATION_ALREADY_EXISTS — clear the orphan first.
      val loc = new Path(spark.sessionState.catalog.defaultTablePath(
        spark.sessionState.sqlParser.parseTableIdentifier(table)))
      M.fs(spark, loc.toString).delete(loc, true)
    }
    Bucketed.writeBucketed(read(spark, dir), table,
      pruningSurface(spark, dir)._1, buckets)
    // The reflected (version, commit timestamp) pair rides the catalog
    // too, so a FRESH session can re-attach ([[ensureBucketedMirror]])
    // without rewriting — and a recreated store at the same path can
    // never alias back into freshness (timestamps don't repeat).
    spark.sql(s"ALTER TABLE $table SET TBLPROPERTIES " +
      s"('graft.mirror.dir' = '$dir', 'graft.mirror.version' = '$v', " +
      s"'graft.mirror.committs' = '$ts')")
    graft.plans.GraftStorageJoin.register(dir, table, v, ts)
    v
  }

  /** Re-attach (or build) the mirror: when the catalog already holds a
    * mirror stamped with the store's CURRENT (version, commit time),
    * only register it with the optimizer rule — zero I/O. When the
    * mirror is merely BEHIND by pure appends, roll it forward
    * incrementally ([[refreshBucketedMirrorIncremental]]); otherwise
    * rewrite in full. */
  def ensureBucketedMirror(spark: SparkSession, dir: String, table: String,
                           buckets: Int): Long = synchronized {
    val v = M.currentVersion(spark, dir)
    val ts = M.commitTimeMs(spark, dir, v)
    val props: Map[String, String] =
      try {
        if (!spark.catalog.tableExists(table)) Map.empty
        else spark.sql(s"SHOW TBLPROPERTIES $table").collect()
          .map(r => r.getString(0) -> r.getString(1)).toMap
      } catch { case _: Exception => Map.empty }
    val stamped = props.get("graft.mirror.version").map(_.toLong)
    if (stamped.contains(v) && props.get("graft.mirror.committs").contains(ts.toString)) {
      graft.plans.GraftStorageJoin.register(dir, table, v, ts); v
    } else stamped match {
      case Some(v0) if v0 < v && props.get("graft.mirror.dir").contains(dir) &&
          props.get("graft.mirror.committs")
            .exists(s => scala.util.Try(M.commitTimeMs(spark, dir, v0).toString == s)
              .getOrElse(false)) &&
          refreshBucketedMirrorIncremental(spark, dir, table, buckets, v0, v, ts) => v
      case _ => writeBucketedMirror(spark, dir, table, buckets)
    }
  }

  /** Roll a stale mirror FORWARD by appending only the rows of the
    * commits in `(v0, v]` — legal exactly when every crossed commit is
    * a PURE APPEND (no tombstones added, no segments removed, no
    * schema/meta motion): then the delta rows are precisely
    * [[appendedRows]], written bucket-aligned into the existing
    * bucketed table (untouched buckets' files stay byte-identical; the
    * bucket hash property survives multi-file buckets, so the join
    * still plans with zero Exchange — Spark re-sorts within partitions,
    * never exchanges). Any other lineage (DML, compaction, evolution)
    * returns false and the caller falls back to a full rewrite. At
    * 100 TB this is the difference between mirror maintenance costing
    * ∝ the ingest and costing ∝ the table. */
  private def refreshBucketedMirrorIncremental(
      spark: SparkSession, dir: String, table: String, buckets: Int,
      v0: Long, v: Long, ts: Long): Boolean = {
    val pureAppends = ((v0 + 1) to v).forall { vi =>
      val s = M.snapshot(spark, dir, vi)
      s.op == "append" && !s.segments.exists(seg =>
        seg.kind == "tomb" && M.createdVersion(seg) == vi)
    }
    if (!pureAppends) return false
    val delta = appendedRows(spark, dir, v0, v, skipChangeCommits = false)
    // Column-order and schema drift (additive evolution is op=append):
    // the mirror's declared schema is authoritative; a delta batch
    // carrying NEW columns cannot append into it — full rewrite.
    val mirrorCols = spark.table(table).columns.toSeq
    if (delta.columns.toSet != mirrorCols.toSet) return false
    val key = pruningSurface(spark, dir)._1
    delta.select(mirrorCols.map(col): _*)
      .write.mode("append")
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet").saveAsTable(table)
    spark.sql(s"ALTER TABLE $table SET TBLPROPERTIES " +
      s"('graft.mirror.version' = '$v', 'graft.mirror.committs' = '$ts')")
    graft.plans.GraftStorageJoin.register(dir, table, v, ts)
    true
  }

  def restore(spark: SparkSession, dir: String, toVersion: Long): Long =
    synchronized { M.restore(spark, dir, toVersion) }

  def vacuum(spark: SparkSession, dir: String, retain: Int): Unit =
    synchronized { M.vacuum(spark, dir, retain) }

  /** Time-based retention (Delta `VACUUM … RETAIN n HOURS`): the
    * latest version always survives. */
  def vacuumOlderThan(spark: SparkSession, dir: String, retainMs: Long): Unit =
    synchronized { M.vacuumOlderThan(spark, dir, retainMs) }

  def currentVersion(spark: SparkSession, dir: String): Long =
    M.currentVersion(spark, dir)

  // ------------------------------------------------------------- reads

  /** The live rows at `version`: data segments stamped with their
    * creating version, minus keys tombstoned by a STRICTLY LATER
    * version (broadcast anti-join — tombstones are change-bounded),
    * projected to the version's OWN logical schema (its colmap) — so
    * time travel across renames/drops serves each version's names. */
  def read(spark: SparkSession, dir: String, version: Long = M.Latest): DataFrame = {
    val snap = M.snapshot(spark, dir, version)
    val live = readLive(spark, dir, snap, snap.segments.filter(_.kind == "data"))
    colmapOf(snap).map(toLogical(live, _)).getOrElse(live)
  }

  /** Version-stamped union of data segments, SCHEMA-TOLERANT: segments
    * written before an additive schema evolution lack the new columns,
    * so the union aligns by name and null-fills (`allowMissingColumns`)
    * — the Delta/Iceberg mergeSchema read. Column order follows the
    * oldest referenced segment, then new columns in first-appearance
    * order — deterministic, since the manifest's segment list is. */
  private def readScopedTolerant(spark: SparkSession, dir: String,
                                 segs: Seq[M.Segment], vCol: String): Option[DataFrame] = {
    val frames = segs.filter(s => s.kind == "data" && s.files.nonEmpty).map { s =>
      Parquet.read(spark, s.files.map(f => s"$dir/${s.dir}/$f"))
        .withColumn(vCol, lit(M.createdVersion(s)))
    }
    frames.reduceOption(_.unionByName(_, allowMissingColumns = true))
  }

  private def readLive(spark: SparkSession, dir: String, snap: M.Snapshot,
                       dataSegs: Seq[M.Segment],
                       keepFiles: Option[Map[String, Seq[String]]] = None): DataFrame = {
    val keyCol = snap.meta("keyCol")
    val segs = (keepFiles match {
      case None => dataSegs
      case Some(k) => dataSegs.map(s => s.copy(files = k.getOrElse(s.dir, Seq.empty)))
    }).filter(s => s.kind == "data" && s.files.nonEmpty)
    if (segs.isEmpty) return emptyLike(spark, dir, snap)
    val live = M.readSegmentsScoped(spark, dir, snap.segments, "tomb",
      partitioned = false, "_tomb_v") match {
      case Some(t) =>
        val data = readScopedTolerant(spark, dir, segs, "_seg_v").get
        val tt = t.select(col(keyCol).as("_t_key"), col("_tomb_v"))
        data.join(broadcast(tt),
            data(keyCol) === tt("_t_key") && tt("_tomb_v") > data("_seg_v"),
            "left_anti")
          .drop("_seg_v")
      // No tombstone to scope: rows need no version stamp, so segments
      // sharing a schema read as one scan.
      case None => Parquet.readUnion(spark, segs.map(s => s.files.map(f => s"$dir/${s.dir}/$f")))
    }
    // Serve the snapshot's DECLARED types: old narrow-typed segments
    // read through a lossless cast (the widen contract).
    applyWiden(live, widenedOf(snap))
  }

  private def emptyLike(spark: SparkSession, dir: String, snap: M.Snapshot): DataFrame = {
    val anySeg = snap.segments.find(_.kind == "data")
    require(anySeg.isDefined, s"fact store at $dir has no data segments")
    applyWiden(Parquet.read(spark, s"$dir/${anySeg.get.dir}").where(lit(false)),
      widenedOf(snap))
  }

  /** Change data feed between two committed versions: per-key changes
    * (insert | update | delete), CONTENT-based — each version's live
    * rows reduce to a per-key fingerprint (one hash over the non-key
    * columns), so physical maintenance (compact, restore, z-order
    * rewrites) is invisible by construction and only real row changes
    * surface; the q115 contract, on the raw lake. Work ∝ the two live
    * snapshots' scans + one key-partitioned join — never the version
    * count. */
  def changes(spark: SparkSession, dir: String,
              fromVersion: Long, toVersion: Long): DataFrame = {
    val sa = M.snapshot(spark, dir, fromVersion)
    val sb = M.snapshot(spark, dir, toVersion)
    val keyCol = sb.meta("keyCol")
    val la = readLive(spark, dir, sa, sa.segments.filter(_.kind == "data"))
    val lb = readLive(spark, dir, sb, sb.segments.filter(_.kind == "data"))
    // Fingerprints align by PHYSICAL field, over the fields active at
    // BOTH versions: a rename (same physical) compares the same data —
    // a pure rename is silent while a real value change through it is
    // caught; an added or dropped field is a metadata event — neither
    // fabricates row updates. Each column hashes WITH its ordinal
    // (nulls included via the per-column pre-hash), so moving a value
    // between columns (`(a=1,b=null)` → `(a=null,b=1)`) changes the
    // fingerprint — the feed is audit-grade; and a pre-evolution row
    // hashes the evolved column as null on both sides, staying quiet.
    def activeOf(s: M.Snapshot, live: DataFrame) =
      colmapOf(s).map(_.map(_._1)).getOrElse(live.columns.toSeq)
    val shared = activeOf(sa, la).intersect(activeOf(sb, lb))
      .filter(_ != keyCol).sorted
    // Hash both sides at the TO-version's declared types: a column
    // widened between the versions reads narrow at `fromVersion`, and
    // hashing int 5 vs long 5 would fabricate an update for every row
    // — the lossless cast makes a pure widen silent while a real value
    // change through it is still caught.
    val widenB = widenedOf(sb)
    def fp(live: DataFrame): DataFrame = {
      val salted = shared.zipWithIndex.map { case (c, i) =>
        val v =
          if (live.columns.contains(c)) widenB.get(c).fold(col(c))(col(c).cast)
          else lit(null).cast("long")
        xxhash64(lit(i), v)
      }
      live.select(col(keyCol),
        (if (salted.isEmpty) lit(0L) else xxhash64(salted: _*)).as("fp"))
    }
    val a = fp(la).select(col(keyCol), col("fp").as("fp_a"))
    val b = fp(lb).select(col(keyCol), col("fp").as("fp_b"))
    val outKey = colmapOf(sb).flatMap(_.find(_._1 == keyCol).map(_._2))
      .getOrElse(keyCol)
    a.join(b, Seq(keyCol), "full_outer")
      .withColumn("change",
        when(col("fp_a").isNull, lit("insert"))
          .when(col("fp_b").isNull, lit("delete"))
          .when(col("fp_a") =!= col("fp_b"), lit("update")))
      .where(col("change").isNotNull)
      .select(col(keyCol).as(outKey), col("change"))
      .orderBy(outKey)
  }

  // ----------------------------------------- streaming-source helpers
  //
  // The two microbatch shapes `spark.readStream.format("graft")`
  // serves ([[GraftStreamSource]]): offsets are manifest VERSIONS, so
  // both are pure functions of (fromVersion, toVersion] over immutable
  // manifests — deterministic replay is free, which is exactly what
  // the V1 Source contract needs for exactly-once.

  /** Ops that change no ROW (metadata or physical rewrites): invisible
    * to an appended-rows stream — a compaction must never re-emit the
    * rows it rewrote (the Delta `dataChange=false` contract). */
  private val RowInvisibleOps = Set("compact", "compact-incr", "recluster",
    "rename", "drop", "widen", "addcol", "constraint-add", "constraint-drop", "clone")

  /** Rows ADDED by the commits in (fromVersion, toVersion] — the
    * append-only stream shape. Append commits emit exactly their new
    * segments' rows (projected to `toVersion`'s logical schema and
    * declared types); row-invisible maintenance emits nothing; a
    * commit that CHANGES existing rows (delete/upsert/merge/update/
    * overwrite/restore) fails loudly unless `skipChangeCommits` —
    * then the whole commit is skipped, the Delta option's contract. */
  private[graft] def appendedRows(spark: SparkSession, dir: String,
                                  fromVersion: Long, toVersion: Long,
                                  skipChangeCommits: Boolean): DataFrame = {
    val snapTo = M.snapshot(spark, dir, toVersion)
    val frames = (fromVersion + 1 to toVersion).flatMap { vv =>
      val s = M.snapshot(spark, dir, vv)
      s.op match {
        case "append" =>
          val before = M.snapshot(spark, dir, vv - 1).segments.map(_.dir).toSet
          val fresh = s.segments.filter(sg =>
            sg.kind == "data" && !before.contains(sg.dir))
          readScopedTolerant(spark, dir, fresh, "_seg_v").map(_.drop("_seg_v"))
        case op if RowInvisibleOps.contains(op) => None
        case op if skipChangeCommits => None
        case op => throw new IllegalStateException(
          s"version $vv of $dir is a '$op' commit — it changes existing rows, " +
            "which an appended-rows stream cannot represent; read the change " +
            "feed instead (option readChangeFeed=true) or skip such commits " +
            "(option skipChangeCommits=true)")
      }
    }
    val out = frames.reduceOption(_.unionByName(_, allowMissingColumns = true))
      .getOrElse(read(spark, dir, toVersion).where(lit(false)))
    val logical = colmapOf(snapTo).map(toLogical(out, _)).getOrElse(out)
    applyWiden(logical, widenedOf(snapTo))
  }

  /** Per-commit CDF legs for (fromVersion, toVersion]: each commit's
    * own [[changeRows]] diff tagged `_commit_version` (the S34/S35
    * granularity — an insert-then-delete pair surfaces as both
    * events). Version 1 has no predecessor: its leg is the base
    * generation as inserts, so `startingVersion=1` replays the
    * table's entire row history. */
  private[graft] def changeLegs(spark: SparkSession, dir: String,
                                fromVersion: Long, toVersion: Long): DataFrame = {
    val legs = (math.max(fromVersion, 0L) + 1 to toVersion).map { vv =>
      val leg =
        if (vv == 1L) read(spark, dir, 1L).withColumn("_change_type", lit("insert"))
        else changeRows(spark, dir, vv - 1, vv)
      leg.withColumn("_commit_version", lit(vv))
    }
    legs.reduceOption(_.unionByName(_, allowMissingColumns = true)).getOrElse {
      read(spark, dir, toVersion)
        .withColumn("_change_type", lit(""))
        .withColumn("_commit_version", lit(0L))
        .where(lit(false))
    }
  }

  /** Change data feed WITH row images between two committed versions —
    * the Delta `readChangeFeed` row shape: one row per changed key per
    * image, `_change_type` ∈ insert | delete | update_preimage |
    * update_postimage, carrying the full row (the `fromVersion`
    * snapshot's row for delete/update_preimage, the `toVersion`
    * snapshot's row for insert/update_postimage). Built on [[changes]]'
    * content diff, so physical maintenance (compact/restore) emits
    * nothing, and a downstream incremental aggregate applies
    * post-images positively and pre-images/deletes negatively — exact
    * sum/count maintenance with no recompute. Scale: two snapshot
    * scans + a broadcast semi-join on the change-bounded key set per
    * image side; never proportional to the version count. */
  def changeRows(spark: SparkSession, dir: String,
                 fromVersion: Long, toVersion: Long): DataFrame = {
    val sb = M.snapshot(spark, dir, toVersion)
    val keyCol = sb.meta("keyCol")
    val cmB = colmapOf(sb)
    val outKey = cmB.flatMap(_.find(_._1 == keyCol).map(_._2)).getOrElse(keyCol)
    val ch = changes(spark, dir, fromVersion, toVersion)
    // Both images serve the TO-version's logical schema (the Delta
    // column-mapping convention): a renamed field's pre-image appears
    // under its new name — same physical data, current projection.
    def img(version: Long, keep: Column, tag: Column): DataFrame = {
      val s = M.snapshot(spark, dir, version)
      val live = readLive(spark, dir, s, s.segments.filter(_.kind == "data"))
      val projected = cmB.map(toLogical(live, _)).getOrElse(live)
      projected
        .join(broadcast(ch.where(keep)), Seq(outKey))
        .withColumn("_change_type", tag)
        .drop("change")
    }
    val pre = img(fromVersion, col("change") =!= "insert",
      when(col("change") === "delete", lit("delete"))
        .otherwise(lit("update_preimage")))
    val post = img(toVersion, col("change") =!= "delete",
      when(col("change") === "insert", lit("insert"))
        .otherwise(lit("update_postimage")))
    pre.unionByName(post, allowMissingColumns = true)
  }

  // --------------------------------------------------- pruned box reads

  private final case class SegStats(seg: String, statsCols: Seq[String],
                                    bloomCol: Option[String], bloomK: Int,
                                    files: Seq[(String, Seq[Long], Seq[Long], Option[String])])

  private def readStats(spark: SparkSession, dir: String, seg: M.Segment): SegStats = {
    val p = new Path(s"$dir/${seg.dir}/_filestats.json")
    val f = M.fs(spark, dir)
    val in = f.open(p)
    val root = try mapper.readTree(in) finally in.close()
    val cols = (0 until root.get("statsCols").size())
      .map(i => root.get("statsCols").get(i).asText())
    val bloomCol = if (root.has("bloomCol")) Some(root.get("bloomCol").asText()) else None
    val bloomK = if (root.has("bloomK")) root.get("bloomK").asInt() else BloomK
    val files = (0 until root.get("files").size()).map { i =>
      val n = root.get("files").get(i)
      (n.get("file").asText(),
        cols.indices.map(j => n.get("min").get(j).asLong()),
        cols.indices.map(j => n.get("max").get(j).asLong()),
        if (n.has("bloom")) Some(n.get("bloom").asText()) else None)
    }
    SegStats(seg.dir, cols, bloomCol, bloomK, files)
  }

  /** Translate box-bound column names (the version's LOGICAL names) to
    * the physical names the stats sidecars and files carry. */
  private def physicalBounds(snap: M.Snapshot, bounds: Map[String, (Long, Long)]): Map[String, (Long, Long)] =
    colmapOf(snap) match {
      case None => bounds
      case Some(cm) =>
        val byLogical = cm.map(_.swap).toMap
        bounds.map { case (c, b) =>
          byLogical.getOrElse(c,
            throw new IllegalArgumentException(
              s"no active column '$c' (have: ${cm.map(_._2).mkString(", ")})")) -> b
        }
    }

  /** Per-segment surviving files for a box — the driver-side metadata
    * decision, exposed for spec assertions: (kept files per segment,
    * total file count at the version). */
  def pruneBox(spark: SparkSession, dir: String, boundsLogical: Map[String, (Long, Long)],
               version: Long = M.Latest): (Map[String, Seq[String]], Int) =
    pruneBoxAt(spark, dir, M.snapshot(spark, dir, version), boundsLogical)

  private def pruneBoxAt(spark: SparkSession, dir: String, snap: M.Snapshot,
                         boundsLogical: Map[String, (Long, Long)]): (Map[String, Seq[String]], Int) = {
    val bounds = physicalBounds(snap, boundsLogical)
    // A bound must name a DECLARED stats column at this version — a
    // typo fails loudly here, not as an unpruned scan.
    val declared = snap.meta("statsCols").split(' ').toSet
    bounds.keys.foreach(c => require(declared.contains(c),
      s"no stats for column $c (declared: ${declared.mkString(", ")})"))
    val dataSegs = snap.segments.filter(_.kind == "data")
    var total = 0
    val kept = dataSegs.map { s =>
      val st = readStats(spark, dir, s)
      total += st.files.length
      // A segment written BEFORE a recluster added this stats column
      // has no sidecar entry for it: no stats = no proof of absence,
      // so that bound keeps every file of the segment (sound; pruning
      // tightens as compaction migrates the segment).
      val bi = bounds.toSeq.map { case (c, b) => (st.statsCols.indexOf(c), b) }
        .filter(_._1 >= 0)
      s.dir -> st.files.collect {
        case (f, mins, maxs, _) if bi.forall { case (i, (lo, hi)) =>
          maxs(i) >= lo && mins(i) <= hi } => f
      }
    }.toMap
    (kept, total)
  }

  /** Box read: only stats-overlapping files are listed to the scan,
    * the residual predicate pushes into the survivors, and the
    * tombstone anti-join STILL applies — a deleted row can never
    * resurface through the pruned path. */
  def readBox(spark: SparkSession, dir: String, bounds: Map[String, (Long, Long)],
              version: Long = M.Latest): DataFrame =
    readPruned(spark, dir, M.snapshot(spark, dir, version), Right(bounds))._1

  // --------------------------------------------------- point lookups

  /** Per-segment surviving files for a key-column point probe, through
    * BOTH metadata tiers: a file is kept only if its [min, max] range
    * admits some probe value AND its Bloom bitset claims it may hold
    * one. Either exclusion is a proof (the build recorded exact stats
    * and set every real key's bits); a file missing either tier (a
    * pre-Bloom segment) degrades to kept — extra I/O, never a dropped
    * row. */
  def prunePoint(spark: SparkSession, dir: String, values: Seq[Long],
                 version: Long = M.Latest): (Map[String, Seq[String]], Int) =
    prunePointAt(spark, dir, M.snapshot(spark, dir, version), values)

  private def prunePointAt(spark: SparkSession, dir: String, snap: M.Snapshot,
                           values: Seq[Long]): (Map[String, Seq[String]], Int) = {
    require(values.nonEmpty, "a point probe needs at least one value")
    val keyCol = snap.meta("keyCol")
    var total = 0
    val kept = snap.segments.filter(_.kind == "data").map { s =>
      val st = readStats(spark, dir, s)
      total += st.files.length
      val ki = st.statsCols.indexOf(keyCol)
      val bloomOk = st.bloomCol.contains(keyCol)
      s.dir -> st.files.collect {
        case (f, mins, maxs, bloom)
          if (ki < 0 || values.exists(v => v >= mins(ki) && v <= maxs(ki))) &&
            (!bloomOk || bloom.isEmpty || {
              val bits = decodeBits(bloom.get)
              values.exists(mayContain(bits, _, st.bloomK))
            }) => f
      }
    }.toMap
    (kept, total)
  }

  /** Primary-key point lookup: only Bloom-and-stats-positive files are
    * listed to the scan, the residual `IN` pushes into the survivors,
    * tombstones still apply (a deleted key can never resurface), and
    * the output serves the version's logical schema. */
  def readPoint(spark: SparkSession, dir: String, values: Seq[Long],
                version: Long = M.Latest): DataFrame =
    readPruned(spark, dir, M.snapshot(spark, dir, version), Left(values))._1

  /** A pruned read on ONE resolved snapshot — a key probe (`Left`) or a
    * box (`Right`) — returning the frame with its (kept, total) file
    * counts. The prune and the scan see the same segment list: pruning
    * against a newer manifest than the scan (a compaction committing in
    * between) would key the kept files by segments the scan never reads
    * and silently serve zero rows. */
  private[graft] def readPruned(spark: SparkSession, dir: String, snap: M.Snapshot,
                                probe: Either[Seq[Long], Map[String, (Long, Long)]]): (DataFrame, Int, Int) = {
    val (kept, total) = probe.fold(prunePointAt(spark, dir, snap, _), pruneBoxAt(spark, dir, snap, _))
    val live = readLive(spark, dir, snap, snap.segments.filter(_.kind == "data"), Some(kept))
    val hit = probe match {
      case Left(values) => live.where(col(snap.meta("keyCol")).cast("long").isin(values: _*))
      case Right(bounds) => physicalBounds(snap, bounds).foldLeft(live) {
        case (df, (c, (lo, hi))) => df.where(col(c).cast("long").between(lo, hi))
      }
    }
    (colmapOf(snap).map(toLogical(hit, _)).getOrElse(hit), kept.values.map(_.length).sum, total)
  }

  /** The LOGICAL names of the pruning tier at a version — (key column,
    * stats/order columns): what a catalog-table scan may bind pushed
    * filters to ([[GraftTableProvider]] routes key equality/IN into
    * [[prunePoint]] and stats-column ranges into [[pruneBox]]). */
  def pruningSurface(spark: SparkSession, dir: String,
                     version: Long = M.Latest): (String, Seq[String]) = {
    val snap = M.snapshot(spark, dir, version)
    val cm = activeColmap(spark, dir, snap)
    def logical(p: String): String = cm.find(_._1 == p).map(_._2).getOrElse(p)
    (logical(snap.meta("keyCol")),
      snap.meta("statsCols").split(' ').toSeq.filter(_.nonEmpty).map(logical))
  }
}
