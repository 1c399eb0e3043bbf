package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The store-agnostic manifest/commit core shared by
  * [[VersionedVectorIndex]] and [[VersionedTextIndex]] — the
  * Delta/Iceberg transaction shape reduced to what these stores need:
  *
  *   - Data files are IMMUTABLE; a committed version is a JSON manifest
  *     (`_versions/v%08d.json`) listing its segments' files BY NAME
  *     (plus an optional model dir and a free-form meta map).
  *   - Commit = write-temp + atomic rename into the version slot, with
  *     an optimistic occupied-slot check: concurrent committers race on
  *     the rename and the loser gets a conflict error, never a
  *     corrupted table. (Single-JVM writers additionally serialize on
  *     each store object's lock; cross-process writers on
  *     rename-overwriting filesystems need an external coordinator,
  *     exactly as Delta on S3 does.)
  *   - Readers resolve a snapshot ONCE and read exactly its file lists
  *     — snapshot isolation; a crashed writer's half-written segment is
  *     invisible because no manifest names it; old versions stay
  *     readable (time travel) until [[vacuum]] drops them.
  *
  * What stays store-specific in the callers: segment KINDS and their
  * schemas, which segments a new version carries forward vs replaces,
  * and the serving kernels.
  */
object ManifestLog {

  /** One immutable file group: `kind` is store-defined, `dir` is
    * relative to the store root, `files` relative to `dir` (partition
    * subdirs included), `rows` recorded at commit time so history reads
    * metadata only.
    */
  final case class Segment(kind: String, dir: String, files: Seq[String], rows: Long)

  /** A resolved version: the committed manifest, parsed. */
  final case class Snapshot(version: Long, op: String, modelDir: String,
                            segments: Seq[Segment],
                            meta: Map[String, String] = Map.empty) {
    def rowsOf(kind: String): Long = segments.filter(_.kind == kind).map(_.rows).sum
  }

  /** Sentinel for "latest committed version". */
  val Latest: Long = -1L

  /** Meta-key prefix of the per-`appId` streaming replay cursors. */
  val BatchIdPrefix = "lastBatchId."

  /** The exactly-once guard of every `*StreamBatch` writer: the
    * manifest meta carries the last applied batch id per `appId`
    * (`lastBatchId.<appId>`), so a re-delivered batch (`batchId` at or
    * below the recorded one) is a version no-op returning the current
    * version; a new one runs `commit` with the meta entry its commit
    * must carry. An `appId` is non-empty, with no whitespace or control
    * characters — it is part of a meta key.
    */
  def exactlyOnce(spark: SparkSession, dir: String, batchId: Long, appId: String)
                 (commit: Map[String, String] => Long): Long = {
    require(appId.nonEmpty && !appId.exists(c =>
        Character.isWhitespace(c) || Character.isSpaceChar(c) || Character.isISOControl(c)),
      "appId must be non-empty, with no whitespace or control characters")
    val key = BatchIdPrefix + appId
    val last = snapshot(spark, dir).meta.get(key).map(_.toLong).getOrElse(-1L)
    if (batchId <= last) currentVersion(spark, dir)
    else commit(Map(key -> batchId.toString))
  }

  def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def versionsPath(dir: String) = new Path(s"$dir/_versions")

  private def manifestPath(dir: String, v: Long) =
    new Path(versionsPath(dir), f"v$v%08d.json")

  /** All committed version numbers, ascending; empty for a fresh dir. */
  def committedVersions(f: FileSystem, dir: String): Seq[Long] = {
    val vp = versionsPath(dir)
    if (!f.exists(vp)) Seq.empty
    else f.listStatus(vp).toSeq
      .map(_.getPath.getName)
      .collect { case n if n.matches("v\\d{8}\\.json") => n.substring(1, 9).toLong }
      .sorted
  }

  def currentVersion(spark: SparkSession, dir: String): Long = {
    val vs = committedVersions(fs(spark, dir), dir)
    if (vs.isEmpty) -1L else vs.last
  }

  private val mapper = new ObjectMapper

  /** Atomic manifest commit — the ONLY mutation of the visible lineage. */
  def commit(f: FileSystem, dir: String, snap: Snapshot): Unit = {
    val root: ObjectNode = mapper.createObjectNode()
    root.put("version", snap.version)
    // In-commit timestamp (Delta's ICT): timestamp-based time travel
    // must survive file copies that disturb mtimes.
    root.put("committedAtMs", System.currentTimeMillis())
    root.put("op", snap.op)
    root.put("model", snap.modelDir)
    val segs: ArrayNode = root.putArray("segments")
    snap.segments.foreach { s =>
      val n = segs.addObject()
      n.put("kind", s.kind)
      n.put("dir", s.dir)
      n.put("rows", s.rows)
      val files = n.putArray("files")
      s.files.foreach(files.add)
    }
    val meta = root.putObject("meta")
    snap.meta.toSeq.sortBy(_._1).foreach { case (k, v) => meta.put(k, v) }
    val json = mapper.writerWithDefaultPrettyPrinter().writeValueAsString(root)
    val tmp = new Path(versionsPath(dir),
      s".tmp-${java.util.UUID.randomUUID().toString}.json")
    val out = f.create(tmp, false)
    try out.write(json.getBytes("UTF-8")) finally out.close()
    val dest = manifestPath(dir, snap.version)
    // Optimistic concurrency: the version slot must be free. POSIX
    // rename overwrites, so check-then-rename (atomic within a JVM
    // under the store's object lock).
    if (f.exists(dest)) {
      f.delete(tmp, false)
      throw new IllegalStateException(
        s"concurrent commit: version ${snap.version} already exists in $dir")
    }
    if (!f.rename(tmp, dest)) {
      f.delete(tmp, false)
      throw new IllegalStateException(s"manifest rename failed for $dest")
    }
  }

  /** The commit wall-clock of `version`: the manifest's in-commit
    * timestamp when present, the manifest file's mtime for manifests
    * written before ICT landed. */
  def commitTimeMs(spark: SparkSession, dir: String, v: Long): Long = {
    val f = fs(spark, dir)
    val p = manifestPath(dir, v)
    val in = f.open(p)
    val root = try mapper.readTree(in) finally in.close()
    if (root.has("committedAtMs")) root.get("committedAtMs").asLong()
    else f.getFileStatus(p).getModificationTime
  }

  /** Timestamp time travel (Delta `TIMESTAMP AS OF`): the newest
    * version committed at or before `tsMs`. A timestamp predating the
    * first commit is a loud error, not an empty read. */
  def versionAt(spark: SparkSession, dir: String, tsMs: Long): Long = {
    val vs = committedVersions(fs(spark, dir), dir)
    require(vs.nonEmpty, s"no commits at $dir")
    val at = vs.filter(v => commitTimeMs(spark, dir, v) <= tsMs)
    require(at.nonEmpty,
      s"timestamp $tsMs predates the first commit of $dir " +
        s"(earliest: ${commitTimeMs(spark, dir, vs.head)})")
    at.max
  }

  def parseManifest(f: FileSystem, dir: String, v: Long): Snapshot = {
    val p = manifestPath(dir, v)
    val in = f.open(p)
    val bytes =
      try {
        val buf = new java.io.ByteArrayOutputStream()
        val tmp = new Array[Byte](8192)
        var n = in.read(tmp)
        while (n >= 0) { buf.write(tmp, 0, n); n = in.read(tmp) }
        buf.toByteArray
      } finally in.close()
    val root = mapper.readTree(bytes)
    val segs = (0 until root.get("segments").size()).map { i =>
      val s = root.get("segments").get(i)
      Segment(
        s.get("kind").asText(),
        s.get("dir").asText(),
        (0 until s.get("files").size()).map(j => s.get("files").get(j).asText()),
        s.get("rows").asLong())
    }
    val meta = Option(root.get("meta")).map { m =>
      val it = m.fieldNames()
      val b = Map.newBuilder[String, String]
      while (it.hasNext) { val k = it.next(); b += k -> m.get(k).asText() }
      b.result()
    }.getOrElse(Map.empty[String, String])
    Snapshot(root.get("version").asLong(), root.get("op").asText(),
      root.get("model").asText(), segs, meta)
  }

  /** The resolved manifest of `version` ([[Latest]] = newest). Throws if
    * the version was never committed or was [[vacuum]]ed away.
    */
  def snapshot(spark: SparkSession, dir: String, version: Long = Latest): Snapshot = {
    val f = fs(spark, dir)
    val v = if (version == Latest) {
      val vs = committedVersions(f, dir)
      require(vs.nonEmpty, s"no committed version in $dir")
      vs.last
    } else version
    require(f.exists(manifestPath(dir, v)),
      s"version $v is not available in $dir (never committed, or vacuumed)")
    parseManifest(f, dir, v)
  }

  /** Every committed snapshot, ascending — the history read. */
  def snapshots(spark: SparkSession, dir: String): Seq[Snapshot] = {
    val f = fs(spark, dir)
    committedVersions(f, dir).map(v => parseManifest(f, dir, v))
  }

  /** Relative paths of every parquet part file under `seg`, sorted —
    * the file list frozen into the manifest at commit time.
    */
  def listParquet(f: FileSystem, seg: Path): Seq[String] = {
    val base = seg.toUri.getPath
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val it = f.listFiles(seg, true)
    while (it.hasNext) {
      val st = it.next()
      if (st.isFile && st.getPath.getName.endsWith(".parquet"))
        out += st.getPath.toUri.getPath.stripPrefix(base).stripPrefix("/")
    }
    out.sorted.toSeq
  }

  /** The manifest entry of a segment just written to `dir/name`: its
    * parquet files, frozen, and their row count summed from the file
    * footers — metadata reads on the driver, no Spark job. An EMPTY
    * frame writes no parquet files, and zero files means zero rows.
    */
  def segment(spark: SparkSession, dir: String, kind: String, name: String): Segment = {
    val segDir = new Path(s"$dir/$name")
    val files = listParquet(fs(spark, dir), segDir)
    val conf = spark.sparkContext.hadoopConfiguration
    val rows = files.map { rel =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new Path(segDir, rel), conf))
      try r.getRecordCount finally r.close()
    }.sum
    Segment(kind, name, files, rows)
  }

  /** Union of the snapshot's `kind` segments, each read by its frozen
    * file list. `partitioned` reads recover the partition column via
    * basePath; files added to a segment dir AFTER the commit are not in
    * the list, so the read is a true snapshot.
    */
  def readSegments(spark: SparkSession, dir: String, segs: Seq[Segment],
                   kind: String, partitioned: Boolean): Option[DataFrame] = {
    val frames = segs.filter(s => s.kind == kind && s.files.nonEmpty).map { s =>
      val segDir = s"$dir/${s.dir}"
      Parquet.read(spark, s.files.map(f => s"$segDir/$f"), Option.when(partitioned)(segDir))
    }
    frames.reduceOption(_ unionByName _)
  }

  /** The version that created `seg`, parsed from the stores' shared
    * `seg-VVVVVVVV-…` naming contract — the generation axis scoped
    * tombstones compare against. The manifest needs no extra field:
    * segment names are immutable, carried forward verbatim across
    * later commits (append/compact/restore all re-reference them), so
    * the stamp can never drift from the data it describes.
    */
  def createdVersion(seg: Segment): Long = {
    // Basename, not the raw dir: a shallow clone references foreign
    // segments through relative paths ("../src/seg-…") — the version
    // stamp always lives on the leaf directory name.
    val base = seg.dir.substring(seg.dir.lastIndexOf('/') + 1)
    require(base.length >= 12 && base.startsWith("seg-") &&
      base.substring(4, 12).forall(_.isDigit),
      s"segment dir carries no version stamp: ${seg.dir}")
    base.substring(4, 12).toLong
  }

  /** [[readSegments]] with every row stamped (column `vCol`) with its
    * segment's CREATING version — the input to generation-scoped
    * tombstone joins (a tombstone kills only rows born strictly before
    * it, so a commit can tombstone an id's old generation and publish
    * its replacement in the same manifest). The literal column costs
    * nothing at scan time and does not disturb pushdown.
    */
  def readSegmentsScoped(spark: SparkSession, dir: String, segs: Seq[Segment],
                         kind: String, partitioned: Boolean,
                         vCol: String): Option[DataFrame] = {
    import org.apache.spark.sql.functions.lit
    val frames = segs.filter(s => s.kind == kind && s.files.nonEmpty).map { s =>
      val segDir = s"$dir/${s.dir}"
      Parquet.read(spark, s.files.map(f => s"$segDir/$f"), Option.when(partitioned)(segDir))
        .withColumn(vCol, lit(createdVersion(s)))
    }
    frames.reduceOption(_ unionByName _)
  }

  /** Commit a NEW version that re-publishes `toVersion`'s exact state
    * (segments, model, meta) under `op` "restore" — the undo button.
    * Nothing is copied or rewritten: the restored version is one more
    * manifest referencing the old immutable files, so it is as cheap as
    * any commit, the bad intermediate versions remain inspectable for
    * the post-mortem (until [[vacuum]]), and the lineage stays
    * append-only (history shows the mistake AND the recovery).
    */
  def restore(spark: SparkSession, dir: String, toVersion: Long): Long = {
    val target = snapshot(spark, dir, toVersion)
    val prior = snapshot(spark, dir)
    val v = prior.version + 1
    commit(fs(spark, dir), dir,
      Snapshot(v, "restore", target.modelDir, target.segments, target.meta))
    v
  }

  /** Drop all but the newest `retain` versions: delete their manifests,
    * then every top-level directory no surviving manifest references
    * (as a segment dir or model dir). Retained versions serve
    * byte-identically — their files were never touched.
    */
  def vacuum(spark: SparkSession, dir: String, retain: Int): Unit = {
    require(retain >= 1, "vacuum must retain at least the latest version")
    val vs = committedVersions(fs(spark, dir), dir)
    vacuumKeeping(spark, dir, vs.drop(math.max(0, vs.length - retain)))
  }

  /** Time-based retention (Delta `VACUUM … RETAIN n HOURS`): drop every
    * version whose in-commit timestamp is older than `retainMs` before
    * `nowMs` — except the LATEST version, which always survives (a
    * quiet table must stay readable however old its last commit is).
    * Retained versions serve byte-identically.
    */
  def vacuumOlderThan(spark: SparkSession, dir: String, retainMs: Long,
                      nowMs: Long = System.currentTimeMillis()): Unit = {
    require(retainMs >= 0, "retention must be non-negative")
    val vs = committedVersions(fs(spark, dir), dir)
    require(vs.nonEmpty, s"no commits at $dir")
    val cutoff = nowMs - retainMs
    // The latest version is ALWAYS in the keep set, not just when the
    // time filter comes back empty: commit timestamps can invert (the
    // mtime fallback after a copy/rsync, or clock skew), and deleting
    // the newest manifest while older ones survive would silently
    // rewind the table.
    val keep = vs.filter(v => commitTimeMs(spark, dir, v) >= cutoff)
    vacuumKeeping(spark, dir, (keep :+ vs.last).distinct)
  }

  /** Drop every version not in `keep`: delete their manifests, then
    * every top-level directory no surviving manifest references. */
  private def vacuumKeeping(spark: SparkSession, dir: String, keep: Seq[Long]): Unit = {
    val f = fs(spark, dir)
    val keepSet = keep.toSet
    val vs = committedVersions(f, dir)
    val kept = vs.filter(keepSet).map(v => parseManifest(f, dir, v))
    val referenced = kept.flatMap(s => s.segments.map(_.dir) :+ s.modelDir).toSet
    vs.filterNot(keepSet).foreach(v => f.delete(manifestPath(dir, v), false))
    f.listStatus(new Path(dir)).foreach { st =>
      val n = st.getPath.getName
      if (st.isDirectory && n != "_versions" && !referenced.contains(n))
        f.delete(st.getPath, true)
    }
  }
}
