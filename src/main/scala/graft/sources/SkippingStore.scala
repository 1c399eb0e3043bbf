package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Multi-dimensional data-skipping layout — the Iceberg/Delta trick of
  * pruning FILES by manifest-carried column stats, combined with a
  * Z-ORDER clustering so the stats are tight in EVERY indexed
  * dimension at once:
  *
  *   - write: each order column is fixed-width-bucketed to 10 bits
  *     from its global [min, max] (one agg pass; exact integer math),
  *     the buckets BIT-INTERLEAVE into a z-value, and the frame range-
  *     partitions + sorts on it — so each written file covers a small
  *     HYPER-RECTANGLE of the index space, not a thin slab of one
  *     dimension (a single-column sort prunes perfectly on that column
  *     and not at all on any other; the interleave trades a little of
  *     dimension 1 for skipping power on all of them).
  *   - stats: one grouped pass over `input_file_name()` records each
  *     file's exact per-column [min, max] into `_skipping.json` (at
  *     cluster scale the write job's task-commit messages carry these
  *     for free — Iceberg's manifest-entry shape; the re-read here is
  *     one footer-local column scan).
  *   - read: a box predicate keeps only files whose stats intervals
  *     overlap EVERY bound — a driver-side metadata decision over a
  *     bounded file list, never a data I/O — and the residual filter
  *     still pushes into the surviving parquet scans, where the z-sort
  *     makes ROW-GROUP min/max pruning tight too (two skipping tiers
  *     from one layout).
  *
  * The MAINTENANCE lifecycle is Delta's OPTIMIZE ZORDER story:
  * [[append]] lands each ingest batch as its own subdirectory with its
  * own stats entries — correctness never degrades (excluded files are
  * still provably matchless) but batch files z-sorted only WITHIN the
  * batch cover wider boxes, so pruning slowly loosens; [[optimize]]
  * rewrites everything into one fresh globally-z-ordered generation
  * and swaps the manifest ATOMICALLY (tmp + rename — a reader resolves
  * either the old file list or the new one, both complete), leaving
  * old subdirectories for [[vacuum]]. Every manifest update follows
  * the same swap, so a crash mid-append leaves data files without a
  * manifest reference — invisible, exactly like the versioned stores'
  * uncommitted segments.
  *
  * A third tier serves the predicate shape min/max CANNOT: equality
  * probes on a high-cardinality column uncorrelated with the layout
  * (every file's [min, max] spans the whole domain — zero skipping).
  * Declaring `bloomCols` at [[write]] adds a per-file BLOOM bitset to
  * the manifest (Delta's bloom-filter-index story): [[readPoint]]
  * keeps only files whose bitset may contain a probe value — false
  * positives cost extra reads, never wrong answers, and exclusions
  * are provably matchless.
  *
  * This is the layout tier under [[EventLogStore]]'s time-bucket
  * partition pruning: directory partitioning can serve ONE dimension;
  * the z-order manifest serves boxes on any subset of the indexed
  * columns without exploding directory counts. (Multi-VERSION time
  * travel belongs to [[ManifestLog]]'s stores; this store keeps one
  * live generation and demonstrates the LAYOUT axis.)
  */
object SkippingStore {

  private val Bits = 10

  /** Default Bloom sizing: 2^15 bits (4 KB) / 5 probes per file —
    * ~10 bits per key at the store's file granularity, <1% false
    * positives. The FP rate only costs extra files READ, never a wrong
    * answer (the residual filter still runs), so undersizing degrades
    * I/O, not correctness.
    */
  val DefaultBloomBits: Int = 1 << 15
  val DefaultBloomK: Int = 5

  /** The Bloom hash family — pure Scala (NOT a SQL builtin) because
    * the same function must run on executors at build time (inside the
    * Aggregator) and on the driver at probe time; self-consistency is
    * the only requirement. Finalizer is splitmix64; probe i uses
    * double hashing h1 + i·h2 (Kirsch–Mitzenmacher).
    */
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

  private[sources] def mayContain(bits: Array[Long], value: Long, k: Int): Boolean =
    bloomPositions(value, bits.length * 64, k).forall(p =>
      (bits(p >> 6) & (1L << (p & 63))) != 0L)

  /** Per-file Bloom build as a typed Aggregator: buffer = the fixed
    * m-bit bitset (m/64 longs — 4 KB at the default), reduce sets the
    * value's k bits, merge ORs two bitsets. Executor state is constant
    * per (file) group regardless of row count — the shape that holds
    * at any file size.
    */
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
    def bufferEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    def outputEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  }

  private def encodeBits(bits: Array[Long]): String = {
    val bb = java.nio.ByteBuffer.allocate(bits.length * 8)
    bits.foreach(bb.putLong)
    java.util.Base64.getEncoder.encodeToString(bb.array())
  }

  private[sources] def decodeBits(s: String): Array[Long] = {
    val bytes = java.util.Base64.getDecoder.decode(s)
    val bb = java.nio.ByteBuffer.wrap(bytes)
    Array.fill(bytes.length / 8)(bb.getLong)
  }

  private val mapper = new ObjectMapper

  private def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def subName(op: String): String =
    s"$op-${java.util.UUID.randomUUID().toString.take(8)}"

  /** One file's manifest entry: relative path, exact per-statsCol
    * [min, max], and (when the layout declares bloomCols) one encoded
    * Bloom bitset per bloom column.
    */
  private[sources] final case class FileEntry(file: String, mins: Seq[Long],
                                     maxs: Seq[Long], blooms: Seq[String])

  /** Z-sort `df` on `orderCols` into `nFiles` files under `dir/$sub`
    * and return the new files' manifest entries (stats + blooms, all
    * from ONE grouped pass over the written files).
    */
  private[sources] def writeSubdir(df: DataFrame, dir: String, sub: String,
                          orderCols: Seq[String], statsCols: Seq[String],
                          bloom: BloomConf, nFiles: Int): Seq[FileEntry] = {
    val spark = df.sparkSession
    val rangeAggs = orderCols.flatMap(c =>
      Seq(min(col(c).cast("long")).as(s"mn_$c"), max(col(c).cast("long")).as(s"mx_$c")))
    val ranges = df.agg(rangeAggs.head, rangeAggs.tail: _*).first()
    // 10-bit fixed-width bucket per column from its global range —
    // deterministic and one-pass (a rank-based bucketing would need a
    // global sort or sampled cut points); skew only loosens file boxes,
    // never correctness, because the stats record what actually landed.
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
    // One grouped pass: exact per-file [min, max] of every stats column
    // plus the per-file Bloom bitsets (constant 4 KB executor state per
    // file per bloom column — the Aggregator, not a position set).
    val statAggs = statsCols.flatMap(c =>
      Seq(min(col(c).cast("long")).as(s"mn_$c"), max(col(c).cast("long")).as(s"mx_$c")))
    val bloomUdaf = udaf(new BloomAgg(bloom.m, bloom.k))
    val bloomAggs = bloom.cols.map(c => bloomUdaf(col(c).cast("long")).as(s"bf_$c"))
    val aggs = statAggs ++ bloomAggs
    Parquet.read(spark, s"$dir/$sub")
      .groupBy(input_file_name().as("_f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
      .map { r =>
        val file = r.getString(0).substring(r.getString(0).lastIndexOf('/') + 1)
        val bloomBase = 1 + 2 * statsCols.length
        FileEntry(s"$sub/$file",
          statsCols.indices.map(i => r.getLong(1 + 2 * i)),
          statsCols.indices.map(i => r.getLong(2 + 2 * i)),
          bloom.cols.indices.map(i =>
            encodeBits(r.getSeq[Long](bloomBase + i).toArray)))
      }.toSeq
  }

  /** Atomic manifest swap: tmp + rename — a reader sees the old
    * complete file list or the new one, never a torn mix.
    */
  private def commitManifest(spark: SparkSession, dir: String,
                             orderCols: Seq[String], statsCols: Seq[String],
                             bloom: BloomConf, files: Seq[FileEntry]): Unit = {
    val root: ObjectNode = mapper.createObjectNode()
    val oArr = root.putArray("orderCols"); orderCols.foreach(oArr.add)
    val cArr = root.putArray("indexCols"); statsCols.foreach(cArr.add)
    if (bloom.cols.nonEmpty) {
      val bArr = root.putArray("bloomCols"); bloom.cols.foreach(bArr.add)
      root.put("bloomM", bloom.m)
      root.put("bloomK", bloom.k)
    }
    val fArr = root.putArray("files")
    files.foreach { case FileEntry(f, mins, maxs, blooms) =>
      val n = fArr.addObject()
      n.put("file", f)
      val mn = n.putArray("min"); val mx = n.putArray("max")
      mins.foreach(mn.add); maxs.foreach(mx.add)
      if (blooms.nonEmpty) {
        val bl = n.putArray("bloom"); blooms.foreach(bl.add)
      }
    }
    val f = fs(spark, dir)
    val tmp = new Path(s"$dir/.skipping-${java.util.UUID.randomUUID()}.tmp")
    val out = f.create(tmp, false)
    try out.write(mapper.writerWithDefaultPrettyPrinter().writeValueAsString(root)
      .getBytes("UTF-8")) finally out.close()
    val dest = new Path(s"$dir/_skipping.json")
    f.delete(dest, false)
    require(f.rename(tmp, dest), s"manifest rename failed for $dest")
  }

  /** Build the layout: `df` z-ordered on `orderCols` (integral-typed)
    * into `nFiles` files, stats over `statsColsOpt` (default: the
    * order columns — pass a superset to record stats for columns the
    * layout does NOT cluster, the realistic Iceberg shape: stats exist
    * for every column, the LAYOUT decides how much they can skip).
    * `bloomCols` adds a per-file Bloom bitset for each named column
    * (must be non-null, integral-typed) — the skipping tier for
    * EQUALITY probes on high-cardinality columns uncorrelated with the
    * layout, where min/max intervals span everything and prune nothing.
    * Wipes any prior layout at `dir`.
    */
  def write(df: DataFrame, dir: String, orderCols: Seq[String], nFiles: Int,
            statsColsOpt: Seq[String] = Seq.empty,
            bloomCols: Seq[String] = Seq.empty,
            bloomBits: Int = DefaultBloomBits, bloomK: Int = DefaultBloomK): Unit = {
    require(orderCols.nonEmpty && Bits * orderCols.length <= 60,
      s"up to ${60 / Bits} order columns")
    require(bloomBits % 64 == 0 && bloomBits > 0 && bloomK > 0,
      "bloomBits must be a positive multiple of 64")
    val statsCols = if (statsColsOpt.isEmpty) orderCols else statsColsOpt
    require(orderCols.forall(statsCols.contains),
      "statsCols must cover every order column")
    val bloom = BloomConf(bloomCols, bloomBits, bloomK)
    val spark = df.sparkSession
    fs(spark, dir).delete(new Path(dir), true)
    val entries = writeSubdir(df, dir, subName("base"), orderCols, statsCols,
      bloom, nFiles)
    commitManifest(spark, dir, orderCols, statsCols, bloom, entries)
  }

  /** Ingest a batch: its files land in a fresh subdirectory, z-sorted
    * WITHIN the batch (the stored order columns; batch-local ranges —
    * the sort only tightens the new files' own boxes), and the manifest
    * gains their stats entries — and Bloom bitsets, when the layout
    * declares them — in one atomic swap. Pruning stays SOUND
    * unconditionally; it gradually loosens as batch files' boxes
    * overlap the base generation's — [[optimize]] restores it.
    */
  def append(spark: SparkSession, dir: String, df: DataFrame, nFiles: Int): Unit = {
    if (df.isEmpty) return
    val m = readManifest(spark, dir)
    val entries = writeSubdir(df, dir, subName("batch"), m.orderCols, m.statsCols,
      m.bloom, nFiles)
    commitManifest(spark, dir, m.orderCols, m.statsCols, m.bloom, m.files ++ entries)
  }

  /** Rewrite the whole table as ONE globally-z-ordered generation and
    * swap the manifest to reference only it (Delta's OPTIMIZE ZORDER).
    * Old subdirectories stay on disk — a reader that resolved the old
    * manifest keeps reading complete, untouched files — until
    * [[vacuum]] reclaims them.
    */
  def optimize(spark: SparkSession, dir: String, nFiles: Int): Unit = {
    val m = readManifest(spark, dir)
    val entries = writeSubdir(readAll(spark, dir), dir, subName("opt"),
      m.orderCols, m.statsCols, m.bloom, nFiles)
    commitManifest(spark, dir, m.orderCols, m.statsCols, m.bloom, entries)
  }

  /** Delete every subdirectory the current manifest does not reference. */
  def vacuum(spark: SparkSession, dir: String): Unit = {
    val referenced = readManifest(spark, dir).files.map(_.file.split('/').head).toSet
    val f = fs(spark, dir)
    f.listStatus(new Path(dir)).foreach { st =>
      if (st.isDirectory && !referenced.contains(st.getPath.getName))
        f.delete(st.getPath, true)
    }
  }

  private[sources] final case class BloomConf(cols: Seq[String], m: Int, k: Int)

  private final case class Manifest(orderCols: Seq[String], statsCols: Seq[String],
                                    bloom: BloomConf, files: Seq[FileEntry])

  private def readManifest(spark: SparkSession, dir: String): Manifest = {
    val in = fs(spark, dir).open(new Path(s"$dir/_skipping.json"))
    val bytes =
      try {
        val buf = new java.io.ByteArrayOutputStream()
        val tmp = new Array[Byte](8192)
        var n = in.read(tmp)
        while (n >= 0) { buf.write(tmp, 0, n); n = in.read(tmp) }
        buf.toByteArray
      } finally in.close()
    val root = mapper.readTree(bytes)
    def arr(k: String): Seq[String] =
      if (!root.has(k)) Seq.empty
      else (0 until root.get(k).size()).map(root.get(k).get(_).asText())
    val bloom = BloomConf(arr("bloomCols"),
      if (root.has("bloomM")) root.get("bloomM").asInt() else DefaultBloomBits,
      if (root.has("bloomK")) root.get("bloomK").asInt() else DefaultBloomK)
    val files = (0 until root.get("files").size()).map { i =>
      val n = root.get("files").get(i)
      FileEntry(n.get("file").asText(),
        (0 until n.get("min").size()).map(n.get("min").get(_).asLong()),
        (0 until n.get("max").size()).map(n.get("max").get(_).asLong()),
        if (!n.has("bloom")) Seq.empty
        else (0 until n.get("bloom").size()).map(n.get("bloom").get(_).asText()))
    }
    Manifest(arr("orderCols"), arr("indexCols"), bloom, files)
  }

  /** Every live row (the manifest's full file list). */
  def readAll(spark: SparkSession, dir: String): DataFrame = {
    val m = readManifest(spark, dir)
    Parquet.read(spark, m.files.map(f => s"$dir/${f.file}"))
  }

  /** File lists for a box predicate: (kept, total) — the metadata-only
    * skipping decision, exposed for audits.
    */
  def pruneFiles(spark: SparkSession, dir: String,
                 bounds: Map[String, (Long, Long)]): (Seq[String], Int) = {
    val m = readManifest(spark, dir)
    val unknown = bounds.keySet.diff(m.statsCols.toSet)
    require(unknown.isEmpty, s"not indexed by this layout: $unknown")
    val kept = m.files.collect {
      case FileEntry(f, mins, maxs, _) if m.statsCols.indices.forall { i =>
        bounds.get(m.statsCols(i)).forall { case (lo, hi) =>
          maxs(i) >= lo && mins(i) <= hi }
      } => f
    }
    (kept, m.files.length)
  }

  /** File lists for an equality probe through the Bloom tier: a file is
    * kept iff its bitset claims it MAY contain at least one probe value
    * (all k bits set). A kept file can be a false positive — extra I/O,
    * filtered by the residual predicate; an excluded file PROVABLY
    * holds no probe value (the build set every real value's bits).
    */
  def pruneFilesPoint(spark: SparkSession, dir: String, column: String,
                      values: Seq[Long]): (Seq[String], Int) = {
    require(values.nonEmpty, "a point probe needs at least one value")
    val m = readManifest(spark, dir)
    val ci = m.bloom.cols.indexOf(column)
    require(ci >= 0, s"no Bloom filter for column $column " +
      s"(bloom columns: ${m.bloom.cols.mkString(", ")})")
    // A file WITHOUT bloom bitsets cannot be proven matchless, so it is
    // KEPT (never pruned): an exclusion from this tier must be a proof.
    // Unreachable via the current write/append API (every file gets
    // bitsets when bloomCols is declared) but a mixed-generation
    // manifest must degrade to extra I/O, not dropped rows.
    val kept = m.files.collect {
      case e if e.blooms.isEmpty || {
        val bits = decodeBits(e.blooms(ci))
        values.exists(v => mayContain(bits, v, m.bloom.k))
      } => e.file
    }
    (kept, m.files.length)
  }

  /** Read an IN-list point lookup: only Bloom-positive files are listed
    * to the scan, and the residual `IN` predicate is applied — and
    * pushed down — on the survivors (two tiers again: file-level Bloom,
    * then parquet row-group stats on the z-sorted survivors).
    */
  def readPoint(spark: SparkSession, dir: String, column: String,
                values: Seq[Long]): DataFrame = {
    val (kept, _) = pruneFilesPoint(spark, dir, column, values)
    if (kept.isEmpty) readAll(spark, dir).where(lit(false))
    else Parquet.read(spark, kept.map(f => s"$dir/$f"))
      .where(col(column).cast("long").isin(values: _*))
  }

  /** Read the box: only stats-overlapping files are listed to the scan
    * (a file the manifest excludes PROVABLY holds no matching row),
    * and the residual filter is applied — and pushed down — on the
    * survivors.
    */
  def readBox(spark: SparkSession, dir: String,
              bounds: Map[String, (Long, Long)]): DataFrame = {
    require(bounds.nonEmpty, "a box read needs at least one bound")
    val (kept, _) = pruneFiles(spark, dir, bounds)
    val pred = bounds.map { case (c, (lo, hi)) =>
      col(c).cast("long").between(lo, hi)
    }.reduce(_ && _)
    if (kept.isEmpty) readAll(spark, dir).where(lit(false))
    else Parquet.read(spark, kept.map(f => s"$dir/$f")).where(pred)
  }
}
