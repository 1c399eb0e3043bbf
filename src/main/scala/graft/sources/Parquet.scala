package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, GraftInternalBridge, SparkSession}

/** The engine's one way to read parquet. `spark.read.parquet(paths)`
  * without a schema infers one with a Spark job that reads a single
  * footer (warm, on 4 cores, about 86 ms against 9 ms with the schema
  * given). Here the footer of the same file Spark would pick — the
  * first data file in path order — is read on the driver, and its
  * schema is handed to the reader, so building the frame launches no
  * job. Partition columns (`k=v` dirs under the read roots, or under
  * `basePath`) are still discovered from the paths, as with inference.
  */
object Parquet {

  def read(spark: SparkSession, path: String): DataFrame = read(spark, Seq(path))

  def read(spark: SparkSession, paths: Seq[String],
           basePath: Option[String] = None): DataFrame = {
    val schema = GraftInternalBridge.parquetFooterSchema(spark, firstDataFile(spark, paths))
    val reader = spark.read.schema(schema)
    basePath.fold(reader)(reader.option("basePath", _)).parquet(paths: _*)
  }

  /** Read file groups whose schemas may differ (a store's segments
    * across an additive schema change): ONE scan when every group's
    * footer schema is the same — a union of per-group scans costs a
    * file index, a scan and a plan subtree per group (1.5x the wall of
    * one scan on a two-segment pruned read) — else a by-name union
    * that null-fills the columns a group lacks. */
  def readUnion(spark: SparkSession, groups: Seq[Seq[String]]): DataFrame = {
    val schemas = groups.map(g => GraftInternalBridge.parquetFooterSchema(spark, firstDataFile(spark, g)))
    if (schemas.distinct.size == 1) spark.read.schema(schemas.head).parquet(groups.flatten: _*)
    else groups.zip(schemas).map { case (g, schema) => spark.read.schema(schema).parquet(g: _*) }
      .reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Names Spark's file index skips: `_SUCCESS`, `_filestats.json`,
    * `.crc` files, `_temporary` dirs. */
  private def hidden(name: String): Boolean = name.startsWith("_") || name.startsWith(".")

  /** The file whose footer Spark's inference reads: the first data
    * file in path order. A path that is a file is its own candidate; a
    * directory is walked in name order, depth first. Only the paths up
    * to the first one that holds a file are touched, so a manifest read
    * (a list of files) costs one footer read and no listing. */
  private def firstDataFile(spark: SparkSession, paths: Seq[String]): Path = {
    val conf = spark.sparkContext.hadoopConfiguration
    def leaves(fs: FileSystem, p: Path): Iterator[Path] =
      if (fs.getFileStatus(p).isFile) Iterator(p)
      else fs.listStatus(p).sortBy(_.getPath.getName).iterator
        .filterNot(st => hidden(st.getPath.getName))
        .flatMap(st => if (st.isFile) Iterator(st.getPath) else leaves(fs, st.getPath))
    val found = paths.sorted.iterator.flatMap { s =>
      val p = new Path(s)
      leaves(p.getFileSystem(conf), p)
    }
    if (found.hasNext) found.next()
    else throw new IllegalArgumentException(
      s"no parquet data file to read the schema from under ${paths.mkString(", ")}")
  }
}
