package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.ColumnIOFactory
import org.apache.spark.sql.{DataFrame, GraftInternalBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types._

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
    val schema = footerSchema(spark, firstDataFile(spark, paths))
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
    val schemas = groups.map(g => footerSchema(spark, firstDataFile(spark, g)))
    if (schemas.distinct.size == 1) spark.read.schema(schemas.head).parquet(groups.flatten: _*)
    else groups.zip(schemas).map { case (g, schema) => spark.read.schema(schema).parquet(g: _*) }
      .reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Every row under `path`, read on the driver with no Spark job — for
    * tables of a few KB the driver needs as values (a trained model).
    * Rows carry the footer's Spark schema, files in path order; columns
    * are longs, ints, doubles or arrays of those, no partition dirs. */
  def readLocal(spark: SparkSession, path: String): Seq[Row] =
    dataFiles(spark, Seq(path)).toVector.flatMap { file =>
      val reader = open(spark, file)
      try {
        val footer = reader.getFooter
        val schema = GraftInternalBridge.parquetFooterSchema(spark, file, footer)
        val fileSchema = footer.getFileMetaData.getSchema
        val io = new ColumnIOFactory().getColumnIO(fileSchema)
        Iterator.continually(reader.readNextRowGroup()).takeWhile(_ != null).flatMap { pages =>
          val records = io.getRecordReader(pages, new GroupRecordConverter(fileSchema))
          Iterator.fill(pages.getRowCount.toInt)(rowOf(records.read(), schema))
        }.toVector
      } finally reader.close()
    }

  private def rowOf(g: Group, schema: StructType): Row =
    new GenericRowWithSchema(
      schema.fields.map(f => valueOf(g, g.getType.getFieldIndex(f.name), f.dataType)), schema)

  /** Field `i` of `g` as a Spark value; arrays are the standard
    * three-level parquet LIST (a repeated group of one `element`). */
  private def valueOf(g: Group, i: Int, t: DataType): Any =
    if (g.getFieldRepetitionCount(i) == 0) null
    else t match {
      case LongType => g.getLong(i, 0)
      case IntegerType => g.getInteger(i, 0)
      case DoubleType => g.getDouble(i, 0)
      case ArrayType(et, _) =>
        val list = g.getGroup(i, 0)
        (0 until list.getFieldRepetitionCount(0)).map(j => valueOf(list.getGroup(0, j), 0, et))
      case other => throw new UnsupportedOperationException(
        s"driver-side parquet read of a ${other.simpleString} column")
    }

  /** A file opened with the session's Hadoop conf as its read options;
    * `ParquetFileReader.open(file)` alone builds a fresh `Configuration`
    * and re-parses its default resources per call (10 ms against 0.5). */
  private def open(spark: SparkSession, file: Path): ParquetFileReader = {
    val conf = spark.sparkContext.hadoopConfiguration
    ParquetFileReader.open(HadoopInputFile.fromPath(file, conf),
      HadoopReadOptions.builder(conf, file).build())
  }

  private def footerSchema(spark: SparkSession, file: Path): StructType = {
    val reader = open(spark, file)
    val footer = try reader.getFooter finally reader.close()
    GraftInternalBridge.parquetFooterSchema(spark, file, footer)
  }

  /** Names Spark's file index skips: `_SUCCESS`, `_filestats.json`,
    * `.crc` files, `_temporary` dirs. */
  private def hidden(name: String): Boolean = name.startsWith("_") || name.startsWith(".")

  /** The data files under `paths`, in path order: a path that is a file
    * is its own entry; a directory is walked in name order, depth
    * first. Lazy, so taking the first touches only the paths up to the
    * first one that holds a file. */
  private def dataFiles(spark: SparkSession, paths: Seq[String]): Iterator[Path] = {
    val conf = spark.sparkContext.hadoopConfiguration
    def leaves(fs: FileSystem, p: Path): Iterator[Path] =
      if (fs.getFileStatus(p).isFile) Iterator(p)
      else fs.listStatus(p).sortBy(_.getPath.getName).iterator
        .filterNot(st => hidden(st.getPath.getName))
        .flatMap(st => if (st.isFile) Iterator(st.getPath) else leaves(fs, st.getPath))
    paths.sorted.iterator.flatMap { s =>
      val p = new Path(s)
      leaves(p.getFileSystem(conf), p)
    }
  }

  /** The file whose footer Spark's inference reads: the first data
    * file in path order, so a manifest read (a list of files) costs one
    * footer read and no listing. */
  private def firstDataFile(spark: SparkSession, paths: Seq[String]): Path = {
    val found = dataFiles(spark, paths)
    if (found.hasNext) found.next()
    else throw new IllegalArgumentException(
      s"no parquet data file to read the schema from under ${paths.mkString(", ")}")
  }
}
