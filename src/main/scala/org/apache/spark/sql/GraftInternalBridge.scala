package org.apache.spark.sql

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.DataSourceStrategy
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** The graft engine's one `private[sql]` access point (the standard
  * connector-bridge pattern — Delta, Iceberg and XSQL connectors each
  * carry the equivalent object): everything the engine needs from
  * Spark internals that has no public doorway, in one 20-line file so
  * the internal surface area is auditable.
  *
  *   - [[ofRows]]: materialize an ALREADY-ANALYZED [[LogicalPlan]] as a
  *     DataFrame — how the row-level SQL commands
  *     ([[graft.plans.GraftRowLevelSql]]) turn the analyzer's resolved
  *     UPDATE/MERGE sub-plans (filters, post-image projections, merge
  *     sources) back into frames the [[graft.sources.FactStore]] commit
  *     API consumes. A fresh QueryExecution runs the full optimizer, so
  *     DSv2 pushdown/pruning on the embedded relation still applies.
  *   - [[translatable]]: whether a catalyst predicate maps exactly onto
  *     a `sources.Filter` — the SupportsDelete capability boundary; the
  *     row-level rule only intercepts DELETEs the capability path would
  *     reject.
  *   - [[parquetFooterSchema]]: the Spark schema of one parquet file's
  *     footer, read on the driver — the schema
  *     [[graft.sources.Parquet.read]] hands the reader so that no
  *     inference job runs.
  */
object GraftInternalBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Re-root a batch frame as a streaming one (`isStreaming = true`) —
    * what every V1 `Source.getBatch` implementation in Spark itself
    * does via `internalCreateDataFrame`: the compiled InternalRow RDD
    * is lazy, so the batch plan still executes distributed at the
    * sink, only the logical flag changes. */
  def asStreamingFrame(df: DataFrame): DataFrame = {
    val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
    spark.internalCreateDataFrame(df.queryExecution.toRdd, df.schema,
      isStreaming = true)
  }

  /** Re-root a streaming microbatch frame as a BATCH one — the V1
    * `Sink.addBatch` twin of [[asStreamingFrame]]: the sink hands the
    * incremental execution's compiled RDD to the ordinary batch write
    * APIs (which reject isStreaming plans) without re-planning or
    * collecting anything on the driver. */
  def asBatchFrame(df: DataFrame): DataFrame = {
    val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
    spark.internalCreateDataFrame(df.queryExecution.toRdd, df.schema,
      isStreaming = false)
  }

  /** The schema `spark.read.parquet` would infer from `file`, given
    * its `footer`: Spark's own footer conversion (the Spark row
    * metadata when the file has it, else the parquet types), with the
    * converter built from the READING session's conf. `SQLConf.get`
    * would not do: on a thread with no active session it resolves to
    * the defaults, and the default `inferTimestampNTZ` turns a tz-less
    * `ts` into TimestampNTZType. */
  def parquetFooterSchema(spark: SparkSession, file: Path, footer: ParquetMetadata): StructType =
    ParquetFileFormat.readSchemaFromFooter(new Footer(file, footer),
      new ParquetToSparkSchemaConverter(spark.asInstanceOf[classic.SparkSession].sessionState.conf))

  def translatable(e: Expression): Boolean =
    DataSourceStrategy.translateFilter(e, supportNestedPredicatePushdown = true).isDefined

  /** Resolve a multi-part identifier through the session's V2 catalog
    * manager (e.g. `graft.db.t` → the GraftCatalog table), so the
    * GRAFT statement surface can name TableCatalog tables. None when
    * the head part is not a registered catalog or the table is
    * absent. */
  def v2Table(spark: SparkSession,
              parts: Seq[String]): Option[org.apache.spark.sql.connector.catalog.Table] = {
    if (parts.length < 2) return None
    val cm = spark.asInstanceOf[classic.SparkSession].sessionState.catalogManager
    try cm.catalog(parts.head) match {
      case tc: org.apache.spark.sql.connector.catalog.TableCatalog =>
        Some(tc.loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(
          parts.tail.init.toArray, parts.last)))
      case _ => None
    } catch { case _: Exception => None }
  }
}
