package org.apache.spark.sql.graft

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.metadata.{FileMetaData, ParquetMetadata}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.internal.SessionStateHelper
import org.apache.spark.sql.types.StructType

/** Spark's own parquet footer reading and footer-to-schema conversion.
  * The warehouse resolves a scan's data schema from one footer per
  * immutable batch on the driver, with no Spark job (a `mergeSchema`
  * read runs one per frame built), and reads row counts and column
  * statistics from footers on the driver and in its aggregate tasks.
  */
object ParquetFooters {

  /** The file-level metadata of `file`'s footer (parquet schema and
    * key/value metadata; row groups skipped): one open.
    */
  def fileMetaData(conf: Configuration, file: FileStatus): FileMetaData =
    ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(file, conf),
      ParquetMetadataConverter.SKIP_ROW_GROUPS).getFileMetaData

  /** The whole footer of `file` (schema and row groups with their
    * column statistics), read with the options of the caller's `conf`:
    * one open. Parquet's reader opened without read options builds
    * them over a fresh `Configuration`, which re-parses Hadoop's
    * default resources for every file.
    */
  def footer(conf: Configuration, file: Path): ParquetMetadata =
    ParquetFooterReader.readFooter(HadoopInputFile.fromPath(file, conf),
      ParquetMetadataConverter.NO_FILTER)

  /** The row count of `file`, from its footer alone. */
  def rowCount(conf: Configuration, file: Path): Long =
    footer(conf, file).getBlocks.asScala.iterator.map(_.getRowCount).sum

  /** The Spark schema of a footer, exactly as schema inference derives
    * it: the Spark row metadata the writer stored when present,
    * otherwise the parquet schema converted under `spark`'s current
    * parquet settings.
    */
  def sparkSchema(spark: SparkSession, file: Path, meta: FileMetaData): StructType =
    ParquetFileFormat.readSchemaFromFooter(
      new Footer(file, new ParquetMetadata(meta, java.util.Collections.emptyList())),
      new ParquetToSparkSchemaConverter(SessionStateHelper.getSqlConf(spark)))

  /** True when `df` is a file scan whose listing found no file. */
  def listsNoFiles(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectFirst {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r.location.inputFiles.isEmpty
    }.getOrElse(false)
}
