package org.apache.spark.sql.graftbridge

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** The pieces of Spark's parquet schema inference that `graft.Reads`
  * runs on the driver instead of in a one-task job, and the footer row
  * counts `StoreRoot.rootFor` digests. Spark keeps them
  * package-private; this shim sits under org.apache.spark.sql solely
  * for access, like `ColumnBridge`.
  */
object ParquetFooters {

  /** Spark's file-listing filter: `_`/`.`-prefixed names are hidden,
    * except the `_metadata`/`_common_metadata` summary files.
    */
  def isHidden(name: String): Boolean = HadoopFSUtils.shouldFilterOutPathName(name)

  /** The Spark schema of one parquet file's footer, converted exactly
    * as inference converts it: the Spark row metadata when the writer
    * stored it, else the parquet schema through the session's converter
    * (binary-as-string, INT96, timestamp-NTZ and nanos-as-long settings).
    */
  def schemaOf(spark: SparkSession, file: FileStatus,
      options: Map[String, String]): StructType = {
    val state = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState
    val conf = state.newHadoopConfWithOptions(options)
    val meta = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, meta),
      new ParquetToSparkSchemaConverter(state.conf))
  }

  /** Rows in one parquet file, summed over its footer's row groups. */
  def rowCount(spark: SparkSession, file: FileStatus): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(file, conf),
      ParquetMetadataConverter.NO_FILTER).getBlocks.asScala.map(_.getRowCount).sum
  }
}
