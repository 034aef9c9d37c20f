package org.apache.spark.sql.graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Bridge into the session state that parquet schema inference reads
  * (lives under org.apache.spark.sql for the `private[sql]` session
  * state, like [[ColumnBridge]]).
  */
object ParquetFooterBridge {
  private def state(spark: SparkSession) =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState

  /** the session's Hadoop configuration, as file-source reads see it */
  def hadoopConf(spark: SparkSession): Configuration = state(spark).newHadoopConf()

  /** The schema Spark's parquet inference derives from `file`, read
    * from its footer on the driver: the same footer reader, the same
    * Spark-schema metadata key, and a converter built from the same
    * session flags as `ParquetFileFormat.mergeSchemasInParallel`
    * (binary-as-string, INT96-as-timestamp, timestamp-NTZ inference,
    * `nanosAsLong`, unknown-annotation handling; the rest at their
    * defaults, as there). Throws what the footer read or the
    * conversion throws. */
  def footerSchema(spark: SparkSession, conf: Configuration, file: FileStatus): StructType = {
    val sql = state(spark).conf
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = sql.isParquetBinaryAsString,
      assumeInt96IsTimestamp = sql.isParquetINT96AsTimestamp,
      inferTimestampNTZ = sql.parquetInferTimestampNTZEnabled,
      nanosAsLong = sql.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation = sql.parquetReaderRespectUnknownTypeAnnotation)
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer), converter)
  }
}
