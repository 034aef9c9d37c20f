package org.apache.spark.sql.graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{DataSourceStrategy, DataSourceUtils}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFilters, ParquetFooterReader}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.Filter

/** Test-only bridge to the planner's and the parquet reader's own
  * pushdown tests (`DataSourceStrategy.translateFilter` is
  * protected[sql]; the session conf is private[sql]). The PlanShapeSpec
  * pushdown fence uses them to decide whether a dataFilter COULD have
  * reached the parquet reader and whether it DID.
  */
object FilterBridge {
  def translate(predicate: Expression): Option[Filter] =
    DataSourceStrategy.translateFilter(
      predicate, supportNestedPredicatePushdown = true)

  /** The filters out of `pushed` that the parquet reader turns into
    * row-group predicates for `file`: the `ParquetFilters` the reader
    * builds (the file's footer schema and rebase metadata, the
    * session's pushdown flags), one `createFilter` call per filter.
    * A pushed filter missing from the result is listed in the scan's
    * PushedFilters but never evaluated against parquet statistics. */
  def parquetAccepted(spark: SparkSession, file: String, pushed: Seq[Filter]): Seq[Filter] = {
    val sessionState = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState
    val conf = sessionState.conf
    val meta = ParquetFooterReader.readFooter(
      HadoopInputFile.fromPath(new Path(file), sessionState.newHadoopConf()),
      ParquetMetadataConverter.SKIP_ROW_GROUPS).getFileMetaData
    val filters = new ParquetFilters(meta.getSchema,
      conf.parquetFilterPushDownDate, conf.parquetFilterPushDownTimestamp,
      conf.parquetFilterPushDownDecimal, conf.parquetFilterPushDownStringPredicate,
      conf.parquetFilterPushDownInFilterThreshold, conf.caseSensitiveAnalysis,
      DataSourceUtils.datetimeRebaseSpec(meta.getKeyValueMetaData.get,
        conf.getConf(SQLConf.PARQUET_REBASE_MODE_IN_READ).toString))
    pushed.filter(f => filters.createFilter(f).isDefined)
  }
}
