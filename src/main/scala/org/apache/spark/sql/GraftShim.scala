package org.apache.spark.sql

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

/** Package-membership shim: `classic.Dataset.ofRows` is `private[sql]`,
  * and constructing a DataFrame from a custom [[LogicalPlan]] node
  * (graft's IntervalOverlapJoin) needs it. This is the standard
  * extension-library technique — one object inside the `sql` package,
  * nothing else of Spark's internals touched.
  *
  * The parquet helpers below give the lake's read planner the exact
  * per-file schema conversion Spark's own schema-inference job runs
  * (footer → `ParquetFileFormat.readSchemaFromFooter` with the
  * session-configured converter), without the job: one footer read on
  * the driver.
  */
object GraftShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The session's Hadoop configuration (session-level `spark.hadoop.*`
    * options applied), as Spark's own file sources see it.
    */
  def hadoopConf(spark: SparkSession): Configuration =
    spark.asInstanceOf[classic.SparkSession].sessionState.newHadoopConf()

  /** The Spark schema of one parquet file, read from its footer on the
    * driver — what schema inference would derive from that file.
    */
  def parquetFooterSchema(spark: SparkSession, conf: Configuration,
                          file: FileStatus): StructType =
    footerSchema(spark, file,
      readFooter(conf, file, ParquetMetadataConverter.SKIP_ROW_GROUPS))

  /** [[parquetFooterSchema]] plus the file's uncompressed data bytes
    * (the sum over its row groups) — what loading its rows costs.
    */
  def parquetFooter(spark: SparkSession, conf: Configuration,
                    file: FileStatus): (StructType, Long) = {
    val meta = readFooter(conf, file, ParquetMetadataConverter.NO_FILTER)
    (footerSchema(spark, file, meta),
      meta.getBlocks.asScala.map(_.getTotalByteSize).sum)
  }

  private def readFooter(conf: Configuration, file: FileStatus,
                         filter: ParquetMetadataConverter.MetadataFilter) =
    ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(file, conf),
      filter)

  private def footerSchema(spark: SparkSession, file: FileStatus,
                           meta: ParquetMetadata): StructType =
    ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, meta),
      new ParquetToSparkSchemaConverter(
        spark.asInstanceOf[classic.SparkSession].sessionState.conf))

  /** Schema union as `mergeSchema` computes it across files: fields of
    * `a` in order, then `b`'s new fields; conflicting types fail.
    */
  def mergeSchemas(spark: SparkSession, a: StructType,
                   b: StructType): StructType =
    a.merge(b, spark.asInstanceOf[classic.SparkSession].sessionState.conf
      .caseSensitiveAnalysis)
}
