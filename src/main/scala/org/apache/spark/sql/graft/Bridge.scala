package org.apache.spark.sql.graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils, SparkSession => ClassicSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Minimal accessors for `private[sql]` and session-internal APIs: the
  * Column ⇄ Expression conversions (the supported way for external
  * libraries to mount custom Catalyst expressions into the public Column
  * API on Spark 4), the session's Parquet schema rules, and a first-row-per-
  * partition collect.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  private def classic(spark: SparkSession): ClassicSession =
    spark.asInstanceOf[ClassicSession]

  /** The Hadoop configuration Spark's own file sources use for this session. */
  def hadoopConf(spark: SparkSession): Configuration =
    classic(spark).sessionState.newHadoopConf()

  /** The Spark schema of one Parquet file, converted exactly as Spark's
    * schema inference converts each footer: the session conf's
    * binary-as-string, INT96, NTZ-inference and nanosAsLong rules, with the
    * Spark row-metadata schema winning when the writer stored one. All
    * fields nullable, as every file-source relation reports them.
    */
  def parquetFileSchema(spark: SparkSession, file: FileStatus,
      conf: Configuration): StructType = {
    val meta = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(file, conf),
      ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, meta),
      new ParquetToSparkSchemaConverter(classic(spark).sessionState.conf)).asNullable
  }

  /** The first row of each partition of `df`, collected in one job inside a
    * SQL execution, so the driver receives at most one row per partition
    * (`take(1)` scans up over several jobs). A plain step over the executed
    * plan's rows: Spark's codegen'd limit names its counter from a
    * process-wide sequence, so its code never repeats and every call would
    * compile anew. A typed `mapPartitions` also compiles nothing, but its
    * encoder stages made a lookup ≈35 ms slower (20k rows, 4 cores).
    */
  def firstPerPartition(df: DataFrame): Array[InternalRow] = {
    val qe = df.asInstanceOf[Dataset[_]].queryExecution
    SQLExecution.withNewExecutionId(qe, Some("collect")) {
      qe.executedPlan.execute().mapPartitions(_.take(1).map(_.copy())).collect()
    }
  }
}
