package org.apache.spark.sql.graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils, SparkSession => ClassicSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter, SparkToParquetSchemaConverter}
import org.apache.spark.sql.types.StructType

import scala.concurrent.{Await, ExecutionContext, Future, Promise}
import scala.concurrent.duration.Duration

/** Minimal accessors for `private[sql]` and session-internal APIs: the
  * Column ⇄ Expression conversions (the supported way for external
  * libraries to mount custom Catalyst expressions into the public Column
  * API on Spark 4), the session's Parquet schema rules, and a bounded
  * collect.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  private def classic(spark: SparkSession): ClassicSession =
    spark.asInstanceOf[ClassicSession]

  /** The Hadoop configuration Spark's own file sources use for this session. */
  def hadoopConf(spark: SparkSession): Configuration =
    classic(spark).sessionState.newHadoopConf()

  /** One Parquet file's footer without its row groups: what a schema needs. */
  def parquetFooter(file: FileStatus, conf: Configuration): ParquetMetadata =
    ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(file, conf),
      ParquetMetadataConverter.SKIP_ROW_GROUPS)

  /** The Spark schema of one Parquet file from its footer `meta`, converted
    * exactly as Spark's schema inference converts each footer: the session
    * conf's binary-as-string, INT96, NTZ-inference and nanosAsLong rules,
    * with the Spark row-metadata schema winning when the writer stored one.
    * All fields nullable, as every file-source relation reports them.
    */
  def parquetSchema(spark: SparkSession, file: FileStatus,
      meta: ParquetMetadata): StructType =
    ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, meta),
      new ParquetToSparkSchemaConverter(classic(spark).sessionState.conf)).asNullable

  /** The Parquet schema Spark's writer gives `schema` under the session's
    * conf (`writeLegacyFormat` decides how arrays and maps are spelled).
    */
  def parquetWriteSchema(spark: SparkSession, schema: StructType): MessageType =
    new SparkToParquetSchemaConverter(classic(spark).sessionState.conf).convert(schema)

  /** Spark's own schema inference over `files` (one job), for the
    * `mergeSchema` case a single footer cannot answer.
    */
  def inferParquetSchema(spark: SparkSession, files: Seq[FileStatus]): Option[StructType] =
    new ParquetFileFormat().inferSchema(classic(spark), Map.empty, files)

  /** A DataFrame over the Parquet files `index` lists, read under
    * `dataSchema`: the relation `spark.read.parquet` builds, with the
    * caller's index in place of a directory listing.
    */
  def parquetRelation(spark: SparkSession, index: FileIndex,
      dataSchema: StructType): DataFrame =
    Dataset.ofRows(classic(spark), LogicalRelation(HadoopFsRelation(index,
      StructType(Nil), dataSchema, None, new ParquetFileFormat, Map.empty)(spark)))

  /** Whether `df` optimizes to rows already on the driver, so `collect()`
    * returns them without a job (`Dataset.isLocal` sees only an
    * unoptimized `LocalRelation`, not one under `toDF`'s renames).
    */
  def isLocal(df: DataFrame): Boolean =
    df.asInstanceOf[Dataset[_]].queryExecution.optimizedPlan.isInstanceOf[LocalRelation]

  /** All rows of `df` if it has at most `cap` of them, else `None`: the
    * bounded collect a driver route decides with. One job inside a SQL
    * execution; each partition sends at most `cap + 1` rows, and once the
    * running total passes `cap` the job is cancelled and the rows dropped,
    * so the driver holds at most `cap` kept rows plus one partition's
    * `cap + 1` (≤ 2·cap + 1). The cap is a plain `take` over the executed
    * plan's rows: Spark's codegen'd limit names its counter from a
    * process-wide sequence, so its code never repeats and every call would
    * compile anew. Rows reach the caller through the interpreted converter,
    * as `collect()` returns them, with no generated deserializer. A job
    * cancelled past the cap ends with the reason [[overflowReason]].
    */
  def collectUpTo(df: DataFrame, cap: Int): Option[Array[Row]] = {
    require(cap >= 0, s"cap must be >= 0, got $cap")
    val qe = df.asInstanceOf[Dataset[_]].queryExecution
    val toRow = CatalystTypeConverters.createToScalaConverter(df.schema)
    SQLExecution.withNewExecutionId(qe, Some("collectUpTo")) {
      val rdd = qe.executedPlan.execute()
      var parts = new Array[Array[InternalRow]](rdd.getNumPartitions)
      var kept = 0L
      val overflow = Promise[Unit]()
      // the handler runs on the scheduler's event thread, one task at a time
      val job = rdd.sparkContext.submitJob(rdd,
        (it: Iterator[InternalRow]) => it.take(cap + 1).map(_.copy()).toArray,
        parts.indices,
        (i: Int, rows: Array[InternalRow]) => if (!overflow.isCompleted) {
          kept += rows.length
          if (kept > cap) { parts = null; overflow.success(()) }
          else parts(i) = rows
        },
        ())
      try {
        Await.ready(Future.firstCompletedOf(Seq(job, overflow.future))(
          ExecutionContext.parasitic), Duration.Inf)
        if (overflow.isCompleted) None
        else {
          job.value.get.get // rethrows a failed job's error
          Some(parts.flatMap(_.map(r => toRow(r).asInstanceOf[Row])))
        }
      } finally if (!job.isCompleted) {
        job.cancel(if (overflow.isCompleted) Some(overflowReason(cap)) else None)
        Await.ready(job, Duration.Inf)
      }
    }
  }

  /** Why [[collectUpTo]] cancelled its job: the result passed `cap` rows. */
  def overflowReason(cap: Int): String = s"collectUpTo: more than $cap rows"
}
