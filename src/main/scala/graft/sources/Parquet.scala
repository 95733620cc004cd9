package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, StructType}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** The one way the engine opens Parquet.
  *
  * `spark.read.parquet(paths)` infers the schema with a Spark job
  * (`mergeSchemasInParallel`) before any data is read, even for a single
  * file. Without `mergeSchema`, Spark's rule is "the first data file's
  * footer, in path order", so this reads that footer on the driver with
  * Spark's own conversion ([[FileFacts.schema]], which caches the footer by
  * file identity) and opens the files under that schema: the same
  * DataFrame, and no job.
  *
  * Spark's inference stays wherever the footer cannot reproduce it: input
  * that is not a flat file or flat directory of `.parquet` files
  * (hive-partitioned directories carry columns in directory names, a
  * streaming sink's `_spark_metadata` log decides which files exist,
  * summary files and globs change which footer wins), `mergeSchema`, an
  * unreadable footer, and empty input, whose "Unable to infer schema"
  * error stays Spark's.
  */
object Parquet {

  def read(spark: SparkSession, paths: String*): DataFrame =
    footerSchema(spark, paths) match {
      case Some(s) => spark.read.schema(s).parquet(paths: _*)
      case None    => spark.read.parquet(paths: _*)
    }

  /** The schema [[read]] opens `paths` with (from a footer when it can). */
  def schema(spark: SparkSession, paths: String*): StructType =
    footerSchema(spark, paths).getOrElse(spark.read.parquet(paths: _*).schema)

  /** Spark's non-merging inferred schema for `paths`, read on the driver
    * from the first data file's footer; None in the fallback cases.
    */
  def footerSchema(spark: SparkSession, paths: Seq[String]): Option[StructType] = {
    if (paths.isEmpty || spark.conf.get("spark.sql.parquet.mergeSchema").toBoolean) return None
    val conf = Bridge.hadoopConf(spark)
    flatParquetFiles(conf, paths).filter(_.nonEmpty).flatMap { files =>
      try Some(FileFacts.schema(spark, files, conf))
      catch { case NonFatal(_) => None }
    }
  }

  /** The writer options of the engine's data writes of `df` (every
    * [[Layout]] write, [[VectorStore.persist]], the streaming batch sinks):
    * the one place that decides how Parquet encodes them.
    *
    * Vector elements (the float/double leaf of every top-level
    * `ARRAY<FLOAT|DOUBLE>` column, `embedding.list.element`) skip the
    * dictionary. Parquet would otherwise hash every value into one and, on
    * vectors whose values barely repeat, drop it at the first page, when
    * it fails the compression check (or passes 1 MB), and re-encode the
    * buffered values as PLAIN: the same bytes, after a hashing pass that
    * only costs CPU. The leaf paths come from Spark's own write schema, so
    * `writeLegacyFormat`'s spellings match.
    *
    * With `keyed`, a top-level key column `id` of a type the read's file
    * index can probe ([[FileFacts.bloomable]]) also skips the dictionary
    * (its values are unique in a layout, so Parquet drops that one too) and
    * gets a Parquet bloom filter. Parquet sizes a bloom to a declared
    * distinct count (1 MB when none is given); the adaptive writer instead
    * keeps candidates from 1 MB halving down and stores the smallest that
    * still fits the values it saw at 1 % false positives: 1 KB up to 500
    * rows (its floor), 16 KB at 10k. Writes whose ids repeat (the
    * streaming upsert log) pass `keyed = false`.
    */
  def writeOptions(df: DataFrame, keyed: Boolean): Map[String, String] = {
    val vectors = df.schema.fields.filter(_.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }).map(_.name).toSet
    val leaves = if (vectors.isEmpty) Nil
      else Bridge.parquetWriteSchema(df.sparkSession, df.schema).getColumns.asScala
        .map(_.getPath).filter(p => vectors(p.head)).map(_.mkString("."))
    val key = FileFacts.KeyColumn
    val bloomed = keyed && df.schema.find(_.name == key).exists(f => FileFacts.bloomable(f.dataType))
    val bloom = if (!bloomed) Map.empty[String, String] else Map(
      s"parquet.bloom.filter.enabled#$key" -> "true",
      "parquet.bloom.filter.adaptive.enabled" -> "true", // applies to bloomed columns only
      s"parquet.bloom.filter.candidates.number#$key" -> "16")
    bloom ++ (leaves ++ (if (bloomed) Seq(key) else Nil))
      .map(p => s"parquet.enable.dictionary#$p" -> "false")
  }

  /** Names Spark's file listing skips (InMemoryFileIndex's hidden rule). */
  private def hidden(name: String): Boolean =
    ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")) &&
      !name.startsWith("_metadata") && !name.startsWith("_common_metadata")

  /** The `.parquet` files under `paths` when every path is a `.parquet`
    * file or a flat directory of them — the exact file set Spark's listing
    * would read. None for anything else: a missing path or glob, a
    * visible subdirectory (hive partitions), a streaming sink log, a
    * Parquet summary file, or a visible file of another name.
    */
  private[sources] def flatParquetFiles(conf: Configuration,
      paths: Seq[String]): Option[Seq[FileStatus]] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[FileStatus]
    paths.foreach { p =>
      if (p.exists(c => "{}[]*?\\".indexOf(c) >= 0)) return None
      val path = new Path(p)
      val f = path.getFileSystem(conf)
      val st = try f.getFileStatus(path) catch {
        case _: java.io.FileNotFoundException => return None
      }
      if (st.isFile) {
        val n = st.getPath.getName
        if (n.startsWith("_") || n.startsWith(".") || !n.endsWith(".parquet")) return None
        out += st
      } else f.listStatus(st.getPath).foreach { c =>
        val n = c.getPath.getName
        if (n == "_spark_metadata") return None
        if (!hidden(n)) {
          if (c.isDirectory || !n.endsWith(".parquet")) return None
          out += c
        }
      }
    }
    Some(out.toSeq)
  }
}
