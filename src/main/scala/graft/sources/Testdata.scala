package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Readers for the driver-generated testdata (TESTDATA.md).
  *
  * Timestamp physical types have varied across testdata generations and
  * both need canonicalizing to session-zoned TimestampType:
  *  - INT64 TIMESTAMP(NANOS), which Spark's vectorized reader rejects
  *    outright — read via the `nanosAsLong` legacy conf and rebuilt
  *    (integer `div` keeps full precision — nanos since epoch exceed 2^53,
  *    so a double division would corrupt microseconds);
  *  - TIMESTAMP(MICROS, isAdjustedToUTC=false), which Spark 4 infers as
  *    TIMESTAMP_NTZ — cast to TimestampType (all engine/verify/bench
  *    sessions pin UTC, so the cast is wall-clock-preserving and matches
  *    the DuckDB oracle's naive-timestamp epoch math).
  */
object Testdata {

  /** Timestamp-typed columns per table (physical NANOS in the testdata). */
  private val tsColumns: Map[String, Seq[String]] = Map(
    "events" -> Seq("ts"),
    "lineitem" -> Seq("l_shipdate"),
    "orders" -> Seq("o_orderdate"))

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = Parquet.read(spark, s"$sfDir/$name.parquet")
    tsColumns.getOrElse(name, Nil).foldLeft(df) { (d, c) =>
      d.schema(c).dataType match {
        case LongType => d.withColumn(c, timestamp_micros(expr(s"$c div 1000")))
        case _: TimestampNTZType => d.withColumn(c, col(c).cast(TimestampType))
        case _ => d
      }
    }
  }

  def events(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "events")
  def lineitem(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "orders")
}
