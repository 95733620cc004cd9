package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Columnar interchange beyond parquet: ORC. Completes the source/sink
  * matrix (parquet internal, JSONL/CSV line interchange —
  * [[TextFormats]] — and ORC for interop with Hive/Trino-side estates).
  *
  * Scale notes: ORC and parquet are equivalent for this engine's access
  * patterns — both columnar, splittable by stripe/row-group, with min/max
  * stats the scan consults per task. Vectorized reads and predicate
  * pushdown are on by default for both in Spark 4. The planning-time file
  * pruning of the layout tier ([[LayoutManifest]] spans) covers parquet
  * layouts only.
  * Parquet stays the internal format (the zone-map/zorder tier and every
  * persisted index use it); ORC is egress/ingest interop only.
  */
object ColumnarFormats {

  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  /** ORC carries its schema per file (self-describing, like parquet) — no
    * explicit-schema parameter needed, unlike the text formats where
    * inference would cost a full extra pass.
    */
  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)
}
