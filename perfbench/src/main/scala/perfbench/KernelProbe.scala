package perfbench

import graft.functions.{VectorFunctions => VF}
import graft.operators.FilterDsl
import graft.sources.VectorStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Isolates the codegen kernels on a stored table: each kernel query is
  * timed against a scan-only baseline over the same column, alternately,
  * and the kernel's cost is the median difference. The dot probe scores
  * every row against `Queries` vectors, so the kernel outweighs the noise
  * of one scan.
  */
object KernelProbe {
  val Reps = 5
  val Queries = 8

  final case class Result(dotS: Double, dotGflops: Double, filterS: Double)

  val ProbeRows = 30000
  val ProbeDim = 128

  /** Writes a seeded store for a workload that has none of its own, with
    * `VectorStore.ingest` + `persist`, and reads it back.
    */
  def writeStore(spark: SparkSession, path: String, seed: Long): DataFrame = {
    import spark.implicits._
    val sh = Gen.Shape(seed, ProbeDim, clusters = 64)
    VectorStore(VectorStore.ingest(
      spark.range(0, ProbeRows, 1, Session.cores)
        .map(i => (i.toString, sh.vector(i), sh.metadataJson(i))).toDF("id", "embedding", "metadata"),
      col("id"), col("embedding"), col("metadata"))).persist(path, ProbeRows / 8)
    spark.read.parquet(path)
  }

  def run(df: DataFrame, seed: Long): Result = {
    val dim = df.select(size(col("embedding"))).head().getInt(0)
    val rows = df.count()
    val shape = Gen.Shape(seed, dim, clusters = 1)
    val dots = (0 until Queries).map(j => VF.dot(col("embedding"), typedLit(shape.query(j).toSeq)))
    val composite = Filter.Composite("2021-06-01", (0 until 20), 7)
    val pred = FilterDsl.compile(col("metadata_kv"), composite.and, composite.or, composite.exclude)
    def time(agg: org.apache.spark.sql.Column): Double = {
      val t0 = System.nanoTime()
      df.agg(agg).collect()
      (System.nanoTime() - t0) / 1e9
    }
    def diff(kernel: org.apache.spark.sql.Column, baseline: org.apache.spark.sql.Column): Double = {
      time(kernel); time(baseline) // first executions compile the plans
      Stats.median((0 until Reps).map(_ => time(kernel) - time(baseline)))
    }
    val dotS = diff(sum(dots.reduce(_ + _)), sum(size(col("embedding"))))
    val filterS = diff(sum(when(pred, 1).otherwise(0)), sum(size(col("metadata_kv"))))
    Result(dotS, 2.0 * Queries * rows * dim / dotS / 1e9, filterS)
  }
}
