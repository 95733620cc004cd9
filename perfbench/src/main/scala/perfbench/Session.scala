package perfbench

import org.apache.spark.sql.SparkSession

/** The one Spark session a benchmark run uses: `local[nproc]`, the graft
  * extensions mounted, the same settings `graft.Bench` times under.
  */
object Session {
  def cores: Int = Runtime.getRuntime.availableProcessors()

  def start(localDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .config("spark.sql.warehouse.dir", s"$localDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
