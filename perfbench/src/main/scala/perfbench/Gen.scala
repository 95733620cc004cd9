package perfbench

/** Seeded, pure data and op generators.
  *
  * Every generated value is a function of `(seed, stream, index)` only, so
  * the Spark side (which writes the store) and the plain-Scala checker
  * (which recomputes exact answers) see bit-identical inputs without
  * sharing any state.
  */
object Gen {

  private def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def hash(seed: Long, stream: Long, i: Long): Long = mix(mix(mix(seed) ^ stream) ^ i)

  /** Uniform in [0, 1). */
  def unit(seed: Long, stream: Long, i: Long): Double =
    (hash(seed, stream, i) >>> 11) * (1.0 / (1L << 53))

  def below(seed: Long, stream: Long, i: Long, n: Int): Int =
    java.lang.Long.remainderUnsigned(hash(seed, stream, i), n.toLong).toInt

  /** Standard normal (Box-Muller over two independent uniforms). */
  def gauss(seed: Long, stream: Long, i: Long): Double = {
    val u1 = 1.0 - unit(seed, stream, 2 * i)
    val u2 = unit(seed, stream, 2 * i + 1)
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
  }

  // stream tags: each kind of value draws from its own stream
  private val SCenter = 1L
  private val SCluster = 2L
  private val SNoise = 3L
  private val SLabel = 4L
  private val SValue = 5L
  private val SDate = 6L
  private val STags = 7L
  private val SQuery = 8L
  private val SQueryNoise = 9L

  /** Shape of a seeded mixture-of-Gaussians vector table. */
  final case class Shape(seed: Long, dim: Int, clusters: Int, spread: Double = 1.0) {

    private val centers: Array[Array[Float]] = Array.tabulate(clusters) { c =>
      Array.tabulate(dim)(j => gauss(seed, SCenter, c.toLong * dim + j).toFloat)
    }

    def vector(row: Long): Array[Float] = {
      val c = centers(below(seed, SCluster, row, clusters))
      Array.tabulate(dim)(j =>
        (c(j) + spread * gauss(seed, SNoise, row * dim + j)).toFloat)
    }

    /** A query near a random cluster centre (drawn from its own stream, so
      * queries are not copies of stored rows).
      */
    def query(i: Long): Array[Float] = {
      val c = centers(below(seed, SQuery, i, clusters))
      Array.tabulate(dim)(j =>
        (c(j) + spread * gauss(seed, SQueryNoise, i * dim + j)).toFloat)
    }

    def label(row: Long): Int = below(seed, SLabel, row, Labels)
    def value(row: Long): Int = below(seed, SValue, row, ValueRange)
    def date(row: Long): String =
      java.time.LocalDate.of(2020, 1, 1)
        .plusDays(below(seed, SDate, row, DateDays).toLong).toString
    def tags(row: Long): Seq[String] = {
      val h = hash(seed, STags, row)
      (0 until 8).filter(b => ((h >>> b) & 1L) == 1L).take(3).map(b => s"t$b")
    }

    def metadataJson(row: Long): String =
      s"""{"label":${label(row)},"value":${value(row)},"date":"${date(row)}",""" +
        tags(row).map(t => s""""$t"""").mkString(""""tags":[""", ",", "]}")

    /** Plain-Scala copy of rows `[0, n)` for the exact checker. */
    def matrix(n: Int): Rows = {
      val vecs = Array.tabulate(n)(r => vector(r.toLong))
      Rows(vecs, Array.tabulate(n)(r => label(r.toLong)),
        Array.tabulate(n)(r => value(r.toLong)), Array.tabulate(n)(r => date(r.toLong)))
    }
  }

  val Labels = 100
  val ValueRange = 500
  val DateDays = 1461

  /** Rows held by the checker: vectors plus the metadata filters read. */
  final case class Rows(vecs: Array[Array[Float]], labels: Array[Int],
      values: Array[Int], dates: Array[String]) {
    def size: Int = vecs.length
    lazy val normSq: Array[Double] = vecs.map(v => Exact.dot(v, v))
  }

  /** Zipf-distributed rank in `[0, n)` (rank 0 most likely), by inverse CDF
    * over precomputed weights.
    */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1.0, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x / total; acc }
    }
    def rank(u: Double): Int = {
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** Seeded permutation of `xs` (Fisher-Yates over the seed's stream). */
  def permute[A](xs: Seq[A], seed: Long, stream: Long): Seq[A] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = below(seed, stream, i.toLong, i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toSeq.asInstanceOf[Seq[A]]
  }
}
