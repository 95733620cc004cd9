package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen hash kernels for the dedup signature pipeline. Each
  * replaces an interpreted higher-order-function chain whose per-element
  * lambda dispatch dominated the benchmark; all are bit-compatible with the
  * HOF forms they replace (same arithmetic, same iteration order over UTF-16
  * code units — identical to `ascii()`-based folds for BMP text).
  */

/** Polynomial rolling hash of a string: `h_i = (base·h_{i-1} + char_i) mod m`
  * — the native form of [[graft.operators.TextAnalysis.fingerprint]].
  */
case class PolyHashExpr(child: Expression, base: Long, mod: Long) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"poly_hash requires STRING, got $other")
  }

  override def nullSafeEval(input: Any): Any =
    PolyHashExpr.hash(input.asInstanceOf[UTF8String].toString, base, mod)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.PolyHashExpr.hash($c.toString(), ${base}L, ${mod}L)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "graft_poly_hash"
}

object PolyHashExpr {
  /** Shared kernel (called from both interpreted and generated code). */
  def hash(s: String, base: Long, mod: Long): Long = {
    var acc = 0L
    var i = 0
    val n = s.length
    while (i < n) { acc = (acc * base + s.charAt(i)) % mod; i += 1 }
    acc
  }
}

/** MinHash signature: for shingle fingerprints F and hash family
  * h_i(x) = (a_i·x + b_i) mod p, emit `[min_x h_i(x) | i < num]` in ONE pass
  * over F — replacing `num` separate interpreted `array_min(transform(...))`
  * scans.
  */
case class MinHashSigExpr(child: Expression, as: Array[Long], bs: Array[Long], p: Long)
    extends UnaryExpression {

  require(as.length == bs.length && as.nonEmpty)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(s"minhash_sig requires ARRAY<BIGINT>, got $other")
  }

  override def nullSafeEval(input: Any): Any = {
    val fps = input.asInstanceOf[ArrayData]
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      MinHashSigExpr.sig(fps.toLongArray(), as, bs, p))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val asRef = ctx.addReferenceObj("minhashAs", as, "long[]")
    val bsRef = ctx.addReferenceObj("minhashBs", bs, "long[]")
    defineCodeGen(ctx, ev, c =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.functions.MinHashSigExpr.sig($c.toLongArray(), $asRef, $bsRef, ${p}L))")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "graft_minhash_sig"
}

object MinHashSigExpr {
  def sig(fps: Array[Long], as: Array[Long], bs: Array[Long], p: Long): Array[Long] = {
    val num = as.length
    val out = new Array[Long](num)
    java.util.Arrays.fill(out, Long.MaxValue)
    var i = 0
    while (i < fps.length) {
      val x = fps(i)
      var j = 0
      while (j < num) {
        val h = (as(j) * x + bs(j)) % p
        if (h < out(j)) out(j) = h
        j += 1
      }
      i += 1
    }
    out
  }
}

/** Word n-gram construction over a token array in one native pass —
  * replaces `transform(sequence(...), i => concat_ws(" ", slice(toks, i+1, n)))`,
  * whose per-element slice allocation dominated shingling. Emits the
  * (non-distinct) n-grams joined by single spaces, in order.
  */
case class WordNgramsExpr(child: Expression, n: Int) extends UnaryExpression {

  require(n >= 1)

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(s"word_ngrams requires ARRAY<STRING>, got $other")
  }

  override def nullSafeEval(input: Any): Any =
    WordNgramsExpr.ngrams(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.WordNgramsExpr.ngrams($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "graft_word_ngrams"
}

object WordNgramsExpr {
  def ngrams(arr: ArrayData, n: Int): ArrayData = {
    val m = arr.numElements()
    val out = new Array[Any](math.max(0, m - n + 1))
    var i = 0
    while (i < out.length) {
      val sb = new java.lang.StringBuilder()
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        if (!arr.isNullAt(i + j)) sb.append(arr.getUTF8String(i + j).toString)
        j += 1
      }
      out(i) = UTF8String.fromString(sb.toString)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** SimHash over a token array in one pass: per token a 60-bit packed pair of
  * polynomial hashes, ±1 bit-counters, sign collapse — no intermediate
  * arrays, no lambda dispatch. Arithmetic identical to the HOF pipeline it
  * replaces (tokenHash60 / counter sum / sign-power collapse).
  */
case class SimHash60Expr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(s"simhash requires ARRAY<STRING>, got $other")
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val toks = new Array[String](arr.numElements())
    var i = 0
    while (i < toks.length) {
      toks(i) = if (arr.isNullAt(i)) null else arr.getUTF8String(i).toString
      i += 1
    }
    SimHash60Expr.simhash(toks)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.SimHash60Expr.simhashArrayData($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "graft_simhash60"
}

object SimHash60Expr {
  val Bits = 60
  val Mod1 = 1000000007L
  val Base1 = 31L
  val Mod2 = 998244353L
  val Base2 = 37L

  def tokenHash60(tok: String): Long =
    PolyHashExpr.hash(tok, Base2, Mod2) * (1L << 30) + PolyHashExpr.hash(tok, Base1, Mod1)

  def simhash(tokens: Array[String]): Long = {
    val counters = new Array[Int](Bits)
    var i = 0
    while (i < tokens.length) {
      val t = tokens(i)
      if (t != null && t.nonEmpty) {
        val h = tokenHash60(t)
        var j = 0
        while (j < Bits) {
          counters(j) += (((h >>> j) & 1L).toInt * 2) - 1
          j += 1
        }
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < Bits) {
      if (counters(j) > 0) out |= 1L << j
      j += 1
    }
    out
  }

  /** Entry point for generated code (ArrayData in scope there). */
  def simhashArrayData(arr: ArrayData): Long = {
    val toks = new Array[String](arr.numElements())
    var i = 0
    while (i < toks.length) {
      toks(i) = if (arr.isNullAt(i)) null else arr.getUTF8String(i).toString
      i += 1
    }
    simhash(toks)
  }
}

/** Hashed shingle bitmask for the vocabulary-free Jaccard prefilter
  * ([[graft.operators.Dedup.jaccardPairsBitsetHashed]]): each shingle hashes
  * into a `bits`-wide space (poly-hash mod bits) and sets one bit. Emits
  * `STRUCT<mask ARRAY<BIGINT>, set_bits INT>` — `set_bits` counts DISTINCT
  * bits set, so `size(shingles) − set_bits` is the per-doc collision loss the
  * completeness bound needs. One native pass, replacing the last Scala-UDF
  * serialization boundary in the flagship dedup plan.
  */
case class HashMaskExpr(child: Expression, bits: Int) extends UnaryExpression {

  require(bits % 64 == 0 && bits > 0)

  override def dataType: DataType = StructType(Seq(
    StructField("mask", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("set_bits", IntegerType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(s"hash_mask requires ARRAY<STRING>, got $other")
  }

  override def nullSafeEval(input: Any): Any =
    HashMaskExpr.mask(input.asInstanceOf[ArrayData], bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashMaskExpr.mask($c, $bits)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "graft_hash_mask"
}

object HashMaskExpr {
  val Base: Long = 31L
  val Mod: Long = 1000000007L

  def mask(arr: ArrayData, bits: Int): org.apache.spark.sql.catalyst.InternalRow = {
    val nWords = bits / 64
    val m = new Array[Long](nWords)
    var setBits = 0
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val b = (PolyHashExpr.hash(arr.getUTF8String(i).toString, Base, Mod) % bits).toInt
        val w = b >> 6
        val bit = 1L << (b & 63)
        if ((m(w) & bit) == 0L) { m(w) |= bit; setBits += 1 }
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
      new org.apache.spark.sql.catalyst.util.GenericArrayData(m), setBits))
  }
}
