package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** `Σ_i popcount(a[i] & b[i])` over two ARRAY<BIGINT> bitmask columns — the
  * fused set-intersection-cardinality kernel for bitset-encoded shingle
  * sets ([[graft.operators.Dedup.jaccardPairsBitsetHashed]]).
  *
  * Like [[DotProductExpr]], this exists because the HOF spelling
  * (`aggregate(zip_with(a, b, (x,y) -> bit_count(x & y)), ...)`) allocates
  * an intermediate array and walks interpreted lambdas per pair — on an
  * O(n²) similarity join the kernel IS the runtime. Codegen emits a bare
  * loop of AND + Long.bitCount (a hardware instruction).
  */
case class PopcountAndExpr(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"popcount_and requires two ARRAY<BIGINT> arguments, got $other")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0
    var i = 0
    while (i < n) { s += java.lang.Long.bitCount(x.getLong(i) & y.getLong(i)); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |int $s = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += java.lang.Long.bitCount($a.getLong($i) & $b.getLong($i));
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_popcount_and"
}

/** `Σ_i popcount(a[i] ^ b[i])` over two ARRAY<BIGINT> bitmask columns —
  * multi-word Hamming distance, the coarse-rank kernel for binary-quantized
  * vectors wider than 64 dims ([[graft.operators.Quantized.binarizeWords]]).
  * Same fused-loop rationale as [[PopcountAndExpr]]: on a scan-everything
  * prefilter the per-row kernel is the runtime.
  */
case class PopcountXorExpr(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"popcount_xor requires two ARRAY<BIGINT> arguments, got $other")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0
    var i = 0
    while (i < n) { s += java.lang.Long.bitCount(x.getLong(i) ^ y.getLong(i)); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |int $s = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += java.lang.Long.bitCount($a.getLong($i) ^ $b.getLong($i));
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_popcount_xor"
}
