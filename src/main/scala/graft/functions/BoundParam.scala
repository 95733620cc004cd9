package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{InSet, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}

import scala.collection.immutable.HashSet

/** A per-request constant that generated code reads from the plan's
  * `references` array instead of spelling it into the Java source.
  *
  * Why: Spark caches compiled classes by their source text. A numeric
  * `Literal` is inlined (`1.2345D`), so two requests that differ only in
  * such a value compile two classes (≈15 ms each), and the one-off classes
  * push stable ones out of the bounded codegen cache. Bound, the source is
  * the same for every value and a warm request compiles nothing. Strings,
  * arrays and maps need no binding: `Literal` already passes those as
  * references.
  *
  * `foldable` is false on purpose: a foldable leaf is turned back into an
  * inlined `Literal` by `ConstantFolding`. The expression stays
  * deterministic, so filters over it still combine and push through
  * projections; only what needs a `Literal` (Parquet predicate push-down,
  * `InSet` conversion) passes it by. Bind values that reach generated code
  * only — a value the scan should push down stays a `Literal`
  * ([[graft.plans.SimplifyLiteralMapLookup]] turns a bound filter constant
  * back into one where the filter reaches a stored column).
  */
case class BoundParam(value: Any, dataType: DataType) extends LeafExpression {

  override def foldable: Boolean = false

  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = value

  /** The same value as an inlined literal. */
  def literal: Literal = Literal(value, dataType)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
    ExprCode.forNonNullValue(
      JavaCode.expression(s"$ref.${CodeGenerator.javaType(dataType)}Value()", dataType))
  }

  /** The literal's SQL, so generated column names match the inlined form. */
  override def sql: String = literal.sql

  override def toString: String = s"param($value)"
}

object BoundParam {
  def param(v: Double): Column = Bridge.column(BoundParam(v, DoubleType))
  def param(v: Long): Column = Bridge.column(BoundParam(v, LongType))

  /** `c` (cast to `long`) is one of `values`, as an `InSet`: Parquet pushes
    * it down and prunes partitions as it does `isin`'s `In`, but generated
    * code reads the set from the plan's references, where `In` spells every
    * value into the code. The set is always a `HashSet`: the code casts the
    * reference to the set's class, and `toSet` gives sets of up to 4
    * values classes of their own (`Set1`..`Set4`). So a new value set, of
    * any size, compiles nothing. Null when `c` is null.
    */
  def longIn(c: Column, values: Iterable[Long]): Column =
    Bridge.column(InSet(Bridge.expression(c.cast(LongType)), HashSet.from[Any](values)))
}
