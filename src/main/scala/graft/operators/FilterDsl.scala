package graft.operators

import graft.functions.JsonMeta
import graft.functions.BoundParam.param
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Literal values usable in metadata filters — the subset of Python values
  * the reference's tests exercise (str, int/float, bool, datetime-as-ISO,
  * list) — see SURVEY.md §1.2.
  */
sealed trait MetaValue {
  /** Canonical JSON fragment of this literal (matches [[JsonMeta]] ingest). */
  def enc: String
}
object MetaValue {
  final case class MStr(v: String) extends MetaValue {
    def enc: String = com.fasterxml.jackson.databind.node.TextNode.valueOf(v).toString
  }
  final case class MLong(v: Long) extends MetaValue { def enc: String = v.toString }
  final case class MDouble(v: Double) extends MetaValue {
    def enc: String = if (v == v.floor && !v.isInfinite && math.abs(v) < 1e15) {
      // Jackson renders 10.0 as 10.0; Python json renders ints without a
      // point. We keep Jackson's form; numeric comparisons never use enc.
      v.toString
    } else v.toString
  }
  final case class MBool(v: Boolean) extends MetaValue { def enc: String = v.toString }
  final case class MList(v: Seq[MetaValue]) extends MetaValue {
    def enc: String = v.map(_.enc).mkString("[", ",", "]")
  }

  import scala.language.implicitConversions
  implicit def fromString(s: String): MetaValue = MStr(s)
  implicit def fromInt(i: Int): MetaValue = MLong(i.toLong)
  implicit def fromLong(l: Long): MetaValue = MLong(l)
  implicit def fromDouble(d: Double): MetaValue = MDouble(d)
  implicit def fromBoolean(b: Boolean): MetaValue = MBool(b)

  def isNumeric(v: MetaValue): Boolean = v match {
    case _: MLong | _: MDouble => true
    case _ => false
  }
  def numeric(v: MetaValue): Double = v match {
    case MLong(l) => l.toDouble
    case MDouble(d) => d
    case other => sys.error(s"not numeric: $other")
  }
}

/** Value side of one key's predicate: plain equality or an operator dict.
  *
  * The reference applies only the FIRST operator of an operator dict
  * (`op = next(iter(value))`, vector_database.py:164,243); per SURVEY §2.3.4
  * we implement the evident intent and apply ALL operators (conjoined) — the
  * reference test suite cannot distinguish the two.
  */
sealed trait FilterValue
final case class Eq(v: MetaValue) extends FilterValue
final case class Ops(ops: Seq[(String, MetaValue)]) extends FilterValue
object Ops {
  def apply(pairs: (String, MetaValue)*)(implicit d: DummyImplicit): Ops = Ops(pairs.toSeq)
}

/** Compiles the reference's Mongo-like filter language into a single Catalyst
  * `Column` predicate over the canonical `metadata_kv` column.
  *
  * Pinned semantics carried over (SURVEY.md §2.3, citations therein):
  *  1. key-presence gating: a predicate can only match rows that HAVE the key
  *     — including `$ne` (vector_database.py:260,285; tests
  *     test_mongolike_operators.py:83-89);
  *  2. keys within a `metadata_filter` dict AND across the list of dicts are
  *     conjoined; keys within one or-dict and across or-dicts are unioned;
  *  3. composition is (AND) ∩ (OR) − (EXCLUDE) (vector_database.py:354-386);
  *  4. exclude is equality-only (vector_database.py:320-352);
  *  5. unknown operator ⇒ IllegalArgumentException "Invalid operator: $op"
  *     (vector_database.py:174-175);
  *  6. `$in` is reversed membership: filter value ∈ metadata list value
  *     (vector_database.py:172).
  *
  * Everything compiles to one boolean `Column` — Catalyst sees a single
  * Filter node and can simplify/short-circuit it; at the storage layer the
  * predicate is a map lookup + comparison, no JSON parsing.
  */
object FilterDsl {
  import MetaValue._

  type MetaFilter = Map[String, FilterValue]

  val ValidOps: Set[String] = Set("$gt", "$gte", "$lt", "$lte", "$ne", "$in")

  /** Fragment of `key` in the kv map (null when the key is absent). */
  private def frag(kv: Column, key: String): Column = element_at(kv, key)

  /** Canonical JSON string fragment → raw string (null for non-strings). */
  private def decodeStr(f: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      graft.functions.JsonStrDecodeExpr(
        org.apache.spark.sql.graft.Bridge.expression(f)))

  private def present(kv: Column, key: String): Column = frag(kv, key).isNotNull

  /** Type-strict equality, mirroring Python `==` on heterogeneous values:
    * numbers compare numerically across int/float; strings/bools/lists
    * compare only against their own type (a quoted fragment never casts to
    * double, so the cast-null path rejects cross-type matches).
    *
    * Numeric comparands are bound (`param`), never inlined, here and in
    * [[cmpPred]], so filters that differ only in their constants share
    * compiled code; string comparands already reach it as references.
    */
  private def eqPred(kv: Column, key: String, v: MetaValue): Column = {
    val f = frag(kv, key)
    // try_cast: non-numeric fragments (quoted strings, bools) become null —
    // the comparison is then null ⇒ row filtered, matching Python `==` being
    // False across types (ANSI cast would instead throw).
    if (isNumeric(v)) f.try_cast("double") === param(numeric(v))
    else f === lit(v.enc)
  }

  private def cmpPred(kv: Column, key: String, op: String, v: MetaValue): Column = {
    val f = frag(kv, key)
    def cmp(l: Column, r: Column): Column = op match {
      case "$gt" => l > r
      case "$gte" => l >= r
      case "$lt" => l < r
      case "$lte" => l <= r
    }
    op match {
      case "$ne" =>
        // key must be present; value may be of any other type (Python
        // `"x" != 10` is True) — hence present AND NOT(strict-eq).
        present(kv, key) && !eqPred(kv, key, v)
      case "$in" =>
        // filter value ∈ metadata list; elements compared on canonical
        // fragments (type-strict).
        array_contains(JsonMeta.jsonArr(f), lit(v.enc))
      case "$gt" | "$gte" | "$lt" | "$lte" =>
        if (isNumeric(v)) cmp(f.try_cast("double"), param(numeric(v)))
        else v match {
          case MStr(raw) =>
            // String (incl. ISO-8601 datetime) ordering on RAW strings, as
            // the reference compares them (vector_database.py:166-173):
            // the fragment decodes to its raw value first — fragment
            // lexicographic order diverges once escape sequences appear
            // (a quote encodes as `\"`, sorting as backslash). The decode
            // kernel returns null for non-string fragments, which is also
            // the type gate (null comparison ⇒ row filtered).
            cmp(decodeStr(f), lit(raw))
          case _ =>
            // non-string non-numeric literal (bool/list): keep the fragment
            // comparison — the reference would raise TypeError here, a shape
            // its own tests never exercise
            f.startsWith("\"") && cmp(f, lit(v.enc))
        }
      case other =>
        throw new IllegalArgumentException(s"Invalid operator: $other")
    }
  }

  private def keyPred(kv: Column, key: String, fv: FilterValue): Column = fv match {
    case Eq(v) => eqPred(kv, key, v)
    case Ops(ops) =>
      ops.foreach { case (op, _) =>
        if (!ValidOps.contains(op)) throw new IllegalArgumentException(s"Invalid operator: $op")
      }
      ops.map { case (op, v) => cmpPred(kv, key, op, v) }.reduce(_ && _)
  }

  /** AND-semantics filter (list of dicts; keys conjoined). */
  def compileAnd(kv: Column, filters: Seq[MetaFilter]): Column =
    filters.flatMap(_.toSeq).map { case (k, fv) => keyPred(kv, k, fv) }
      .reduceOption(_ && _).getOrElse(lit(true))

  /** OR-semantics filter (keys within a dict and across dicts unioned);
    * empty dicts are dropped (vector_database.py:371-373).
    */
  def compileOr(kv: Column, filters: Seq[MetaFilter]): Column = {
    val nonEmpty = filters.filter(_.nonEmpty)
    nonEmpty.flatMap(_.toSeq).map { case (k, fv) => keyPred(kv, k, fv) }
      .reduceOption(_ || _).getOrElse(lit(true))
  }

  /** Equality-only exclude (operator dicts can never match in the reference —
    * they're compared with `==` against the raw dict — so the typed API only
    * admits values).
    */
  def compileExclude(kv: Column, excludes: Seq[Map[String, MetaValue]]): Column =
    excludes.flatMap(_.toSeq).map { case (k, v) => eqPred(kv, k, v) }
      .reduceOption(_ || _).map(!_).getOrElse(lit(true))

  /** Full composition: (AND) ∩ (OR) − (EXCLUDE) as one predicate Column. */
  def compile(
      kv: Column,
      andFilters: Seq[MetaFilter] = Nil,
      orFilters: Seq[MetaFilter] = Nil,
      excludeFilters: Seq[Map[String, MetaValue]] = Nil): Column =
    compileAnd(kv, andFilters) && compileOr(kv, orFilters) && compileExclude(kv, excludeFilters)
}
