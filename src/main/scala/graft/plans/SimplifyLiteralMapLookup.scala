package graft.plans

import graft.functions.BoundParam
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern
import org.apache.spark.sql.types._

/** Catalyst optimizer rule making literal-keyed metadata maps transparent to
  * predicate pushdown.
  *
  * The store's typed ingest path ([[graft.sources.VectorStore.fromEmbeddingsTable]])
  * builds `metadata_kv` as `map(lit("label"), cast(label AS string))` — a
  * literal-keyed map over typed source columns. Every metadata predicate the
  * filter DSL compiles is then `element_at(metadata_kv, 'key') <op> lit`,
  * which — without this rule — evaluates the map construction per row AFTER
  * the scan: `PushedFilters: []`, full-corpus read. At 100 TB the filtered
  * search (reference `find_most_similar` + metadata_filter,
  * /root/reference/minivectordb/vector_database.py:481-523) must instead
  * prune at the Parquet scan.
  *
  * Two rewrites, each semantics-preserving on its own:
  *
  *  1. `element_at(map(k₁, v₁, …, kₙ, vₙ), k)` where every `kᵢ` and `k` are
  *     literals and `k = kᵢ` for exactly one `i`  ⇒  `vᵢ`.
  *     (Key ABSENT from the literal keys is left alone — `element_at`'s
  *     missing-key behavior, whatever the session's eval mode makes it, is
  *     preserved by not rewriting.)
  *  2. `cast(cast(e AS string) AS double)` with `e` integral  ⇒
  *     `cast(e AS double)`. An integral's decimal string re-parses to the
  *     exact same double that direct widening produces (int/long → nearest
  *     double either way), in every eval mode (TRY included: integral
  *     strings always parse). NOT valid for fractional sources — float's
  *     shortest-round-trip string parses to a different double than direct
  *     widening — so the guard is integral-only.
  *
  *  3. In a `Filter`, a comparison of a column (or of an integral column's
  *     cast) with a [[graft.functions.BoundParam]] compares with the same
  *     value as a `Literal`. The filter DSL binds its numeric constants so
  *     that generated code is shared across requests, but once (1)+(2)
  *     expose a stored column, only a literal pushes to the scan: pruning
  *     wins over class reuse there. Projections keep their bound values.
  *
  * After (1)-(3) the flagship filtered-search predicate collapses to
  * `cast(label AS double) = 3.0`, which Spark's own
  * `UnwrapCastInBinaryComparison` turns into `label = 3` — a plain pushable
  * Parquet filter (row-group stats skip + partition pruning when the key is
  * a partition column).
  *
  * Mounting: `injectOptimizerRule` (GraftExtensions) — these run inside the
  * fixed-point operator-optimization batch, so they interleave with
  * `PushDownPredicates` (which first substitutes the projected map into the
  * filter condition) and `UnwrapCastInBinaryComparison` (which finishes the
  * job) until the predicate reaches the scan.
  */
object SimplifyLiteralMapLookup extends Rule[LogicalPlan] {

  private def integral(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** The single value expression whose literal key equals `key`, if the map
    * is fully literal-keyed and exactly one key matches.
    */
  private def lookup(m: CreateMap, key: Literal): Option[Expression] = {
    val keys = m.keys
    if (!keys.forall(_.isInstanceOf[Literal])) return None
    val hits = keys.zipWithIndex.collect {
      case (k: Literal, i) if k.semanticEquals(key) => i
    }
    hits match {
      case Seq(i) => Some(m.values(i))
      case _ => None // absent (preserve eval-mode behavior) or duplicate keys
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    unbindColumnFilters(simplifyLookups(plan))

  private def onColumn(e: Expression): Boolean = e match {
    case _: Attribute => true
    case Cast(a: Attribute, _, _, _) => integral(a.dataType)
    case _ => false
  }

  private def unbindColumnFilters(plan: LogicalPlan): LogicalPlan =
    plan.transformWithPruning(_.containsPattern(TreePattern.FILTER)) {
      case f: Filter => f.transformExpressions {
        case c @ BinaryComparison(l, p: BoundParam) if onColumn(l) =>
          c.withNewChildren(Seq(l, p.literal))
        case c @ BinaryComparison(p: BoundParam, r) if onColumn(r) =>
          c.withNewChildren(Seq(p.literal, r))
      }
    }

  // Prune on CREATE_MAP (not EXTRACT_VALUE): ElementAt declares no
  // nodePatterns in Spark 4.1.2, so an EXTRACT_VALUE-based condition only
  // fired when a Cast happened to sit in the subtree. Both map-lookup
  // rewrites require a CreateMap child, and CreateMap carries CREATE_MAP —
  // that pattern is sound and precise; CAST stays for rewrite (2).
  private def simplifyLookups(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressionsWithPruning(
    _.containsAnyPattern(TreePattern.CREATE_MAP, TreePattern.CAST)) {
    case ea @ ElementAt(m: CreateMap, key: Literal, _, _) =>
      lookup(m, key) match {
        case Some(v) if v.dataType == ea.dataType => v
        case _ => ea
      }
    case gm @ GetMapValue(m: CreateMap, key: Literal) =>
      lookup(m, key) match {
        case Some(v) if v.dataType == gm.dataType => v
        case _ => gm
      }
    case outer @ Cast(Cast(e, StringType, _, _), DoubleType, tz, mode)
        if integral(e.dataType) =>
      Cast(e, DoubleType, tz, mode)
  }
}
