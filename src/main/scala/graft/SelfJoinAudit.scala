package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, ExprId, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, Literal, PredicateHelper, WindowExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, GlobalLimit, Join, LocalLimit, LocalRelation, LogicalPlan, Project, Window}
import org.apache.spark.sql.catalyst.plans.{LeftAnti, LeftSemi}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Registry-wide scale lint for pair-blow-up joins: a Join whose BOTH
  * sides reach the SAME source scan at row level — without crossing an
  * Aggregate (unique keys by construction), a Limit/LocalRelation
  * (bounded), or the capGroups `_gn` window (explicitly df-capped) —
  * is the df² shape that detonates on one hot key at 100 TB (the
  * round-5 shingle-miner verdict). The audit walks every registered
  * query's OPTIMIZED plan (distinct/dropDuplicates have collapsed to
  * Aggregate by then) and reports the uncapped self-joins; the
  * ScaleSpec twin asserts the result equals the curated allowlist, so
  * a new uncapped self-join cannot land without a conscious exemption.
  */
object SelfJoinAudit extends PredicateHelper {

  final case class Result(name: String, uncapped: Int, err: Option[String])

  /** Source scans reachable from `p` at unbounded row-level cardinality:
    * stops at Aggregate / Limit / LocalRelation / the capGroups marker
    * window (an alias named `_gn` — cardinality is bounded by the
    * subsequent df filter).
    */
  private def rowLevelScans(p: LogicalPlan): Set[String] = p match {
    case _: Aggregate | _: GlobalLimit | _: LocalLimit | _: LocalRelation => Set.empty
    case w: Window if w.windowExpressions.exists(_.name == "_gn") => Set.empty
    // the house QUALIFY-count df-cap idiom (the oracle-side mirror of
    // capGroups): Filter(cnt <= literal) directly over the Window that
    // computed cnt = count(*) OVER (PARTITION BY key) — every key keeps
    // at most `literal` rows, so a join through this boundary cannot
    // fan out on a hot key (dedup_max_span's n_occ <= 50 boilerplate
    // cut is this shape)
    case f: Filter if capBoundary(f).isDefined => Set.empty
    case lr: LogicalRelation => lr.relation match {
      case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString).toSet
      case other => Set(other.toString)
    }
    case other => other.children.flatMap(rowLevelScans).toSet
  }

  /** Some(window) when `f` is the count-cap shape: a top-level conjunct
    * of its condition bounds (<= / < a literal) an attribute produced
    * as a full-partition count(*) window over a non-empty partition
    * spec, and that Window is f's child (one interposed Project
    * tolerated).
    */
  private def capBoundary(f: Filter): Option[Window] = {
    val w = f.child match {
      case w: Window => Some(w)
      case Project(_, w: Window) => Some(w)
      case _ => None
    }
    w.filter { win =>
      val capped: Set[ExprId] = win.windowExpressions.collect {
        case a @ Alias(we: WindowExpression, _)
            if (we.windowFunction match {
              case ae: AggregateExpression => ae.aggregateFunction.isInstanceOf[Count]
              case _ => false
            }) && win.partitionSpec.nonEmpty => a.exprId
      }.toSet
      // a TOP-LEVEL conjunct only: under an OR the cap bounds one branch
      // and the other branch passes every row of a hot key
      capped.nonEmpty && splitConjunctivePredicates(f.condition).exists {
        case LessThanOrEqual(a: AttributeReference, Literal(_, _)) => capped(a.exprId)
        case LessThan(a: AttributeReference, Literal(_, _)) => capped(a.exprId)
        case GreaterThanOrEqual(Literal(_, _), a: AttributeReference) => capped(a.exprId)
        case GreaterThan(Literal(_, _), a: AttributeReference) => capped(a.exprId)
        case _ => false
      }
    }
  }

  /** True when both sides of the join reach the same source scan at
    * unbounded row-level cardinality. Semi/anti joins emit at most one
    * row per probe-side row — no pair blow-up is possible, whatever
    * the key distribution — so they never flag.
    */
  def isUncapped(j: Join): Boolean =
    j.joinType != LeftSemi && j.joinType != LeftAnti &&
      rowLevelScans(j.left).intersect(rowLevelScans(j.right)).nonEmpty

  def audit(spark: SparkSession, sfDir: String): Seq[Result] =
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      try {
        var uncapped = 0
        val df = fn(spark, sfDir)
        // Drop cache entries BEFORE the lazy optimizedPlan is computed:
        // builders that persist() shared subtrees would otherwise get an
        // opaque InMemoryRelation substituted at the cache lookup and the
        // persisted subtree would become structurally invisible to the
        // lint (if its capGroups bound were removed, the df² shape could
        // not flag). With the cache cleared, withCachedData substitutes
        // nothing and the full logical subtree stays auditable.
        // (localCheckpoint truncation is different — the lineage is gone
        // by design; eager-checkpointed spines are audited pre-truncation
        // by their builders' own ScaleSpec plan pins.)
        spark.catalog.clearCache()
        df.queryExecution.optimizedPlan.foreach {
          case j: Join if isUncapped(j) => uncapped += 1
          case _ => ()
        }
        Result(name, uncapped, None)
      } catch { case e: Throwable => Result(name, 0, Some(String.valueOf(e.getMessage))) }
    }
}
