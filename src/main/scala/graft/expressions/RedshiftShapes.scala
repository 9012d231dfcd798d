package graft.expressions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAlias, UnresolvedAttribute, UnresolvedFunction, UnresolvedOrdinal, UnresolvedRelation, UnresolvedStar}
import org.apache.spark.sql.catalyst.expressions.{Alias, Cast, Descending, Expression, IntegerLiteral, NamedExpression, ScalarSubquery, UnresolvedWindowExpression, WindowExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, AggregateFunction, First}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Distinct, GlobalLimit, LocalLimit, LogicalPlan, Project, Sort, SubqueryAlias}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern._

/** Redshift query shapes Spark rejects, rewritten on the unresolved plan,
  * before Resolution (the Hints batch, as [[MarkLateralAliases]]). Each
  * case rewrites only a shape Spark's analyzer fails on, so a query Spark
  * accepts, DataFrame queries included, is never changed.
  *
  * - Default column name. Redshift names an unaliased function item after
  *   the function: `(SELECT g, min(created_at)::date … ) AS s` exposes
  *   `s.min` (`4_dwh_core/v_weekly_cs_reporting.sql:8-11`). When a query
  *   reads `q.f` and derived table `q` has no column `f` but an unaliased
  *   call of `f`, possibly under a cast, the first such item is named `f`.
  * - `SELECT *` (or `b.*`) with GROUP BY ordinals
  *   (`2_ods_catman/00_product_live_feed.sql:99-102`). Redshift accepts it
  *   only when the ordinals cover every starred column, so with a plain
  *   aggregate in the list (not the function of a window) it is GROUP BY
  *   ALL (`4_dwh_catman/purchase_discount_report.sql:122-129`), and
  *   without one it de-duplicates rows, a DISTINCT
  *   (`4_dwh_catman/widget_0_feed.sql:121-135`). What aggregates is asked
  *   of the session's function registry.
  * - A correlated `(SELECT x … ORDER BY k [ASC|DESC] LIMIT 1)` whose key
  *   reads a qualifier that is none of the subquery's own FROM aliases
  *   (`1_ods_core/00_allocation.sql:251-258`). Spark forbids the outer
  *   reference there; the subquery becomes `(SELECT min_by(x, k) …)`, or
  *   `max_by` for DESC, which Spark decorrelates. A key
  *   `datediff_rs(u, a, b)` with exactly one inner argument is monotone in
  *   it once the outer one is fixed, so the key collapses to that argument,
  *   the direction flipped when it is `a` (minimising `b − a` maximises
  *   `a`). min_by and max_by skip NULL keys, as Redshift's ASC NULLS LAST
  *   `LIMIT 1` does. An inner-only key stays as written: Spark accepts it.
  */
case class MarkRedshiftShapes(session: SparkSession) extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = {
    val grouped =
      if (plan.containsAllPatterns(AGGREGATE, UNRESOLVED_ORDINAL)) starGroupBy(plan) else plan
    val named =
      if (grouped.containsAllPatterns(SUBQUERY_ALIAS, UNRESOLVED_ALIAS)) defaultColumns(grouped)
      else grouped
    if (named.containsPattern(SCALAR_SUBQUERY)) named.resolveOperatorsWithPruning(
        _.containsPattern(SCALAR_SUBQUERY)) {
      case p => p.transformExpressionsWithPruning(_.containsPattern(SCALAR_SUBQUERY)) {
        case s: ScalarSubquery => limit1(s.plan).fold[Expression](s)(s.withNewPlan)
      }
    } else named
  }

  private def starGroupBy(plan: LogicalPlan): LogicalPlan = {
    def starOrdinals(a: Aggregate) = a.groupingExpressions.nonEmpty &&
      a.groupingExpressions.forall(_.isInstanceOf[UnresolvedOrdinal]) &&
      a.aggregateExpressions.exists(_.isInstanceOf[UnresolvedStar])
    def grouping(a: Aggregate) = a.aggregateExpressions.exists(plainAggregate)
    plan.resolveOperators {
      case d @ Distinct(a: Aggregate) if starOrdinals(a) && !grouping(a) =>
        d.copy(child = Project(a.aggregateExpressions, a.child))
      case a: Aggregate if starOrdinals(a) =>
        if (grouping(a)) a.copy(groupingExpressions = Seq(UnresolvedAttribute("ALL")))
        else Distinct(Project(a.aggregateExpressions, a.child))
    }
  }

  /** An aggregate call that is not the function of a window. */
  private def plainAggregate(e: Expression): Boolean = e match {
    case WindowExpression(f, spec) => (f.children ++ spec.children).exists(plainAggregate)
    case UnresolvedWindowExpression(f, _) => f.children.exists(plainAggregate)
    case f: UnresolvedFunction if f.orderingWithinGroup.nonEmpty || isAggregate(f) => true
    case _ => e.children.exists(plainAggregate)
  }

  private def isAggregate(f: UnresolvedFunction): Boolean =
    session.sessionState.functionRegistry.lookupFunction(FunctionIdentifier(f.nameParts.last))
      .flatMap(info => scala.util.Try(Class.forName(info.getClassName)).toOption)
      .exists(classOf[AggregateFunction].isAssignableFrom)

  private def defaultColumns(plan: LogicalPlan): LogicalPlan = {
    val reads = plan.collectWithSubqueries { case p =>
      p.expressions.flatMap(_.collect { case UnresolvedAttribute(Seq(q, c)) => (q, c) })
    }.flatten
    if (reads.isEmpty) return plan
    def fnName(e: Expression): Option[String] = e match {
      case c: Cast => fnName(c.child)
      case f: UnresolvedFunction => Some(f.nameParts.last.toLowerCase)
      case _ => None
    }
    // the list with the default names `reads` asks for, if any
    def named(alias: String, list: Seq[NamedExpression]): Option[Seq[NamedExpression]] =
      if (list.exists(_.isInstanceOf[UnresolvedStar])) None
      else {
        val taken = collection.mutable.Set(list.collect {
          case Alias(_, n) => n.toLowerCase
          case u: UnresolvedAttribute => u.nameParts.last.toLowerCase
        }: _*)
        val out = list.map {
          case u @ UnresolvedAlias(e, _) => fnName(e)
            .filter(n => !taken(n) && reads.exists(r => conf.resolver(r._1, alias) && conf.resolver(r._2, n)))
            .fold[NamedExpression](u) { n => taken += n; Alias(e, n)() }
          case item => item
        }
        Some(out).filter(_ != list)
      }
    plan.resolveOperatorsWithPruning(_.containsPattern(UNRESOLVED_ALIAS)) {
      case a @ SubqueryAlias(id, p: Project) =>
        named(id.name, p.projectList).fold[LogicalPlan](a)(l => a.copy(child = p.copy(projectList = l)))
      case a @ SubqueryAlias(id, g: Aggregate) =>
        named(id.name, g.aggregateExpressions)
          .fold[LogicalPlan](a)(l => a.copy(child = g.copy(aggregateExpressions = l)))
    }
  }

  /** The min_by/max_by form of a one-item `ORDER BY k LIMIT 1` subquery
    * whose key reads an outer qualifier.
    */
  private def limit1(plan: LogicalPlan): Option[LogicalPlan] = plan match {
    case GlobalLimit(IntegerLiteral(1), LocalLimit(IntegerLiteral(1),
        Sort(Seq(order), true, Project(Seq(item), from), _))) if !item.isInstanceOf[UnresolvedStar] =>
      val own = from.collect {
        case SubqueryAlias(id, _) => id.name.toLowerCase
        case r: UnresolvedRelation => r.multipartIdentifier.last.toLowerCase
      }.toSet
      def qualifiers(e: Expression) =
        e.collect { case UnresolvedAttribute(parts) if parts.size > 1 => parts.init.last.toLowerCase }
      def inner(e: Expression) = qualifiers(e).nonEmpty && qualifiers(e).forall(own)
      if (qualifiers(order.child).forall(own)) None
      else {
        val (key, desc) = order.child match {
          case f: UnresolvedFunction if f.nameParts.last.equalsIgnoreCase("datediff_rs") &&
              f.arguments.size == 3 =>
            val Seq(_, a, b) = f.arguments
            if (inner(a) && !inner(b)) (a, order.direction != Descending)
            else if (inner(b) && !inner(a)) (b, order.direction == Descending)
            else (f, order.direction == Descending)
          case k => (k, order.direction == Descending)
        }
        val value = item match {
          case a: Alias => a.child
          case u: UnresolvedAlias => u.child
          case e => e
        }
        val pick = UnresolvedFunction(if (desc) "max_by" else "min_by", Seq(value, key), isDistinct = false)
        Some(Aggregate(Nil, Seq(UnresolvedAlias(pick)), from))
      }
    case _ => None
  }
}

/** Resolution-batch half of [[MarkRedshiftShapes]], for the shapes only
  * the resolved children tell.
  *
  * - ORDER BY over a DISTINCT it cannot resolve through: Spark adds no
  *   missing input column below a DISTINCT, where Redshift resolves it.
  *   A qualified key `q.c` names the DISTINCT's only output column `c`
  *   (`4_dwh_core/monthly_reporting_historical.sql:43`). A DISTINCT over a
  *   GROUP BY whose every key it outputs removes nothing, so it goes, and
  *   Spark resolves `ORDER BY count(DISTINCT v)` on the aggregate
  *   (`7_snowplow/1_page_view/10_url_mapping.sql:21`). A Sort that is the
  *   whole body of a derived table, CTE or view (no LIMIT or OFFSET above
  *   it) orders nothing a reader sees, so with a key the DISTINCT's input
  *   has and its output lacks it goes
  *   (`91_External/Braze/SQL/custom_subscription_attributes.sql:23`).
  * - A correlated scalar subquery in a grouped select, neither grouped nor
  *   aggregated (`13_finance_reporting/dm_finance.v_asset_yield_report
  *   .sql:10-14`). When every outer column it reads is a grouping key its
  *   value is constant per group, and `first(…)` of it is exact; otherwise
  *   Spark's error stands, as Redshift's does.
  */
object ResolveRedshiftShapes extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = {
    val sorted =
      if (plan.containsAllPatterns(SORT, DISTINCT_LIKE)) plan.resolveOperatorsUp {
        case s @ Sort(order, _, d: Distinct, _) if !s.resolved && d.resolved =>
          val named = s.transformExpressions {
            case u: UnresolvedAttribute if u.nameParts.size > 1 && !resolves(d, u) =>
              d.output.filter(a => conf.resolver(a.name, u.nameParts.last)) match {
                case Seq(a) => a
                case _ => u
              }
          }
          d.child match {
            case a: Aggregate if named == s && unresolved(order).exists(!resolves(d, _)) &&
                a.groupingExpressions.forall(g => a.aggregateExpressions.exists {
                  case Alias(e, _) => e.semanticEquals(g)
                  case e => e.semanticEquals(g)
                }) => s.copy(child = a)
            case _ => named
          }
        case a @ SubqueryAlias(_, s @ Sort(order, _, d: Distinct, _)) if !s.resolved && d.resolved &&
            unresolved(order).exists(!resolves(d, _)) &&
            unresolved(order).forall(u => resolves(d, u) ||
              d.child.resolveChildren(u.nameParts, conf.resolver).isDefined) =>
          a.copy(child = d)
      } else plan
    if (sorted.containsAllPatterns(AGGREGATE, SCALAR_SUBQUERY)) sorted.resolveOperatorsUp {
      case a: Aggregate if a.resolved =>
        def grouped(e: Expression) = a.groupingExpressions.exists(_.semanticEquals(e))
        def first(e: Expression): Expression = e match {
          case _: AggregateExpression => e
          case _ if grouped(e) => e
          case s: ScalarSubquery if s.outerAttrs.nonEmpty && s.outerAttrs.forall(grouped) =>
            First(s, ignoreNulls = false).toAggregateExpression()
          case _ => e.mapChildren(first)
        }
        val list = a.aggregateExpressions.map(first(_).asInstanceOf[NamedExpression])
        if (list == a.aggregateExpressions) a else a.copy(aggregateExpressions = list)
    } else sorted
  }

  private def unresolved(order: Seq[Expression]): Seq[UnresolvedAttribute] =
    order.flatMap(_.collect { case u: UnresolvedAttribute => u })

  private def resolves(p: LogicalPlan, u: UnresolvedAttribute): Boolean =
    p.resolve(u.nameParts, conf.resolver).isDefined
}
