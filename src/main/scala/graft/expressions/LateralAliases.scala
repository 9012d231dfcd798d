package graft.expressions

import org.apache.spark.sql.catalyst.analysis.{AnalysisContext, FunctionRegistry, UnresolvedAttribute, UnresolvedException, UnresolvedFunction, UnresolvedOrdinal}
import org.apache.spark.sql.catalyst.expressions.{Alias, Expression, LeafExpression, NamedExpression, SubqueryExpression, Unevaluable, WindowExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, AggregateFunction}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.DataType

/** A bare reference to a select-list alias in a place Spark resolves no
  * lateral alias. [[ResolveLateralAliases]] turns it back into a plain
  * column reference when a column of that name is in scope, else into
  * `definition`; `overSource` swaps the two, so the alias wins over a
  * source column and Spark's own lateral alias resolution takes the rest.
  * The definition is a field, not a child, so no other analyzer rule
  * resolves it in place.
  */
case class LateralAliasRef(name: String, definition: Expression, overSource: Boolean = false)
    extends LeafExpression with Unevaluable {
  override lazy val resolved: Boolean = false
  override def dataType: DataType = throw new UnresolvedException("dataType")
  override def nullable: Boolean = throw new UnresolvedException("nullable")
}

/** Redshift reads a select-list alias where Spark reads none: inside
  * window expressions (`8_monitoring/gdpr/gdpr_personal_info.sql:23`), in
  * the WHERE of the same select, in the WHERE of a correlated subquery of
  * a later item (`1_ods_core/00_allocation.sql:784`), in an item a GROUP
  * BY ordinal or name picks (`11_marketing_reporting/marketing
  * .marketing_daily_asv_targets.sql:28-39`) and inside an aggregate
  * function. Spark rejects these while it resolves the select
  * (LATERAL_COLUMN_ALIAS_IN_WINDOW, _IN_GROUP_BY, _IN_AGGREGATE_FUNC),
  * before any injected resolution rule runs, so this rule runs in the
  * Hints batch, ahead of Resolution, and only marks such references as
  * [[LateralAliasRef]]s.
  *
  * A window, a GROUP BY key and an aggregate function read the aliases
  * defined EARLIER in their list, a source column of the name winning; a
  * WHERE reads those of its select that neither aggregate nor window
  * (Redshift reads the source column there, `11_marketing_reporting/
  * marketing.v_user_price_drop.sql:330`). In a grouped select, a name
  * that is both an ungrouped source column and an earlier alias reads the
  * alias, unless it is inside an aggregate function (`count(…) AS
  * stock_on_hand, …, stock_on_hand + reserved_count`, `4_dwh_catman/
  * contentful_campaigns.sql:646-656`); so `SUM(v) AS v, v + 1 … GROUP BY
  * g` is `SUM(v) + 1`. A name is grouped when a GROUP BY key reads it.
  * Each stored definition has its own earlier references marked, so alias
  * chains inline fully. Plain select-list references are left to Spark's
  * lateral alias resolution.
  *
  * An exact duplicate alias line (same name, same unresolved expression,
  * `us_debt_collections/sql/last_payment_event.sql:79-80`) is dropped
  * when a later item reads the name, which Spark rejects as ambiguous;
  * the GROUP BY ordinals are renumbered. `SELECT a, a` and an unread
  * duplicate keep their arity.
  */
object MarkLateralAliases extends Rule[LogicalPlan] {
  private type Defs = Vector[(String, Expression)]

  // a node that marks nothing is returned as it is, not as an equal copy
  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperators {
    case p: Project if !p.resolved =>
      val (list, _, child) = mark(p.projectList, p.child, None)
      if (same(list, p.projectList) && (child eq p.child)) p
      else p.copy(projectList = list, child = child)
    case a: Aggregate if !a.resolved =>
      val (list, at, child) = mark(a.aggregateExpressions, a.child, Some(a.groupingExpressions))
      val groups = a.groupingExpressions.map(_.transform {
        case o @ UnresolvedOrdinal(i) => at.lift(i - 1).fold[Expression](o)(p => UnresolvedOrdinal(p + 1))
      })
      if (same(list, a.aggregateExpressions) && same(groups, a.groupingExpressions) && (child eq a.child)) a
      else a.copy(groupingExpressions = groups, aggregateExpressions = list, child = child)
  }

  private def same(a: Seq[Expression], b: Seq[Expression]): Boolean =
    a.length == b.length && a.lazyZip(b).forall(_ eq _)

  /** The marked list, the new position of each original item (a dropped
    * duplicate takes its first copy's), and the marked child.
    */
  private def mark(list: Seq[NamedExpression], child: LogicalPlan, groups: Option[Seq[Expression]])
      : (Seq[NamedExpression], Seq[Int], LogicalPlan) = {
    val copyOf = list.indices.map(i => list(i) match {
      case Alias(e, n) =>
        val first = list.indexWhere {
          case Alias(e2, n2) => conf.resolver(n2, n) && e2 == e
          case _ => false
        }
        lazy val read = list.drop(i + 1).exists(_.exists {
          case UnresolvedAttribute(Seq(m)) => conf.resolver(m, n)
          case _ => false
        })
        if (first < i && read) first else i
      case _ => i
    })
    val kept = list.indices.filter(i => copyOf(i) == i)
    lazy val (keyItems, keyNames) = keys(list, groups.get)
    var defs: Defs = Vector.empty
    val marked = kept.map { i =>
      val m = list(i).transformDown {
        case w: WindowExpression => refs(w, defs)
        case s: SubqueryExpression =>
          // the subquery's own aliases first: they shadow the outer ones
          val plan = apply(s.plan).resolveOperators { case f: Filter => where(f, defs) }
          if (plan eq s.plan) s else s.withNewPlan(plan)
      }
      val g =
        if (groups.isEmpty || defs.isEmpty) m
        else if (keyItems(i)) refs(m, defs)
        else grouped(m, defs, keyNames)
      g match {
        case Alias(e, name) => defs :+= name -> refs(e, defs)
        case _ =>
      }
      g.asInstanceOf[NamedExpression]
    }
    (marked, copyOf.map(kept.indexOf), child match {
      case f: Filter => where(f, defs)
      case c => c
    })
  }

  /** A WHERE with its references to `defs` marked. */
  private def where(f: Filter, defs: Defs): Filter = {
    val condition = refs(f.condition, defs, plainOnly = true)
    if (condition eq f.condition) f else f.copy(condition = condition)
  }

  /** The items a GROUP BY ordinal or alias name picks (all of them under
    * GROUP BY ALL), and the names the keys read.
    */
  private def keys(list: Seq[NamedExpression], groups: Seq[Expression]): (Set[Int], Seq[String]) = {
    val picked = groups.flatMap(_.collect {
      case UnresolvedAttribute(Seq(n)) if groups.size == 1 && n.equalsIgnoreCase("all") => list.indices
      case UnresolvedOrdinal(i) => Seq(i - 1)
      case UnresolvedAttribute(Seq(n)) => list.indices.filter(i => list(i) match {
        case Alias(_, a) => conf.resolver(a, n)
        case _ => false
      })
    }.flatten).toSet
    val names = (groups ++ picked.flatMap(list.lift)).flatMap(_.collect {
      case u: UnresolvedAttribute => u.nameParts.last
      case r: LateralAliasRef => r.name
    })
    (picked, names)
  }

  /** Marks the references of a grouped select's item no GROUP BY key
    * picks: inside an aggregate function as in a window, elsewhere, for a
    * name no key reads, over the source column.
    */
  private def grouped(e: Expression, defs: Defs, keyNames: Seq[String]): Expression = e match {
    case _: WindowExpression | _: SubqueryExpression => e
    case f if isAggregate(f) => refs(f, defs, plainOnly = true)
    case u @ UnresolvedAttribute(Seq(n)) if !keyNames.exists(conf.resolver(_, n)) =>
      defs.findLast(d => conf.resolver(d._1, n))
        .map(d => LateralAliasRef(n, d._2, overSource = true)).getOrElse(u)
    case _ => e.mapChildren(grouped(_, defs, keyNames))
  }

  /** Marks the bare references to `defs`; `plainOnly` (the WHERE cases)
    * skips an alias whose definition aggregates or windows.
    */
  private def refs(e: Expression, defs: Defs, plainOnly: Boolean = false): Expression =
    if (defs.isEmpty) e
    else e.transform {
      case u @ UnresolvedAttribute(Seq(n)) =>
        defs.findLast(d => conf.resolver(d._1, n))
          .filterNot(d => plainOnly && aggregates(d._2))
          .map(d => LateralAliasRef(n, d._2)).getOrElse(u)
    }

  private def aggregates(e: Expression): Boolean =
    e.exists(x => x.isInstanceOf[WindowExpression] || isAggregate(x))

  private def isAggregate(e: Expression): Boolean = e match {
    case _: AggregateExpression => true
    case f: UnresolvedFunction =>
      f.orderingWithinGroup.nonEmpty ||
        FunctionRegistry.expressions.get(f.nameParts.last.toLowerCase).exists { case (info, _) =>
          classOf[AggregateFunction].isAssignableFrom(Class.forName(info.getClassName))
        }
    case _ => false
  }
}

/** Resolution-batch half of [[MarkLateralAliases]]: once an operator's
  * children are resolved, each marked reference goes back to Spark as a
  * plain column reference if a column of that name is in scope — the
  * child's, or in a subquery the outer query's — and becomes the alias's
  * definition otherwise; an `overSource` reference the other way round.
  * Native resolution wins where the source column is valid, which also
  * reads the source column for a self-shadowed `date_trunc('week',
  * created_at) AS created_at`.
  */
object ResolveLateralAliases extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperatorsUp {
    case p if p.childrenResolved && p.expressions.exists(_.exists(_.isInstanceOf[LateralAliasRef])) =>
      val scopes = p +: AnalysisContext.get.outerPlan.toSeq
      p.transformExpressions {
        case r: LateralAliasRef =>
          val inScope = scopes.exists(_.resolveChildren(Seq(r.name), conf.resolver).isDefined)
          if (inScope == r.overSource) r.definition else UnresolvedAttribute(Seq(r.name))
      }
  }
}
