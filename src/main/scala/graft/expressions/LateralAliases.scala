package graft.expressions

import org.apache.spark.sql.catalyst.analysis.{AnalysisContext, FunctionRegistry, UnresolvedAttribute, UnresolvedException, UnresolvedFunction}
import org.apache.spark.sql.catalyst.expressions.{Alias, Expression, LeafExpression, NamedExpression, SubqueryExpression, Unevaluable, WindowExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, AggregateFunction}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.DataType

/** A bare reference to a select-list alias in a place Spark resolves no
  * lateral alias. [[ResolveLateralAliases]] turns it back into a plain
  * column reference when a column of that name is in scope, else into
  * `definition`. The definition is a field, not a child, so no other
  * analyzer rule resolves it in place.
  */
case class LateralAliasRef(name: String, definition: Expression)
    extends LeafExpression with Unevaluable {
  override lazy val resolved: Boolean = false
  override def dataType: DataType = throw new UnresolvedException("dataType")
  override def nullable: Boolean = throw new UnresolvedException("nullable")
}

/** Redshift reads a select-list alias where Spark reads none: inside
  * window expressions (`8_monitoring/gdpr/gdpr_personal_info.sql:23`), in
  * the WHERE of the same select, and in the WHERE of a correlated
  * subquery of a later item (`1_ods_core/00_allocation.sql:784`). Spark
  * rejects the window case while it resolves the select
  * (LATERAL_COLUMN_ALIAS_IN_WINDOW), before any injected resolution rule
  * runs, so this rule runs in the Hints batch, ahead of Resolution, and
  * only marks such references as [[LateralAliasRef]]s.
  *
  * A window reads the aliases defined EARLIER in its list; a WHERE reads
  * those of its select that neither aggregate nor window (Redshift reads
  * the source column there, `11_marketing_reporting/
  * marketing.v_user_price_drop.sql:330`). Each stored definition has its
  * own earlier references marked, so alias chains inline fully. Plain
  * select-list references are left to Spark's lateral alias resolution.
  */
object MarkLateralAliases extends Rule[LogicalPlan] {
  private type Defs = Vector[(String, Expression)]

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperators {
    case p: Project if !p.resolved =>
      val (list, child) = mark(p.projectList, p.child)
      p.copy(projectList = list, child = child)
    case a: Aggregate if !a.resolved =>
      val (list, child) = mark(a.aggregateExpressions, a.child)
      a.copy(aggregateExpressions = list, child = child)
  }

  private def mark(list: Seq[NamedExpression], child: LogicalPlan)
      : (Seq[NamedExpression], LogicalPlan) = {
    var defs: Defs = Vector.empty
    val marked = list.map { item =>
      val m = item.transformDown {
        case w: WindowExpression => refs(w, defs)
        case s: SubqueryExpression =>
          // the subquery's own aliases first: they shadow the outer ones
          s.withNewPlan(apply(s.plan).resolveOperators {
            case f: Filter => f.copy(condition = refs(f.condition, defs, plainOnly = true))
          })
      }
      item match {
        case Alias(e, name) => defs :+= name -> refs(e, defs)
        case _ =>
      }
      m.asInstanceOf[NamedExpression]
    }
    (marked, child match {
      case f: Filter => f.copy(condition = refs(f.condition, defs, plainOnly = true))
      case c => c
    })
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

  private def aggregates(e: Expression): Boolean = e.exists {
    case _: WindowExpression | _: AggregateExpression => true
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
  * definition otherwise. Native resolution wins, which also reads the
  * source column for a self-shadowed `date_trunc('week', created_at) AS
  * created_at`.
  */
object ResolveLateralAliases extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperatorsUp {
    case p if p.childrenResolved && p.expressions.exists(_.exists(_.isInstanceOf[LateralAliasRef])) =>
      val scopes = p +: AnalysisContext.get.outerPlan.toSeq
      p.transformExpressions {
        case r: LateralAliasRef =>
          if (scopes.exists(_.resolveChildren(Seq(r.name), conf.resolver).isDefined))
            UnresolvedAttribute(Seq(r.name))
          else r.definition
      }
  }
}
