package graft.expressions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Redshift's implicit coercions, as one resolution rule. Each case
  * rewrites a node Spark resolves differently from Redshift or rejects
  * outright; a query Spark accepts as Redshift means it (`'12' + 1`
  * adds natively) is never changed.
  *
  * - Date arithmetic. `date - date` is an INT day count
  *   (`1_ods_core/00_allocation.sql:512-516` feeds it into a CASE whose
  *   other branch is `0`), where Spark gives INTERVAL DAY; an integral
  *   operand of `+`/`-` on a timestamp counts days (`date_trunc(…) - 1`,
  *   `9_SPV/Pricing_V2/03_finco_data.sql:14`).
  * - `+` on two strings concatenates when either operand is visibly text:
  *   a non-numeric literal (`c.country + ' - ' + c.channel_type`,
  *   `4_dwh_core/Weekly_monthly_category_performance.sql:129`), a cast
  *   to a string type (`cpro::varchar + cmun::varchar`,
  *   `4_dwh_risk/credit_bureau_spain.sql:28`), a `||`/`concat` chain or
  *   a string function (`'%'+voucher_prefix_code+split_part(…)+'%'`,
  *   `11_marketing_reporting/dm_marketing.v_partnership_reporting.sql:91`).
  *   Otherwise it adds both operands as DOUBLE (`billing_address1 +
  *   billing_address2`, `1_ods_core/01_order.sql:295`), failing at run
  *   time on non-numeric text as Redshift does. `translate` unquotes a
  *   quoted number beside `+`, so `'0' + plz::text` adds
  *   (`1_ods_core/00_customer.sql:61`).
  * - An integral CASE condition tests the value against 0 (`WHEN
  *   om.customer_id_order THEN`, `7_snowplow/2_sessions/Order_Mapping/
  *   4_01_session_table.sql:7`); a NULL condition is not matched.
  * - A boolean compared with an integer literal compares with `false`
  *   for 0 and `true` otherwise (`day_is_last_of_month = 1`, the
  *   `dim_dates` consumers).
  *
  * SubtractDates and the interval forms around it carry no tree pattern,
  * so the rule cannot prune by pattern; it walks only operators not yet
  * analyzed.
  */
object RedshiftCoercions extends Rule[LogicalPlan] {
  private def isTs(t: DataType) = t == TimestampType || t == TimestampNTZType
  private def isIntegral(t: DataType) =
    t == ByteType || t == ShortType || t == IntegerType || t == LongType
  private def isInterval(e: Expression) = e.dataType.isInstanceOf[DayTimeIntervalType]
  private def strings(l: Expression, r: Expression) = l.resolved && r.resolved &&
    l.dataType.isInstanceOf[StringType] && r.dataType.isInstanceOf[StringType]

  private val StringFns: Set[Class[_]] = Set(classOf[Concat], classOf[SplitPart],
    classOf[Lower], classOf[Upper], classOf[StringTrim], classOf[StringTrimLeft],
    classOf[StringTrimRight], classOf[StringTrimBoth], classOf[StringReplace],
    classOf[StringTranslate], classOf[Substring], classOf[StringRepeat],
    classOf[Reverse], classOf[InitCap], classOf[Md5], classOf[RegExpReplace],
    classOf[Chr], classOf[StringRPad], classOf[StringLPad])
  private def isText(e: Expression): Boolean = e match {
    case Literal(s: UTF8String, _) => !s.toString.trim.matches("-?\\d+(\\.\\d+)?")
    case c: Cast => c.dataType.isInstanceOf[StringType]
    case _ => StringFns(e.getClass)
  }

  private def isBoolean(e: Expression) = e.resolved && e.dataType == BooleanType
  private object IntegralLiteral {
    def unapply(e: Expression): Option[Long] = e match {
      case Literal(v: Number, t) if isIntegral(t) => Some(v.longValue)
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveExpressions {
    case SubtractDates(end, start, _) => DateDiff(end, start)
    // by the time the operands resolve, ResolveBinaryArithmetic has
    // specialised `-`/`+` on a timestamp, so match those forms too
    case SubtractTimestamps(l, r, _, _) if l.resolved && r.resolved &&
        isTs(l.dataType) && isIntegral(r.dataType) =>
      TimestampAdd("DAY", UnaryMinus(r), l)
    case Subtract(l, r, _) if l.resolved && r.resolved &&
        isTs(l.dataType) && isIntegral(r.dataType) =>
      TimestampAdd("DAY", UnaryMinus(r), l)
    case Add(l, r, _) if l.resolved && r.resolved &&
        isTs(l.dataType) && isIntegral(r.dataType) =>
      TimestampAdd("DAY", r, l)
    case Add(l, r, _) if l.resolved && r.resolved &&
        isTs(r.dataType) && isIntegral(l.dataType) =>
      TimestampAdd("DAY", l, r)
    // ResolveBinaryArithmetic may have specialised the arithmetic around
    // a date subtraction to interval forms BEFORE it became an INT
    // (`(date - date) / 30`, `9_SPV/Pricing_V2/02_used_asst_price_1.sql:44`;
    // `1 + (date - date) / 30 * 0.03`, `4_dwh_risk/
    // dm_risk.v_asset_value_written_off_and_lost.sql`): walk those back to
    // the numeric operators, or the plan never resolves. `n + interval`
    // resolves as `CAST(TimeAdd(n, interval) AS <n's type>)`; the cast
    // goes too, or it truncates the sum.
    case DivideDTInterval(l, r) if l.resolved && !isInterval(l) => Divide(l, r)
    case MultiplyDTInterval(l, r) if l.resolved && !isInterval(l) => Multiply(l, r)
    case Cast(TimestampAddInterval(l, r, _), _, _, _) if l.resolved && r.resolved &&
        !isTs(l.dataType) && !isInterval(r) => Add(l, r)
    case ExtractANSIIntervalDays(c) if c.resolved && !isInterval(c) => c
    case Add(l, r, _) if strings(l, r) =>
      if (isText(l) || isText(r)) Concat(Seq(l, r))
      else Add(Cast(l, DoubleType), Cast(r, DoubleType))
    case c: CaseWhen if c.branches.exists(b => b._1.resolved && isIntegral(b._1.dataType)) =>
      c.copy(branches = c.branches.map { case (cond, value) =>
        if (cond.resolved && isIntegral(cond.dataType))
          (Not(EqualTo(cond, Literal.default(cond.dataType))), value)
        else (cond, value)
      })
    case EqualTo(b, IntegralLiteral(v)) if isBoolean(b) => EqualTo(b, Literal(v != 0))
    case EqualTo(IntegralLiteral(v), b) if isBoolean(b) => EqualTo(Literal(v != 0), b)
  }
}
