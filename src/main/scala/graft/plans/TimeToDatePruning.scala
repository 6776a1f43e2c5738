package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{DateType, TimestampNTZType}

/** P2 — derive `date` partition bounds from raw `timestamp` predicates
  * (reference `/root/reference/src/optimizers/mod.rs:90-167`, shape tests
  * `:218-331`).
  *
  * GraftTable partitions by `(project_id, date)` where `date` is generated
  * from the event-time column at append time. Partition pruning only sees
  * `date` predicates — a dashboard query filtering only
  * `timestamp >= now() - 1h` would list and open every date directory of
  * the tenant and rely on parquet row-group stats to discard them. At fleet
  * scale (years of daily partitions × thousands of tenants) that listing IS
  * the query cost; the reference hit exactly this as a prod OOM (a
  * timestamp-windowed UPDATE scanning all 2704 partitions, the regression
  * its `monoscope_update_predicate_gains_date_partition_bounds` test pins).
  *
  * For every AND-conjunct of a [[Filter]] sitting on a registered scan:
  *
  *   - `ts >[=] L`  →  `date >= to_date(L)`
  *   - `ts <[=] L`  →  `date <= to_date(L)`  (strict `<` still derives an
  *     inclusive date bound: the boundary day may hold earlier rows)
  *   - `ts = L`     →  `date = to_date(L)`
  *   - swapped operand order and cast-wrapped columns/literals unwrap the
  *     same way the reference's `unwrap_literal`/`is_col_through_cast` do —
  *     extended-protocol parameter binding wraps bounds in `Cast(Literal)`,
  *     and missing that shape silently disables pruning (the reference's
  *     2026-07-20 prod finding).
  *
  * The derived bounds are necessary conditions of the timestamp bounds, so
  * ANDing them never excludes a matching row; `BETWEEN` needs no special
  * case because the parser desugars it into the conjuncts above. Only
  * `TimestampNTZType` comparisons derive bounds — engine time columns are
  * naive UTC end-to-end (SURVEY §1.2), and a zoned timestamp's date would
  * depend on the session time zone.
  *
  * Scale note: the rule fires once per scan leg of the version-dir union,
  * so every leg of a merge-on-read stack prunes independently. Idempotent
  * (derived conjuncts already present are not re-added), so it is safe in
  * fixed-point batches.
  */
object TimeToDatePruning extends Rule[LogicalPlan] {

  /** Root path → declared time column. Registered by [[graft.sources.GraftTable]]
    * on construction; prefix-matched against scan root paths (version dirs
    * live under the table root). */
  private val roots = new java.util.concurrent.ConcurrentHashMap[String, String]()

  def register(pathPrefix: String, timeColumn: String): Unit =
    roots.put(normalize(pathPrefix), timeColumn)

  private def normalize(p: String): String =
    p.replaceFirst("^file:", "").stripSuffix("/")

  private def timeColumnFor(rel: HadoopFsRelation): Option[String] = {
    val paths = rel.location.rootPaths.map(p => normalize(p.toString))
    val it = roots.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (paths.exists(_.startsWith(e.getKey))) return Some(e.getValue)
    }
    None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, rel @ LogicalRelation(fsRel: HadoopFsRelation, _, _, _, _)) =>
      timeColumnFor(fsRel) match {
        case None => f
        case Some(timeCol) =>
          // `date` must be a PARTITION column of this scan: a direct file
          // read (no partition discovery, e.g. CountFastPath's boundary
          // scan) surfaces `date` as an all-null DATA column, and a derived
          // bound on it would null out every row. As a partition column it
          // is null only when the row's event time is null — and a null
          // time fails the originating timestamp predicate anyway, so the
          // derived bound never excludes a surviving row.
          val isPartitionCol = fsRel.partitionSchema
            .exists(f => f.name == "date" && f.dataType == DateType)
          rel.output.find(a => isPartitionCol && a.name == "date" &&
              a.dataType == DateType) match {
            case None => f
            case Some(dateAttr) =>
              val conjuncts = splitConjunctivePredicates(cond)
              val derived = conjuncts
                .flatMap(c => deriveDateBound(c, timeCol, dateAttr))
                .filterNot(d => conjuncts.exists(_.semanticEquals(d)))
                .distinct
              if (derived.isEmpty) f
              else Filter((conjuncts ++ derived).reduce(And), rel)
          }
      }
  }

  private def splitConjunctivePredicates(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjunctivePredicates(l) ++ splitConjunctivePredicates(r)
    case other => Seq(other)
  }

  /** Is `e` the declared time column, possibly wrapped in casts? */
  private def isTimeCol(e: Expression, timeCol: String): Boolean = e match {
    case a: AttributeReference => a.name == timeCol
    case c: Cast => isTimeCol(c.child, timeCol)
    case _ => false
  }

  /** Foldable naive-timestamp side → epoch day of its value. */
  private def literalDay(e: Expression): Option[Int] =
    if (e.foldable && e.dataType == TimestampNTZType)
      Option(e.eval(EmptyRow)).map(m =>
        Math.floorDiv(m.asInstanceOf[Long], 86400000000L).toInt)
    else None

  private def deriveDateBound(conjunct: Expression, timeCol: String,
      dateAttr: Attribute): Option[Expression] = {
    def bound(lit: Expression, mk: (Attribute, Literal) => Expression) =
      literalDay(lit).map(d => mk(dateAttr, Literal(d, DateType)))
    conjunct match {
      case GreaterThan(t, l) if isTimeCol(t, timeCol) => bound(l, GreaterThanOrEqual(_, _))
      case GreaterThanOrEqual(t, l) if isTimeCol(t, timeCol) => bound(l, GreaterThanOrEqual(_, _))
      case LessThan(t, l) if isTimeCol(t, timeCol) => bound(l, LessThanOrEqual(_, _))
      case LessThanOrEqual(t, l) if isTimeCol(t, timeCol) => bound(l, LessThanOrEqual(_, _))
      case EqualTo(t, l) if isTimeCol(t, timeCol) => bound(l, EqualTo(_, _))
      // swapped operand order: `lit < ts` ≡ `ts > lit`
      case GreaterThan(l, t) if isTimeCol(t, timeCol) => bound(l, LessThanOrEqual(_, _))
      case GreaterThanOrEqual(l, t) if isTimeCol(t, timeCol) => bound(l, LessThanOrEqual(_, _))
      case LessThan(l, t) if isTimeCol(t, timeCol) => bound(l, GreaterThanOrEqual(_, _))
      case LessThanOrEqual(l, t) if isTimeCol(t, timeCol) => bound(l, GreaterThanOrEqual(_, _))
      case EqualTo(l, t) if isTimeCol(t, timeCol) => bound(l, EqualTo(_, _))
      case _ => None
    }
  }
}
