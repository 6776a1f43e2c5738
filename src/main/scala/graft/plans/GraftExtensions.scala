package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.{EqualTo, Expression, In, InSet}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Multi-tenant scan guard — the Spark rendering of the reference's
  * mandatory-`project_id`-filter rule
  * (`/root/reference/src/optimizers/mod.rs:192-216`): a query against a
  * guarded table root that carries no `project_id = …` / `project_id IN (…)`
  * predicate anywhere above the scan is rejected when the query is planned,
  * before any job runs. At fleet scale an unfiltered scan is a full-table
  * read across every tenant — the guard turns that bug into an immediate
  * error instead of a 100 TB scan.
  *
  * Not at analysis time: Spark analyzes every DataFrame eagerly, and a
  * table read is built from bare per-version scans that get their
  * `project_id` filter only afterwards, so an analysis check would reject
  * the filtered read too. The optimized plan is the whole query; the rule
  * runs once per optimization, after filters are pushed toward the scans.
  *
  * Roots are registered per-path via [[GuardedTables.guard]]; `date` bounds
  * for timestamp-only predicates are derived separately by
  * [[TimeToDatePruning]] (SURVEY.md §4.1 — generated-column strategy plus
  * the reference's ts→date derivation rule).
  */
object GuardedTables {
  private val roots = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  def guard(pathPrefix: String): Unit = roots.add(normalize(pathPrefix))
  def unguard(pathPrefix: String): Unit = roots.remove(normalize(pathPrefix))
  def count: Int = roots.size()
  def isGuarded(paths: Seq[String]): Boolean = {
    val it = roots.iterator()
    while (it.hasNext) {
      val r = it.next()
      if (paths.exists(p => normalize(p).startsWith(r))) return true
    }
    false
  }
  private def normalize(p: String): String =
    p.replaceFirst("^file:", "").stripSuffix("/")
}

/** Raised when a query whose guarded scan lacks a tenant filter is planned. */
class MissingProjectIdException(msg: String) extends RuntimeException(msg)

/** Every guarded scan must sit under a `project_id` equality/IN filter;
  * returns the plan unchanged. */
object ProjectIdGuard extends Rule[LogicalPlan] {

  // NB: one side may be wrapped in casts (partition-type inference), so we
  // accept any foldable side rather than a bare Literal
  private def referencesProjectId(cond: Expression): Boolean = cond.exists {
    case EqualTo(a, b) if b.foldable =>
      a.references.exists(_.name == "project_id")
    case EqualTo(a, b) if a.foldable =>
      b.references.exists(_.name == "project_id")
    case In(a, vs) if vs.forall(_.foldable) =>
      a.references.exists(_.name == "project_id")
    // the optimizer turns long IN lists into InSet
    case InSet(a, _) => a.references.exists(_.name == "project_id")
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    def walk(p: LogicalPlan, hasFilter: Boolean): Unit = p match {
      case Filter(cond, child) =>
        walk(child, hasFilter || referencesProjectId(cond))
      // a tenant predicate carried in a JOIN condition guards both sides
      // (MERGE/UPDATE…FROM plans put it there, reference src/dml.rs)
      case j: Join =>
        val viaJoin = j.condition.exists(referencesProjectId)
        j.children.foreach(walk(_, hasFilter || viaJoin))
      case rel @ LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
        val paths = fs.location.rootPaths.map(_.toString)
        if (GuardedTables.isGuarded(paths) && !hasFilter)
          throw new MissingProjectIdException(
            s"query against guarded table (${paths.headOption.getOrElse("?")}) " +
              "must filter on project_id (equality or IN list)")
        rel.children.foreach(walk(_, hasFilter))
      case other => other.children.foreach(walk(_, hasFilter))
    }
    walk(plan, hasFilter = false)
    plan
  }
}

/** The one entry point for graft's planner rules: the tenant guard, the
  * deferred expensive projection and the ts→date partition bounds.
  * [[graft.GraftSession.build]] installs it with
  * `.withExtensions(new GraftExtensions)`; a session built elsewhere (a
  * `spark-shell`, `spark-submit`) gets the same rules from
  * `spark.sql.extensions=graft.plans.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectPreCBORule(_ => ProjectIdGuard)
    e.injectOptimizerRule(_ => DeferExpensiveProjection)
    e.injectOptimizerRule(_ => TimeToDatePruning)
  }
}
