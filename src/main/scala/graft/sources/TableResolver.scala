package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{And, EqualTo, Expression, Literal}
import org.apache.spark.sql.functions.col

import graft.plans.{GuardedTables, MissingProjectIdException}
import graft.schema.TableSchema

/** Multi-tenant table routing — the Spark rendering of the reference's
  * `resolve_table` / `resolve_custom_table` / `resolve_unified_table`
  * (`/root/reference/src/database.rs:3473-3614`):
  *
  *  - by default every tenant shares the UNIFIED table under `unifiedRoot`,
  *    partitioned by `project_id` (one commit log, directory pruning per
  *    tenant);
  *  - a tenant with its own storage config gets an ISOLATED table in its
  *    own root ([[registerCustomRoot]] — the reference's per-project S3
  *    bucket + credentials); its data never appears in unified scans and
  *    vice versa;
  *  - resolved handles are cached per (root, table) — the
  *    `fast_resolve_cache` role. A [[GraftTable]] handle is cheap (paths +
  *    schema), but handle identity keeps the ts→date rule registration
  *    warm instead of re-registering per query (version listings are
  *    memoized per table path, whatever the handle). Commit visibility needs no
  *    refresh protocol here: every read lists the commit-marker dir, so a
  *    cached handle always sees the latest committed version (the
  *    `refresh_cached_table` staleness dance is a delta-handle artifact the
  *    marker log doesn't have).
  *
  * Guard integration: constructing the resolver registers every unified
  * table root with [[GuardedTables]], so sessions running the
  * [[graft.plans.ProjectIdGuard]] rule reject tenant-unscoped scans of
  * shared tables when the query is planned. Custom roots are single-tenant
  * by construction and are not guarded.
  */
class TableResolver(
    val spark: SparkSession,
    val unifiedRoot: String,
    val schemas: Map[String, TableSchema]) {

  schemas.keys.foreach(t => GuardedTables.guard(s"$unifiedRoot/$t"))

  private val customRoots =
    scala.collection.concurrent.TrieMap[(String, String), String]()
  private val handles =
    scala.collection.concurrent.TrieMap[(String, String), GraftTable]()

  /** Give (projectId, table) its own isolated root — the reference's
    * custom storage config (`has_custom_storage`). */
  def registerCustomRoot(projectId: String, table: String, root: String): Unit =
    customRoots.put((projectId, table), root)

  /** The tenant's table handle: custom root when registered, else the
    * unified table. */
  def resolve(projectId: String, table: String): GraftTable = {
    val schema = schemas.getOrElse(table,
      throw new IllegalArgumentException(
        s"unknown table '$table' (known: ${schemas.keys.toSeq.sorted.mkString(", ")})"))
    val root = customRoots.getOrElse((projectId, table), unifiedRoot)
    handles.getOrElseUpdate((root, table), new GraftTable(spark, root, schema))
  }

  /** Tenant-scoped resolved read — route to the tenant's table, then scope
    * rows to the tenant (a custom table may itself hold one project only,
    * but the predicate keeps semantics identical across both layouts). */
  def read(projectId: String, table: String): DataFrame =
    resolve(projectId, table).readResolved()
      .filter(col("project_id") === projectId)

  /** Route a query by the `project_id` literal in its filter — the
    * reference's `extract_project_id_from_expr` used by both the SELECT
    * router and DML (`src/optimizers/mod.rs:170-190`). Strict like the
    * guard: no extractable tenant → error, not a cross-tenant scan. */
  def readFor(filter: Column, table: String): DataFrame = {
    // resolve the Column against an empty relation with the table schema:
    // Spark 4 Column trees are opaque ColumnNodes until analysis, and the
    // analyzed Filter condition is plain catalyst (And/EqualTo) to match on
    val schema = schemas.getOrElse(table,
      throw new IllegalArgumentException(s"unknown table '$table'"))
    val probe = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema.schema)
      .filter(filter)
    val cond = probe.queryExecution.analyzed.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
    }
    val pid = cond.flatMap(TableResolver.projectIdFromFilter).getOrElse(
      throw new MissingProjectIdException(
        s"cannot route query on '$table': no project_id = '…' conjunct in ${filter}"))
    resolve(pid, table).readResolved().filter(filter)
  }
}

object TableResolver {

  /** First `project_id = <literal>` in the AND-conjuncts of `e` (either
    * operand order). `NOT`/`OR` are deliberately not walked — the
    * reference's conservative shape (`extract_project_id_from_expr`):
    * `NOT project_id = 'x'` excludes the tenant, and routing an OR to one
    * side would drop the other's rows. */
  def projectIdFromFilter(e: Expression): Option[String] = e match {
    case And(l, r) => projectIdFromFilter(l).orElse(projectIdFromFilter(r))
    case EqualTo(a, Literal(v, _)) if isProjectId(a) => Some(String.valueOf(v))
    case EqualTo(Literal(v, _), a) if isProjectId(a) => Some(String.valueOf(v))
    case _ => None
  }

  private def isProjectId(e: Expression): Boolean = e match {
    case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
      a.name == "project_id"
    case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
      u.name == "project_id"
    case _ => false
  }
}
