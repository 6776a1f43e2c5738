package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.{GuardedTables, MissingProjectIdException, ProjectIdGuard}
import graft.schema.TableSchemas
import graft.sources.TableResolver

/** Multi-tenant routing (reference `resolve_table`/`resolve_custom_table`,
  * `src/database.rs:3473-3614`): unified-by-default, isolated roots for
  * custom-storage tenants, cached handles, predicate-based routing, and
  * guard integration.
  */
class TableResolverSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def rows(pid: String, n: Int) = {
    import spark.implicits._
    spark.range(n).select(
      lit(pid).as("project_id"),
      (lit("2024-03-01 00:00:00").cast("timestamp_ntz")
        + expr("make_interval(0, 0, 0, 0, 0, id, 0)")).as("timestamp"),
      concat(lit(s"$pid-"), col("id")).as("id"),
      lit("n").as("name"))
  }

  private def freshResolver() = new TableResolver(spark,
    Files.createTempDirectory("graft_resolver_").toString,
    Map("mor_versioned" -> TableSchemas.morVersioned))

  test("same SQL resolves to different roots per tenant") {
    val r = freshResolver()
    val customRoot = Files.createTempDirectory("graft_custom_").toString
    r.registerCustomRoot("9", "mor_versioned", customRoot)

    val t1 = r.resolve("1", "mor_versioned")
    val t9 = r.resolve("9", "mor_versioned")
    assert(t1.root == r.unifiedRoot)
    assert(t9.root == customRoot)

    t1.append(rows("1", 10), Some(java.time.LocalDateTime.of(2024, 3, 2, 0, 0)))
    r.resolve("2", "mor_versioned") // unified: same handle as tenant 1
      .append(rows("2", 5), Some(java.time.LocalDateTime.of(2024, 3, 2, 0, 1)))
    t9.append(rows("9", 7), Some(java.time.LocalDateTime.of(2024, 3, 2, 0, 0)))

    // tenant-scoped reads route correctly in both layouts
    assert(r.read("1", "mor_versioned").count() == 10)
    assert(r.read("2", "mor_versioned").count() == 5)
    assert(r.read("9", "mor_versioned").count() == 7)
  }

  test("custom-root tenant is invisible in unified scans (and vice versa)") {
    val r = freshResolver()
    r.registerCustomRoot("9", "mor_versioned",
      Files.createTempDirectory("graft_custom_").toString)
    r.resolve("1", "mor_versioned")
      .append(rows("1", 4), Some(java.time.LocalDateTime.of(2024, 3, 2, 0, 0)))
    r.resolve("9", "mor_versioned")
      .append(rows("9", 3), Some(java.time.LocalDateTime.of(2024, 3, 2, 0, 0)))

    val unified = r.resolve("1", "mor_versioned").readResolved()
    assert(unified.filter(col("project_id") === "9").count() == 0,
      "isolated tenant must not leak into the unified table")
    val custom = r.resolve("9", "mor_versioned").readResolved()
    assert(custom.filter(col("project_id") =!= "9").count() == 0)
    // a custom-root tenant read never lists unified files at all
    assert(r.read("9", "mor_versioned").inputFiles
      .forall(!_.contains(r.unifiedRoot.split("/").last)))
  }

  test("handles are cached per root; unknown tables fail fast") {
    val r = freshResolver()
    assert(r.resolve("1", "mor_versioned") eq r.resolve("2", "mor_versioned"),
      "unified tenants share one cached handle")
    assert(r.resolve("1", "mor_versioned") eq r.resolve("1", "mor_versioned"))
    intercept[IllegalArgumentException](r.resolve("1", "nope"))
  }

  test("predicate routing extracts project_id like the reference") {
    val r = freshResolver()
    val customRoot = Files.createTempDirectory("graft_custom_").toString
    r.registerCustomRoot("9", "mor_versioned", customRoot)
    r.resolve("9", "mor_versioned")
      .append(rows("9", 3), Some(java.time.LocalDateTime.of(2024, 3, 2, 0, 0)))
    r.resolve("1", "mor_versioned")
      .append(rows("1", 2), Some(java.time.LocalDateTime.of(2024, 3, 2, 0, 0)))

    // AND-conjunct with the tenant on either operand side routes
    assert(r.readFor(col("project_id") === "9" && col("name") === "n",
      "mor_versioned").count() == 3)
    assert(r.readFor(lit("1") === col("project_id"), "mor_versioned").count() == 2)
    // no extractable tenant → strict error, not a cross-tenant scan
    intercept[MissingProjectIdException](
      r.readFor(col("name") === "n", "mor_versioned"))
  }

  test("unified roots are guard-registered at construction") {
    val r = freshResolver()
    val t = r.resolve("1", "mor_versioned")
    t.append(rows("1", 3), Some(java.time.LocalDateTime.of(2024, 3, 2, 0, 0)))
    try {
      intercept[MissingProjectIdException] {
        ProjectIdGuard(t.readRaw().groupBy("name").count().queryExecution.analyzed)
      }
      ProjectIdGuard(r.read("1", "mor_versioned").queryExecution.analyzed)
    } finally GuardedTables.unguard(s"${r.unifiedRoot}/mor_versioned")
  }

  test("maintenance of a guarded resolver table passes the tenant guard; " +
      "an unfiltered user read still throws") {
    val r = freshResolver()
    val t = r.resolve("1", "mor_versioned")
    try {
      // two tenants, two versions each, all on one event date: sweep-dirty
      for (pid <- Seq("1", "2"); k <- 0 until 2)
        t.append(rows(pid, 4 + k), Some(java.time.LocalDateTime.of(2024, 3, 2, 0, k)))
      val swept = t.maintenanceSweep()
      assert(swept.nonEmpty, "the sweep must find the fragmented dates")
      t.compact()
      t.vacuum()
      // compaction kept every tenant's rows: 5 per tenant (the later,
      // larger batch wins the overlapping ids)
      assert(r.read("1", "mor_versioned").count() == 5)
      assert(r.read("2", "mor_versioned").count() == 5)
      assert(t.compactBaseDir().isDefined)
      intercept[MissingProjectIdException](t.readResolved().count())
      intercept[MissingProjectIdException](t.readRaw().count())
    } finally GuardedTables.unguard(s"${r.unifiedRoot}/mor_versioned")
  }
}
