package graft

import java.nio.file.Files
import java.time.{LocalDateTime, ZoneOffset}

import org.apache.spark.sql.TestPins
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftClock
import graft.schema.TableSchemas
import graft.sources.{GraftTable, HotTier}

/** S5 hot tier: write-side demotion, lookback gating, DML invalidation,
  * adaptive waste suppression with cooldown re-probe, and the budget
  * ceiling — every policy state must serve the same resolved answer. */
class HotTierSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val H = 3600L * 1000000 // one hour of micros

  private def micros(t: LocalDateTime): Long =
    t.toInstant(ZoneOffset.UTC).toEpochMilli * 1000L

  private def freshTable(): GraftTable = {
    val dir = Files.createTempDirectory("graft_hot_").toString
    new GraftTable(spark, dir, TableSchemas.morVersioned)
  }

  /** Row i at 2024-03-01 00:00 + i hours. */
  private def hourlyRows(n: Int) = {
    spark.range(n).select(
      (col("id") % 3).cast("string").as("project_id"),
      (lit("2024-03-01 00:00:00").cast("timestamp_ntz")
        + expr("make_interval(0, 0, 0, 0, id, 0, 0)")).as("timestamp"),
      concat(lit("row-"), col("id")).as("id"),
      concat(lit("name-"), col("id") % 4).as("name"))
  }

  private def t0(m: Int) = Some(LocalDateTime.of(2024, 3, 10, 0, m))

  private def names(df: org.apache.spark.sql.DataFrame): Seq[(String, String)] =
    df.select("id", "name").collect().map(r => (r.getString(0), r.getString(1)))
      .toSeq.sorted

  private def withClock[T](t: LocalDateTime)(f: => T): T = {
    GraftClock.set(micros(t))
    try f finally GraftClock.reset()
  }

  /** Ids of the RDDs holding stored blocks in the session. */
  private def stored(): Set[Int] =
    spark.sparkContext.getRDDStorageInfo.map(_.id).toSet

  test("in-window read serves the pinned slice and matches the cold answer") {
    withClock(LocalDateTime.of(2024, 3, 4, 0, 0)) {
      val t = freshTable()
      t.append(hourlyRows(72), t0(0)) // through 2024-03-03 23:00
      val tier = new HotTier(t, retentionMicros = 24 * H)
      assert(tier.demote())
      val hot = tier.read(Some(24 * H))
      val expected = t.readResolved()
        .filter(col("timestamp") >= lit("2024-03-03 00:00:00").cast("timestamp_ntz"))
      assert(hot.count() == 24)
      assert(names(hot) == names(expected))
      assert(tier.stats("hot_served") == 1 && tier.stats("builds") == 1)
    }
  }

  test("lookback past the slice but inside the gate unions the cold gap leg") {
    withClock(LocalDateTime.of(2024, 3, 4, 0, 0)) {
      val t = freshTable()
      t.append(hourlyRows(72), t0(0))
      val tier = new HotTier(t, retentionMicros = 24 * H)
      tier.demote()
      val r = tier.read(Some(40 * H)) // since 2024-03-02 08:00, gate allows ≤48h
      val expected = t.readResolved()
        .filter(col("timestamp") >= lit("2024-03-02 08:00:00").cast("timestamp_ntz"))
      assert(r.count() == 40)
      assert(names(r) == names(expected))
      assert(tier.stats("hot_served") == 1)
    }
  }

  test("deep and unbounded lookbacks skip the tier; retention 0 rejects all") {
    withClock(LocalDateTime.of(2024, 3, 4, 0, 0)) {
      val t = freshTable()
      t.append(hourlyRows(72), t0(0))
      val tier = new HotTier(t, retentionMicros = 24 * H)
      tier.demote()
      assert(tier.read(Some(72 * H)).count() == 72) // > 2×retention
      assert(tier.read(None).count() == 72)
      assert(tier.stats("cold_served") == 2 && tier.stats("hot_served") == 0)
      val off = new HotTier(t, retentionMicros = 0)
      assert(off.skipForLookback(Some(1L)) && off.skipForLookback(None))
    }
  }

  test("DML invalidates the slice; re-demotion serves the new version") {
    withClock(LocalDateTime.of(2024, 3, 4, 0, 0)) {
      val t = freshTable()
      t.append(hourlyRows(72), t0(0))
      val tier = new HotTier(t, retentionMicros = 24 * H)
      tier.demote()
      assert(tier.read(Some(24 * H)).count() == 24)
      t.update(col("id") === "row-70", Map("name" -> lit("renamed")), t0(1))
      // stale slice dropped: this read falls through to cold but is correct
      val afterDml = tier.read(Some(24 * H))
      assert(afterDml.filter(col("name") === "renamed").count() == 1)
      assert(tier.stats("cold_served") == 1)
      assert(tier.demote()) // pin the post-DML version
      val hot = tier.read(Some(24 * H))
      assert(hot.filter(col("name") === "renamed").count() == 1)
      assert(tier.stats("builds") == 2 && tier.stats("hot_served") == 2)
    }
  }

  test("churn without reads convicts; cooldown re-probe recovers") {
    withClock(LocalDateTime.of(2024, 3, 4, 0, 0)) {
      val t = freshTable()
      t.append(hourlyRows(72), t0(0))
      val tier = new HotTier(t, retentionMicros = 24 * H,
        cooldownMicros = 30 * 60 * 1000000L)
      // four builds, each invalidated by an append before any read
      for (i <- 1 to 4) {
        assert(tier.demote())
        t.append(hourlyRows(1).withColumn("id", lit(s"extra-$i")), t0(1 + i))
      }
      assert(!tier.demote()) // fifth call: 4/4 wasted → convicted
      assert(tier.stats("suppressions") == 1 && tier.stats("wasted_builds") == 4)
      assert(tier.stats("suppressed") == 1)
      // reads stay correct (cold) while suppressed
      assert(tier.read(Some(24 * H)).count() ==
        t.readResolved().filter(
          col("timestamp") >= lit("2024-03-03 00:00:00").cast("timestamp_ntz")
        ).count())
      // cooldown lifts → single-build re-probe succeeds and serves hot
      GraftClock.advance(31 * 60 * 1000000L)
      assert(tier.demote())
      assert(tier.read(Some(24 * H)).count() > 0)
      assert(tier.stats("hot_served") == 1)
      // a read-before-invalidate build does NOT re-convict at the next check
      t.append(hourlyRows(1).withColumn("id", lit("extra-9")), t0(30))
      assert(tier.demote()) // probe of 1, previous build was served
      assert(tier.stats("suppressions") == 1)
    }
  }

  test("in-window read at the cutoff plans as a pure in-memory scan") {
    withClock(LocalDateTime.of(2024, 3, 4, 0, 0)) {
      val t = freshTable()
      t.append(hourlyRows(72), t0(0))
      val tier = new HotTier(t, retentionMicros = 24 * H)
      tier.demote()
      val plan = tier.read(Some(24 * H)).queryExecution.executedPlan.toString
      assert(plan.contains("InMemoryTableScan"),
        s"expected cached scan, got:\n$plan")
      // the cached relation PRINTS its build plan (which read parquet once,
      // at demote time); what must be parquet-free is the serving plan
      // ABOVE the cache boundary
      val serving = plan.split("InMemoryRelation").head
      assert(!serving.contains("parquet"),
        s"cutoff-exact read must serve from cache alone, got:\n$serving")
    }
  }

  test("multi-slice: a 6h and a 48h dashboard each hit their own slice") {
    withClock(LocalDateTime.of(2024, 3, 4, 0, 0)) {
      val t = freshTable()
      t.append(hourlyRows(72), t0(0))
      val tier = new HotTier(t, retentionMicros = 48 * H,
        extraRetentions = Seq(6 * H))
      assert(tier.demote())
      assert(tier.stats("slices") == 2 && tier.stats("builds") == 2)
      // the 6h dashboard reads ITS slice: cutoff-exact → bare cached frame,
      // never scanning 48h of cached rows
      val narrow = tier.read(Some(6 * H))
      assert(narrow.count() == 6)
      assert(names(narrow) == names(t.readResolved().filter(
        col("timestamp") >= lit("2024-03-03 18:00:00").cast("timestamp_ntz"))))
      val plan = narrow.queryExecution.executedPlan.toString
      assert(plan.contains("InMemoryTableScan"))
      assert(!plan.split("InMemoryRelation").head.contains("parquet"))
      // the 48h dashboard hits the wide slice, also cutoff-exact
      assert(tier.read(Some(48 * H)).count() == 48)
      // a 12h lookback picks the narrowest COVERING slice (48h — the 6h
      // slice's cutoff is inside the window, so it cannot serve alone)
      assert(tier.read(Some(12 * H)).count() == 12)
      // deeper than every slice but inside the gate (≤ 2×48h): widest
      // slice + cold gap leg
      assert(tier.read(Some(72 * H)).count() == 72)
      assert(tier.stats("hot_served") == 4 && tier.stats("cold_served") == 0)
    }
  }

  test("slices live outside the session's cache manager") {
    withClock(LocalDateTime.of(2024, 3, 4, 0, 0)) {
      spark.catalog.clearCache() // start from an empty registry
      val t = freshTable()
      t.append(hourlyRows(72), t0(0))
      val tier = new HotTier(t, retentionMicros = 24 * H,
        extraRetentions = Seq(6 * H))
      assert(tier.demote())
      assert(tier.read(Some(6 * H)).count() == 6)
      assert(TestPins.cacheManagerIsEmpty(spark),
        "a hot slice must not live in the cache manager's registry")
    }
  }

  test("an oversize or never-served slice's blocks are freed at once") {
    withClock(LocalDateTime.of(2024, 3, 4, 0, 0)) {
      val t = freshTable()
      t.append(hourlyRows(72), t0(0))
      val before = stored()
      val small = new HotTier(t, retentionMicros = 24 * H, maxHotRows = 5)
      assert(!small.demote())
      assert(stored() -- before == Set.empty, "the oversize slice kept its blocks")
      val tier = new HotTier(t, retentionMicros = 24 * H)
      assert(tier.demote())
      val slice = stored() -- before
      assert(slice.nonEmpty, "demotion stored no slice")
      t.update(col("id") === "row-70", Map("name" -> lit("renamed")), t0(1))
      tier.read(Some(24 * H)) // the staleness check invalidates the slice
      assert((stored() intersect slice) == Set.empty,
        "an invalidated slice nobody was served kept its blocks")
    }
  }

  test("a served slice outlives its invalidation for the frame's holder") {
    withClock(LocalDateTime.of(2024, 3, 4, 0, 0)) {
      val t = freshTable()
      t.append(hourlyRows(72), t0(0))
      val tier = new HotTier(t, retentionMicros = 24 * H)
      assert(tier.demote())
      val hot = tier.read(Some(24 * H)) // handed out, not yet executed
      val preDml = names(t.readResolved()
        .filter(col("timestamp") >= lit("2024-03-03 00:00:00").cast("timestamp_ntz")))
      t.update(col("id") === "row-70", Map("name" -> lit("renamed")), t0(1))
      assert(tier.demote()) // drops the stale slice, pins the new version
      assert(tier.stats("slices") == 1 && tier.stats("builds") == 2)
      assert(names(hot) == preDml && !preDml.exists(_._2 == "renamed"))
      assert(TestPins.pins(hot).map(_._2.id).toSet.subsetOf(stored()))
    }
  }

  test("oversize slice is dropped, not pinned") {
    withClock(LocalDateTime.of(2024, 3, 4, 0, 0)) {
      val t = freshTable()
      t.append(hourlyRows(72), t0(0))
      val tier = new HotTier(t, retentionMicros = 24 * H, maxHotRows = 5)
      assert(!tier.demote())
      assert(tier.stats("oversize_skips") == 1)
      assert(tier.read(Some(24 * H)).count() == 24) // cold, still right
    }
  }
}
