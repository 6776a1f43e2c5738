package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.{GuardedTables, MissingProjectIdException, ProjectIdGuard}
import graft.schema.TableSchemas
import graft.sources.GraftTable

/** Storage-engine semantics: version-append writes, keep-greatest resolution,
  * tombstones, join-source DML, commit-marker atomicity, compaction
  * invariance, and the multi-tenant scan guard — mirrors the reference's
  * merge_on_read.slt + integration suite behaviors.
  */
class GraftTableSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def freshTable(): GraftTable = {
    val dir = Files.createTempDirectory("graft_mor_").toString
    new GraftTable(spark, dir, TableSchemas.morVersioned)
  }

  private def sampleRows(n: Int) = {
    import spark.implicits._
    spark.range(n).select(
      (col("id") % 3).cast("string").as("project_id"),
      (lit("2024-03-01 00:00:00").cast("timestamp_ntz")
        + expr("make_interval(0, 0, 0, 0, 0, id, 0)")).as("timestamp"),
      concat(lit("row-"), col("id")).as("id"),
      concat(lit("name-"), col("id") % 4).as("name"))
  }

  private def t0(m: Int) = Some(java.time.LocalDateTime.of(2024, 3, 2, 0, m))

  /** A fresh handle over the same root — models a process restart. */
  private def reopen(t: GraftTable): GraftTable =
    new GraftTable(spark, t.root, t.meta)

  /** Like [[sampleRows]] but spread by HOURS: n > 24 spans several dates
    * (row i lands on day 2024-03-01 + i/24). */
  private def hourlyRows(n: Int) = {
    import spark.implicits._
    spark.range(n).select(
      (col("id") % 3).cast("string").as("project_id"),
      (lit("2024-03-01 00:00:00").cast("timestamp_ntz")
        + expr("make_interval(0, 0, 0, 0, id, 0, 0)")).as("timestamp"),
      concat(lit("row-"), col("id")).as("id"),
      concat(lit("name-"), col("id") % 4).as("name"))
  }

  test("randomized DML/maintenance sequences match an in-memory model, 3 seeds") {
    import spark.implicits._
    // state-machine pin: a random interleaving of append / UPDATE /
    // UPDATE…FROM-style MERGE / DELETE / compact / partial-compact /
    // vacuum must keep the resolved view equal to a trivial last-write-
    // wins map after EVERY operation. Hand-built scenarios (below) cover
    // each feature; this covers their interactions.
    for (seed <- Seq(11, 22, 33)) {
      val rnd = new scala.util.Random(seed)
      val t = freshTable()
      val model = scala.collection.mutable.Map[Int, String]()
      def rows(ids: Seq[Int], prefix: String) =
        ids.toDF("n").select(
          (col("n") % 3).cast("string").as("project_id"),
          (lit("2024-03-01 00:00:00").cast("timestamp_ntz")
            + expr("make_interval(0, 0, 0, 0, 0, n, 0)")).as("timestamp"),
          concat(lit("row-"), col("n")).as("id"),
          concat(lit(prefix + "-row-"), col("n")).as("name"))
      def pick(k: Int): Seq[Int] =
        Seq.fill(k)(rnd.nextInt(30)).distinct
      def check(step: Int, op: String): Unit = {
        val got = t.readResolved().select("id", "name").collect()
          .map(r => (r.getString(0), r.getString(1))).toSet
        val want = model.map { case (i, n) => (s"row-$i", n) }.toSet
        assert(got == want, s"seed=$seed step=$step after $op: " +
          s"missing=${want -- got} extra=${got -- want}")
      }
      for (step <- 1 to 20) {
        val vt = t0(step)
        val op = rnd.nextInt(6) match {
          case 0 | 1 =>
            val ids = pick(6)
            t.append(rows(ids, s"app$step"), vt)
            ids.foreach(i => model(i) = s"app$step-row-$i")
            "append"
          case 2 =>
            val ids = pick(5)
            t.update(col("id").isin(ids.map("row-" + _): _*),
              Map("name" -> concat(lit(s"upd$step-"), col("id"))), vt)
            ids.filter(model.contains)
              .foreach(i => model(i) = s"upd$step-row-$i")
            "update"
          case 3 =>
            val ids = pick(5)
            t.merge(rows(ids, s"mrg$step"), Seq("project_id", "id"),
              Map("name" -> col("s.name")), insertUnmatched = true,
              versionTime = vt)
            ids.foreach(i => model(i) = s"mrg$step-row-$i")
            "merge"
          case 4 =>
            val ids = pick(4)
            t.delete(col("id").isin(ids.map("row-" + _): _*), vt)
            ids.foreach(model.remove)
            "delete"
          case 5 =>
            if (rnd.nextBoolean()) t.compact()
            else t.compactRange(java.time.LocalDate.of(2024, 3, 1),
              java.time.LocalDate.of(2024, 3, 1))
            if (rnd.nextBoolean()) t.vacuum()
            "maintenance"
        }
        check(step, op)
      }
    }
  }

  test("append + resolve returns each identity once") {
    val t = freshTable()
    t.append(sampleRows(100), t0(0))
    assert(t.readResolved().count() == 100)
    // duplicate insert of same identities -> still 100 after resolve
    t.append(sampleRows(100), t0(1))
    assert(t.readRaw().count() == 200)
    assert(t.readResolved().count() == 100)
  }

  test("an empty table's view has the column order of a written one") {
    val t = freshTable()
    val empty = t.readResolved().columns.toSeq
    t.append(sampleRows(5), t0(0))
    assert(t.readResolved().columns.toSeq == empty)
  }

  test("DML rejects assignments to identity/partition columns") {
    // the dedup window partitions by (dedupKeys, partitions, date): a new
    // version written under a different tenant/identity would not
    // supersede the old one — both would survive resolution
    val t = freshTable()
    t.append(sampleRows(10), t0(0))
    import spark.implicits._
    val src = Seq(("row-1", "2")).toDF("id", "new_pid")
    val err1 = intercept[IllegalArgumentException] {
      t.update(col("id") === "row-1", Map("project_id" -> lit("2")), t0(1))
    }
    assert(err1.getMessage.contains("project_id"))
    val err2 = intercept[IllegalArgumentException] {
      t.updateFrom(src, col("t.id") === col("s.id"),
        Map("timestamp" -> col("t.timestamp"), "name" -> lit("x")), t0(1))
    }
    assert(err2.getMessage.contains("timestamp"))
    val err3 = intercept[IllegalArgumentException] {
      t.merge(src, Seq("id"), Map("id" -> col("s.id")), insertUnmatched = false)
    }
    assert(err3.getMessage.contains("id"))
  }

  test("update is version-append and readers see last write") {
    val t = freshTable()
    t.append(sampleRows(50), t0(0))
    t.update(col("id") === "row-7", Map("name" -> lit("updated")), t0(5))
    val resolved = t.readResolved()
    assert(resolved.count() == 50)
    val row7 = resolved.filter(col("id") === "row-7").collect()
    assert(row7.length == 1 && row7(0).getAs[String]("name") == "updated")
    // physical rows grew by exactly the touched row
    assert(t.readRaw().count() == 51)
  }

  test("filters on version-mutable columns evaluate above the dedup window") {
    // reference war story src/database.rs:11960-11982 / SURVEY §7.4.5: after
    // an UPDATE, a predicate matching the row's OLD value must not resurrect
    // the superseded version.
    val t = freshTable()
    t.append(sampleRows(20), t0(0))
    t.update(col("id") === "row-7", Map("name" -> lit("renamed")), t0(5))
    val resolved = t.readResolved()
    assert(resolved.filter(col("name") === "name-3" && col("id") === "row-7")
      .count() == 0, "old value must not match after update")
    assert(resolved.filter(col("name") === "renamed").count() == 1)
  }

  test("delete appends a tombstone; identity disappears from resolved view") {
    val t = freshTable()
    t.append(sampleRows(50), t0(0))
    t.delete(col("name") === "name-2", t0(5))
    val resolved = t.readResolved()
    assert(resolved.filter(col("name") === "name-2").count() == 0)
    assert(resolved.count() == 50 - 12) // name-2 ⇔ id%4==2 ⇔ ids 2,6,…,46 (12 rows)
  }

  test("updateFrom joins a source and applies source-side assignments") {
    // mirrors reference integration::test_update_operations / dml.rs UPDATE…FROM
    import spark.implicits._
    val t = freshTable()
    t.append(sampleRows(30), t0(0))
    val src = Seq(("row-3", "from-src-3"), ("row-11", "from-src-11"),
      ("row-999", "no-match")).toDF("src_id", "new_name")
    t.updateFrom(src, col("t.id") === col("s.src_id"),
      Map("name" -> col("s.new_name")), t0(5))
    val resolved = t.readResolved()
    assert(resolved.count() == 30)
    assert(resolved.filter(col("id") === "row-3").head().getAs[String]("name")
      == "from-src-3")
    assert(resolved.filter(col("id") === "row-11").head().getAs[String]("name")
      == "from-src-11")
    // only the 2 matched identities appended new versions
    assert(t.readRaw().count() == 32)
  }

  test("merge updates matched identities and inserts unmatched rows") {
    import spark.implicits._
    val t = freshTable()
    t.append(sampleRows(10), t0(0))
    val src = sampleRows(12) // rows 0-9 match, 10-11 are new
      .withColumn("name", concat(lit("merged-"), col("id")))
      .filter(col("id").isin("row-4", "row-5", "row-10", "row-11"))
    t.merge(src, Seq("timestamp", "id"),
      whenMatched = Map("name" -> col("s.name")), versionTime = t0(5))
    val resolved = t.readResolved()
    assert(resolved.count() == 12)
    assert(resolved.filter(col("name").startsWith("merged-")).count() == 4)
    assert(resolved.filter(col("id") === "row-4").head().getAs[String]("name")
      == "merged-row-4")
    assert(resolved.filter(col("id") === "row-1").head().getAs[String]("name")
      == "name-1", "unmatched target rows unchanged")
  }

  test("compaction preserves the resolved view and collapses versions") {
    val t = freshTable()
    t.append(sampleRows(80), t0(0))
    t.update(col("id") === "row-3", Map("name" -> lit("u1")), t0(1))
    t.update(col("id") === "row-3", Map("name" -> lit("u2")), t0(2))
    t.delete(col("id") === "row-9", t0(3))
    val before = t.readResolved().orderBy("id").collect()
    val physicalBefore = t.readRaw().count()
    t.compact()
    val after = t.readResolved().orderBy("id").collect()
    assert(before.map(_.getAs[String]("id")).toSeq ==
      after.map(_.getAs[String]("id")).toSeq)
    assert(after.filter(_.getAs[String]("id") == "row-3")
      .head.getAs[String]("name") == "u2")
    assert(t.readRaw().count() < physicalBefore,
      "compaction must collapse versions")
    assert(t.readRaw().count() == after.length)
  }

  test("compacted-only snapshot reads windowless; a fresh append re-arms dedup") {
    val t = freshTable()
    t.append(sampleRows(80), t0(0))
    t.update(col("id") === "row-3", Map("name" -> lit("u1")), t0(1))
    t.delete(col("id") === "row-9", t0(2))
    t.compact()
    // the base was materialized by dedup+tombstone-filter, so the resolved
    // read must skip the window shuffle: ORDER BY ts DESC LIMIT k over a
    // compacted snapshot then plans as TakeOrderedAndProject over the scan
    val plan = t.readResolved().queryExecution.optimizedPlan.toString
    assert(!plan.contains("Window"),
      s"compacted-only read must carry no dedup window:\n$plan")
    val topk = t.readResolved().orderBy(col("timestamp").desc).limit(5)
      .queryExecution.executedPlan.toString
    assert(topk.contains("TakeOrderedAndProject"), topk)
    // a post-compaction append brings version conflicts back into scope
    t.append(sampleRows(81).filter(col("id") === "row-80"), t0(3))
    val plan2 = t.readResolved().queryExecution.optimizedPlan.toString
    assert(plan2.contains("Window"),
      "append after compaction must re-arm the dedup window")
    assert(t.readResolved().count() == 80) // 80 live + 1 new - 1 tombstoned
  }

  test("appends committed during/after compaction stay visible; vacuum reclaims") {
    import spark.implicits._
    val t = freshTable()
    t.append(sampleRows(40), t0(0))
    t.update(col("id") === "row-1", Map("name" -> lit("u")), t0(1))
    t.compact()
    // an append AFTER the base cut-off must remain visible alongside the base
    t.append(sampleRows(45).filter(col("id") === "row-44"), t0(2))
    assert(t.readResolved().count() == 41)
    val dirsBefore = new java.io.File(s"${t.root}/${t.meta.name}").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("v"))
    // a retention window keeps recent subsumed versions for in-flight
    // readers (VACUUM ... RETAIN n HOURS — everything here is seconds old)
    t.vacuum(retainMs = 3600000L)
    val dirsRetained = new java.io.File(s"${t.root}/${t.meta.name}").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("v"))
    assert(dirsRetained == dirsBefore, "retention must keep recent versions")
    t.vacuum()
    val dirsAfter = new java.io.File(s"${t.root}/${t.meta.name}").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("v"))
    assert(dirsAfter < dirsBefore, "vacuum must drop subsumed version dirs")
    assert(t.readResolved().count() == 41, "vacuum must not change the view")
  }

  test("snapshotDiff classifies inserts, deletes, and update image pairs") {
    val t = freshTable()
    t.append(sampleRows(10), t0(0)) // v1: row-0..row-9
    t.update(col("id") === "row-3", Map("name" -> lit("renamed")), t0(1)) // v2
    t.append(sampleRows(12).filter(col("id") === "row-10"), t0(2)) // v3: insert
    t.delete(col("id") === "row-5", t0(3)) // v4: tombstone
    val d = t.snapshotDiff(1, 4)
      .select("change_type", "id", "name").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(d == Set(
      ("update_preimage", "row-3", "name-3"),
      ("update_postimage", "row-3", "renamed"),
      ("insert", "row-10", "name-2"),
      ("delete", "row-5", "name-1")))
    // identical snapshots diff to nothing
    assert(t.snapshotDiff(4, 4).count() == 0)
  }

  test("time travel: version-as-of snapshots, timestamp mapping, vacuum fence") {
    val t = freshTable()
    t.append(sampleRows(50), t0(0)) // v1
    t.update(col("id") === "row-7", Map("name" -> lit("updated")), t0(5)) // v2
    t.delete(col("id") === "row-9", t0(6)) // v3

    def nameAt(v: Int, id: String): Seq[String] =
      t.readResolvedAsOf(v).filter(col("id") === id)
        .collect().map(_.getAs[String]("name")).toSeq
    assert(t.readResolvedAsOf(1).count() == 50)
    assert(nameAt(1, "row-7") == Seq("name-3"))
    assert(nameAt(2, "row-7") == Seq("updated"))
    assert(t.readResolvedAsOf(2).count() == 50)
    assert(t.readResolvedAsOf(3).count() == 49, "v3 tombstone applies")
    // as-of current == the live resolved view
    assert(t.readResolvedAsOf(t.currentVersion()).collect().toSet
      == t.readResolved().collect().toSet)
    // a never-committed version raises
    intercept[IllegalStateException](t.readResolvedAsOf(99).count())

    // timestamp → version via marker mtimes (markers are created in commit
    // order within this test, milliseconds apart at worst)
    assert(t.versionAsOf(java.time.Instant.now().plusSeconds(60))
      == t.currentVersion())
    assert(t.versionAsOf(java.time.Instant.EPOCH) == 0)

    // compaction keeps history readable; vacuum fences it off
    t.compact() // v4 = base
    assert(t.readResolvedAsOf(1).count() == 50, "pre-compaction snapshot intact")
    t.vacuum()
    intercept[IllegalStateException](t.readResolvedAsOf(1).count())
    intercept[IllegalStateException](t.readResolvedAsOf(3).count())
    assert(t.readResolvedAsOf(4).count() == 49, "the base itself stays readable")
  }

  test("partial compaction: date-range rewrite, exclusions, full-compact and vacuum interplay") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.FileSourceScanExec
    val t = freshTable()
    // 40 rows over 2024-03-01 (24 h) + 2024-03-02 (16 h)
    t.append(hourlyRows(40), t0(0)) // v1
    t.compact() // v2 = full base
    // fragment day two with two update waves
    t.update(col("timestamp") >= lit("2024-03-02 00:00:00").cast("timestamp_ntz"),
      Map("name" -> lit("u1")), t0(2)) // v3
    t.update(col("id") === "row-30", Map("name" -> lit("u2")), t0(3)) // v4
    val before = t.readResolved().collect().toSet
    assert(before.size == 40)

    val d2 = java.time.LocalDate.of(2024, 3, 2)
    t.compactRange(d2, d2) // v5 = partial base over day two
    assert(t.currentVersion() == 5)
    val after = t.readResolved()
    assert(after.collect().toSet == before,
      "partial compaction must not change the resolved view")

    // day two is windowless again: with AQE off, a day-two slice feeds
    // zero files through WindowExec and scans ONLY the partial base
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val dayTwo = t.readResolved()
        .filter(col("date") === lit("2024-03-02").cast("date"))
      val plan = dayTwo.queryExecution.executedPlan
      val underWindow = plan.collect { case w: WindowExec => w }.flatMap(_.collect {
        case s: FileSourceScanExec => s.selectedPartitions.totalNumberOfFiles
      }).sum
      assert(underWindow == 0,
        s"compacted range must read windowless, got $underWindow files windowed")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")

    // appends after the partial base re-fragment only their dates
    t.update(col("id") === "row-25", Map("name" -> lit("u3")), t0(4)) // v6
    val r25 = t.readResolved().filter(col("id") === "row-25").collect()
    assert(r25.length == 1 && r25(0).getAs[String]("name") == "u3")
    assert(t.readResolved().count() == 40)

    // a later FULL compact folds everything (no double counting across
    // the partial base and the appends it subsumed)
    t.compact() // v7
    assert(t.readResolved().count() == 40)
    val r30 = t.readResolved().filter(col("id") === "row-30").collect()
    assert(r30.length == 1 && r30(0).getAs[String]("name") == "u2")
    // vacuum reclaims the partial base along with subsumed versions
    t.vacuum()
    assert(t.readResolved().count() == 40)
    val dirs = new java.io.File(s"${t.root}/${t.meta.name}").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("v"))
    assert(dirs == 1, s"vacuum must leave only the full base, left $dirs")
  }

  test("maintenance sweep compacts only fragmented date runs, idempotently") {
    val t = freshTable()
    t.append(hourlyRows(40), t0(0)) // days 2024-03-01 + 02
    t.compact()
    // fragment day two with two waves; day one stays clean
    t.update(col("timestamp") >= lit("2024-03-02 00:00:00").cast("timestamp_ntz"),
      Map("name" -> lit("u1")), t0(2))
    t.update(col("id") === "row-30", Map("name" -> lit("u2")), t0(3))
    val before = t.readResolved().collect().toSet

    val swept = t.maintenanceSweep(minVersions = 2)
    assert(swept == Seq((java.time.LocalDate.of(2024, 3, 2),
      java.time.LocalDate.of(2024, 3, 2))),
      s"only the fragmented day must compact, got $swept")
    assert(t.readResolved().collect().toSet == before)
    // idempotent: the appends' day-two dates are now covered by the
    // partial base, so nothing is dirty
    assert(t.maintenanceSweep(minVersions = 2).isEmpty)
    // a single fresh UPDATE is dirty via the DML queue even below the
    // version threshold: one DML version already forces MOR resolution
    // on every read of that date (reference dirty-bin semantics)
    t.update(col("id") === "row-31", Map("name" -> lit("u4")), t0(5))
    val dmlSwept = t.maintenanceSweep(minVersions = 2)
    assert(dmlSwept.nonEmpty, "a DML-touched date must compact promptly")
    assert(t.maintenanceSweep(minVersions = 2).isEmpty)
    val r31 = t.readResolved().filter(col("id") === "row-31").collect()
    assert(r31.length == 1 && r31(0).getAs[String]("name") == "u4")
  }

  test("DML dirty-bin queue: an updated date compacts BEFORE an untouched " +
      "older backlog run, and the queue drains durably") {
    val t = freshTable()
    t.append(hourlyRows(96), t0(0)) // days 03-01..03-04
    t.compact()
    // ordinary backlog: day 03-01 fragmented by two plain APPENDS
    def day(n: Int) = f"2024-03-0$n"
    def dayRows(n: Int) = hourlyRows(96).filter(
      col("timestamp") >= lit(s"${day(n)} 00:00:00").cast("timestamp_ntz") &&
        col("timestamp") < lit(s"${day(n)} 23:59:59").cast("timestamp_ntz"))
    t.append(dayRows(1), t0(2))
    t.append(dayRows(1), t0(3))
    // DML wave on the NEWER day 03-04 — one version, queue-marked
    t.update(col("timestamp") >= lit(s"${day(4)} 00:00:00")
        .cast("timestamp_ntz"),
      Map("name" -> lit("dml")), t0(4))
    assert(t.dmlDirtyDates().contains("2024-03-04"),
      "the UPDATE must enqueue its touched date durably")
    val before = t.readResolved().collect().toSet
    val d = (n: Int) => java.time.LocalDate.of(2024, 3, n)

    // tick 1 at maxRanges=1: the DML-dirtied (younger!) day wins the slice
    val s1 = t.maintenanceSweep(minVersions = 2, maxRanges = 1)
    assert(s1 == Seq((d(4), d(4))),
      s"DML-dirtied bucket must compact before the older backlog: $s1")
    assert(!t.dmlDirtyDates().contains("2024-03-04"), "queue must drain")
    // tick 2: the ordinary backlog (03-01) follows
    val s2 = t.maintenanceSweep(minVersions = 2, maxRanges = 1)
    assert(s2 == Seq((d(1), d(1))), s"backlog must follow: $s2")
    assert(t.maintenanceSweep(minVersions = 2, maxRanges = 1).isEmpty)
    assert(t.readResolved().collect().toSet == before,
      "sweep order must never change the resolved view")
    // durability: a FRESH table handle over the same root sees the same
    // (now-empty) queue — the queue is a file, not process state
    val t2 = reopen(t)
    assert(t2.dmlDirtyDates().isEmpty)
  }

  test("dirty-bin queue: a queued date already covered by a newer partial " +
      "base drains without promoting future runs") {
    val t = freshTable()
    t.append(hourlyRows(48), t0(0)) // days 03-01 + 03-02
    t.compact()
    // DML on day 03-02 enqueues it; an OPERATOR-ISSUED compactRange then
    // covers that date OUTSIDE the sweep, so the queue entry is stale:
    // every version of 03-02 now sits under a newer partial base
    t.update(col("timestamp") >= lit("2024-03-02 00:00:00")
        .cast("timestamp_ntz"),
      Map("name" -> lit("dml")), t0(2))
    assert(t.dmlDirtyDates().contains("2024-03-02"))
    t.compactRange(java.time.LocalDate.of(2024, 3, 2),
      java.time.LocalDate.of(2024, 3, 2))
    assert(t.dmlDirtyDates().contains("2024-03-02"),
      "compactRange alone must not touch the queue (precondition)")
    // the sweep has nothing to compact — but it must still DRAIN the
    // stale entry, or it would permanently promote any future run
    // containing 03-02 ahead of the oldest-first backlog
    assert(t.maintenanceSweep(minVersions = 2).isEmpty)
    assert(t.dmlDirtyDates().isEmpty,
      "a queued date fully covered by a newer pbase must drain")
  }

  test("bounded maintenance sweep: catch-up accrues oldest-first across " +
      "restart-sized slices") {
    // the reference's consolidate-catchup contract: a backlog of dirty
    // days must drain in bounded per-tick slices that each COMMIT, so a
    // process that restarts mid-backlog still makes progress
    val t = freshTable()
    t.append(hourlyRows(96), t0(0)) // days 03-01..03-04
    t.compact()
    // fragment THREE separate days (two waves each), leaving 03-02 clean
    // so the dirty days form three distinct runs
    Seq("2024-03-01", "2024-03-03", "2024-03-04").zipWithIndex.foreach {
      case (d, i) =>
        val dayPred = col("timestamp") >= lit(s"$d 00:00:00")
          .cast("timestamp_ntz") &&
          col("timestamp") < lit(s"$d 23:59:59").cast("timestamp_ntz")
        t.update(dayPred, Map("name" -> lit(s"w1$i")), t0(2 + 2 * i))
        t.update(dayPred && col("project_id") === "0",
          Map("name" -> lit(s"w2$i")), t0(3 + 2 * i))
    }
    val before = t.readResolved().collect().toSet
    val d = (n: Int) => java.time.LocalDate.of(2024, 3, n)

    // tick 1: only the OLDEST dirty run compacts, and it is committed
    val s1 = t.maintenanceSweep(minVersions = 2, maxRanges = 1)
    assert(s1 == Seq((d(1), d(1))), s"oldest-first slice wrong: $s1")
    assert(t.readResolved().collect().toSet == before)
    // tick 2 (a "restarted" process would see the same markers): the next
    // run — 03-03 and 03-04 are adjacent dirty days, so they form ONE
    // contiguous run and compact as a single range
    val s2 = t.maintenanceSweep(minVersions = 2, maxRanges = 1)
    assert(s2 == Seq((d(3), d(4))), s"catch-up must move on: $s2")
    // tick 3 is the idempotent no-op: backlog drained
    assert(t.maintenanceSweep(minVersions = 2, maxRanges = 1).isEmpty)
    assert(t.readResolved().collect().toSet == before)
  }

  test("schema evolution: mergeSchema widens, unknown columns reject, snapshots keep their schema") {
    val t = freshTable()
    t.append(sampleRows(20), t0(0)) // v1
    val withExtra = sampleRows(5).withColumn("score", lit(42))
    // unknown column rejects without the flag (Delta's contract)
    val e = intercept[IllegalArgumentException](t.append(withExtra, t0(1)))
    assert(e.getMessage.contains("score"))
    t.append(withExtra, t0(1), mergeSchema = true) // v2 evolves
    val res = t.readResolved()
    assert(res.columns.contains("score"))
    assert(res.count() == 20, "evolved rows replace their identities")
    assert(res.filter(col("score") === 42).count() == 5)
    assert(res.filter(col("score").isNull).count() == 15,
      "pre-evolution files read as null for the new column")
    // the pre-evolution snapshot does NOT see the column (Delta time-travel
    // reads a snapshot with its own schema)
    assert(!t.readResolvedAsOf(1).columns.contains("score"))
    assert(t.readResolvedAsOf(2).columns.contains("score"))
    // evolved column survives UPDATE DML (targetCols track the live
    // schema) and compaction (bases are written with the evolved schema)
    t.update(col("id") === "row-1", Map("name" -> lit("u")), t0(2))
    t.compact()
    val post = t.readResolved()
    assert(post.filter(col("score") === 42).count() == 5)
    assert(post.filter(col("id") === "row-1").head().getAs[String]("name") == "u")
  }

  test("concurrent readers never see an empty or doubled table during compaction") {
    val t = freshTable()
    t.append(sampleRows(100), t0(0))
    t.append(sampleRows(100), t0(1)) // duplicate versions to give compact work
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    @volatile var stop = false
    val reader = new Thread(() => {
      while (!stop) {
        val n = t.readResolved().count()
        if (n != 100) failures.add(n)
      }
    })
    reader.start()
    try {
      (0 until 3).foreach { i =>
        t.compact()
        t.append(sampleRows(100), t0(2 + i))
        t.vacuum()
      }
    } finally { stop = true; reader.join() }
    assert(failures.isEmpty,
      s"reader observed wrong counts: ${failures.toArray.mkString(",")}")
  }

  test("mem-leg union: pending rows visible, version conflicts resolve, commit is idempotent") {
    val t = freshTable()
    t.append(sampleRows(20), t0(0))
    // pending batch: 5 fresh rows + 1 rewrite of an existing identity
    val pending = sampleRows(25).filter(col("id") >= "row-2")
      .filter(col("id").isin("row-20", "row-21", "row-22", "row-23", "row-24", "row-7"))
      .withColumn("name", concat(lit("mem-"), col("id")))
    val memTime = java.time.LocalDateTime.of(2024, 3, 2, 1, 0)
    val view = t.readResolvedWith(pending, memTime)
    assert(view.count() == 25, "mem rows visible before commit")
    assert(view.filter(col("id") === "row-7").head().getAs[String]("name")
      == "mem-row-7", "mem version must win over the stored version")
    assert(view.filter(col("id") === "row-3").head().getAs[String]("name")
      == "name-3", "untouched stored rows unchanged")
    // after the batch commits with the same stamp, the plain view agrees
    t.append(pending, Some(memTime))
    val committed = t.readResolved()
    assert(committed.count() == 25)
    assert(committed.filter(col("id") === "row-7").head().getAs[String]("name")
      == "mem-row-7")
  }

  test("an empty delete touches no dates: the read stays date-bounded") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.FileSourceScanExec
    val t = freshTable()
    t.append(hourlyRows(40), t0(0)) // days 2024-03-01 + 02
    t.compact()
    t.update(col("id") === "row-30", Map("name" -> lit("u1")), t0(1))
    val before = t.readResolved().collect().toSet
    // matches nothing: the version commits but creates no date= directory
    t.delete(col("id") === "row-none", t0(2))
    assert(t.currentVersion() == 4)
    assert(t.readResolved().collect().toSet == before)
    // only day two (the update's date) goes through the dedup window;
    // day one streams off the base through the windowless leg
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = t.readResolved().queryExecution.executedPlan
      def files(p: org.apache.spark.sql.execution.SparkPlan) = p.collect {
        case s: FileSourceScanExec => s.selectedPartitions.totalNumberOfFiles
      }.sum
      val windowed = plan.collect { case w: WindowExec => files(w) }.sum
      assert(windowed > 0 && windowed < files(plan),
        s"$windowed of ${files(plan)} files read under the window")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("a range-less leg that holds rows is read, paged, compacted and " +
      "survives vacuum") {
    import spark.implicits._
    val t = freshTable()
    t.append(hourlyRows(48), t0(0)) // v1: days 2024-03-01 + 02
    t.compact() // v2
    t.update(col("id") === "row-30", Map("name" -> lit("u1")), t0(1)) // v3
    t.append(Seq("2024-03-05 10:00:00").toDF("ts").select(
      lit("1").as("project_id"),
      col("ts").cast("timestamp_ntz").as("timestamp"),
      lit("row-900").as("id"), lit("late").as("name")), t0(2)) // v4
    // strip the recorded ranges: the marker shape written before range
    // recording, or by a layout without date= directories
    val commits = new java.io.File(s"${t.root}/${t.meta.name}/_commits")
    Seq("_v00003", "_v00004").foreach { v =>
      val m = commits.listFiles().find(_.getName.startsWith(v)).get
      assert(m.getName.contains(".dr."), m.getName)
      assert(m.renameTo(new java.io.File(commits, v)))
    }
    def check(when: String): Unit = {
      val got = t.readResolved().select("id", "name").as[(String, String)]
        .collect().toMap
      assert(got.size == 49 && got("row-30") == "u1" &&
        got("row-900") == "late", s"$when: $got")
      assert(t.recentPage(1).select("id").as[String].collect().toSeq ==
        Seq("row-900"), when)
    }
    check("range-less legs")
    t.compact()
    t.vacuum()
    assert(t.compactBaseDir().isDefined)
    check("compacted and vacuumed")
  }

  test("an empty write after compaction keeps the snapshot compacted") {
    val t = freshTable()
    t.append(hourlyRows(40), t0(0))
    t.compact()
    t.delete(col("id") === "row-none", t0(1))
    val v = t.currentVersion()
    assert(t.compactBaseDir().isDefined)
    t.compact()
    assert(t.currentVersion() == v, "compact rewrote an unchanged view")
    assert(t.readResolved().count() == 40)
  }

  test("append, compact and compactRange write one parquet file per " +
      "(project_id, date) directory under a 1 KB AQE floor") {
    val keys = Seq("spark.sql.adaptive.coalescePartitions.minPartitionSize",
      "spark.sql.shuffle.partitions")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set(keys(0), "1k")
    spark.conf.set(keys(1), "64")
    try {
      val t = freshTable()
      t.append(hourlyRows(96), t0(0)) // v1: 3 tenants × 4 days
      t.update(col("timestamp") >=
        lit("2024-03-03 00:00:00").cast("timestamp_ntz"),
        Map("name" -> lit("u1")), t0(1)) // v2
      t.compact() // v3
      t.update(col("id") === "row-40", Map("name" -> lit("u2")), t0(2)) // v4
      t.compactRange(java.time.LocalDate.of(2024, 3, 2),
        java.time.LocalDate.of(2024, 3, 3)) // v5
      val table = new java.io.File(s"${t.root}/${t.meta.name}")
      def dirs(f: java.io.File, prefix: String) =
        f.listFiles().filter(d => d.isDirectory && d.getName.startsWith(prefix))
      val perVersion = Seq("v00001", "v00003", "v00005").map { v =>
        val dateDirs = dirs(new java.io.File(table, v), "project_id=")
          .flatMap(dirs(_, "date="))
        dateDirs.foreach { d =>
          val n = d.listFiles().count(_.getName.endsWith(".parquet"))
          assert(n == 1, s"$v/${d.getParentFile.getName}/${d.getName}: $n files")
        }
        dateDirs.length
      }
      assert(perVersion == Seq(12, 12, 6), perVersion)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("partition layout is (project_id, date) inside each version dir") {
    val t = freshTable()
    t.append(sampleRows(30), t0(0))
    val base = new java.io.File(s"${t.root}/${t.meta.name}")
    val vdirs = base.listFiles().filter(f => f.isDirectory && f.getName.startsWith("v"))
    assert(vdirs.length == 1)
    val dirs = vdirs.head.listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.sameElements(Array("project_id=0", "project_id=1", "project_id=2")),
      dirs.mkString(","))
  }

  test("schema field options reach the parquet writer: bloom in, dictionary out") {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = Files.createTempDirectory("graft_bloom_").toString
    val schema = TableSchemas.morVersioned.copy(
      bloomFilterColumns = Seq("id"),
      dictionaryDisabledColumns = Seq("name"))
    val t = new GraftTable(spark, dir, schema)
    // one tenant-day: a single 200-row file
    t.append(sampleRows(200).withColumn("project_id", lit("0")), t0(0))
    val file = ParquetBlooms.files(s"$dir/${schema.name}").head
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try {
      val cols = reader.getFooter.getBlocks.get(0).getColumns.asScala
        .map(c => c.getPath.toDotString -> c).toMap
      assert(cols("id").getBloomFilterOffset >= 0,
        "bloom_filter: true column must carry a bloom filter")
      assert(cols("name").getBloomFilterOffset < 0,
        "columns without the option must not pay for blooms")
      assert(!cols("name").getEncodings.asScala.exists(_.usesDictionary),
        s"dictionary: false column still dictionary-encoded: ${cols("name").getEncodings}")
      assert(cols("id").getEncodings.asScala.exists(_.usesDictionary)
        || cols("id").getEncodings.asScala.nonEmpty,
        "sanity: id column encodings readable")
    } finally reader.close()

    // right-sized: a fixed 1,000,000-value NDV gave this file a 1 MB bitset
    val small = ParquetBlooms.blooms(file, "id", conf).map(_.getBitsetSize)
    assert(small.forall(_ <= 4096), s"200-row file carries $small B of id bloom")

    // ...and still grows with the distinct count: 200k ids in one file
    val big = new GraftTable(spark,
      Files.createTempDirectory("graft_bloom_big_").toString, schema)
    val distinct = 200000
    big.append(spark.range(distinct).select(lit("0").as("project_id"),
      (lit("2024-03-01 00:00:00").cast("timestamp_ntz")
        + expr("make_interval(0, 0, 0, 0, 0, 0, cast(id / 4 as decimal(18, 6)))")).as("timestamp"),
      concat(lit("row-"), col("id")).as("id"),
      lit("n").as("name")), t0(1))
    val bigFile = ParquetBlooms.files(s"${big.root}/${schema.name}") match {
      case Seq(f) => f
      case fs => fail(s"expected one file, got $fs")
    }
    val bigBloom = ParquetBlooms.blooms(bigFile, "id", conf)
    assert(bigBloom.size == 1 &&
      bigBloom.head.getBitsetSize >= ParquetBlooms.optimalBytes(distinct),
      s"${bigBloom.map(_.getBitsetSize)} B < ${ParquetBlooms.optimalBytes(distinct)} B " +
        s"needed for $distinct ids at 1 % FPP")

    // and still prunes the trace-lookup shape: an id inside each file's
    // min/max ("row-0" .. "row-99" / "row-99999") but absent from it finds
    // no row group through the bloom alone; a present id keeps its group
    for ((f, present) <- Seq(file -> "row-150", bigFile -> "row-123456")) {
      assert(ParquetBlooms.rowGroupsFor(f, "id", "row-1500a", conf) == 0,
        s"absent id not pruned by the bloom in $f")
      assert(ParquetBlooms.rowGroupsFor(f, "id", present, conf) == 1,
        s"present id $present lost its row group in $f")
    }
  }

  test("write lock serializes concurrent appenders; stale locks are stolen") {
    val dir = Files.createTempDirectory("graft_lock_").toString
    // two INDEPENDENT table handles (as two writers would have) racing
    // appends: without the lock both compute the same next version — one
    // marker create fails and a batch is lost; with it, all 8 commit.
    // Kept to 4 appends per writer: each append is a full write job, and
    // late in the suite a GC-stalled job can eat most of a lock-wait
    // budget — the mutual-exclusion property is the same at any count.
    val writers = (0 until 2).map(_ =>
      new GraftTable(spark, dir, TableSchemas.morVersioned))
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = writers.zipWithIndex.map { case (w, wi) =>
      new Thread(() =>
        try (0 until 4).foreach { i =>
          w.append(sampleRows(3), t0(wi * 4 + i))
        } catch { case e: Throwable => errors.add(e) })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(240000))
    assert(errors.isEmpty, s"concurrent append failed: ${errors.peek()}")
    assert(writers.head.currentVersion() == 8)
    assert(writers.head.readRaw().count() == 24)

    // a crashed writer's lock (stale mtime) must not block forever
    val lock = new java.io.File(s"$dir/mor_versioned/_lock")
    assert(lock.createNewFile())
    assert(lock.setLastModified(
      System.currentTimeMillis() - 2 * GraftTable.LockTtlMs))
    writers.head.append(sampleRows(2), t0(30)) // steals and proceeds
    assert(writers.head.currentVersion() == 9)
  }

  test("logical count chain: maintained writes, breaks, compaction restart") {
    val dir = Files.createTempDirectory("graft_lc_").toString
    val t = new GraftTable(spark, dir, TableSchemas.morVersioned,
      maintainCountIndex = true)
    t.append(sampleRows(100), t0(0))
    assert(t.logicalCount().contains(100L))
    // duplicate identities: raw grows, logical count must not
    t.append(sampleRows(100), t0(1))
    assert(t.logicalCount().contains(100L))
    t.update(col("id") === "row-3", Map("name" -> lit("u")), t0(2))
    assert(t.logicalCount().contains(100L))
    t.delete(col("name") === "name-1", t0(3)) // rows 1,5,9,… → 25 identities
    assert(t.logicalCount().contains(75L))
    assert(t.countRows() == t.readResolved().count())

    // an out-of-order stamp can lose the keep-greatest race → the chain
    // must refuse to advance, and countRows falls back to the window
    t.append(sampleRows(10), t0(1))
    assert(t.logicalCount().isEmpty)
    assert(t.countRows() == t.readResolved().count())

    // an unmaintained writer also breaks the chain (marker lags)
    val plain = new GraftTable(spark, dir, TableSchemas.morVersioned)
    plain.append(sampleRows(5), t0(10))
    assert(t.logicalCount().isEmpty)

    // compaction restarts the chain from the materialized resolved view…
    t.compact()
    val resolved = t.readResolved().count()
    assert(t.logicalCount().contains(resolved))
    // …and the chain advances incrementally again afterwards
    t.delete(col("id") === "row-0", t0(11))
    assert(t.logicalCount().contains(resolved - 1))
  }

  test("trigram text index prunes files; results identical to full scan") {
    import spark.implicits._
    val t = new GraftTable(spark,
      Files.createTempDirectory("graft_text_").toString, TableSchemas.docStore)
    // 4 tenants × 2 days; content vocabulary differs per tenant so a
    // tenant-specific phrase has provably hitless files elsewhere
    val docs = spark.range(160).select(
      (col("id") % 4).cast("string").as("project_id"),
      (lit("2024-05-01 00:00:00").cast("timestamp_ntz")
        + expr("make_interval(0, 0, 0, id % 2, 0, id, 0)")).as("timestamp"),
      concat(lit("d"), col("id")).as("id"),
      lit("doc").as("name"),
      concat(lit("common words here zebra_"), col("id") % 4,
        lit(" plus filler text block "), col("id")).as("content"))
    t.append(docs, t0(0))
    t.compact()
    t.buildTextIndex("content")

    def ids(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select("id").as[String].collect().toSeq.sorted
    val brute = t.readResolved()
      .filter(graft.functions.F.text_match(col("content"), "zebra_2 filler"))

    val hit = t.textSearch("content", "zebra_2 filler")
    assert(ids(hit) == ids(brute) && ids(hit).nonEmpty)
    // file pruning is real: only tenant 2's files survive the gram join
    val baseFiles = spark.read.schema(t.meta.schema)
      .parquet(t.compactBaseDir().get).inputFiles.length
    assert(hit.inputFiles.length < baseFiles,
      s"read ${hit.inputFiles.length} of $baseFiles files")
    // no candidate file at all → empty, not an error
    assert(t.textSearch("content", "zebra_9 filler").count() == 0)
    // short tokens can't prune but the predicate still enforces them
    assert(ids(t.textSearch("content", "zebra_3 a")) ==
      ids(t.readResolved()
        .filter(graft.functions.F.text_match(col("content"), "zebra_3 a"))))

    // an append AFTER indexing leaves the snapshot uncompacted: textSearch
    // must fall back to the full resolved scan and see the new row
    t.append(docs.filter(col("id") === "d0")
      .withColumn("content", lit("fresh zebra_2 filler row")), t0(5))
    val post = t.textSearch("content", "zebra_2 filler")
    assert(ids(post).contains("d0") && post.count() == brute.count() + 1)
  }

  test("trigram index key ranges prune row groups inside candidate files") {
    import spark.implicits._
    val t = new GraftTable(spark,
      Files.createTempDirectory("graft_text_rg_").toString, TableSchemas.docStore)
    // tiny parquet row groups so one file holds many; flush sorts by the
    // lead sort key (timestamp), so group stats on it are tight
    val hc = spark.sparkContext.hadoopConfiguration
    hc.setInt("parquet.block.size", 4096)
    try {
      // one tenant, one day → ONE file; the incident token appears only
      // in a narrow time window, contiguous under the flush sort
      val docs = spark.range(2000).select(
        lit("1").as("project_id"),
        (lit("2024-05-01 00:00:00").cast("timestamp_ntz")
          + expr("make_interval(0, 0, 0, 0, 0, 0, id)")).as("timestamp"),
        concat(lit("d"), col("id")).as("id"),
        lit("doc").as("name"),
        concat(
          when(col("id").between(900, 940),
            lit("incident kernel_panic trace ")).otherwise(lit("routine ok ")),
          lit("common filler block "), col("id")).as("content"))
      t.append(docs, t0(0))
      t.compact()
      t.buildTextIndex("content")

      val brute = t.readResolved().filter(
        graft.functions.F.text_match(col("content"), "kernel_panic"))
      val res = t.textSearch("content", "kernel_panic")
      assert(res.select("id").as[String].collect().sorted.toSeq ==
        brute.select("id").as[String].collect().sorted.toSeq)
      assert(res.count() == 41)

      // the scan decoded only the row groups covering the incident
      // window, not the whole candidate file (2000 rows)
      res.collect()
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.FileSourceScanExec
      import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
      def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
        case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
        case s: FileSourceScanExec => Seq(s)
        case o => o.children.flatMap(scans)
      }
      val qe = res.queryExecution.executedPlan
      val decoded = scans(qe).map(_.metrics("numOutputRows").value).sum
      assert(decoded > 0 && decoded < 1000,
        s"range should confine the decode to the incident's row groups, read $decoded of 2000")
    } finally hc.unset("parquet.block.size")
  }

  test("raw-tokenized FTS fields index whole values, not trigrams") {
    import spark.implicits._
    // docStore with `name` opted into the reference's `raw` tokenizer
    // (identifier shape — otel_logs_and_spans.yaml:87-91 indexes `id` raw)
    val schema = TableSchemas.docStore.copy(
      ftsTokenizers = Map("name" -> "raw"))
    val t = new GraftTable(spark,
      Files.createTempDirectory("graft_raw_").toString, schema)
    val docs = spark.range(120).select(
      (col("id") % 4).cast("string").as("project_id"),
      (lit("2024-05-01 00:00:00").cast("timestamp_ntz")
        + expr("make_interval(0, 0, 0, 0, 0, id, 0)")).as("timestamp"),
      concat(lit("d"), col("id")).as("id"),
      // per-tenant identifier vocabulary: svc_<tenant>_aa / _zz
      concat(lit("svc_"), col("id") % 4,
        when(col("id") % 2 === 0, lit("_aa")).otherwise(lit("_zz"))).as("name"),
      lit("body text").as("content"))
    t.append(docs, t0(0))
    t.compact()
    t.buildTextIndex("name")

    // the index holds whole lowercased values — exactly the 4 distinct
    // names (tenant id%4 fixes the id%2 parity), no 3-char gram expansion
    val grams = spark.read
      .parquet(s"${t.root}/${t.meta.name}/_textindex/*/name")
      .select("gram").distinct().as[String].collect().toSeq.sorted
    assert(grams.forall(_.startsWith("svc_")) && grams.length == 4,
      s"expected 4 whole-value terms, got: ${grams.mkString(",")}")

    def ids(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select("id").as[String].collect().toSeq.sorted
    // results identical to the brute-force predicate, and file pruning is
    // real for a SHORT (<3 char) token — the ngram3 path could never prune
    // "aa", the raw path matches it against whole index values
    val brute = t.readResolved()
      .filter(graft.functions.F.text_match(col("name"), "svc_2 aa"))
    val hit = t.textSearch("name", "svc_2 aa")
    assert(ids(hit) == ids(brute) && ids(hit).nonEmpty)
    val baseFiles = spark.read.schema(t.meta.schema)
      .parquet(t.compactBaseDir().get).inputFiles.length
    assert(hit.inputFiles.length < baseFiles,
      s"read ${hit.inputFiles.length} of $baseFiles files")
    // hitless query prunes to empty without error
    assert(t.textSearch("name", "svc_9_aa").count() == 0)
  }

  test("OPTIMIZE ZORDER idempotence: the second compact is a file-level no-op " +
      "(reference e2e zorder_idempotence.rs)") {
    val t = freshTable() // morVersioned declares z_order_columns
    assert(t.meta.zOrderColumns.nonEmpty)
    t.append(sampleRows(20), t0(0))
    t.compact()
    def files(): Set[String] = {
      val root = new java.io.File(s"${t.root}/${t.meta.name}")
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(root).map(_.getPath).filter(_.endsWith(".parquet")).toSet
    }
    val v1 = t.currentVersion()
    val after1 = files()
    val view1 = t.readResolved().collect().toSet
    // second OPTIMIZE on the unchanged snapshot: no new version, no file
    // churn — asserted on the actual file paths, like the reference
    t.compact()
    assert(t.currentVersion() == v1, "second compact committed a version")
    assert(files() == after1, "second compact rewrote files (churn)")
    assert(t.readResolved().collect().toSet == view1)
    // ...but an append re-arms it: the third compact has real work
    t.append(sampleRows(5), t0(1))
    t.compact()
    assert(t.currentVersion() == v1 + 2)
    assert(t.readResolved().count() == 20)
  }

  test("vacuum under churn never deletes a visible version; repeated sweeps " +
      "are view-stable") {
    val t = freshTable()
    // fragment several dates across appends (hourlyRows spans days)
    t.append(hourlyRows(60), t0(0))
    t.append(hourlyRows(60), t0(1))
    t.compact()
    val expected = t.readResolved().collect().toSet
    // churn: appends land AFTER the base; vacuum reclaims only subsumed
    // versions, never the newer appends or the base itself
    t.append(sampleRows(10), t0(2))
    t.vacuum()
    // identity is (timestamp, id): the 10 minute-spaced sample rows share
    // exactly one identity with the 60 hour-spaced ones (row-0 at
    // midnight), so the view holds 69 identities — none lost to the vacuum
    assert(t.readResolved().count() == 69)
    // the pre-compaction version dirs are gone, the base + appends remain
    assert(!new java.io.File(s"${t.root}/${t.meta.name}/_v1").exists())
    // repeated bounded sweeps + vacuum while appending: the view after
    // every maintenance step equals last-write-wins over what was written
    (0 until 3).foreach { i =>
      // same 5 (timestamp, id) identities re-written each round: new
      // versions supersede, maintenance must never change the view size
      t.append(sampleRows(5), t0(3 + i))
      t.maintenanceSweep(minVersions = 1, maxRanges = 1)
      t.vacuum()
      assert(t.readResolved().count() == 69,
        s"sweep/vacuum round $i changed the visible identity count")
    }
    // row-3 exists at two identities (hourly 03:00 + minute 00:03); the
    // minute one must carry the LAST round's stamp through all maintenance
    val fin = t.readResolved().filter(col("id") === "row-3").collect()
    assert(fin.length == 2)
  }

  test("the session's extensions reject an unfiltered read of a guarded root") {
    val t = freshTable()
    t.append(sampleRows(10), t0(0))
    val path = s"${t.root}/${t.meta.name}"
    GuardedTables.guard(path)
    try {
      // no direct ProjectIdGuard call: GraftExtensions runs it at analysis
      intercept[MissingProjectIdException](t.readRaw().count())
      assert(t.readRaw().filter(col("project_id") === "1").count() == 3)
      // a long IN list reaches the rule as an optimized InSet
      assert(t.readRaw().filter(col("project_id")
        .isin((1 to 12).map(_.toString): _*)).count() == 6)
    } finally GuardedTables.unguard(path)
  }

  test("project-id guard rejects unfiltered scans of guarded roots") {
    val t = freshTable()
    t.append(sampleRows(10), t0(0))
    val path = s"${t.root}/${t.meta.name}"
    GuardedTables.guard(path)
    try {
      val unfiltered = t.readRaw().groupBy("name").count()
      intercept[MissingProjectIdException] {
        ProjectIdGuard(unfiltered.queryExecution.analyzed)
      }
      val filtered = t.readRaw()
        .filter(col("project_id") === "1").groupBy("name").count()
      ProjectIdGuard(filtered.queryExecution.analyzed) // must not throw
      val inList = t.readRaw()
        .filter(col("project_id").isin("1", "2")).select("id")
      ProjectIdGuard(inList.queryExecution.analyzed) // must not throw
    } finally GuardedTables.unguard(path)
  }
}
