package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.schema.TableSchemas
import graft.sources.GraftTable

/** S2/P2/W5 — scan pruning and late data, previously untested claims:
  *  - project_id/date predicates reach the scan as PARTITION filters
  *    (directories pruned before IO);
  *  - time-range predicates are pushed to the parquet reader
  *    (row-group/page stats prune inside files);
  *  - late rows route to their event-time date partition, not the arrival
  *    day, so date-derivation absorbs late data (reference W5).
  */
class PruningSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def freshTable() = new GraftTable(spark,
    Files.createTempDirectory("graft_prune_").toString, TableSchemas.morVersioned)

  private def rows(n: Int) = {
    import spark.implicits._
    spark.range(n).select(
      (col("id") % 3).cast("string").as("project_id"),
      (lit("2024-03-01 00:00:00").cast("timestamp_ntz")
        + expr("make_interval(0, 0, 0, 0, id, 0, 0)")).as("timestamp"),
      concat(lit("r"), col("id")).as("id"),
      lit("n").as("name"))
  }

  test("date-bounded window: only append-touched dates re-window after compaction") {
    import org.apache.spark.sql.execution.window.WindowExec
    val t = freshTable()
    // two days of data (rows(n) spreads hours across 2024-03-01/02)
    t.append(rows(40), Some(java.time.LocalDateTime.of(2024, 3, 2, 0, 0)))
    t.compact()
    // an update touches ONLY day two's identities
    t.update(col("timestamp") >= lit("2024-03-02 00:00:00").cast("timestamp_ntz"),
      Map("name" -> lit("u")), Some(java.time.LocalDateTime.of(2024, 3, 3, 0, 0)))
    val resolved = t.readResolved()
    assert(resolved.count() == 40)
    assert(resolved.filter(col("name") === "u").count() == 16)
    // the untouched day streams off the base scan without a window: in the
    // day-one slice of the plan, every scan under a WindowExec must prune
    // to zero files (AQE off so the physical tree is inspectable whole)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val dayOne = t.readResolved()
        .filter(col("date") === lit("2024-03-01").cast("date"))
      val plan = dayOne.queryExecution.executedPlan
      // best case Catalyst folds `date = d1 AND date IN (touched)` to false
      // and drops the window branch entirely; otherwise it must at least
      // feed the window zero files
      val filesUnderWindow = plan.collect { case w: WindowExec => w }
        .flatMap(_.collect {
          case s: FileSourceScanExec => s.selectedPartitions.totalNumberOfFiles
        }).sum
      val filesTotal = plan.collect {
        case s: FileSourceScanExec => s.selectedPartitions.totalNumberOfFiles
      }.sum
      assert(filesTotal > 0, "the untouched-base leg must still scan files")
      assert(filesUnderWindow == 0,
        s"untouched date must not re-window, but $filesUnderWindow files feed the window")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  private def scans(df: org.apache.spark.sql.DataFrame): Seq[FileSourceScanExec] = {
    val plan = df.queryExecution.executedPlan match {
      // shuffling plans (the dedup window) plan adaptively; the scan lives
      // under the AQE root's current physical plan
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    plan.collect { case s: FileSourceScanExec => s }
  }

  test("project_id and date predicates become partition filters") {
    val t = freshTable()
    t.append(rows(96), Some(java.time.LocalDateTime.of(2024, 4, 1, 0, 0)))
    val q = t.readRaw().filter(col("project_id") === "1" &&
      col("date") === "2024-03-02")
    val scan = scans(q).head
    val pf = scan.partitionFilters.map(_.sql).mkString(";")
    assert(pf.contains("project_id"), s"partition filters: $pf")
    assert(pf.contains("date"), s"partition filters: $pf")
    // pruning actually selects fewer files than the table holds
    assert(scan.relation.location.inputFiles.length >
      scan.selectedPartitions.totalNumberOfFiles)
  }

  test("time-range predicates push down to the parquet reader") {
    val t = freshTable()
    t.append(rows(96), Some(java.time.LocalDateTime.of(2024, 4, 1, 0, 0)))
    val q = t.readRaw().filter(
      col("timestamp") >= lit("2024-03-02 06:00:00").cast("timestamp_ntz"))
    val scan = scans(q).head
    val pushed = scan.metadata.getOrElse("PushedFilters", "")
    assert(pushed.contains("GreaterThanOrEqual(timestamp"),
      s"PushedFilters: $pushed")
  }

  test("a timestamp-only range filter prunes date partitions") {
    val t = freshTable()
    t.append(rows(96), Some(java.time.LocalDateTime.of(2024, 4, 1, 0, 0)))
    // rows span 2024-03-01 .. 2024-03-04 (96 hourly rows, 3 tenants); the
    // reference's monoscope-OOM shape: tenant + raw timestamp window only
    val q = t.readRaw().filter(col("project_id") === "1" &&
      col("timestamp") >= lit("2024-03-02 06:00:00").cast("timestamp_ntz") &&
      col("timestamp") < lit("2024-03-03 06:00:00").cast("timestamp_ntz"))
    val scan = scans(q).head
    val pf = scan.partitionFilters.map(_.sql).mkString(";")
    assert(pf.contains("date"), s"derived date bounds missing: $pf")
    // 2 of the tenant's 4 date dirs survive (4×3 total dirs in the table)
    assert(scan.selectedPartitions.totalNumberOfFiles <
      scan.relation.location.inputFiles.length / 3,
      s"selected ${scan.selectedPartitions.totalNumberOfFiles} of " +
        s"${scan.relation.location.inputFiles.length}")
    // the derived bounds are necessary conditions: no matching row lost
    assert(q.count() == 8) // hours 30..53 with id%3==1
  }

  test("ts→date derivation: swapped operands, equality, and BETWEEN") {
    val t = freshTable()
    t.append(rows(96), Some(java.time.LocalDateTime.of(2024, 4, 1, 0, 0)))
    def datePf(q: org.apache.spark.sql.DataFrame): String =
      scans(q).head.partitionFilters.map(_.sql).mkString(";")
    // lit <= ts (reversed) → date >= bound
    val rev = t.readRaw().filter(
      lit("2024-03-03 00:00:00").cast("timestamp_ntz") <= col("timestamp"))
    assert(datePf(rev).contains("date"), datePf(rev))
    assert(rev.count() == 48)
    // equality → date = bound, one dir per tenant
    val eq = t.readRaw().filter(
      col("timestamp") === lit("2024-03-02 05:00:00").cast("timestamp_ntz"))
    assert(datePf(eq).contains("date"), datePf(eq))
    assert(eq.count() == 1)
    // BETWEEN desugars to >= AND <= → two inclusive date bounds
    val between = t.readRaw().where(
      "timestamp BETWEEN TIMESTAMP_NTZ'2024-03-02 00:00:00' AND TIMESTAMP_NTZ'2024-03-02 23:00:00'")
    val bpf = datePf(between)
    assert(bpf.contains(">=") && bpf.contains("<="), bpf)
    assert(between.count() == 24)
  }

  test("ts→date derivation: cast-wrapped string literal still derives bounds") {
    val t = freshTable()
    t.append(rows(96), Some(java.time.LocalDateTime.of(2024, 4, 1, 0, 0)))
    // string comparand: coercion wraps the literal in Cast(Literal) — the
    // reference's extended-protocol param-binding regression
    val q = t.readRaw().where("timestamp >= '2024-03-03 00:00:00'")
    val scan = scans(q).head
    val pf = scan.partitionFilters.map(_.sql).mkString(";")
    assert(pf.contains("date"), s"cast-wrapped literal not unwrapped: $pf")
    assert(q.count() == 48)
  }

  test("recentPage scans only trailing dates, widens past tombstoned days") {
    import spark.implicits._
    val t = freshTable()
    // 240 rows across 10 days × 3 tenants, one row per (day, minute)
    val daily = spark.range(240).select(
      (col("id") % 3).cast("string").as("project_id"),
      (lit("2024-03-01 00:00:00").cast("timestamp_ntz")
        + expr("make_interval(0, 0, 0, id % 10, 0, id, 0)")).as("timestamp"),
      concat(lit("r"), col("id")).as("id"),
      lit("n").as("name"))
    t.append(daily, Some(java.time.LocalDateTime.of(2024, 4, 1, 0, 0)))
    // the commit marker records the version's event-date range, so the
    // page's date set comes from the marker listing, not a FS walk
    val markers = new java.io.File(s"${t.root}/${t.meta.name}/_commits").list()
    assert(markers.exists(_.contains(".dr.2024-03-01.2024-03-10")),
      s"marker date range missing: ${markers.toSeq}")

    def brute(k: Int) = t.readResolved()
      .orderBy(col("timestamp").desc, col("id").desc).limit(k)
      .select("project_id", "id", "timestamp").as[(String, String, String)]
      .collect().toSeq
    def paged(k: Int) = t.recentPage(k, Seq(col("id").desc))
      .select("project_id", "id", "timestamp").as[(String, String, String)]
      .collect().toSeq

    // k=20 fits inside the newest day (24 rows/day) → exactly one date
    // dir scanned, ONCE (the page is served from the probe's own
    // materialization, no count+fetch double execution). Measured at the
    // task level: an unpruned probe reads all 240 rows; a pruned one
    // reads the newest day's 24 plus its own ≤ 24 checkpointed rows back.
    val want20 = brute(20)
    val (page20, work) = SparkWork.of(spark)(paged(20))
    assert(page20 == want20)
    assert(work.recordsRead <= 80,
      s"recentPage(20) read ${work.recordsRead} records — pruning or " +
        "single-execution regressed (unpruned scan would read 240)")

    // k=60 spans >2 days → geometric widening, still exact
    assert(paged(60) == brute(60))

    // tombstone the entire newest day: resolution leaves it empty, so the
    // page must widen past it and still match the brute-force answer
    t.delete(col("date") === "2024-03-10",
      Some(java.time.LocalDateTime.of(2024, 4, 2, 0, 0)))
    assert(paged(20) == brute(20))
    assert(paged(20).forall(!_._3.startsWith("2024-03-10")))
  }

  test("point-lookup id filter pushes below the dedup window to the reader") {
    val t = freshTable()
    t.append(rows(96), Some(java.time.LocalDateTime.of(2024, 4, 1, 0, 0)))
    // id is a dedup key = a window partition column, so Catalyst may push
    // the equality below the window into the scan (the trace_lookup shape:
    // bloom filters + row-group stats then skip non-matching groups)
    val q = t.readResolved().filter(col("project_id") === "1" &&
      col("id") === "r7")
    val scan = scans(q).head
    val pushed = scan.metadata.getOrElse("PushedFilters", "")
    assert(pushed.contains("EqualTo(id,r7)"), s"PushedFilters: $pushed")
    assert(q.count() == 1)
  }

  test("zorder_key is order-preserving on a single column and null-first") {
    import spark.implicits._
    val vals = Seq(-50L, -1L, 0L, 3L, 1000L, Long.MaxValue / 2)
    val keyed = vals.toDF("x")
      .select(col("x"), graft.functions.ZOrderKey(Seq(col("x"))).as("k"))
      .orderBy("k").collect().map(_.getLong(0))
    assert(keyed.toSeq == vals.sorted, s"got ${keyed.mkString(",")}")
    val nullKey = Seq[Option[Long]](None).toDF("x")
      .select(graft.functions.ZOrderKey(Seq(col("x"))).as("k"))
      .head().getLong(0)
    val minKey = Seq(Long.MinValue).toDF("x")
      .select(graft.functions.ZOrderKey(Seq(col("x"))).as("k"))
      .head().getLong(0)
    assert(nullKey <= minKey, "nulls sort first")
  }

  test("narrow z-order columns contribute their real bits to the key") {
    import spark.implicits._
    // n=2 interleave consumes each column's TOP 32 bits; an Int rank left
    // in the low half would make every small-int key identical (the
    // silent-entropy-loss trap). Distinct ints with a constant sibling must
    // yield distinct, order-preserving keys.
    val ints = Seq(-50, -1, 0, 3, 1000)
    val keys = ints.map(i => (i, 7L)).toDF("a", "b")
      .select(col("a"),
        graft.functions.ZOrderKey(Seq(col("a"), col("b"))).as("k"))
      .orderBy("k").collect().map(r => (r.getInt(0), r.getLong(1)))
    assert(keys.map(_._2).distinct.length == ints.length,
      "int column added no entropy to the z-order key")
    assert(keys.map(_._1).toSeq == ints.sorted, "int order not preserved")
    // doubles order across the sign boundary (IEEE754 total-order mapping)
    val ds = Seq(-1.5, -0.1, 0.0, 0.2, 3.75)
    val dKeys = ds.toDF("x")
      .select(col("x"), graft.functions.ZOrderKey(Seq(col("x"))).as("k"))
      .orderBy("k").collect().map(_.getDouble(0))
    assert(dKeys.toSeq == ds.sorted, s"got ${dKeys.mkString(",")}")
  }

  test("z-order compaction preserves the resolved view") {
    val t = freshTable() // morVersioned declares z_order_columns
    t.append(rows(96), Some(java.time.LocalDateTime.of(2024, 4, 1, 0, 0)))
    t.append(rows(96), Some(java.time.LocalDateTime.of(2024, 4, 1, 1, 0)))
    val before = t.readResolved().orderBy("id").collect()
    t.compact()
    val after = t.readResolved().orderBy("id").collect()
    assert(before.map(_.toString).toSeq == after.map(_.toString).toSeq)
    assert(t.readRaw().count() == 96)
  }

  test("late data lands in its event-time date partition") {
    val t = freshTable()
    t.append(rows(24), Some(java.time.LocalDateTime.of(2024, 4, 1, 0, 0)))
    // a late row for day 1, arriving much later
    import spark.implicits._
    val late = Seq(("1", "2024-03-01 05:00:00", "late-1", "late"))
      .toDF("project_id", "ts", "id", "name")
      .select(col("project_id"), col("ts").cast("timestamp_ntz").as("timestamp"),
        col("id"), col("name"))
    t.append(late, Some(java.time.LocalDateTime.of(2024, 4, 9, 0, 0)))
    val byDate = t.readResolved().filter(col("id") === "late-1")
      .select(col("date").cast("string")).head().getString(0)
    assert(byDate == "2024-03-01", "late row must join its event-time day")
    // and a date-pruned scan of day 1 sees it
    assert(t.readResolved().filter(col("date") === "2024-03-01")
      .filter(col("id") === "late-1").count() == 1)
  }
}
