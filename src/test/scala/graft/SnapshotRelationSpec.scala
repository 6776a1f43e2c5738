package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

import graft.schema.TableSchemas
import graft.sources.{BufferedWriteLayer, GraftTable}

/** A snapshot reads as ONE parquet relation over a listing made on the
  * driver: building a view runs no Spark job, every use of the relation
  * is one scan, a scan packs all legs' small files into at most one task
  * per core, the relation types its columns as `spark.read.parquet` does,
  * the scan gate's estimate is the relation's own file selection, and the
  * partial-base exclusions done by directory selection keep the resolved
  * view exact under any sequence of writes and maintenance. */
class SnapshotRelationSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def freshTable() = new GraftTable(spark,
    Files.createTempDirectory("graft_snap_").toString, TableSchemas.morVersioned)

  /** Identity `n`: tenant `n mod 4`, event time `n × 36` minutes after
    * 2024-03-01 (ids 0..399 span ten dates: 40 tenant-days). */
  private def rows(ids: Seq[Int], name: String): DataFrame = {
    import spark.implicits._
    ids.toDF("n").select(
      (col("n") % 4).cast("string").as("project_id"),
      (lit("2024-03-01 00:00:00").cast("timestamp_ntz")
        + expr("make_interval(0, 0, 0, 0, 0, n * 36, 0)")).as("timestamp"),
      concat(lit("row-"), col("n")).as("id"),
      lit(name).as("name"))
  }

  private def at(m: Int) = Some(java.time.LocalDateTime.of(2024, 4, 1, 0, m))

  /** Five append legs of three identities each over `base` (when given):
    * six live legs with a compacted base, five without. */
  private def fragmented(compacted: Boolean): GraftTable = {
    val t = freshTable()
    t.append(rows(0 until 400, "base"), at(0))
    if (compacted) t.compact()
    (1 to 5).foreach(k =>
      t.append(rows(Seq(k * 7, k * 61, k * 73), s"a$k"), at(k)))
    t
  }

  private def scans(df: DataFrame): Seq[FileSourceScanExec] = {
    def walk(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: FileSourceScanExec => Seq(s)
      case o => o.children.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan)
  }

  private def cores = spark.sparkContext.defaultParallelism

  test("work per view: no job to build, one scan per use, one task per core") {
    val t = fragmented(compacted = true)
    assert(t.currentVersion() == 7) // base v2 + appends v3..v7
    val (view, build) = SparkWork.of(spark)(t.readResolved())
    val (raw, rawBuild) = SparkWork.of(spark)(t.readRaw())
    assert(build.jobs == 0 && rawBuild.jobs == 0, s"$build / $rawBuild")
    assert(raw.inputFiles.length > 32, raw.inputFiles.length)
    // the date-bounded window reads the relation twice (untouched dates
    // straight off the scan, touched dates through the window)
    val used = scans(view)
    assert(used.size == 2 && used.map(_.relation).distinct.size == 1,
      used.map(_.relation.location))
    assert(scans(raw).size == 1)

    // one relation packs every leg's files: at most one task per core,
    // where one relation per leg ran a task per file of each append leg
    val (_, rawWork) = SparkWork.of(spark)(raw.collect())
    assert(rawWork.fileScanStageTasks == Seq(rawWork.fileScanStageTasks.head) &&
      rawWork.fileScanStageTasks.head <= cores, rawWork)

    // all-append snapshot: the full window's map stage is the scan alone;
    // a buffered layer adds one task per pinned batch to it
    val u = fragmented(compacted = false)
    val (_, windowed) = SparkWork.of(spark)(u.readResolved().collect())
    assert(windowed.fileScanStageTasks.nonEmpty &&
      windowed.fileScanStageTasks.forall(_ <= cores), windowed)
    val buf = new BufferedWriteLayer(u)
    buf.insert(rows(Seq(1, 2, 3), "b1"), at(10))
    buf.insert(rows(Seq(3, 4, 5), "b2"), at(11))
    val (bufView, bufBuild) = SparkWork.of(spark)(buf.readResolved())
    assert(bufBuild.jobs == 0, bufBuild)
    val (got, bufWork) = SparkWork.of(spark)(bufView.collect())
    assert(got.length == 400)
    assert(bufWork.fileScanStageTasks.nonEmpty &&
      bufWork.fileScanStageTasks.forall(_ <= cores + 2), bufWork)
    buf.close()
  }

  test("the relation types columns as spark.read.parquet: every column " +
      "nullable, and a join still pushes IsNotNull(id) into the scan") {
    val t = fragmented(compacted = true)
    val leg = s"${t.root}/${t.meta.name}/v00002"
    val expected = spark.read.schema(t.meta.schema).parquet(leg).schema
    assert(t.readRaw().schema == expected)
    assert(t.readResolved().schema == expected)
    assert(expected.forall(_.nullable))
    // the updateFrom shape: the resolved view joined on a source's ids
    import spark.implicits._
    val src = Seq("row-7", "row-8").toDF("sid")
    val joined = t.readResolved().alias("t")
      .join(src.alias("s"), col("t.id") === col("s.sid"))
    val pushed = scans(joined).map(_.metadata.getOrElse("PushedFilters", ""))
    assert(pushed.nonEmpty && pushed.forall(_.contains("IsNotNull(id)")),
      pushed)
  }

  test("the scan gate's work estimate is the relation's file selection") {
    val t = fragmented(compacted = true)
    // a partial base over three dates leaves the older legs' directories
    // in them out of both the relation and the estimate
    t.compactRange(java.time.LocalDate.of(2024, 3, 2),
      java.time.LocalDate.of(2024, 3, 4))
    t.append(rows(Seq(9, 390), "late"), at(20))
    for (day <- Seq(1, 3, 6, 10, 12)) {
      val since = java.time.LocalDate.of(2024, 3, day)
      val sel = scans(t.readRaw().filter(col("date") >= lit(since)))
        .map(_.selectedPartitions)
      assert(t.selectedFileWork(since) ==
        ((sel.map(_.totalNumberOfFiles).sum, sel.map(_.totalFileSize).sum)),
        s"since $since")
    }
    assert(t.selectedFileWork(java.time.LocalDate.MIN)._1 ==
      t.readRaw().inputFiles.length)
  }

  test("plan text names the snapshot's legs, not run-varying paths") {
    def plan(): (String, String) = {
      val t = fragmented(compacted = true)
      val df = t.readResolved()
      (scans(df).head.relation.location.toString,
        PlanDump.mask(df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))))
    }
    val (index, a) = plan()
    assert(index == "mor_versioned@v00002,v00003,v00004,v00005,v00006,v00007",
      index)
    assert(plan()._2 == a, "two identical tables plan to identical text")
  }

  // ---- property: exclusions by directory selection keep the view exact --

  private sealed trait Op
  /** Insert rows of `ids` (none: an empty write). */
  private case class Insert(ids: Seq[Int]) extends Op
  /** Update / delete `ids`; absent ids match nothing (an empty write). */
  private case class Update(ids: Seq[Int]) extends Op
  private case class Delete(ids: Seq[Int]) extends Op
  /** Partial compaction of days `lo..hi` after 2024-03-01. */
  private case class CompactRange(lo: Int, hi: Int) extends Op
  private case object Compact extends Op
  private case object Vacuum extends Op
  /** Drop the newest plain append marker's date range: a range-less leg
    * (the marker shape written before range recording). */
  private case object StripRange extends Op

  private val Ids = 30
  private val idsGen = Gen.choose(0, 6).flatMap(Gen.pick(_, 0 until Ids)).map(_.toSeq)
  private val opGen: Gen[Op] = Gen.frequency(
    4 -> idsGen.map(Insert(_)), 2 -> idsGen.map(Update(_)),
    2 -> idsGen.map(Delete(_)),
    2 -> (for { lo <- Gen.choose(0, 2); hi <- Gen.choose(lo, 2) }
      yield CompactRange(lo, hi)),
    1 -> Gen.const(Compact), 1 -> Gen.const(Vacuum), 1 -> Gen.const(StripRange))
  private val opsGen: Gen[Seq[Op]] = for {
    first <- Gen.choose(1, 6).flatMap(Gen.pick(_, 0 until Ids)).map(_.toSeq)
    n <- Gen.choose(1, 4)
    rest <- Gen.listOfN(n, opGen)
  } yield Insert(first) +: rest

  /** Identity `n`: tenant `n mod 3`, event time `n × 97` minutes after
    * 2024-03-01 (ids 0..29 span three dates). */
  private def propRows(ids: Seq[Int], name: String): DataFrame = {
    import spark.implicits._
    ids.toDF("n").select(
      (col("n") % 3).cast("string").as("project_id"),
      (lit("2024-03-01 00:00:00").cast("timestamp_ntz")
        + expr("make_interval(0, 0, 0, 0, 0, n * 97, 0)")).as("timestamp"),
      concat(lit("row-"), col("n")).as("id"),
      lit(name).as("name"))
  }

  private def stripNewestRange(t: GraftTable): Unit = {
    val commits = new java.io.File(s"${t.root}/${t.meta.name}/_commits")
    val newest = commits.listFiles().filter(_.getName.startsWith("_v"))
      .maxBy(_.getName.drop(2).takeWhile(_.isDigit).toInt)
    val n = newest.getName
    if (n.contains(".dr.") && !n.contains(".base.") && !n.contains(".pb"))
      assert(newest.renameTo(new java.io.File(commits, n.takeWhile(_ != '.'))))
  }

  test("ScalaCheck: resolved == as-of current, and the row count follows " +
      "the writes, across inserts, DML, partial and full compaction, vacuum, " +
      "empty writes and range-less legs") {
    def view(df: DataFrame): Set[(String, String)] =
      df.select("id", "name").collect()
        .map { case Row(i: String, n: String) => (i, n) }.toSet
    val day0 = java.time.LocalDate.of(2024, 3, 1)
    val prop = Prop.forAllNoShrink(opsGen) { ops =>
      val t = new GraftTable(spark,
        Files.createTempDirectory("graft_snapprop_").toString,
        TableSchemas.morVersioned)
      val model = scala.collection.mutable.Map[String, String]()
      def ids(ns: Seq[Int]) = ns.map(n => s"row-$n")
      val counts = ops.zipWithIndex.map { case (op, k) =>
        val tag = s"s$k"
        val stamp = at(k)
        op match {
          case Insert(ns) =>
            t.append(propRows(ns, tag), stamp)
            ids(ns).foreach(model(_) = tag)
          case Update(ns) =>
            t.update(col("id").isin(ids(ns): _*), Map("name" -> lit(tag)), stamp)
            ids(ns).filter(model.contains).foreach(model(_) = tag)
          case Delete(ns) =>
            t.delete(col("id").isin(ids(ns): _*), stamp)
            model --= ids(ns)
          case CompactRange(lo, hi) =>
            t.compactRange(day0.plusDays(lo), day0.plusDays(hi))
          case Compact => t.compact()
          case Vacuum => t.vacuum()
          case StripRange => stripNewestRange(t)
        }
        (op, t.readResolved().count(), model.size.toLong)
      }
      val resolved = view(t.readResolved())
      val asOf = view(t.readResolvedAsOf(t.currentVersion()))
      Prop(counts.forall { case (_, got, want) => got == want }) :|
        s"counts (op, resolved, model): $counts" &&
        Prop(resolved == model.toSet) :|
        s"missing ${model.toSet -- resolved} extra ${resolved -- model.toSet}" &&
        Prop(asOf == resolved) :| s"as-of differs: ${asOf -- resolved} / ${resolved -- asOf}"
    }
    val res = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(100).withWorkers(1)
      .withInitialSeed(Seed(20240401L)), prop)
    assert(res.passed, Pretty.pretty(res))
  }
}
