package graft

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.JoinKeys
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Width
import graft.schema.TableSchemas
import graft.sources.{BufferedWriteLayer, GraftTable}

/** Driver-side file skipping on `id` blooms, and DML that pushes its
  * source's keys: a scan with a pushed id lookup lists only the files
  * that can hold the ids, every id-filtered read equals the same read
  * with the ids not pushed, restricted DML equals a last-write-wins
  * model, and the conservative cases (no bloom, a null-safe join, a
  * source above the bound) keep every file and the whole plan. */
class IdSkippingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val schema = TableSchemas.morVersioned.copy(bloomFilterColumns = Seq("id"))

  private def freshTable() = new GraftTable(spark,
    Files.createTempDirectory("graft_idskip_").toString, schema)

  private def at(m: Int) = Some(java.time.LocalDateTime.of(2024, 4, 1, 0, m))

  /** Identity `n`: tenant `n mod 3`, event time `n × 97` minutes after
    * 2024-03-01 (ids 0..29 span three dates). */
  private def rows(ids: Seq[Int], name: String): DataFrame = {
    import spark.implicits._
    ids.toDF("n").select(
      (col("n") % 3).cast("string").as("project_id"),
      (lit("2024-03-01 00:00:00").cast("timestamp_ntz")
        + expr("make_interval(0, 0, 0, 0, 0, n * 97, 0)")).as("timestamp"),
      concat(lit("row-"), col("n")).as("id"),
      lit(name).as("name"))
  }

  private def names(ns: Seq[Int]) = ns.map(n => s"row-$n")

  private def scans(df: DataFrame): Seq[FileSourceScanExec] = {
    def walk(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: FileSourceScanExec => Seq(s)
      case o => o.children.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan)
  }

  private def selectedFiles(df: DataFrame): Set[String] =
    scans(df).flatMap(s => s.relation.location.listFiles(s.partitionFilters, s.dataFilters)
      .flatMap(_.files.map(_.fileStatus.getPath.toString))).toSet

  private def view(df: DataFrame): Set[(String, String)] =
    df.select("id", "name").collect()
      .map { case Row(i: String, n: String) => (i, n) }.toSet

  /** A six-leg table: 30 identities compacted, then five appends. */
  private def sixLegs(): GraftTable = {
    val t = freshTable()
    t.append(rows(0 until 30, "base"), at(0))
    t.compact()
    (1 to 5).foreach(k => t.append(rows(Seq(k, k + 10, k + 20), s"a$k"), at(k)))
    t
  }

  test("an 8-id delete over a six-leg table scans only the files that hold the ids") {
    val t = sixLegs()
    val targets = names(Seq(1, 4, 7, 12, 15, 22, 25, 28))
    // the files that hold a target, found without pushing the ids
    val holding = t.readRaw().filter(concat(col("id"), lit("")).isin(targets: _*))
      .select(input_file_name()).distinct().collect().map(_.getString(0))
      .map(p => new org.apache.hadoop.fs.Path(p).toUri.getPath).toSet
    val all = t.readRaw().inputFiles.map(p => new org.apache.hadoop.fs.Path(p).toUri.getPath).toSet
    assert(holding.nonEmpty && holding.size < all.size, s"$holding of $all")
    val lookup = t.readResolved().filter(col("id").isin(targets: _*))
    assert(selectedFiles(lookup).map(p => new org.apache.hadoop.fs.Path(p).toUri.getPath) == holding)
    val holdingBytes = holding.toSeq.map(p => new java.io.File(p).length).sum
    val (_, work) = SparkWork.of(spark)(t.delete(col("id").isin(targets: _*), at(9)))
    // the date-bounded window reads the relation once per scan
    val reads = scans(lookup).size
    assert(work.inputBytes > 0 && work.inputBytes <= reads * (holdingBytes * 102 / 100 + 1024),
      s"$work read, the holding files are $holdingBytes B, read by $reads scans")
    assert(view(t.readResolved()).map(_._1) == names(0 until 30).toSet -- targets)
  }

  test("a file whose id chunk is dictionary-only is never skipped") {
    val t = freshTable()
    import spark.implicits._
    // one identity at 200 times: a repeated id keeps its dictionary, and
    // parquet writes no bloom for a dictionary-only chunk
    t.append((0 until 200).toDF("n").select(lit("1").as("project_id"),
      (lit("2024-03-01 00:00:00").cast("timestamp_ntz")
        + expr("make_interval(0, 0, 0, 0, 0, 0, n)")).as("timestamp"),
      lit("dup").as("id"), lit("n").as("name")), at(0))
    val file = ParquetBlooms.files(s"${t.root}/${t.meta.name}").head
    assert(ParquetBlooms.chunks(file, "id", spark.sparkContext.hadoopConfiguration) ==
      Seq(ParquetBlooms.Chunk(None, dictionaryOnly = true)))
    val before = t.skippingStats.toMap
    val absent = t.readResolved().filter(col("id") === "row-absent")
    assert(selectedFiles(absent).size == 1)
    assert(absent.count() == 0)
    val after = t.skippingStats.toMap
    assert(after("files_considered") > before("files_considered"))
    assert(after("files_skipped") == before("files_skipped"))
  }

  test("a null-safe join and a source above the bound leave the plan unrestricted") {
    import spark.implicits._
    val t = sixLegs()
    val target = t.readResolved()
    def restrictions(src: DataFrame, on: Column, bound: Int) = JoinKeys.restrictions(
      target.alias("t").join(src.alias("s"), on, "inner"), target, bound)
    val src = Seq("row-1", "row-2", null).toDF("sid")
    val (local, localWork) = SparkWork.of(spark)(
      restrictions(src, col("t.id") === col("s.sid"), 2))
    assert(local.size == 1 && localWork.jobs == 0, localWork)
    assert(restrictions(src, col("t.id") <=> col("s.sid"), 2).isEmpty)
    assert(restrictions(src.union(Seq("row-3").toDF("sid")),
      col("t.id") === col("s.sid"), 2).isEmpty)
    // a source that is not a local relation runs one bounded collect
    val ranged = spark.range(3).select(concat(lit("row-"), col("id")).as("sid"))
    val (bounded, rangedWork) = SparkWork.of(spark)(
      restrictions(ranged, col("t.id") === col("s.sid"), 3))
    assert(bounded.size == 1 && rangedWork.actions == Seq("collect"), rangedWork)
    assert(restrictions(ranged, col("t.id") === col("s.sid"), 2).isEmpty)
    // an expression on the target side is not restricted
    assert(restrictions(src, lower(col("t.id")) === col("s.sid"), 2).isEmpty)
  }

  // ---- property 1: an id-filtered read equals the unpushed one ---------

  private sealed trait Op
  private case class Insert(ids: Seq[Int]) extends Op
  private case class Update(ids: Seq[Int]) extends Op
  private case class Delete(ids: Seq[Int]) extends Op
  private case class CompactRange(lo: Int, hi: Int) extends Op
  private case object Compact extends Op
  private case object Vacuum extends Op

  private val Ids = 30
  private val idsGen = Gen.choose(0, 6).flatMap(Gen.pick(_, 0 until Ids)).map(_.toSeq)
  private val opGen: Gen[Op] = Gen.frequency(
    4 -> idsGen.map(Insert(_)), 2 -> idsGen.map(Update(_)),
    2 -> idsGen.map(Delete(_)),
    2 -> (for { lo <- Gen.choose(0, 2); hi <- Gen.choose(lo, 2) }
      yield CompactRange(lo, hi)),
    1 -> Gen.const(Compact), 1 -> Gen.const(Vacuum))
  private val opsGen: Gen[Seq[Op]] = for {
    first <- Gen.choose(1, 6).flatMap(Gen.pick(_, 0 until Ids)).map(_.toSeq)
    n <- Gen.choose(1, 4)
    rest <- Gen.listOfN(n, opGen)
  } yield Insert(first) +: rest
  /** Present (< 30), absent (≥ 30) and mixed id sets; one id plans as
    * `id = v`, more as `IN`/`INSET`. */
  private val lookupGen: Gen[Seq[Int]] = Gen.oneOf(
    Gen.choose(1, 14).flatMap(Gen.pick(_, 0 until Ids)).map(_.toSeq),
    Gen.choose(1, 4).flatMap(Gen.pick(_, Ids until 2 * Ids)).map(_.toSeq),
    Gen.choose(1, 14).flatMap(Gen.pick(_, 0 until 2 * Ids)).map(_.toSeq))

  private val day0 = java.time.LocalDate.of(2024, 3, 1)

  private def apply(t: GraftTable, op: Op, k: Int): Unit = op match {
    case Insert(ns) => t.append(rows(ns, s"s$k"), at(k))
    case Update(ns) => t.update(col("id").isin(names(ns): _*), Map("name" -> lit(s"s$k")), at(k))
    case Delete(ns) => t.delete(col("id").isin(names(ns): _*), at(k))
    case CompactRange(lo, hi) => t.compactRange(day0.plusDays(lo), day0.plusDays(hi))
    case Compact => t.compact()
    case Vacuum => t.vacuum()
  }

  test("ScalaCheck: an id-filtered read (resolved, buffered, as-of) equals " +
      "the same read with the ids not pushed") {
    val prop = Prop.forAllNoShrink(opsGen, lookupGen, idsGen) { (ops, lookup, buffered) =>
      val t = freshTable()
      ops.zipWithIndex.foreach { case (op, k) => apply(t, op, k) }
      val buf = new BufferedWriteLayer(t)
      buf.insert(rows(buffered, "buf"), at(ops.size))
      val asOf = try { t.readResolvedAsOf(t.currentVersion() - 1) }
        catch { case _: IllegalStateException => t.readResolvedAsOf(t.currentVersion()) }
      val ids = names(lookup)
      val diffs = Seq("resolved" -> t.readResolved(), "buffered" -> buf.readResolved(),
        "as-of" -> asOf).flatMap { case (what, df) =>
        val pushed = view(df.filter(col("id").isin(ids: _*)))
        val unpushed = view(df.filter(concat(col("id"), lit("")).isin(ids: _*)))
        if (pushed == unpushed) None
        else Some(s"$what: pushed $pushed, unpushed $unpushed")
      }
      buf.close()
      Prop(diffs.isEmpty) :| s"$ops / $lookup: ${diffs.mkString("; ")}"
    }
    val res = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(100).withWorkers(1)
      .withInitialSeed(Seed(20241101L)), prop)
    assert(res.passed, Pretty.pretty(res))
  }

  // ---- property 2: restricted DML equals a last-write-wins model -------

  private sealed trait Dml
  private case class Put(ids: Seq[Int]) extends Dml
  /** `updateFrom` on the table (flushing the buffer first) or through the
    * buffer; `big` pads the source past the bound with absent ids, `nulls`
    * adds a null key. */
  private case class UpdateFrom(ids: Seq[Int], buffered: Boolean, big: Boolean,
      nulls: Boolean) extends Dml
  private case class Merge(ids: Seq[Int], insert: Boolean, big: Boolean,
      nulls: Boolean) extends Dml
  private case class Remove(ids: Seq[Int]) extends Dml
  private case class Sweep(lo: Int, hi: Int) extends Dml

  private val bigGen = Gen.frequency(6 -> false, 1 -> true)
  private val dmlGen: Gen[Dml] = Gen.frequency(
    3 -> idsGen.map(Put(_)),
    3 -> (for { ns <- idsGen; b <- Gen.oneOf(true, false); big <- bigGen
      n <- Gen.oneOf(true, false) } yield UpdateFrom(ns, b, big, n)),
    // an inserting merge writes every source row, so its sources stay
    // small and hold no null key
    3 -> (for { ns <- idsGen; ins <- Gen.oneOf(true, false); big <- bigGen
      n <- Gen.oneOf(true, false) } yield Merge(ns, ins, big && !ins, n && !ins)),
    1 -> idsGen.map(Remove(_)),
    1 -> (for { lo <- Gen.choose(0, 2); hi <- Gen.choose(lo, 2) } yield Sweep(lo, hi)))
  private val dmlsGen: Gen[Seq[Dml]] = for {
    first <- Gen.choose(1, 8).flatMap(Gen.pick(_, 0 until Ids)).map(_.toSeq)
    n <- Gen.choose(1, 4)
    rest <- Gen.listOfN(n, dmlGen)
  } yield Put(first) +: rest

  /** Source rows of `ids` named `name`, under key column `key`; `big`
    * adds `Width.ScaleGateRows` + 1 absent keys, `nulls` a null key. */
  private def source(ids: Seq[Int], name: String, key: String, big: Boolean,
      nulls: Boolean): DataFrame = {
    import spark.implicits._
    val base = rows(ids, name)
    val padded = if (!big) base else base.unionByName(
      spark.range(Width.ScaleGateRows + 1).select(lit("0").as("project_id"),
        lit("2024-03-01 00:00:00").cast("timestamp_ntz").as("timestamp"),
        concat(lit("pad-"), col("id")).as("id"), lit(name).as("name")))
    val withNull = if (!nulls) padded else padded.unionByName(
      Seq(("0", "x")).toDF("project_id", "name").select(col("project_id"),
        lit("2024-03-01 00:00:00").cast("timestamp_ntz").as("timestamp"),
        lit(null).cast("string").as("id"), col("name")))
    withNull.withColumnRenamed("id", key)
  }

  test("ScalaCheck: restricted updateFrom (table and buffered) and merge " +
      "equal a last-write-wins model") {
    val prop = Prop.forAllNoShrink(dmlsGen) { dmls =>
      val t = freshTable()
      val buf = new BufferedWriteLayer(t)
      val model = scala.collection.mutable.Map[String, String]()
      dmls.zipWithIndex.foreach { case (op, k) =>
        val tag = s"s$k"
        op match {
          case Put(ns) =>
            buf.flush(); t.append(rows(ns, tag), at(k))
            names(ns).foreach(model(_) = tag)
          case UpdateFrom(ns, buffered, big, nulls) =>
            val src = source(ns, tag, "sid", big, nulls).select("sid", "name")
            val on = col("t.id") === col("s.sid")
            val set = Map("name" -> col("s.name"))
            if (buffered) buf.updateFrom(src, on, set, at(k))
            else { buf.flush(); t.updateFrom(src, on, set, at(k)) }
            names(ns).filter(model.contains).foreach(model(_) = tag)
          case Merge(ns, insert, big, nulls) =>
            buf.flush()
            t.merge(source(ns, tag, "id", big, nulls), Seq("id"),
              Map("name" -> col("s.name")), insert, at(k))
            names(ns).filter(n => insert || model.contains(n)).foreach(model(_) = tag)
          case Remove(ns) =>
            buf.flush(); t.delete(col("id").isin(names(ns): _*), at(k))
            model --= names(ns)
          case Sweep(lo, hi) =>
            buf.flush(); t.compactRange(day0.plusDays(lo), day0.plusDays(hi))
        }
      }
      val got = view(buf.readResolved())
      buf.close()
      Prop(got == model.toSet) :|
        s"$dmls: missing ${model.toSet -- got} extra ${got -- model.toSet}"
    }
    val res = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(100).withWorkers(1)
      .withInitialSeed(Seed(20241102L)), prop)
    assert(res.passed, Pretty.pretty(res))
  }
}
