package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

import graft.schema.TableSchemas
import graft.sources.{BufferedWriteLayer, GraftTable}

/** Buffered view == flushed view: for generated interleavings of
  * inserts, re-sent identities, late rows, `updateFrom` and flushes on a
  * durable layer, the read-your-writes view equals the view a layer
  * recovered from the WAL serves, and the table's own view after a final
  * flush. */
class BufferedViewSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private sealed trait Op
  /** Rows of identities `ids`: a re-send for each already inserted id, a
    * late row for each id older than the newest one inserted. */
  private case class Insert(ids: Seq[Int]) extends Op
  private case class Enrich(ids: Seq[Int]) extends Op
  private case object Flush extends Op

  private val Ids = 40
  private val idsGen = Gen.choose(1, 12).flatMap(Gen.pick(_, 0 until Ids)).map(_.toSeq)
  private val opGen: Gen[Op] = Gen.frequency(
    5 -> idsGen.map(Insert(_)), 2 -> idsGen.map(Enrich(_)), 1 -> Gen.const(Flush))
  private val opsGen: Gen[Seq[Op]] = for {
    first <- idsGen
    n <- Gen.choose(1, 5)
    rest <- Gen.listOfN(n, opGen)
  } yield Insert(first) +: rest

  /** Identity `n`: tenant `n mod 3`, event time `n × 97` minutes after
    * 2024-03-01 (ids 0..39 span three dates). */
  private def rows(ids: Seq[Int], name: String) = {
    import spark.implicits._
    ids.toDF("n").select(
      (col("n") % 3).cast("string").as("project_id"),
      (lit("2024-03-01 00:00:00").cast("timestamp_ntz")
        + expr("make_interval(0, 0, 0, 0, 0, n * 97, 0)")).as("timestamp"),
      concat(lit("row-"), col("n")).as("id"),
      lit(name).as("name"))
  }

  private def view(df: org.apache.spark.sql.DataFrame): Set[Row] = df.collect().toSet

  test("buffered view == recovered view == flushed view") {
    val prop = Prop.forAllNoShrink(opsGen) { ops =>
      val tbl = new GraftTable(spark,
        Files.createTempDirectory("graft_bufview_").toString,
        TableSchemas.morVersioned)
      val buf = new BufferedWriteLayer(tbl, durable = true)
      ops.zipWithIndex.foreach { case (op, k) =>
        val at = Some(java.time.LocalDateTime.of(2024, 3, 5, 0, k))
        op match {
          case Insert(ids) => buf.insert(rows(ids, s"i$k"), at)
          case Enrich(ids) =>
            import spark.implicits._
            buf.updateFrom(ids.map(n => s"row-$n").toDF("sid"),
              col("t.id") === col("s.sid"), Map("name" -> lit(s"u$k")), at)
          case Flush => buf.flush()
        }
      }
      val buffered = view(buf.readResolved())
      buf.simulateCrash()
      val recovered = new BufferedWriteLayer(tbl, durable = true)
      val replayed = view(recovered.readResolved())
      recovered.flush()
      val flushed = view(tbl.readResolved())
      recovered.close()
      val inserted = ops.collect { case Insert(ids) => ids }.flatten.distinct.size
      Prop(buffered.size == inserted) :| s"${buffered.size} rows, $inserted ids" &&
        Prop(replayed == buffered) :| s"recovered ${replayed -- buffered}" &&
        Prop(flushed == buffered) :| s"flushed ${flushed -- buffered}"
    }
    val res = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(50).withWorkers(1)
      .withInitialSeed(Seed(20240305L)), prop)
    assert(res.passed, Pretty.pretty(res))
  }
}
