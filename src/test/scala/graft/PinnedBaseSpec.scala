package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.PinnedBase

/** The incrementally-maintained survivor base behind the ingest-dedup
  * fixtures (q126/q148): per-batch maintenance must scale with the BATCH,
  * not the accumulated base — the old `base = Pin(base union keepers)`
  * discipline re-materialized every base row on every micro-batch
  * (O(batches × base) total pinned rows). */
class PinnedBaseSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def frame(lo: Int, hi: Int) = {
    import spark.implicits._
    (lo until hi).toDF("id").select(col("id").cast("long").as("id"),
      concat(lit("doc-"), col("id")).as("text"))
  }

  private def empty = frame(0, 0)

  test("current equals the plain union of every add, across merges") {
    val base = new PinnedBase(empty)
    val batches = Seq((0, 40), (40, 75), (75, 130), (130, 131), (131, 200))
    batches.foreach { case (lo, hi) => base.add(frame(lo, hi)) }
    val got = base.current.select("id").collect().map(_.getLong(0)).sorted
    assert(got.toSeq == (0L until 200L),
      "lazily-unioned fragments must hold exactly the added rows")
  }

  test("add cost is flat in base size; merge total stays amortized-log") {
    val base = new PinnedBase(empty)
    val n = 16
    val batchRows = 100
    (0 until n).foreach { b =>
      val before = base.addPinnedRows
      base.add(frame(b * batchRows, (b + 1) * batchRows))
      // the ADD pins exactly the batch — never the base (the quadratic)
      assert(base.addPinnedRows - before == batchRows,
        s"batch $b pinned ${base.addPinnedRows - before} rows as its add " +
          s"with ${b * batchRows} base rows resident — add cost must be " +
          "flat in base size")
    }
    val total = n.toLong * batchRows
    // binary-counter merging re-pins each row ≤ log₂(batches) times
    val bound = total * (63 - java.lang.Long.numberOfLeadingZeros(n) + 2)
    assert(base.pinnedRowsTotal <= bound,
      s"total pinned ${base.pinnedRowsTotal} exceeds the amortized " +
        s"O(rows·log batches) bound $bound (naive re-pinning would be " +
        s"${total * (n + 1) / 2})")
    // fragment count stays logarithmic, so `current` keeps a bounded
    // number of union legs (plan width / scheduling overhead)
    assert(base.fragments <= 5,
      s"${base.fragments} fragments after $n equal adds; binary-counter " +
        "merging should leave ≤ log₂(n)+1")
  }

  test("10-batch drain: non-merge adds read only the batch, while the " +
      "base grows 10x (listener-verified)") {
    val base = new PinnedBase(empty)
    val batchRows = 200
    (0 until 10).foreach { b =>
      val fragsBefore = base.fragments
      val (_, work) = SparkWork.of(spark)(
        base.add(frame(b * batchRows, (b + 1) * batchRows)))
      val read = work.recordsRead
      if (base.fragments > fragsBefore) {
        // non-merge batch: the add's jobs read the batch, not the base
        // (localCheckpoint reads its own input once; allow slack for
        // the count job over the freshly-pinned blocks)
        assert(read <= 3L * batchRows,
          s"non-merge batch $b read $read rows with ${b * batchRows} " +
            "base rows resident — the add is scanning the base")
      }
    }
    assert(base.current.count() == 10L * batchRows)
  }
}
