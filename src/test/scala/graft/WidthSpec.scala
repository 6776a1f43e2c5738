package graft

import java.nio.file.Path

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SourceScan.{hits, sources}
import graft.operators.Width

/** Keeps the operators' parallelism decisions in one place,
  * [[graft.operators.Width]]: a second reading of the shuffle width, a
  * hand-sized repartition or a per-operator session knob would let one
  * operator size its stages by a rule the others do not follow.
  */
class WidthSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val roots = Seq("src/main/scala/graft/operators", "src/main/scala/graft/tables")

  private def isWidth(p: Path) = p.getFileName.toString == "Width.scala"

  test("width confs and explicit repartition counts appear only in Width.scala") {
    val all = roots.flatMap(sources)
    val patterns = Seq(
      """spark\.sql\.shuffle\.partitions|initialPartitionNum|defaultParallelism""",
      // a first argument that is not a column is a partition count
      """\.repartition\(\s*(?!col\(|\$")""")
    patterns.foreach { pattern =>
      val outside = hits(all.filterNot(f => isWidth(f._1)), pattern)
      assert(outside.isEmpty, s"decide widths in Width.scala:\n${outside.map(_._1).mkString("\n")}")
      assert(hits(all.filter(f => isWidth(f._1)), pattern).nonEmpty,
        s"the scan must see Width.scala's own $pattern")
    }
  }

  test("operators read no graft session conf but the CC edge limit") {
    val allowed = Set("spark.graft.cc.driverEdgeLimit")
    val reads = hits(sources("src/main/scala/graft/operators"), """"spark\.graft\.[A-Za-z.]+"""")
      .filterNot { case (_, key) => allowed(key.stripPrefix("\"").stripSuffix("\"")) }
    assert(reads.isEmpty, s"operator knobs:\n${reads.map(_._1).mkString("\n")}")
  }

  test("exceedsCount rejects an exchange-bearing frame and probes a pinned one") {
    val shuffled = spark.range(1000).toDF().repartition(4)
    val e = intercept[IllegalArgumentException](Width.exceedsCount(shuffled, 10L))
    assert(e.getMessage.contains("pinned or scan-backed"))
    val pinned = graft.operators.Pin.lazily(shuffled)
    assert(Width.exceedsCount(pinned, 999L) && !Width.exceedsCount(pinned, 1000L))
    assert(Width.atScale(spark.range(Width.ScaleGateRows + 1).toDF()) &&
      !Width.atScale(spark.range(Width.ScaleGateRows).select(col("id"))))
  }
}
