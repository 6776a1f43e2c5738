package graft

import org.apache.spark.sql.TestPins
import org.scalatest.funsuite.AnyFunSuite

/** Source scan that keeps one way to build a graft session and one way to
  * inject its planner rules: [[GraftSession.build]] and
  * [[graft.plans.GraftExtensions]]. A second builder or a post-construction
  * rule injection would let a main or a test plan under rules the others
  * do not run.
  */
class OneSessionSpec extends AnyFunSuite {
  import SourceScan.sources

  private def hits(files: Seq[(java.nio.file.Path, String)], pattern: String): Seq[String] =
    SourceScan.hits(files, pattern).map(_._1)

  test("SparkSession's builder is called only in GraftSession.scala") {
    val all = sources("src/main/scala") ++ sources("src/test/scala")
    val outside = hits(all.filterNot(_._1.getFileName.toString == "GraftSession.scala"),
      """SparkSession\s*\.\s*builder""")
    assert(outside.isEmpty, "build sessions with GraftSession.build:\n" +
      outside.mkString("\n"))
    assert(hits(all, """SparkSession\s*\.\s*builder""").nonEmpty,
      "the scan must see GraftSession's own builder call")
  }

  test("a session's status store keeps at most RetainedExecutions executions") {
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    val spark = SparkTestSession.spark
    (0 until GraftSession.RetainedExecutions + 10).foreach(i => spark.range(i).collect())
    // the store trims on a background thread once it holds more
    eventually(timeout(30.seconds)) {
      val held = TestPins.sqlExecutions(spark)
      assert(held <= GraftSession.RetainedExecutions, s"$held executions held")
    }
  }

  test("main code injects no optimizer rule through spark.experimental") {
    val assigns = hits(sources("src/main/scala"),
      """extraOptimizations\s*(\+\+|:\+)?=(?!=)""")
    assert(assigns.isEmpty, "inject rules through GraftExtensions:\n" +
      assigns.mkString("\n"))
  }
}
