package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source scan that keeps one way to build a graft session and one way to
  * inject its planner rules: [[GraftSession.build]] and
  * [[graft.plans.GraftExtensions]]. A second builder or a post-construction
  * rule injection would let a main or a test plan under rules the others
  * do not run.
  */
class OneSessionSpec extends AnyFunSuite {

  private def sources(root: String): Seq[(Path, String)] = {
    val dir = Paths.get(root)
    assert(Files.isDirectory(dir), s"$root not found from ${Paths.get("").toAbsolutePath}")
    val walk = Files.walk(dir)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      .map(p => p -> new String(Files.readAllBytes(p), "UTF-8"))
    finally walk.close()
  }

  private def hits(files: Seq[(Path, String)], pattern: String): Seq[String] = {
    val re = pattern.r
    files.flatMap { case (p, text) =>
      text.linesIterator.zipWithIndex.collect {
        case (line, i) if re.findFirstIn(line).isDefined => s"$p:${i + 1}: ${line.trim}"
      }
    }
  }

  test("SparkSession's builder is called only in GraftSession.scala") {
    val all = sources("src/main/scala") ++ sources("src/test/scala")
    val outside = hits(all.filterNot(_._1.getFileName.toString == "GraftSession.scala"),
      """SparkSession\s*\.\s*builder""")
    assert(outside.isEmpty, "build sessions with GraftSession.build:\n" +
      outside.mkString("\n"))
    assert(hits(all, """SparkSession\s*\.\s*builder""").nonEmpty,
      "the scan must see GraftSession's own builder call")
  }

  test("main code injects no optimizer rule through spark.experimental") {
    val assigns = hits(sources("src/main/scala"),
      """extraOptimizations\s*(\+\+|:\+)?=(?!=)""")
    assert(assigns.isEmpty, "inject rules through GraftExtensions:\n" +
      assigns.mkString("\n"))
  }
}
