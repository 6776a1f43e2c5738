package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.Assertions._

/** Source scans for the specs that keep one policy in one file
  * ([[WidthSpec]], [[PinSpec]], [[OneSessionSpec]]). */
object SourceScan {
  /** Every `.scala` file under `root` (relative to the build root), with
    * its text. */
  def sources(root: String): Seq[(Path, String)] = {
    val dir = Paths.get(root)
    assert(Files.isDirectory(dir), s"$root not found from ${Paths.get("").toAbsolutePath}")
    val walk = Files.walk(dir)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      .map(p => p -> new String(Files.readAllBytes(p), "UTF-8"))
    finally walk.close()
  }

  /** (`file:line: text`, matched text) of every match of `pattern`. */
  def hits(files: Seq[(Path, String)], pattern: String): Seq[(String, String)] =
    files.flatMap { case (p, text) =>
      pattern.r.findAllMatchIn(text).map { m =>
        val line = text.substring(0, m.start).count(_ == '\n') + 1
        (s"$p:$line: ${text.linesIterator.drop(line - 1).next().trim}", m.matched)
      }
    }
}
