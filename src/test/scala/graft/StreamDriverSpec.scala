package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Fence: every file-fed maintainer starts through
  * `graft.streaming.FileStream.maintain`, so the source, trigger and
  * checkpoint decisions (and the streaming listener and freshness
  * trigger still to come) live in one place rather than one copy per
  * maintainer. */
class StreamDriverSpec extends AnyFunSuite {

  /** `file:line` of every non-comment line under src/main/scala that
    * contains `token`. */
  private def codeSites(token: String): Seq[String] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: $root")
    Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { (p: Path) =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if line.contains(token) && !{
              val t = line.trim
              t.startsWith("*") || t.startsWith("//") || t.startsWith("/*")
            } => s"${root.relativize(p)}:${i + 1}"
        }
      }.toSeq
  }

  test("foreachBatch appears in exactly one file under src/main/scala") {
    val sites = codeSites("foreachBatch")
    assert(sites.map(_.takeWhile(_ != ':')).distinct ==
      Seq("graft/streaming/FileStream.scala"),
      sites.mkString("foreachBatch sites: ", ", ", ""))
  }

  test("writeStream starts only in the stream driver and the events harness") {
    val files = codeSites(".writeStream").map(_.takeWhile(_ != ':')).distinct
    assert(files.sorted == Seq("graft/streaming/EventsStream.scala",
      "graft/streaming/FileStream.scala"), files.mkString(", "))
  }
}
