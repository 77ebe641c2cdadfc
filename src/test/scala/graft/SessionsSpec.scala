package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Fence: every main builds its session through `Sessions.builder`, so the
  * per-file copies of the conf cannot drift apart again. */
class SessionsSpec extends AnyFunSuite {

  test("SparkSession.builder appears only in graft/Sessions.scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: $root")
    val sites = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { (p: Path) =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if line.contains("SparkSession.builder") =>
            s"${root.relativize(p)}:${i + 1}"
        }
      }.toSeq
    assert(sites.size == 1 && sites.head.startsWith("graft/Sessions.scala:"),
      sites.mkString("builder sites: ", ", ", ""))
  }
}
