package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Size gate: no Scala source under src/ may grow past 1,000 lines, so
  * the split registry cannot collapse back into one catch-all file. */
class SourceSizeSpec extends AnyFunSuite {

  test("no .scala file under src/ is longer than 1,000 lines") {
    val sources = Files.walk(Paths.get("src")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(sources.nonEmpty, "src/ not found from the test's working directory")
    val long = sources.map(p => p -> Files.lines(p).count()).filter(_._2 > 1000)
    assert(long.isEmpty, long.map { case (p, n) => s"$p: $n lines" }.mkString(", "))
  }
}
