package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** API gate: main code is Dataset/DataFrame transforms only, so every
  * stage stays visible to Catalyst — no file under src/main may reach
  * for the RDD API. */
class NoRddSpec extends AnyFunSuite {

  private val rddApi =
    """\.rdd\b|\bparallelize\b|\bmapPartitionsWithIndex\b|org\.apache\.spark\.rdd""".r

  test("no file under src/main uses the RDD API") {
    val sources = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(Files.isRegularFile(_)).toSeq
    assert(sources.nonEmpty, "src/main not found from the test's working directory")
    val uses = for {
      p <- sources
      (line, n) <- Files.readAllLines(p).asScala.zipWithIndex
      m <- rddApi.findFirstIn(line)
    } yield s"$p:${n + 1}: $m"
    assert(uses.isEmpty, uses.mkString(", "))
  }
}
