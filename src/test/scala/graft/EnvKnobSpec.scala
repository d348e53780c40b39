package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Knob gate: main code reads the environment only for deployment
  * settings (the data directory, the core count, the master), so a
  * tuning knob cannot hide in an environment variable. A read whose
  * name is not one of these literals fails. */
class EnvKnobSpec extends AnyFunSuite {

  private val allowed =
    Set("SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_CPUS", "SPARK_GRAFT_MASTER", "SPARK_MASTER")

  private val envRead = """(sys\.env|System\.getenv)\b((?:\.\w+)?\(\s*"([^"]*)")?""".r

  test("no file under src/main reads an environment variable outside the deployment set") {
    val sources = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(Files.isRegularFile(_)).toSeq
    assert(sources.nonEmpty, "src/main not found from the test's working directory")
    val reads = for {
      p <- sources
      (line, n) <- Files.readAllLines(p).asScala.zipWithIndex
      m <- envRead.findAllMatchIn(line)
      if m.group(3) == null || !allowed(m.group(3))
    } yield s"$p:${n + 1}: ${m.matched}"
    assert(reads.isEmpty, reads.mkString(", "))
  }
}
