package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Redirects

/** Pointer-doubling resolution semantics pinned for the
  * `redirect_chains` oracle. */
class RedirectsSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  private def resolve(edges: Seq[(String, String)]) = {
    import spark.implicits._
    Redirects.resolve(edges.toDF("src", "dst"))
      .as[(String, Option[String], Option[Long], Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
  }

  test("chains resolve with exact hop counts") {
    val got = resolve(Seq(("a", "b"), ("b", "c"), ("c", "end")))
    assert(got("a") == ((Some("end"), Some(3L), true)))
    assert(got("b") == ((Some("end"), Some(2L), true)))
    assert(got("c") == ((Some("end"), Some(1L), true)))
  }

  test("a 64-hop chain resolves in 6 doubling rounds") {
    val chain = (0 until 64).map(i => (s"n$i", s"n${i + 1}"))
    val got = resolve(chain)
    assert(got("n0") == ((Some("n64"), Some(64L), true)))
    assert(got("n63") == ((Some("n64"), Some(1L), true)))
  }

  test("a 100-hop chain resolves: the round count follows the edge count") {
    val chain = (0 until 100).map(i => (s"n$i", s"n${i + 1}"))
    val got = resolve(chain)
    assert(got("n0") == ((Some("n100"), Some(100L), true)))
    assert(got("n99") == ((Some("n100"), Some(1L), true)))
  }

  test("duplicate out-edges keep one edge per source, the smallest dst") {
    import spark.implicits._
    val rows = Redirects.resolve(Seq(("a", "b"), ("a", "c"), ("c", "end"))
        .toDF("src", "dst"))
      .as[(String, Option[String], Option[Long], Boolean)].collect()
    assert(rows.filter(_._1 == "a").toSeq == Seq(("a", Some("b"), Some(1L), true)))
  }

  test("cycles and self-loops report unresolved with NULLs") {
    val got = resolve(Seq(("c0", "c1"), ("c1", "c2"), ("c2", "c0"),
      ("s", "s"), ("x", "end")))
    assert(got("c0") == ((None, None, false)))
    assert(got("c1") == ((None, None, false)))
    assert(got("s") == ((None, None, false)))
    assert(got("x") == ((Some("end"), Some(1L), true)))
  }

  test("a chain feeding into a cycle is unresolved too") {
    val got = resolve(Seq(("a", "c0"), ("c0", "c1"), ("c1", "c0")))
    assert(got("a") == ((None, None, false)))
  }
}
