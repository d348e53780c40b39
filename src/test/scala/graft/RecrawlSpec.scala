package graft

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Recrawl

/** Revisit-policy semantics pinned for the `recrawl_schedule`
  * oracle. */
class RecrawlSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  private def ts(s: String) = Timestamp.valueOf(s)

  private def run(rows: Seq[(String, Timestamp, String)]) = {
    import spark.implicits._
    Recrawl.schedule(rows.toDF("url", "ts", "payload"), "url", "ts",
        "payload")
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
  }

  test("change counting: first observation is never a change") {
    val got = run(Seq(
      ("u", ts("2026-01-01 00:00:00"), "a"),
      ("u", ts("2026-01-02 00:00:00"), "a"),   // same -> no change
      ("u", ts("2026-01-03 00:00:00"), "b"),   // change
      ("u", ts("2026-01-05 00:00:00"), "c")))  // change
    // span = 4 days = 345600s, changes 2 -> interval 172800
    val (nObs, nChg, span, interval, next) = got("u")
    assert((nObs, nChg, span, interval) == (4L, 2L, 345600L, 172800L))
    assert(next == ts("2026-01-05 00:00:00").getTime / 1000 + 172800L)
  }

  test("never-changing page clamps to the max interval") {
    val got = run(Seq(
      ("u", ts("2026-01-01 00:00:00"), "a"),
      ("u", ts("2026-03-01 00:00:00"), "a")))
    assert(got("u")._2 == 0L)
    assert(got("u")._4 == 604800L, "span div 1 exceeds max -> clamped")
  }

  test("hot page clamps to the min interval") {
    val got = run(Seq(
      ("u", ts("2026-01-01 00:00:00"), "a"),
      ("u", ts("2026-01-01 00:10:00"), "b"),
      ("u", ts("2026-01-01 00:20:00"), "c")))
    // span 1200s, 2 changes -> 600s -> clamped up to 3600
    assert(got("u")._4 == 3600L)
  }

  test("equal timestamps: payload tie-break keeps the count stable") {
    import spark.implicits._
    val rows = Seq(
      ("u", ts("2026-01-01 00:00:00"), "b"),
      ("u", ts("2026-01-01 00:00:00"), "a"),
      ("u", ts("2026-01-02 00:00:00"), "a"))
    val a = run(rows)
    val b = run(rows.reverse)
    assert(a == b)
    // ordered (a, b) by tie-break, then a: changes = b->a? a,b,a -> 2
    assert(a("u")._2 == 2L)
  }

  test("single observation: span 0, min interval") {
    val got = run(Seq(("u", ts("2026-01-01 00:00:00"), "a")))
    assert(got("u") == ((1L, 0L, 0L, 3600L,
      ts("2026-01-01 00:00:00").getTime / 1000 + 3600L)))
  }
}
