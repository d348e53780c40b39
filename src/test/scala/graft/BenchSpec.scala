package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

/** The bench's pure parts: the leg pair it derives from the host and the
  * JSON lines it publishes. No Spark session and no child JVM. */
class BenchSpec extends AnyFunSuite {

  /** Every key of the last line before the N → 4N keys were added. */
  private val parentKeys = Seq("metric", "value", "unit", "queries", "n_queries", "sf",
    "extraction_docs_per_sec_c32", "extraction_mb_per_sec_c32",
    "extraction_docs_per_sec_c8", "scaling_efficiency_8_to_32",
    "cpu_probe_efficiency_8_to_32", "mem_probe_efficiency_8_to_32",
    "scaling_efficiency_vs_hw_ceiling", "scaling_efficiency_clean_window",
    "extraction_docs_per_sec_c2", "extraction_docs_per_sec_c8_small",
    "scaling_efficiency_2_to_8", "cpu_probe_efficiency_2_to_8",
    "mem_probe_efficiency_2_to_8", "anomalous_rounds_2_to_8",
    "rounds_completed_2_to_8", "rounds_completed")
  private val pairKeys = Seq("legs", "extraction_docs_per_sec_n",
    "extraction_docs_per_sec_4n", "scaling_efficiency_n_to_4n")

  private def parse(line: String): JsonNode = new ObjectMapper().readTree(line)

  test("the leg pair is N = nproc/4 and 4N, with none below 4 cores") {
    val pairs = Seq(1, 3, 4, 6, 32).map(Bench.legPair)
    assert(pairs == Seq(None, None, Some((1, 4)), Some((1, 4)), Some((8, 32))))
  }

  test("the last line with zero rounds parses and reads -1 where nothing was measured") {
    val queries = Seq("a" -> 1.5, "b" -> -1.0)
    val json = parse(Bench.compactLine("/data/sf0.1", queries, Bench.legPair(4), Nil, 0L))
    assert(json.fieldNames().asScala.toSet == (parentKeys ++ pairKeys).toSet)
    assert(json.get("legs").asText() == "1->4")
    assert(json.get("value").asDouble() == 1.5)
    assert(json.get("n_queries").asInt() == 2)
    assert(json.get("rounds_completed").asInt() == 0)
    assert(json.get("rounds_completed_2_to_8").asInt() == 0)
    assert(json.get("anomalous_rounds_2_to_8").asInt() == 0)
    val unmeasured = (parentKeys ++ pairKeys).filterNot(Set("metric", "value", "unit",
      "queries", "n_queries", "sf", "legs", "rounds_completed", "rounds_completed_2_to_8",
      "anomalous_rounds_2_to_8"))
    unmeasured.foreach(k => assert(json.get(k).asDouble() == -1.0, k))
  }

  test("on 32 cores the 8 -> 32 keys carry the median round and the 2 -> 8 keys read -1") {
    val rounds = Seq(
      Bench.Round(secN = 10.0, docsN = 1000, sec4n = 5.0, docs4n = 1000), // eff 0.5
      Bench.Round(secN = 10.0, docsN = 1000, sec4n = 3.125, docs4n = 1000), // eff 0.8
      Bench.Round(secN = 10.0, docsN = 1000, sec4n = 2.5, docs4n = 1000)) // eff 1.0
    val json = parse(Bench.jsonLine("sf", Nil, Nil, Bench.legPair(32), rounds, 64000000L))
    assert(json.get("legs").asText() == "8->32")
    assert(json.get("rounds_completed").asInt() == 3)
    assert(json.get("scaling_efficiency_n_to_4n").asDouble() == 0.8)
    assert(json.get("scaling_efficiency_8_to_32").asDouble() == 0.8)
    assert(json.get("extraction_docs_per_sec_c8").asDouble() == 100.0)
    assert(json.get("extraction_docs_per_sec_c32").asDouble() == 320.0)
    assert(json.get("extraction_docs_per_sec_4n").asDouble() == 320.0)
    assert(json.get("extraction_mb_per_sec_c32").asDouble() == 20.5)
    Seq("extraction_docs_per_sec_c2", "extraction_docs_per_sec_c8_small",
      "scaling_efficiency_2_to_8").foreach(k => assert(json.get(k).asDouble() == -1.0, k))
  }

  test("the compact line stays within 1,800 chars with 128 long query names") {
    val queries = (0 until 128).map(i => (s"q${"x" * 200}_$i", i.toDouble))
    val line = Bench.compactLine("/data/sf0.1", queries, Bench.legPair(32), Nil, 0L)
    assert(line.length <= Bench.MaxStdoutChars)
    assert(parse(line).get("n_queries").asInt() == 128)
  }
}
