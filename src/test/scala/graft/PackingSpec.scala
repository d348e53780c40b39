package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Packing

/** Sequence packing (concat-and-chunk): the distributed prefix sum must
  * equal the sequential scan exactly, across many partitions. */
class PackingSpec extends AnyFunSuite {

  private val spark = SparkTestBase.spark

  test("distributed two-pass prefix sum equals the sequential scan (8 partitions)") {
    val n = 1000
    val df = spark.range(0, n, 1, 8).toDF("doc_id")
      .withColumn("cost", (col("doc_id") * 37 % 211 + 5).cast("long"))
    val out = Packing.concatChunkPack(df, "doc_id", "cost",
        contextLen = 256, sepTokens = 1)
      .orderBy("doc_id").collect()
    assert(out.length == n)
    var run = 0L
    out.zipWithIndex.foreach { case (r, i) =>
      assert(r.getLong(0) == i.toLong)
      val toks = r.getLong(1)
      assert(toks == (i.toLong * 37 % 211 + 5) + 1)
      assert(r.getLong(2) == run, s"start_offset diverges at row $i")
      assert(r.getLong(3) == run / 256)
      assert(r.getLong(4) == run % 256)
      assert(r.getInt(5) == (if (run / 256 != (run + toks - 1) / 256) 1 else 0))
      run += toks
    }
  }

  test("ids with gaps across many prefix-sum buckets equal the sequential scan") {
    import spark.implicits._
    // multiples of 50,000 fall into most of the ~230 buckets of 2^16 ids
    // that the range covers, one or two rows each
    val df = (0L until 300L).map(i => (i * 50000L, i * 13 % 97 + 1)).toDF("doc_id", "cost")
      .repartition(5)
    val out = Packing.concatChunkPack(df, "doc_id", "cost",
        contextLen = 128, sepTokens = 1)
      .as[(Long, Long, Long, Long, Long, Int)].collect().sortBy(_._1)
    assert(out.length == 300)
    var run = 0L
    out.zipWithIndex.foreach { case ((id, toks, start, chunk, off, spans), i) =>
      assert(id == i * 50000L)
      assert(toks == i * 13 % 97 + 2)
      assert(start == run, s"start_offset diverges at row $i")
      assert(chunk == run / 128 && off == run % 128)
      assert(spans == (if (run / 128 != (run + toks - 1) / 128) 1 else 0))
      run += toks
    }
  }

  test("a document longer than the context window spans boundaries") {
    import spark.implicits._
    val df = Seq((0L, 100L), (1L, 600L), (2L, 10L)).toDF("doc_id", "cost")
    val rows = Packing.concatChunkPack(df, "doc_id", "cost",
        contextLen = 256, sepTokens = 0)
      .orderBy("doc_id").collect()
    assert(rows(0).getInt(5) == 0)  // 0..99 inside chunk 0
    assert(rows(1).getInt(5) == 1)  // 100..699 crosses chunks 0..2
    assert(rows(2).getLong(3) == 2) // starts at 700 -> chunk 2
  }
}
