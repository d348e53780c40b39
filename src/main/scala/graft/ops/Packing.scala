package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sequence packing for LLM pretraining batches — the concat-and-chunk
  * scheme (GPT-style: concatenate documents in a fixed order with a
  * separator token, then cut fixed context-length windows; a document
  * belongs to the chunk its first token lands in and may straddle a
  * boundary). Every doc's placement is a pure function of the EXCLUSIVE
  * prefix sum of padded token counts in document order.
  *
  * Scale shape: the global prefix sum is the two-level distributed sum
  * `Shards.prefixSum` (per-bucket totals, an exclusive cumsum over the
  * bucket table, bases broadcast back, a running sum within each
  * bucket), so the whole operator is Catalyst transforms. Ids should be
  * dense: the bucket table has one row per occupied id bucket. The
  * driver's DuckDB oracle (`packing_chunks`) checks the distributed
  * result against an independent sequential window cumsum. */
object Packing {

  /** Returns (doc_id, padded_tokens, start_offset, chunk_id,
    * offset_in_chunk, spans_boundary): `tokensCol` + `sepTokens` is the
    * document's footprint in the concatenated stream; `chunk_id` =
    * start_offset / contextLen. Document order is ascending `idCol`. */
  def concatChunkPack(df: DataFrame, idCol: String, tokensCol: String,
      contextLen: Long, sepTokens: Long = 1L): DataFrame = {
    require(contextLen > 0, "contextLen must be positive")
    val d = df.select(col(idCol).cast("long").as("_id"),
      (col(tokensCol).cast("long") + sepTokens).as("_w"))
    Shards.prefixSum(d, Shards.DefaultBucketSize).select(
      col("_id").as("doc_id"), col("_w").as("padded_tokens"),
      col("_start").as("start_offset"),
      expr(s"_start div $contextLen").as("chunk_id"),
      (col("_start") % contextLen).as("offset_in_chunk"),
      expr(s"CAST(_start div $contextLen != (_start + _w - 1) div $contextLen AS INT)")
        .as("spans_boundary"))
  }
}
