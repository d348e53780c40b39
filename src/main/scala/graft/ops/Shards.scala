package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Byte-balanced output-shard assignment — writing a curated corpus as
  * uniform training shards needs each document's GLOBAL running byte
  * offset, and the naive `sum().over(orderBy(id))` window moves the
  * whole corpus to ONE task. [[prefixSum]] is the scalable alternative,
  * shared with `Packing`.
  *
  * A document is assigned to the shard its FIRST byte falls in:
  * shard = start_offset div targetBytes — deterministic, order-stable
  * (by id), and every shard's size is < targetBytes + max doc size
  * (the boundary document overhang), which is the accepted balance
  * contract for training-shard writers.
  */
object Shards {

  /** The default width of one prefix-sum bucket, in ids. */
  private[ops] val DefaultBucketSize: Long = 1L << 16

  /** Exclusive running sum of the long column `_w` in ascending `_id`
    * order, as a two-level (distributed) prefix sum: adds `_bucket` and
    * `_start` (the sum of `_w` over every row with a smaller id).
    *
    *   1. bucket = id div bucketSize; per-bucket totals roll up with one
    *      partial-aggregated shuffle of one row per bucket.
    *   2. Bucket BASE offsets = exclusive cumsum over the bucket table
    *      (the only single-partition window).
    *   3. Bases broadcast-join back; the within-bucket running sum
    *      windows over at most bucketSize rows per bucket, fully parallel.
    *
    * Sized for dense ids: the bucket table has one row per occupied
    * bucket, so ids spread thinly over a range far wider than the row
    * count make it larger than it needs to be. */
  private[ops] def prefixSum(d: DataFrame, bucketSize: Long): DataFrame = {
    val b = d.withColumn("_bucket", expr(s"_id div $bucketSize"))
    val baseW = Window.orderBy(col("_bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val bases = b.groupBy(col("_bucket"))
      .agg(sum(col("_w")).as("_btot"))
      .select(col("_bucket"), (sum(col("_btot")).over(baseW) - col("_btot")).as("_base"))
    val localW = Window.partitionBy(col("_bucket")).orderBy(col("_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    b.join(broadcast(bases), "_bucket")
      .withColumn("_start", sum(col("_w")).over(localW) + col("_base") - col("_w"))
  }

  /** (id, bytes) → (id, bytes, start_off, shard). Ids should be dense
    * (see [[prefixSum]]). */
  def assign(df: DataFrame, idCol: String, bytesCol: String,
             targetBytes: Long, bucketSize: Long = DefaultBucketSize): DataFrame = {
    val d = df.select(col(idCol).cast("long").as("_id"),
      col(bytesCol).cast("long").as("_w"))
    prefixSum(d, bucketSize)
      .select(col("_id").as(idCol), col("_w").as("bytes"),
        col("_start").as("start_off"),
        expr(s"_start div $targetBytes").as("shard"))
  }

  /** Per-shard envelope: doc count, bytes, id span — the report a
    * shard writer logs per output file. */
  def shardStats(assigned: DataFrame, idCol: String): DataFrame =
    assigned.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("bytes")).cast("long").as("shard_bytes"),
        min(col(idCol)).as("first_id"),
        max(col(idCol)).as("last_id"))
      .orderBy(col("shard"))
}
