package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Adaptive recrawl scheduling — the revisit policy of Cho &
  * Garcia-Molina 2003 ("Effective page refresh policies for web
  * crawlers"): pages that changed often in the observed window are
  * refetched proportionally sooner. Per key the estimated
  * inter-change time sets the next interval:
  *
  *   interval = clamp(span_sec div max(1, n_changes), 1 h, 7 d)
  *   next_fetch_epoch = last_seen_epoch + interval
  *
  * where a CHANGE is an observation whose payload differs from the
  * previous observation of the same key (first observation is never a
  * change). All integer (epoch seconds, integer div) — engine- and
  * partitioning-independent; the lag ordering is made total with a
  * payload tie-break so equal timestamps can't flip the change count.
  *
  * Scale shape: one window pass partitioned by the key (url/host —
  * the fetcher's shard key, so the schedule lands already co-located
  * with the fetch queues) feeding one aggregate on the same key — a
  * single shuffle end to end.
  */
object Recrawl {

  private val MinSec = 3600L
  private val MaxSec = 604800L

  def schedule(obs: DataFrame, keyCol: String, tsCol: String,
               payloadCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol), col(payloadCol))
    obs.select(col(keyCol), col(tsCol), col(payloadCol))
      .withColumn("_epoch", unix_timestamp(col(tsCol)))
      .withColumn("_prev", lag(col(payloadCol), 1).over(w))
      .withColumn("_chg",
        when(col("_prev").isNotNull &&
          col(payloadCol) =!= col("_prev"), 1L).otherwise(0L))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_obs"),
        sum(col("_chg")).as("n_changes"),
        (max(col("_epoch")) - min(col("_epoch"))).as("span_sec"),
        max(col("_epoch")).as("_last"))
      .withColumn("interval_sec",
        least(greatest(
          expr("span_sec div greatest(1L, n_changes)"), lit(MinSec)),
          lit(MaxSec)))
      .withColumn("next_fetch_epoch", col("_last") + col("interval_sec"))
      .drop("_last")
  }
}
