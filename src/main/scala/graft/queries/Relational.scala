package graft
package queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import Fixtures._
import PlanProp._

/** TPC-H and event-log queries: joins, roll-ups, windows and
  * percentiles over the testdata tables, each with an exact DuckDB twin. */
object Relational {

  val all: Seq[Query] = Seq(

    Query("q1_agg", (s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_price"),
          sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast("decimal(18,4)"))
            .cast("double").as("revenue"),
          count(lit(1)).as("cnt"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
      oracle = Some("""SELECT l_returnflag, l_linestatus,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        | CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        | COUNT(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),
      plan = Seq(codegen, atLeast("HashAggregate", 2))),

    Query("q3_top_orders", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("o_orderkey"))
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast("decimal(18,4)"))
          .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
    },
      oracle = Some("""SELECT o_orderkey,
        | CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        |GROUP BY o_orderkey ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin)),

    Query("q5_region_suppliers", (s, dir) => {
      val su = t(s, dir, "supplier")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      su.join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_suppliers"),
          sum(col("s_acctbal").cast("decimal(18,2)")).cast("double").as("total_acctbal"))
        .orderBy(col("r_name"))
    },
      oracle = Some("""SELECT r_name, COUNT(*) AS n_suppliers,
        | CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin),
      plan = Seq(has("BroadcastHashJoin"), lacks("SortMergeJoin"))),

    Query("q_topk_parts", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val p = t(s, dir, "part")
      li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_partkey"), col("p_name"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("total_qty"))
        .orderBy(col("total_qty").desc, col("p_partkey"))
        .limit(20)
    },
      oracle = Some("""SELECT p_partkey, p_name,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_partkey, p_name ORDER BY total_qty DESC, p_partkey LIMIT 20""".stripMargin)),

    // TPC-H q10 shape: returned-item revenue by customer over a date
    // window. Scale notes: only nation broadcasts (25 rows); customer is
    // key-scale so its join shuffles (AQE may still elect broadcast at
    // small SF), and the o_orderdate filter prunes at the orders scan.
    Query("q10_returned_revenue", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      li.filter(col("l_returnflag") === "R")
        .join(o.filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-07-01").cast("timestamp")),
          col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast("decimal(18,4)"))
          .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    },
      oracle = Some("""SELECT c_custkey, c_name, n_name,
        | CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        | AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-07-01'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin),
      plan = Seq(pushed("GreaterThanOrEqual(o_orderdate", "LessThan(o_orderdate"),
        has("TakeOrderedAndProject"), has("BroadcastHashJoin"), atLeast("HashAggregate", 2))),

    // multi-level aggregation (ROLLUP grouping sets): per-(type, day)
    // counts plus per-type and grand-total roll-up rows in one pass —
    // Spark plans a single Expand + two-phase hash aggregate, no
    // re-scan per level. NULL group keys are COALESCEd to 'ALL' on both
    // sides so the driver's column-sorted compare sees identical rows.
    Query("events_rollup", (s, dir) => {
      t(s, dir, "events")
        .select(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"),
          col("value"))
        .rollup(col("event_type"), col("day"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
        .select(coalesce(col("event_type"), lit("ALL")).as("event_type"),
          coalesce(col("day"), lit("ALL")).as("day"),
          col("n_events"), col("sum_value"))
        .orderBy(col("event_type"), col("day"))
    },
      oracle = Some("""WITH e AS (
        | SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, value FROM events)
        |SELECT coalesce(event_type, 'ALL') AS event_type,
        | coalesce(day, 'ALL') AS day,
        | COUNT(*) AS n_events,
        | CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM e GROUP BY ROLLUP (event_type, day)
        |ORDER BY event_type, day""".stripMargin),
      plan = Seq(exactly("Expand", 1), atLeast("HashAggregate", 2), lacks("Union"))),

    // semi-structured extraction: JSON path access inside the scan
    // projection (get_json_object is codegen'd — no UDF) feeding a
    // two-phase hash aggregate; the webtext-pipeline shape for
    // crawl-metadata sidecars carried as JSON strings
    Query("events_props_json", (s, dir) => {
      t(s, dir, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
        .orderBy(col("event_type"))
    },
      // SUM(BIGINT) cast back to BIGINT per the HUGEINT->float64 rule
      oracle = Some("""SELECT event_type, COUNT(*) AS n,
        | CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
        | MIN(CAST(props->>'$.k' AS BIGINT)) AS min_k,
        | MAX(CAST(props->>'$.k' AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
      plan = Seq(noUdf, codegen, has("get_json_object"), atLeast("HashAggregate", 2))),

    // distinct aggregation + exact percentiles: COUNT(DISTINCT) plans the
    // Expand-based two-phase distinct aggregate; percentile() is the
    // exact sort-based aggregate (both rounded to 4dp — interpolation
    // float noise), the shape for per-slice cardinality/latency reports
    Query("events_user_percentiles", (s, dir) => {
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users"),
          round(expr("percentile(value, 0.5)"), 4).as("p50"),
          round(expr("percentile(value, 0.95)"), 4).as("p95"))
        .orderBy(col("event_type"))
    },
      // quantile_cont matches Spark's exact percentile() (same (N-1)
      // linear-interpolation convention); 4dp rounding absorbs float noise
      oracle = Some("""SELECT event_type,
        | CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
        | ROUND(quantile_cont(value, 0.5), 4) AS p50,
        | ROUND(quantile_cont(value, 0.95), 4) AS p95
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
      plan = Seq(scans(1), has("partial_percentile"), has("partial_count(distinct"),
        atLeast("ObjectHashAggregate", 3), lacks("Union"))),

    Query("q6_filtered_agg", (s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_quantity") < 24 && col("l_discount") >= 0.05 &&
          col("l_discount") <= 0.07)
        .agg(sum((col("l_extendedprice") * col("l_discount")).cast("decimal(18,4)"))
          .cast("double").as("revenue"),
          count(lit(1)).as("cnt"))
    },
      oracle = Some("""SELECT
        | CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        | COUNT(*) AS cnt
        |FROM lineitem
        |WHERE l_quantity < 24 AND l_discount >= 0.05 AND l_discount <= 0.07""".stripMargin)),

    Query("events_daily", (s, dir) => {
      t(s, dir, "events")
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"),
          countDistinct(col("user_id")).as("uniq_users"))
        .orderBy(col("day"), col("event_type"))
    },
      oracle = Some("""SELECT strftime(ts, '%Y-%m-%d') AS day, event_type, COUNT(*) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        | COUNT(DISTINCT user_id) AS uniq_users
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    Query("events_user_top", (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("value").desc, col("event_id"))
      t(s, dir, "events")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_type"), col("value"))
        .orderBy(col("user_id"))
    },
      oracle = Some("""SELECT user_id, event_type, value FROM (
        | SELECT user_id, event_type, value,
        |  ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rn
        | FROM events) WHERE rn = 1 ORDER BY user_id""".stripMargin)),

    // window frame: per-user cumulative sum (ROWS UNBOUNDED PRECEDING)
    Query("events_running_sum", (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events")
        .withColumn("running",
          sum(col("value").cast("decimal(18,2)")).over(w).cast("double"))
        .select(col("user_id"), col("event_id"), col("running"))
        .orderBy(col("user_id"), col("event_id"))
    },
      oracle = Some("""SELECT user_id, event_id,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
        |  PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running
        |FROM events ORDER BY user_id, event_id""".stripMargin)),

    Query("orders_daily", (s, dir) => {
      t(s, dir, "orders")
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("day"),
          col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
        .orderBy(col("day"), col("o_orderstatus"))
    },
      oracle = Some("""SELECT strftime(o_orderdate, '%Y-%m-%d') AS day, o_orderstatus,
        | COUNT(*) AS n,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // gap-based sessionization: lag + conditional cumsum assigns session
    // ids (>30 min silence opens a session), then per-session roll-up
    Query("events_sessions", (s, dir) => {
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
        .withColumn("new_sess",
          when(col("prev_ts").isNull ||
            unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > 1800, 1L)
            .otherwise(0L))
        .withColumn("session_id", sum(col("new_sess")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("session_value"))
        .orderBy(col("user_id"), col("session_id"))
    },
      oracle = Some("""WITH g AS (
        | SELECT user_id, event_id, ts, value,
        |  CASE WHEN prev_ts IS NULL
        |        OR epoch(ts) - epoch(prev_ts) > 1800 THEN 1 ELSE 0 END AS new_sess
        | FROM (
        |  SELECT user_id, event_id, ts, value,
        |   LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events)),
        |sess AS (
        | SELECT user_id, event_id, value,
        |  CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        | FROM g)
        |SELECT user_id, session_id, COUNT(*) AS n_events,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
        |FROM sess GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // correlated-subquery shape (TPC-H q2-style): suppliers at their
    // nation's maximum account balance
    Query("q_max_acctbal_suppliers", (s, dir) => {
      val su = t(s, dir, "supplier")
      val maxBal = su.groupBy(col("s_nationkey").as("mk"))
        .agg(max(col("s_acctbal")).as("max_bal"))
      su.join(broadcast(maxBal),
          col("s_nationkey") === col("mk") && col("s_acctbal") === col("max_bal"))
        .select(col("s_nationkey"), col("s_suppkey"),
          col("s_acctbal").cast("decimal(18,2)").cast("double").as("acctbal"))
        .orderBy(col("s_nationkey"), col("s_suppkey"))
    },
      oracle = Some("""SELECT s_nationkey, s_suppkey,
        | CAST(CAST(s_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS acctbal
        |FROM supplier s
        |WHERE s_acctbal = (SELECT MAX(s2.s_acctbal) FROM supplier s2
        |                   WHERE s2.s_nationkey = s.s_nationkey)
        |ORDER BY s_nationkey, s_suppkey""".stripMargin)),

    // as-of join: each event picks up the latest prior per-day order
    // total of the matching customer (union + carry-forward window —
    // one shuffle on the key; DuckDB's native ASOF JOIN is the oracle)
    Query("events_asof", (s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("ts"))
      val ord = t(s, dir, "orders")
        .groupBy(col("o_custkey"), col("o_orderdate"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("order_total"))
      ops.AsofJoin.asofJoin(ev, ord, "user_id", "o_custkey", "ts", "o_orderdate",
          Seq("order_total"))
        .select(col("event_id"), col("user_id"),
          round(col("order_total"), 2).as("order_total"))
        .orderBy(col("event_id"))
    },
      oracle = Some("""WITH ord AS (
        | SELECT o_custkey, o_orderdate,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS order_total
        | FROM orders GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id, ROUND(o.order_total, 2) AS order_total
        |FROM events e ASOF LEFT JOIN ord o
        | ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
        |ORDER BY e.event_id""".stripMargin)),

    Query("skew_salted_stats", (s, dir) => {
      // two-phase salted aggregation (hot-key path) must equal the direct
      // group-by; decimal cast makes the cross-salt sum order-exact
      val ev = t(s, dir, "events")
        .withColumn("v", col("value").cast("decimal(18,2)"))
      ops.Skew.saltedStats(ev, "event_type", "v", "event_id", salt = 16)
        .select(col("event_type"),
          col("total").cast("double").as("total"), col("cnt"),
          col("min").cast("double").as("min"),
          col("max").cast("double").as("max"))
        .orderBy(col("event_type"))
    },
      oracle = Some("""SELECT event_type,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
        | COUNT(value) AS cnt,
        | CAST(MIN(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS min,
        | CAST(MAX(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS max
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    Query("value_buckets", (s, dir) => {
      t(s, dir, "events")
        .withColumn("bucket",
          when(col("value") >= 160, "certain")
            .when(col("value") >= 120, "high")
            .when(col("value") >= 80, "medium")
            .when(col("value") >= 40, "low")
            .otherwise("uncertain"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
        .orderBy(col("bucket"))
    },
      oracle = Some("""SELECT CASE WHEN value >= 160 THEN 'certain'
        |  WHEN value >= 120 THEN 'high'
        |  WHEN value >= 80 THEN 'medium'
        |  WHEN value >= 40 THEN 'low'
        |  ELSE 'uncertain' END AS bucket,
        | COUNT(*) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1 ORDER BY bucket""".stripMargin)),

    // windowed streaming aggregation with a DuckDB twin: the events
    // parquet is drained as a multi-micro-batch stream (complete-mode
    // memory sink) and the result must equal the one-shot batch
    // aggregate — the stream ≡ batch invariant is the oracle-checkable
    // property of the streaming engine (watermark/append semantics are
    // spec-locked in StreamingSpec; a finite input's final windows never
    // close in append mode, so complete mode is the honest comparison)
    Query("streaming_daily_oracle", (s, dir) => {
      graft.streaming.StreamingExtract.dailyEventStats(s, s"$dir/events.parquet")
        .orderBy(col("day"), col("event_type"))
    },
      // the BATCH aggregate the streaming job must reproduce exactly
      oracle = Some("""SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
        | COUNT(*) AS n_events,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)))
}
