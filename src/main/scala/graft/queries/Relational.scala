package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.LocalFs

/** Layer-B relational surface: the BI/reporting queries the
  * reference's loaded tables exist to serve (SURVEY §2.4-§2.6;
  * purpose stated at reference README.md:113 — "listos para ser
  * consumidos por herramientas de BI").
  *
  * Scale notes (100 TB posture) are per-query. Every query imposes a
  * TOTAL order and rounds doubles for hash-stable comparison with the
  * DuckDB oracle.
  */
object Relational {
  import Tables._

  /** Flagship aggregation — TPC-H Q1 shape (pricing summary).
    * Partial (map-side) aggregation + final hash agg: Catalyst plans
    * this as two-phase HashAggregate, so the shuffle carries only
    * |groups| rows per partition, not data. Grouping cardinality is
    * tiny → broadcast-free, skew-free at any scale. */
  def pricingSummary(spark: SparkSession, dir: String): DataFrame = {
    prep(spark)
    lineitem(spark, dir)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum("l_quantity"), 4).as("sum_qty"),
        // Price sums reach ~3e9 per group: double addition-order noise
        // is ~1e-4, so round at 2 decimals (50x margin) — a 4-decimal
        // digest of a billion-scale sum is partitioning-dependent.
        round(sum("l_extendedprice"), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("sum_disc_price"),
        round(avg("l_quantity"), 6).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  val pricingSummarySql: String =
    """SELECT l_returnflag, l_linestatus,
      |  round(sum(l_quantity), 4) AS sum_qty,
      |  round(sum(l_extendedprice), 2) AS sum_base_price,
      |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
      |  round(avg(l_quantity), 6) AS avg_qty,
      |  count(*) AS count_order
      |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** q190 DECIMAL(12,2) currency arm — SURVEY §1.2's "principled money
    * type" note closed: the q01 pricing shape computed END-TO-END in
    * exact decimal arithmetic (no double in the money path). Prices
    * and discounts are synthesized from INTEGER columns (cents, whole
    * percent) because a double→decimal cast rounds differently across
    * engines on non-representable cents; decimal multiply (scale
    * 2×2→4) and sum are EXACT in both engines, so no rounding exists
    * anywhere in the pipeline. The typed frame (spec-asserted
    * DecimalType schema, scales 2 and 4) is rendered to exact-scale
    * STRINGS only at the oracle boundary: the driver compare's pandas
    * bridge degrades DuckDB decimals to float64, which drops trailing
    * zeros ("1.40"→1.4) — the string rendering preserves the scale
    * and proves exactness STRONGER than a float column could. */
  private[graft] def decimalPricingTyped(
      spark: SparkSession, dir: String): DataFrame =
    lineitem(spark, dir)
      .select(col("l_returnflag"),
        expr("CAST((l_orderkey % 9000) * 100 + (l_partkey % 100) " +
          "AS DECIMAL(14,0)) * 0.01").as("price"),
        expr("CAST(l_suppkey % 11 AS DECIMAL(4,0)) * 0.01").as("disc"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(col("price")).as("sum_price_d"),
        sum(expr("price * (1 - disc)")).as("sum_disc_price_d"),
        max(col("price")).as("max_price_d"))

  def decimalPricing(spark: SparkSession, dir: String): DataFrame = {
    prep(spark)
    decimalPricingTyped(spark, dir)
      .select(col("l_returnflag"), col("n"),
        col("sum_price_d").cast("string").as("sum_price"),
        col("sum_disc_price_d").cast("string").as("sum_disc_price"),
        col("max_price_d").cast("string").as("max_price"))
      .orderBy("l_returnflag")
  }

  val decimalPricingSql: String =
    """WITH d AS (
      |  SELECT l_returnflag,
      |    CAST((l_orderkey % 9000) * 100 + (l_partkey % 100)
      |      AS DECIMAL(14,0)) * 0.01 AS price,
      |    CAST(l_suppkey % 11 AS DECIMAL(4,0)) * 0.01 AS disc
      |  FROM lineitem)
      |SELECT l_returnflag, count(*) AS n,
      |  CAST(sum(price) AS VARCHAR) AS sum_price,
      |  CAST(sum(price * (1 - disc)) AS VARCHAR) AS sum_disc_price,
      |  CAST(max(price) AS VARCHAR) AS max_price
      |FROM d GROUP BY 1 ORDER BY 1""".stripMargin

  /** Day-grain rollup of event-grain data — the `t_*`→`t_diario_*`
    * relationship of the reference (SURVEY §2.5). Group keys are
    * (day, type): bounded cardinality, two-phase agg. */
  def eventsDaily(spark: SparkSession, dir: String): DataFrame = {
    prep(spark)
    events(spark, dir)
      .groupBy(to_date(col("ts")).as("d"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
      .orderBy("d", "event_type")
  }

  val eventsDailySql: String =
    """SELECT CAST(ts AS DATE) AS d, event_type,
      |  count(*) AS n, round(sum(value), 4) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Exact distinct count — expands to a two-level aggregate
    * (partial distinct per partition, then final), no driver
    * materialization. */
  def distinctCustomers(spark: SparkSession, dir: String): DataFrame = {
    prep(spark)
    orders(spark, dir)
      .groupBy(col("o_orderpriority"))
      .agg(countDistinct(col("o_custkey")).as("n_cust"),
        count(lit(1)).as("n_orders"))
      .orderBy("o_orderpriority")
  }

  val distinctCustomersSql: String =
    """SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_cust,
      |  count(*) AS n_orders
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  /** ROLLUP grouping sets (subtotals + grand total). */
  def rollupReturns(spark: SparkSession, dir: String): DataFrame = {
    prep(spark)
    lineitem(spark, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 4).as("sum_qty"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("n"), col("sum_qty"))
      .orderBy("rf", "ls")
  }

  val rollupReturnsSql: String =
    """SELECT coalesce(l_returnflag, 'ALL') AS rf,
      |  coalesce(l_linestatus, 'ALL') AS ls,
      |  count(*) AS n, round(sum(l_quantity), 4) AS sum_qty
      |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY 1, 2""".stripMargin

  /** CUBE grouping sets. */
  def cubeOrders(spark: SparkSession, dir: String): DataFrame = {
    prep(spark)
    orders(spark, dir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 4).as("sum_price"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("st"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("pri"),
        col("n"), col("sum_price"))
      .orderBy("st", "pri")
  }

  val cubeOrdersSql: String =
    """SELECT coalesce(o_orderstatus, 'ALL') AS st,
      |  coalesce(o_orderpriority, 'ALL') AS pri,
      |  count(*) AS n, round(sum(o_totalprice), 4) AS sum_price
      |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
      |ORDER BY 1, 2""".stripMargin

  /** Star-schema dimension join — both dims BROADCAST (nation/region
    * are KB-sized at any TPC-H scale; no shuffle of the fact side). */
  def joinDims(spark: SparkSession, dir: String): DataFrame = {
    prep(spark)
    val c = customer(spark, dir)
    val n = nation(spark, dir)
    val r = region(spark, dir)
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_cust"), round(sum("c_acctbal"), 4).as("sum_bal"))
      .orderBy("r_name", "n_name")
  }

  val joinDimsSql: String =
    """SELECT r_name, n_name, count(*) AS n_cust,
      |  round(sum(c_acctbal), 4) AS sum_bal
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Fact-fact join — shuffle (sort-merge / shuffled-hash per AQE)
    * on the join key. Both sides partition on l_orderkey/o_orderkey;
    * at 100 TB this is THE shuffle that matters — q23 shows the
    * [[graft.io.BucketedLayout]] co-located variant that removes it.
    * Aggregation after the join is two-phase. */
  def joinFacts(spark: SparkSession, dir: String): DataFrame = {
    prep(spark)
    val o = orders(spark, dir)
    val l = lineitem(spark, dir)
    o.join(l, o("o_orderkey") === l("l_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        // Digest with AVG, not the raw revenue SUM: a ~1e10 sum of
        // ~1e5 doubles carries O(1e-4) addition-order noise — enough
        // to flip a 4-decimal rounding between partitionings (q23's
        // bucketed layout sums in a different order than this direct
        // read, and than DuckDB). Dividing by n shrinks the reorder
        // noise below any rounding quantum while every row still
        // contributes.
        round(avg(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
          .as("avg_revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("o_orderpriority")
  }

  val joinFactsSql: String =
    """SELECT o_orderpriority,
      |  round(avg(l_extendedprice * (1 - l_discount)), 4) AS avg_revenue,
      |  count(*) AS n_items
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Semi join (EXISTS): customers that placed at least one order. */
  def semiJoin(spark: SparkSession, dir: String): DataFrame = {
    prep(spark)
    val c = customer(spark, dir)
    val o = orders(spark, dir).select(col("o_custkey"))
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"))
      .orderBy("c_mktsegment")
  }

  val semiJoinSql: String =
    """SELECT c_mktsegment, count(*) AS n FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Anti join (NOT EXISTS): customers with no high-value order.
    * The filter on the right side keeps the result non-trivial (a
    * plain never-ordered anti join is EMPTY on the harness data —
    * an oracle match on an empty set proves nothing). */
  def antiJoin(spark: SparkSession, dir: String): DataFrame = {
    prep(spark)
    val c = customer(spark, dir)
    val o = orders(spark, dir)
      .filter(col("o_totalprice") > 300000)
      .select(col("o_custkey"))
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"))
      .orderBy("c_mktsegment")
  }

  val antiJoinSql: String =
    """SELECT c_mktsegment, count(*) AS n FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey AND o_totalprice > 300000)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Left outer join with null-aware aggregation. */
  def leftJoin(spark: SparkSession, dir: String): DataFrame = {
    prep(spark)
    val p = part(spark, dir)
    val l = lineitem(spark, dir).select(col("l_partkey"), col("l_quantity"))
    p.join(l, p("p_partkey") === l("l_partkey"), "left")
      .groupBy(col("p_brand"))
      .agg(
        count(col("l_partkey")).as("n_lineitems"), // non-null only
        count(lit(1)).as("n_rows"),
        round(sum(coalesce(col("l_quantity"), lit(0.0))), 4).as("sum_qty"))
      .orderBy("p_brand")
  }

  val leftJoinSql: String =
    """SELECT p_brand, count(l_partkey) AS n_lineitems, count(*) AS n_rows,
      |  round(sum(coalesce(l_quantity, 0)), 4) AS sum_qty
      |FROM part LEFT JOIN lineitem ON p_partkey = l_partkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Ranking window: top-5 customers per segment by balance.
    * Single shuffle on the partition key; ties broken by key for
    * determinism. */
  def windowTopN(spark: SparkSession, dir: String): DataFrame = {
    prep(spark)
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
    customer(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("c_mktsegment"), col("rn"), col("c_custkey"),
        round(col("c_acctbal"), 4).as("acctbal"))
      .orderBy("c_mktsegment", "rn")
  }

  val windowTopNSql: String =
    """SELECT c_mktsegment, rn, c_custkey, round(c_acctbal, 4) AS acctbal
      |FROM (SELECT c_mktsegment, c_custkey, c_acctbal,
      |        row_number() OVER (PARTITION BY c_mktsegment
      |          ORDER BY c_acctbal DESC, c_custkey ASC) AS rn
      |      FROM customer)
      |WHERE rn <= 5 ORDER BY c_mktsegment, rn""".stripMargin

  /** Analytic window: lag across each user's event sequence,
    * aggregated to a per-user-bucket digest. The digest (counts +
    * delta sums) is sensitive to every lag value but keeps the output
    * tiny — no full-cardinality result, no global sort; the only
    * shuffle is the window's partitionBy(user_id), and the follow-up
    * agg is two-phase on a bounded key space. */
  def windowLag(spark: SparkSession, dir: String): DataFrame = {
    prep(spark)
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    events(spark, dir)
      .withColumn("delta", col("value") - lag(col("value"), 1).over(w))
      .groupBy((col("user_id") % 8).as("bucket"))
      .agg(count(lit(1)).as("n"),
        count(col("delta")).as("n_delta"),
        round(sum(col("delta")), 4).as("sum_delta"),
        round(sum(abs(col("delta"))), 4).as("sum_abs_delta"))
      .orderBy("bucket")
  }

  val windowLagSql: String =
    """SELECT user_id % 8 AS bucket, count(*) AS n,
      |  count(delta) AS n_delta,
      |  round(sum(delta), 4) AS sum_delta,
      |  round(sum(abs(delta)), 4) AS sum_abs_delta
      |FROM (SELECT user_id,
      |        value - lag(value, 1) OVER (PARTITION BY user_id
      |          ORDER BY ts ASC, event_id ASC) AS delta
      |      FROM events)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Frame window: running sum per user (rows between unbounded
    * preceding and current), digested per user bucket. Summing the
    * running sums weights each value by its remaining sequence length,
    * so any frame-boundary bug changes the digest. */
  def windowRunning(spark: SparkSession, dir: String): DataFrame = {
    prep(spark)
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events(spark, dir)
      .withColumn("running_sum", sum(col("value")).over(w))
      .groupBy((col("user_id") % 8).as("bucket"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("running_sum")), 4).as("sum_running"),
        round(max(col("running_sum")), 4).as("max_running"))
      .orderBy("bucket")
  }

  val windowRunningSql: String =
    """SELECT user_id % 8 AS bucket, count(*) AS n,
      |  round(sum(running_sum), 4) AS sum_running,
      |  round(max(running_sum), 4) AS max_running
      |FROM (SELECT user_id,
      |        sum(value) OVER (PARTITION BY user_id
      |          ORDER BY ts ASC, event_id ASC
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |          AS running_sum
      |      FROM events)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Top-k by global order: Spark plans TakeOrderedAndProject —
    * each partition keeps its local top-k, driver merges k*parts
    * rows, never a full sort. The scalable top-k. */
  def topK(spark: SparkSession, dir: String): DataFrame = {
    prep(spark)
    orders(spark, dir)
      .select(col("o_orderkey"), round(col("o_totalprice"), 4).as("totalprice"))
      .orderBy(col("totalprice").desc, col("o_orderkey").asc)
      .limit(100)
  }

  val topKSql: String =
    """SELECT o_orderkey, round(o_totalprice, 4) AS totalprice
      |FROM orders ORDER BY totalprice DESC, o_orderkey ASC LIMIT 100""".stripMargin

  /** Set op: UNION (distinct). */
  def unionIds(spark: SparkSession, dir: String): DataFrame = {
    prep(spark)
    events(spark, dir).select(col("user_id").as("id"))
      .union(orders(spark, dir).select(col("o_custkey").as("id")))
      .distinct()
      .orderBy("id")
  }

  val unionIdsSql: String =
    """SELECT user_id AS id FROM events
      |UNION SELECT o_custkey AS id FROM orders ORDER BY id""".stripMargin

  /** Set op: EXCEPT. Right side restricted to finished orders so the
    * difference is non-empty on the harness data (customers whose
    * every order is still open). */
  def exceptIds(spark: SparkSession, dir: String): DataFrame = {
    prep(spark)
    customer(spark, dir).select(col("c_custkey").as("id"))
      .except(orders(spark, dir)
        .filter(col("o_orderstatus") === "F")
        .select(col("o_custkey").as("id")))
      .orderBy("id")
  }

  val exceptIdsSql: String =
    """SELECT c_custkey AS id FROM customer
      |EXCEPT SELECT o_custkey AS id FROM orders WHERE o_orderstatus = 'F'
      |ORDER BY id""".stripMargin

  /** Set op: INTERSECT. */
  def intersectIds(spark: SparkSession, dir: String): DataFrame = {
    prep(spark)
    customer(spark, dir).select(col("c_custkey").as("id"))
      .intersect(events(spark, dir).select(col("user_id").as("id")))
      .orderBy("id")
  }

  val intersectIdsSql: String =
    """SELECT c_custkey AS id FROM customer
      |INTERSECT SELECT user_id AS id FROM events ORDER BY id""".stripMargin

  /** JSON extraction from a string column (harness `events.props`).
    * `get_json_object` is a codegen'd path expression — no UDF. */
  def jsonExtract(spark: SparkSession, dir: String): DataFrame = {
    prep(spark)
    events(spark, dir)
      .select(get_json_object(col("props"), "$.k").cast("int").as("k"),
        col("value"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
      .orderBy("k")
  }

  val jsonExtractSql: String =
    """SELECT TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
      |  count(*) AS n, round(sum(value), 4) AS sum_value
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** Tumbling event-time window (batch form; the streaming form,
    * [[graft.streaming.Streams.tumblingCounts]] / q39, runs the
    * identical expression and must produce the identical answer). */
  def tumblingWindow(spark: SparkSession, dir: String): DataFrame = {
    prep(spark)
    events(spark, dir)
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
      .select(col("window.start").as("w_start"), col("event_type"),
        col("n"), col("sum_value"))
      .orderBy("w_start", "event_type")
  }

  val tumblingWindowSql: String =
    """SELECT time_bucket(INTERVAL '10 minutes', ts) AS w_start, event_type,
      |  count(*) AS n, round(sum(value), 4) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Batch `session_window` — the BUILT-IN generalized by the custom
    * flatMapGroupsWithState sessionizer (q41): gap-based sessions per
    * user, digested per user bucket. Spark starts a new session when
    * the gap is >= the duration (end-exclusive); the oracle encodes
    * the same boundary. */
  def sessionWindow(spark: SparkSession, dir: String): DataFrame = {
    prep(spark)
    events(spark, dir)
      .groupBy(session_window(col("ts"), "5 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"), sum("value").as("sv"))
      .groupBy((col("user_id") % 8).as("bucket"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("n")).as("n_events"),
        round(sum(col("sv")), 4).as("sum_v"))
      .orderBy("bucket")
  }

  val sessionWindowSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS tsus,
      |         value
      |  FROM events),
      |o AS (
      |  SELECT user_id, event_id, tsus, value,
      |    CASE WHEN tsus - lag(tsus) OVER (PARTITION BY user_id
      |           ORDER BY tsus, event_id) >= 300000000 THEN 1 ELSE 0 END AS brk
      |  FROM e),
      |s AS (
      |  SELECT user_id, value,
      |    sum(brk) OVER (PARTITION BY user_id ORDER BY tsus, event_id
      |      ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM o),
      |sess AS (
      |  SELECT user_id, sid, count(*) AS n, sum(value) AS sv
      |  FROM s GROUP BY 1, 2)
      |SELECT user_id % 8 AS bucket, count(*) AS n_sessions,
      |  CAST(sum(n) AS BIGINT) AS n_events, round(sum(sv), 4) AS sum_v
      |FROM sess GROUP BY 1 ORDER BY 1""".stripMargin

  /** Sliding event-time window (10-minute windows every 5 minutes):
    * each event lands in duration/slide = 2 windows. Spark expands the
    * event to its windows BEFORE the two-phase aggregation — at scale
    * the fan-out factor is the constant duration/slide, not data-
    * dependent. Digested per event type (window count, event count,
    * value sum, start-time checksum) so the verify output stays small
    * while every window boundary still influences the hash. */
  def slidingWindow(spark: SparkSession, dir: String): DataFrame = {
    prep(spark)
    events(spark, dir)
      .groupBy(window(col("ts"), "10 minutes", "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("sv"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_windows"),
        sum(col("n")).as("n_events"),
        round(sum(col("sv")), 4).as("sum_value"),
        sum(unix_timestamp(col("window.start"))).as("sum_starts"))
      .orderBy("event_type")
  }

  /** Oracle: a 10-min/5-min sliding window containing t starts at
    * bucket5(t) or bucket5(t)-5min — enumerate both, then aggregate. */
  val slidingWindowSql: String =
    """WITH w AS (
      |  SELECT event_type, time_bucket(INTERVAL '5 minutes', ts) AS w_start,
      |         value
      |  FROM events
      |  UNION ALL
      |  SELECT event_type,
      |         time_bucket(INTERVAL '5 minutes', ts) - INTERVAL '5 minutes',
      |         value
      |  FROM events),
      |agg AS (
      |  SELECT event_type, w_start, count(*) AS n, sum(value) AS sv
      |  FROM w GROUP BY 1, 2)
      |SELECT event_type, count(*) AS n_windows,
      |  CAST(sum(n) AS BIGINT) AS n_events,
      |  round(sum(sv), 4) AS sum_value,
      |  CAST(sum(epoch(w_start)) AS BIGINT) AS sum_starts
      |FROM agg GROUP BY 1 ORDER BY 1""".stripMargin

  /** GROUPING SETS beyond rollup/cube: the two single-dimension
    * marginals WITHOUT the cross product — a set combination neither
    * rollup nor cube expresses. Same two-phase expand+agg execution. */
  def groupingSets(spark: SparkSession, dir: String): DataFrame = {
    prep(spark)
    lineitem(spark, dir).createOrReplaceTempView("li_gs")
    spark.sql(
      """SELECT coalesce(l_returnflag, 'ALL') AS rf,
        |  coalesce(l_linestatus, 'ALL') AS ls,
        |  count(*) AS n, round(sum(l_quantity), 4) AS sum_qty
        |FROM li_gs
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        |ORDER BY 1, 2""".stripMargin)
  }

  val groupingSetsSql: String =
    """SELECT coalesce(l_returnflag, 'ALL') AS rf,
      |  coalesce(l_linestatus, 'ALL') AS ls,
      |  count(*) AS n, round(sum(l_quantity), 4) AS sum_qty
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
      |ORDER BY 1, 2""".stripMargin

  /** Approximate percentile (Greenwald-Khanna sketch) next to the
    * exact answer — the 100 TB path for q28's shape: the sketch
    * aggregates with bounded memory and two-phase merge, no per-group
    * sort. The sketch's raw numbers are algorithm-specific, so the
    * oracle-checkable output is the EXACT answer plus a boolean
    * asserting the sketch landed within the documented error band —
    * both engines state the expected value of that boolean (true), so
    * the driver's hash compare verifies the bound itself.
    * RelationalSpec asserts the same band numerically. */
  def approxPercentile(spark: SparkSession, dir: String): DataFrame = {
    prep(spark)
    val li = lineitem(spark, dir)
    val sketch = li
      .groupBy(col("l_returnflag"))
      .agg(
        expr("approx_percentile(l_extendedprice, 0.5, 10000)")
          .as("approx_median"),
        count(lit(1)).as("n"))
    // exact arm in the distributed shape (q28) — no value-buffering
    // percentile() aggregate anywhere
    val exact = exactQuantiles(li, "l_returnflag", "l_extendedprice",
      Seq(0.5 -> "exact_median"))
    sketch.join(exact, Seq("l_returnflag"))
      .select(col("l_returnflag"),
        round(col("exact_median"), 4).as("exact_median"),
        col("n"),
        (abs(col("approx_median") - col("exact_median")) <=
          abs(col("exact_median")) * 0.05).as("approx_within_5pct"))
      .orderBy("l_returnflag")
  }

  val approxPercentileSql: String =
    """SELECT l_returnflag,
      |  round(quantile_cont(l_extendedprice, 0.5), 4) AS exact_median,
      |  count(*) AS n, TRUE AS approx_within_5pct
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  /** Exact interpolated (`quantile_cont`) quantiles of one measure per
    * group, in the distributed shape (see [[exactQuantilesMulti]]):
    * count-based ranks, bucket-parallel prefix sums, candidate-rank
    * filter, constant-memory weighted sum. Shared by q69's exact arm
    * and the q107/q134 cuts; delegates to the multi-measure form with
    * one measure (identical output by the tag-guard construction). */
  private[queries] def exactQuantiles(df: DataFrame, groupCol: String,
      measure: String, qs: Seq[(Double, String)]): DataFrame =
    exactQuantilesMulti(df, groupCol, Seq(measure -> qs))

  /** Exact interpolated (`quantile_cont`) quantiles — several measures
    * of ONE input in a single pass, in the DISTRIBUTED-exact shape:
    * Spark's `percentile()` aggregate buffers every group value in
    * executor memory (a 100×-scale OOM with few groups); here nothing
    * buffers a group. Each input row is stacked to (measure-tag,
    * value) rows, ranks come from per-(group, tag, value) COUNTS, the
    * rank prefix sums run bucket-parallel (inline comments below), and
    * the `quantile_cont` interpolation
    * `h = (n-1)q + 1, v = v_⌊h⌋ + (h-⌊h⌋)(v_⌈h⌉ - v_⌊h⌋)` becomes a
    * pre-filter to the ≤2 candidate ranks per quantile plus a
    * constant-memory weighted SUM — no value-buffering aggregate
    * anywhere in the plan (PercentileSpec asserts this). The final
    * aggregate separates measures back out with a tag guard on every
    * interpolation term. Column-for-column identical to computing each
    * measure alone and joining on the group key (RelationalSpec pins
    * this; the fact table is scanned once, not once per measure — for
    * m interpolated quantile measures the unavoidable pass count is
    * one, guide §1.2), with one documented refinement: a measure with
    * NO values in a group yields NULL for that group's quantiles —
    * the per-measure form drops the group via its inner join — never
    * a fabricated 0.0 (round-16 advisory). Matches DuckDB
    * `quantile_cont` exactly. */
  private[queries] def exactQuantilesMulti(df: DataFrame, groupCol: String,
      measures: Seq[(String, Seq[(Double, String)])]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    val nShuf = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // Typed stacked-row construction (round-16 advisory: the former
    // stack() SQL string would mis-parse a measure name containing a
    // quote/backtick).
    // The tag is the measure's POSITION as a byte, not its name: the
    // tag rides every stacked row through the fact-table exchange, and
    // a 1-byte tag shuffles ~15x fewer tag bytes (and hashes cheaper)
    // than the column-name string — guide §2.3 "narrower types". The
    // name never reaches the output (result columns come from the
    // caller's quantile names), so this is invisible outside.
    val stacked = explode(array(measures.zipWithIndex.map { case ((c, _), i) =>
      struct(lit(i.toByte).as("m"), col(c).cast("double").as("v")) }: _*))
    // NULL measures are excluded BEFORE ranking — the aggregate this
    // replaces (percentile / quantile_cont) ignores NULLs, while a
    // NULLS FIRST ascending rank would shift every candidate rank and
    // poison the weighted sum with NULL arithmetic.
    // The trailing tag predicate is VACUOUS (m is constructed from
    // exactly these names) but load-bearing for plan sharing: the
    // optimizer infers it from the candidate filter and pushes it down
    // the ranked branch only, and the asymmetric Filter node breaks
    // the ReusedExchange canonical match with the totals branch —
    // stating it here, in the same Or-chain shape the inference
    // produces, puts the identical node in BOTH subtrees (and
    // constraint propagation stops the inferred copy from re-adding).
    val rows = df.select(col(groupCol), stacked.as("s"))
      .select(col(groupCol), col("s.m").as("m"), col("s.v").as("v"))
      .filter(col("v").isNotNull &&
        measures.indices.map(i => col("m") === lit(i.toByte)).reduce(_ || _))
    // Count-based ranking (guide §2.3 "aggregate before you shuffle"):
    // ranks are derived from per-(group, value) COUNTS, so everything
    // downstream handles one row per DISTINCT value instead of one row
    // per input row. When the source scan cannot feed the session
    // (single-row-group harness parquet), the count aggregate's
    // per-row hashing serializes on the scan's task — repartition the
    // stacked rows on the AGGREGATE key first, which both spreads the
    // hashing and satisfies the aggregate's distribution (no second
    // exchange). Gated like Tables.spread: a splittable scan keeps the
    // map-side partial aggregate instead (fewer shuffled rows).
    val distributed =
      if (Tables.scanParallelism(df) >= nShuf) rows
      else rows.repartition(nShuf, col(groupCol), col("m"), col("v"))
    // Order-aligned LOG-SCALE value bucket: b(v) is monotone
    // (va < vb => b(va) <= b(vb)) over the full double line including
    // ±0, ±Inf and NaN (NaN sorts last, as in the former orderBy).
    // Monotonicity is exact: Math.log is semi-monotonic by the JDK
    // contract, ×16 and floor preserve order, and the clamp saturates
    // the infinities before the affine maps can overflow. 16 buckets
    // per octave bound the bucket count by the EXPONENT range
    // (≤ ~40k buckets for all representable doubles, ~100 for a
    // price-like measure) — never by the data size.
    //
    // The bucket splits each (group, measure)'s rank prefix sum into
    // two levels so the windows parallelize:
    //   - WITHIN a bucket: running sum over that bucket's distinct
    //     values — partitioned by (group, m, b), parallel across
    //     buckets. The former single-level window was a parallelism
    //     wall: ~600k distinct prices ran through 3 flag partitions
    //     (798 ms of a 2.5 s q28 locally; at 100 TB a per-group
    //     SERIAL sort).
    //   - ACROSS buckets: exclusive prefix of per-bucket totals — an
    //     exponent-range-bounded frame, so the serial window and the
    //     broadcast stay tiny no matter the corpus. (A measure
    //     confined to one bucket degrades gracefully to the former
    //     single-level shape, never below it.)
    val lg = greatest(least(
      floor(log(2.0, abs(col("v"))) * 16), lit(20000L)), lit(-20000L))
    val bucket = when(isnan(col("v")), lit(30000L))
      .when(col("v") > 0, lg)
      .when(col("v") === 0, lit(-50000L))
      .otherwise(lit(-100000L) - lg)
    val counts = distributed
      .groupBy(col(groupCol), col("m"), col("v")).agg(count(lit(1)).as("c"))
    // Per-bucket totals tb = Σ c hang DIRECTLY off the deepest shared
    // exchange and reference exactly the (group, m, v) columns the
    // counts branch reads, so the exchange subtree canonicalizes
    // identically in both branches and is planned ONCE (ReusedExchange
    // — a first cut derived them from a differently-pruned subtree and
    // the scan ran TWICE). The ungated (local) arm re-counts the
    // shuffled raw rows into range-bounded buckets (cheap map-side
    // combine); the gated (splittable-scan) arm shares the count
    // aggregate's own exchange instead and re-runs only its final
    // aggregation pass over the value histogram — never a second
    // corpus scan either way.
    val totals =
      if (distributed eq rows)
        counts.groupBy(col(groupCol), col("m"), bucket.as("b"))
          .agg(sum(col("c")).as("tb"))
      else
        distributed.groupBy(col(groupCol), col("m"), bucket.as("b"))
          .agg(count(lit(1)).as("tb"))
    val byGMB = Window.partitionBy(col(groupCol), col("m"), col("b"))
    val byGM = Window.partitionBy(col(groupCol), col("m"))
    val offsets = totals
      .withColumn("off",
        sum(col("tb")).over(byGM.orderBy(col("b"))) - col("tb"))
      .withColumn("n", sum(col("tb")).over(byGM))
      .select(col(groupCol), col("m"), col("b"), col("off"), col("n"))
    // hi = (mass in lower buckets) + (running mass within the bucket):
    // identical to the former one-level running sum term for term; a
    // value with count c occupies the closed rank range [lo, hi], and
    // the quantile_cont candidate ranks floor(h)/ceil(h) are located
    // by range containment (RelationalSpec's randomized laws pin the
    // whole pipeline against the naive sorted form). The explicit
    // partition count pins the window's CPU parallelism, which the
    // byte-based AQE advisory cannot see (same rationale as the q136
    // pins); the offsets join is a broadcast of the range-bounded
    // bucket frame.
    val ranked = counts
      .withColumn("b", bucket)
      .repartition(nShuf, col(groupCol), col("m"), col("b"))
      .withColumn("lhi", sum(col("c")).over(byGMB.orderBy(col("v"))))
      .join(broadcast(offsets), Seq(groupCol, "m", "b"))
      .withColumn("hi", col("off") + col("lhi"))
      .withColumn("lo", col("hi") - col("c") + lit(1L))
    def h(q: Double) = lit(q) * (col("n") - lit(1)) + lit(1)
    def holds(rank: Column) = rank.between(col("lo"), col("hi"))
    val isCandidate = measures.zipWithIndex.map { case ((_, qs), i) =>
      col("m") === lit(i.toByte) && qs.map { case (q, _) =>
        holds(floor(h(q))) || holds(ceil(h(q)))
      }.reduce(_ || _)
    }.reduce(_ || _)
    val aggs = measures.zipWithIndex.flatMap { case ((_, qs), i) =>
      qs.map { case (q, name) =>
        val frac = h(q) - floor(h(q))
        val floorTerm =
          when(holds(floor(h(q))) && floor(h(q)) === ceil(h(q)), col("v"))
            .when(holds(floor(h(q))), (lit(1) - frac) * col("v"))
            .otherwise(lit(0.0))
        val ceilTerm =
          when(holds(ceil(h(q))) && floor(h(q)) =!= ceil(h(q)),
            frac * col("v")).otherwise(lit(0.0))
        // no otherwise: rows of OTHER measures contribute NULL (which
        // sum ignores), so a measure with no values in a group yields
        // NULL — matching the per-measure form's absent row instead of
        // a fabricated 0.0 (round-16 advisory)
        sum(when(col("m") === lit(i.toByte), floorTerm + ceilTerm)).as(name)
      }
    }
    ranked.filter(isCandidate)
      .groupBy(col(groupCol))
      .agg(aggs.head, aggs.tail: _*)
  }

  def percentiles(spark: SparkSession, dir: String): DataFrame = {
    prep(spark)
    val li = lineitem(spark, dir)
    // one scan + one window pass for all three quantile measures —
    // exactQuantilesMulti replaces the former per-measure scans + join
    val names = Seq("median_price", "p95_price", "median_qty")
    exactQuantilesMulti(li, "l_returnflag", Seq(
      "l_extendedprice" -> Seq(0.5 -> "median_price", 0.95 -> "p95_price"),
      "l_quantity" -> Seq(0.5 -> "median_qty")))
      .select(col("l_returnflag") +: names.map(n => round(col(n), 4).as(n)): _*)
      .orderBy("l_returnflag")
  }

  val percentilesSql: String =
    """SELECT l_returnflag,
      |  round(quantile_cont(l_extendedprice, 0.5), 4) AS median_price,
      |  round(quantile_cont(l_extendedprice, 0.95), 4) AS p95_price,
      |  round(quantile_cont(l_quantity, 0.5), 4) AS median_qty
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  /** Pivot (wide aggregation): order counts and revenue per priority,
    * one column set per order status. Spark's pivot plans as a single
    * two-phase aggregate over (priority, status) then a projection —
    * the oracle states the same thing as conditional aggregation. */
  def pivotStatus(spark: SparkSession, dir: String): DataFrame = {
    prep(spark)
    orders(spark, dir)
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)).as("n"),
        round(sum("o_totalprice"), 4).as("rev"))
      .orderBy("o_orderpriority")
  }

  val pivotStatusSql: String =
    """SELECT o_orderpriority,
      |  count(*) FILTER (o_orderstatus = 'F') AS F_n,
      |  round(sum(o_totalprice) FILTER (o_orderstatus = 'F'), 4) AS F_rev,
      |  count(*) FILTER (o_orderstatus = 'O') AS O_n,
      |  round(sum(o_totalprice) FILTER (o_orderstatus = 'O'), 4) AS O_rev,
      |  count(*) FILTER (o_orderstatus = 'P') AS P_n,
      |  round(sum(o_totalprice) FILTER (o_orderstatus = 'P'), 4) AS P_rev
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  /** Predicate pushdown showcase — TPC-H Q6 shape. The three
    * conjuncts reach the parquet scan as PushedFilters; only 4 of 11
    * columns are read (ReadSchema pruning). */
  def filterPushdown(spark: SparkSession, dir: String): DataFrame = {
    prep(spark)
    lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_discount").between(0.05, 0.07) &&
        col("l_quantity") < 24)
      .agg(round(sum(col("l_extendedprice") * col("l_discount")), 4)
        .as("revenue"), count(lit(1)).as("n"))
  }

  val filterPushdownSql: String =
    """SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue,
      |  count(*) AS n
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |  AND l_shipdate < TIMESTAMP '1997-01-01'
      |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin

  /** Correlated EXISTS subquery through the SQL entry point —
    * Catalyst decorrelates it into a semi join. */
  def sqlExists(spark: SparkSession, dir: String): DataFrame = {
    prep(spark)
    orders(spark, dir).createOrReplaceTempView("orders_v")
    lineitem(spark, dir).createOrReplaceTempView("lineitem_v")
    spark.sql(
      """SELECT o_orderpriority, count(*) AS n
        |FROM orders_v o
        |WHERE EXISTS (SELECT 1 FROM lineitem_v l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_quantity > 45)
        |GROUP BY 1 ORDER BY 1""".stripMargin)
  }

  val sqlExistsSql: String =
    """SELECT o_orderpriority, count(*) AS n
      |FROM orders o
      |WHERE EXISTS (SELECT 1 FROM lineitem l
      |              WHERE l.l_orderkey = o.o_orderkey
      |                AND l.l_quantity > 45)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Approximate distinct (HyperLogLog++). The sketch's raw estimate
    * is algorithm-specific (DuckDB's HLL differs), so the
    * oracle-checkable output is the exact distinct count plus a
    * boolean asserting the estimate landed within 5% (2.5x the
    * requested rsd) — the driver's hash compare then verifies the
    * bound itself, not just row shape.
    *
    * Plan shape: dedup `(flag, key)` FIRST, then sketch+count the
    * distinct set. HLL register updates are idempotent, so the sketch
    * over the deduped set is bit-identical to the sketch over the raw
    * multiset — but mixing `countDistinct` with the sketch in ONE agg
    * makes Catalyst run the partial sketch at the per-key grain (a
    * 408-register buffer PER (flag, orderkey) group through the
    * shuffle — measured 2.9 s vs 0.4 s at sf0.1). After the dedup the
    * sketch exists only per (flag, partition): ~32x|flags| buffers. */
  def approxDistinct(spark: SparkSession, dir: String): DataFrame = {
    prep(spark)
    lineitem(spark, dir)
      .select(col("l_returnflag"), col("l_orderkey")).distinct()
      .groupBy(col("l_returnflag"))
      // count(col), not count(lit(1)): after the dedup a NULL key
      // would survive as one (flag, NULL) row, and counting IT would
      // diverge from the removed countDistinct / the oracle's
      // count(DISTINCT ...), both of which skip NULLs (reviewer find,
      // r11; latent — TPC-H keys are never null)
      .agg(approx_count_distinct(col("l_orderkey"), 0.02).as("approx_orders"),
        count(col("l_orderkey")).as("exact_orders"))
      .select(col("l_returnflag"), col("exact_orders"),
        (abs(col("approx_orders") - col("exact_orders")) <=
          col("exact_orders") * 0.05).as("approx_within_5pct"))
      .orderBy("l_returnflag")
  }

  val approxDistinctSql: String =
    """SELECT l_returnflag,
      |  count(DISTINCT l_orderkey) AS exact_orders,
      |  TRUE AS approx_within_5pct
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  /** The bucketed co-located variant of q07: both fact tables written
    * bucketed+sorted on the join key ([[graft.io.BucketedLayout]]),
    * then joined — Catalyst plans the SortMergeJoin with NO shuffle
    * exchange on either side (asserted in RelationalSpec). Same
    * answer as q07; the layout write is the one-time cost that 100 TB
    * deployments amortize. Excluded from the timed bench set (it
    * re-writes the layout every invocation by construction). */
  /** Monotone q23 invocation counter: each call writes layouts under
    * UNIQUE table names + a fresh newScratch location, so two threads
    * in one application (two data dirs in one verify run — the exact
    * race KeyedOnce guards elsewhere) can never rewrite each other's
    * live table (reviewer find, r11). Previous invocations' data dirs
    * drain through the newScratch eviction chain; their (tiny,
    * in-memory) catalog entries die with the JVM. */
  private val bucketedJoinSeq =
    new java.util.concurrent.atomic.AtomicLong(0)

  def bucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    prep(spark)
    val buckets = 8
    val scratch = Reference.newScratch("graft_b23_")
    val tag = spark.sparkContext.applicationId
      .replaceAll("[^a-zA-Z0-9]", "_") + "_" +
      bucketedJoinSeq.incrementAndGet()
    val (on, ln) = (s"graft_orders_b_$tag", s"graft_lineitem_b_$tag")
    graft.io.BucketedLayout.writeBucketed(
      orders(spark, dir).select(col("o_orderkey"), col("o_orderpriority")),
      on, "o_orderkey", buckets,
      Some(scratch.resolve("orders").toString))
    graft.io.BucketedLayout.writeBucketed(
      lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount")),
      ln, "l_orderkey", buckets,
      Some(scratch.resolve("lineitem").toString))
    val o = spark.table(on)
    val l = spark.table(ln)
    o.join(l, o("o_orderkey") === l("l_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        // AVG digest, matching q07 (see joinFacts): the bucketed read
        // sums in a different order, and a raw-SUM digest flips its
        // 4th decimal at sf0.1.
        round(avg(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
          .as("avg_revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("o_orderpriority")
  }

  // ---------------------------------------------------------------
  // q212 catalog bucketed read (the amortized co-located BI join)
  // ---------------------------------------------------------------

  /** Both fact tables written bucketed+sorted by the join key into
    * NAMED catalog tables, once per (application, dir) — the
    * amortized layout q23 rewrites per invocation. Table names embed
    * the application id and the data dir's md5: the warehouse
    * directory (./spark-warehouse) is SHARED across processes, and
    * two concurrent runs writing one table name would race on its
    * location — the same hazard the applicationId-scoped Derby dir
    * fixed for the JDBC sink. Data lives at EXTERNAL tmpdir locations
    * covered by the orphan sweep + pid markers, so even a CRASHED
    * run's layout is reclaimed (the shutdown hook alone cannot
    * promise that, and nothing sweeps the shared warehouse dir). */
  private val bucketedTables =
    new graft.KeyedOnce[(String, String), (String, String)]

  private[graft] def bucketedWritten(
      spark: SparkSession, dir: String): (String, String) =
    bucketedTables((spark.sparkContext.applicationId, dir)) {
      val tag = spark.sparkContext.applicationId
        .replaceAll("[^a-zA-Z0-9]", "_") + "_" +
        java.security.MessageDigest.getInstance("MD5")
          .digest(dir.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.take(12)
      val ot = s"graft_orders_cb_$tag"
      val lt = s"graft_lineitem_cb_$tag"
      // EXTERNAL locations under the swept tmpdir prefix, not the
      // shared ./spark-warehouse (which nothing sweeps — a crashed
      // run's managed layout would leak two fact-table copies
      // forever; reviewer find, r11)
      val root = Reference.appScopedScratch(spark, "graft_bucketed", dir)
      graft.io.BucketedLayout.writeBucketed(
        orders(spark, dir).select(col("o_orderkey"), col("o_orderpriority")),
        ot, "o_orderkey", 8, Some(s"$root/orders"))
      graft.io.BucketedLayout.writeBucketed(
        lineitem(spark, dir)
          .select(col("l_orderkey"), col("l_extendedprice"),
            col("l_discount")),
        lt, "l_orderkey", 8, Some(s"$root/lineitem"))
      (ot, lt)
    }

  /** q212: the bucketed layout read the way a BI session reads it —
    * through CATALOG NAMES alone, in a session that did none of the
    * layout work. [[bucketedWritten]] persists both fact tables
    * bucketed+sorted by the join key once per (application, dir);
    * this query joins them from the FRESH session ([[ColdRestart
    * .fresh]]: empty table memo — catalog metadata is all it has).
    * The metastore's bucket spec is what lets Catalyst plan the
    * fact-fact SortMergeJoin with NO exchange on either side, and a
    * point predicate prune to 1 of 8 buckets before any file opens
    * (both pinned in RelationalSpec). Same answer as q07 — the read
    * surface changed, the answer must not. At 100 TB this is the
    * point of paying the bucketed write once: every later session's
    * recurring join drops its dominant shuffle on catalog metadata
    * alone, which is why it IS benchable while q23 (which re-writes
    * the layout per invocation by construction) is not. */
  def bucketedCatalogRead(spark: SparkSession, dir: String): DataFrame = {
    prep(spark)
    val (ot, lt) = bucketedWritten(spark, dir)
    val s = ColdRestart.fresh(spark)
    val o = s.table(ot)
    val l = s.table(lt)
    o.join(l, o("o_orderkey") === l("l_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        // AVG digest, matching q07/q23: the bucketed read sums in a
        // different order and a raw-SUM digest flips its 4th decimal.
        round(avg(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
          .as("avg_revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("o_orderpriority")
  }

  /** Manual skew-salting pattern: the small side is replicated across
    * `Salts` salt values (explode), the big side picks a DETERMINISTIC
    * salt from a secondary column, and the join key becomes
    * (key, salt) — one hot key fans out over Salts reducers instead
    * of melting one. Result is provably identical to the unsalted
    * join (every big-side row meets exactly one replica). AQE's
    * skew-join split is the first-line fix; salting is the manual
    * fallback for extreme single-key skew or non-AQE engines. */
  def saltedJoin(spark: SparkSession, dir: String): DataFrame = {
    prep(spark)
    val Salts = 8
    val e = events(spark, dir)
      .select(col("user_id"), col("value"), col("event_id"))
      .withColumn("salt", pmod(hash(col("event_id")), lit(Salts)))
    val c = customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"))
      .withColumn("salt", explode(expr(s"sequence(0, ${Salts - 1})")))
    e.join(c, e("user_id") === c("c_custkey") && e("salt") === c("salt"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
      .orderBy("c_mktsegment")
  }

  val saltedJoinSql: String =
    """SELECT c_mktsegment, count(*) AS n, round(sum(value), 4) AS sum_value
      |FROM events JOIN customer ON user_id = c_custkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q163: AUTO-skew-protected join — q24's salting driven by q151's
    * skew measurement instead of a guess ([[graft.operators.SkewJoin
    * .autoSalted]]): the operator profiles the big side's key, flags
    * keys over 2× the mean per-key load, and salts ONLY those — the
    * unflagged keys take the plain single-replica join path
    * (SkewJoinSpec asserts both the replication arithmetic and that a
    * uniform input plans with no Generate at all). Skew is injected
    * deterministically (every third event remaps to one hot user, so
    * that key holds ~⅓ of the big side and must flag); the oracle is
    * the plain join over the same remap — salting must be
    * result-invisible. */
  def autoSkewJoin(spark: SparkSession, dir: String): DataFrame = {
    prep(spark)
    val e = events(spark, dir).select(
      when(col("event_id") % 3 === 0, lit(7L))
        .otherwise(col("user_id")).as("user_id"),
      col("value"))
    val c = customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"))
    graft.operators.SkewJoin.autoSalted(e, "user_id", c, "c_custkey")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
      .orderBy("c_mktsegment")
  }

  val autoSkewJoinSql: String =
    """WITH e AS (
      |  SELECT CASE WHEN event_id % 3 = 0 THEN 7 ELSE user_id END
      |    AS user_id, value
      |  FROM events)
      |SELECT c_mktsegment, count(*) AS n, round(sum(value), 4) AS sum_value
      |FROM e JOIN customer ON user_id = c_custkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** The q93 join under scoped runtime-bloom-filter confs, pre-digest —
    * exposed so the plan spec can assert the `might_contain` injection
    * on the exact plan the query materializes. */
  private[queries] def bloomPruneJoinPlan(
      spark: SparkSession, dir: String): DataFrame = {
    val l = lineitem(spark, dir).hint("merge")
    val o = orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT").hint("merge")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        round(avg(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
          .as("avg_revenue"))
  }

  /** Fact-fact join with a SELECTIVE dimension-side predicate, executed
    * under Catalyst's runtime bloom-filter injection (InjectRuntimeFilter):
    * the optimizer builds a bloom filter over the filtered orders keys
    * as a subquery and applies `might_contain` on lineitem BEFORE its
    * shuffle — at 100 TB, ~3/4 of the fact rows (here: the non-URGENT
    * share) never leave the scan stage. Thresholds are scoped to this
    * query (set, eagerly materialized via localCheckpoint, restored):
    * the driver-shared session must not inherit a 1 KB application-side
    * threshold. Pruning is semantics-preserving (the bloom admits every
    * true key; the join verifies exactly), so the oracle is the plain
    * join. */
  def bloomPruneJoin(spark: SparkSession, dir: String): DataFrame = {
    prep(spark)
    // autoBroadcastJoinThreshold=-1 reproduces the 100 TB condition at
    // toy scale: InjectRuntimeFilter only fires for probably-SHUFFLE
    // joins, and fact tables this small look broadcast-able.
    val scoped = Map(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "1KB",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = scoped.keys.map(k => k -> spark.conf.getOption(k)).toMap
    scoped.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // Eager materialization: injection happens at optimization time,
      // which must run while the scoped confs are in force. The DIGEST
      // (3 rows) is collected and re-wrapped rather than checkpointed:
      // a localCheckpoint per invocation accumulates cached RDD blocks
      // across bench sweeps with no unpersist hook (the checkpoint
      // must outlive this method), while the collected digest leaves
      // zero block-storage residue and is not a scale concern — the
      // result is one row per return flag, not data-sized.
      val digest = bloomPruneJoinPlan(spark, dir).orderBy("l_returnflag")
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(
        digest.collect().toSeq.asJava, digest.schema)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  val bloomPruneJoinSql: String =
    """SELECT l_returnflag, count(*) AS n,
      |  round(avg(l_extendedprice * (1 - l_discount)), 4) AS avg_revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderpriority = '1-URGENT'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Weekly cohort retention over the events table — the standard
    * product-BI query: users cohort by the week of their FIRST event;
    * a (cohort, offset) cell counts the cohort's distinct users still
    * active `offset` weeks later. Scale shape: ONE shuffle — a single
    * groupBy(user_id) collects each user's distinct active-week set
    * (bounded by the calendar, so per-group state is tiny), the
    * cohort is the set's min, and the exploded (cohort, offset) rows
    * are already distinct per user, so the final rollup is a plain
    * count. No self-join, no second distinct. Week grains are
    * Monday-start in both engines. */
  def cohortRetention(spark: SparkSession, dir: String): DataFrame = {
    prep(spark)
    events(spark, dir)
      .select(col("user_id"),
        to_date(date_trunc("week", col("ts"))).as("wk"))
      .groupBy("user_id")
      .agg(collect_set(col("wk")).as("wks"))
      .select(array_min(col("wks")).as("cohort"),
        explode(col("wks")).as("wk"))
      .withColumn("offset",
        (datediff(col("wk"), col("cohort")) / 7).cast("int"))
      .groupBy(col("cohort"), col("offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy("cohort", "offset")
  }

  val cohortRetentionSql: String =
    """WITH w AS (
      |  SELECT DISTINCT user_id,
      |    CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS wk
      |  FROM events),
      |c AS (SELECT user_id, min(wk) AS cohort FROM w GROUP BY 1)
      |SELECT cohort,
      |  CAST(datediff('day', cohort, wk) // 7 AS INT) AS "offset",
      |  count(DISTINCT w.user_id) AS n_users
      |FROM w JOIN c ON w.user_id = c.user_id
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------
  // q131 SCD2 dimension load
  // ---------------------------------------------------------------

  /** q131: type-2 slowly-changing-dimension load — the warehouse
    * dimension-history pattern one step past q105's keyed MERGE:
    * an incoming batch against the current snapshot closes changed
    * rows (valid_to set, no longer current), opens their new
    * versions, inserts unseen keys, and carries unchanged/no-op rows
    * untouched. The incoming batch derives deterministically from
    * the snapshot itself (%7 keys change balance, %11 non-%7 keys
    * arrive as no-op copies that must NOT version, %13 keys also
    * arrive as brand-new members under a shifted key), so both
    * engines build the identical load.
    *
    * Scale shape: ONE full-outer equi-join on the dimension key —
    * the merge geometry Spark shuffles on the key (or co-locates
    * under bucketing, q23) — then row emission is a scan-stage
    * conditional array + explode (1–2 output rows per matched key,
    * never a second pass or per-state re-join over the joined set).
    * The digest keeps balances in exact integer cents, so no
    * cross-engine float summation is in play. */
  def scd2Load(spark: SparkSession, dir: String): DataFrame = {
    prep(spark)
    val base = customer(spark, dir)
      .select(col("c_custkey").as("k"), col("c_acctbal").as("bal"),
        col("c_mktsegment").as("seg"))
    val changed = base.filter(col("k") % 7 === 0)
      .withColumn("bal", round(col("bal") + lit(100.0), 2))
    val noop = base.filter(col("k") % 11 === 0 && col("k") % 7 =!= 0)
    val fresh = base.filter(col("k") % 13 === 0)
      .select((col("k") + lit(10000000L)).as("k"),
        lit(0.0).as("bal"), lit("NEW").as("seg"))
    val incoming = changed.unionByName(noop).unionByName(fresh)
    val j = base
      .select(col("k"), col("bal").as("b_bal"), col("seg").as("b_seg"),
        lit(1).as("in_base"))
      .join(incoming.select(col("k"), col("bal").as("i_bal"),
          col("seg").as("i_seg"), lit(1).as("in_inc")),
        Seq("k"), "full_outer")
    val matchedSame = col("in_base").isNotNull && col("in_inc").isNotNull &&
      col("b_bal") === col("i_bal") && col("b_seg") === col("i_seg")
    val matchedDiff = col("in_base").isNotNull && col("in_inc").isNotNull
    def ver(state: String, bal: Column, cur: Boolean) =
      struct(lit(state).as("state"), bal.as("bal"), lit(cur).as("cur"))
    j.withColumn("vers",
        when(matchedSame, array(ver("carried", col("b_bal"), cur = true)))
          .when(matchedDiff, array(
            ver("closed", col("b_bal"), cur = false),
            ver("changed_new", col("i_bal"), cur = true)))
          .when(col("in_inc").isNull,
            array(ver("carried", col("b_bal"), cur = true)))
          .otherwise(array(ver("inserted", col("i_bal"), cur = true))))
      .select(col("k"), explode(col("vers")).as("r"))
      .select(col("k"), col("r.state").as("state"),
        expr("cast(round(r.bal * 100) as bigint)").as("cents"),
        col("r.cur").as("cur"))
      .withColumn("h", expr(Exprs.hash60(
        "concat(cast(k as string), ':', cast(cents as string), ':', state)")))
      .groupBy(col("state"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("cur"), 1L).otherwise(0L)).as("n_current"),
        sum(col("cents")).as("sum_cents"),
        expr("bit_xor(h)").as("member_digest"))
      .orderBy("state")
  }

  val scd2LoadSql: String =
    """WITH base AS (
      |  SELECT c_custkey AS k, c_acctbal AS bal, c_mktsegment AS seg
      |  FROM customer),
      |changed AS (SELECT k, round(bal + 100.0, 2) AS bal, seg
      |            FROM base WHERE k % 7 = 0),
      |noop AS (SELECT k, bal, seg FROM base
      |         WHERE k % 11 = 0 AND k % 7 <> 0),
      |fresh AS (SELECT k + 10000000 AS k, 0.0 AS bal, 'NEW' AS seg
      |          FROM base WHERE k % 13 = 0),
      |inc AS (SELECT * FROM changed UNION ALL SELECT * FROM noop
      |        UNION ALL SELECT * FROM fresh),
      |j AS (SELECT coalesce(b.k, i.k) AS k, b.bal AS b_bal,
      |        b.seg AS b_seg, i.bal AS i_bal, i.seg AS i_seg,
      |        b.k IS NOT NULL AS in_base, i.k IS NOT NULL AS in_inc
      |      FROM base b FULL OUTER JOIN inc i ON b.k = i.k),
      |vers AS (
      |  SELECT k, 'carried' AS state, b_bal AS bal, TRUE AS cur FROM j
      |    WHERE in_base AND in_inc AND b_bal = i_bal AND b_seg = i_seg
      |  UNION ALL
      |  SELECT k, 'closed', b_bal, FALSE FROM j
      |    WHERE in_base AND in_inc
      |      AND NOT (b_bal = i_bal AND b_seg = i_seg)
      |  UNION ALL
      |  SELECT k, 'changed_new', i_bal, TRUE FROM j
      |    WHERE in_base AND in_inc
      |      AND NOT (b_bal = i_bal AND b_seg = i_seg)
      |  UNION ALL
      |  SELECT k, 'carried', b_bal, TRUE FROM j
      |    WHERE in_base AND NOT in_inc
      |  UNION ALL
      |  SELECT k, 'inserted', i_bal, TRUE FROM j WHERE NOT in_base),
      |c AS (SELECT state, k, CAST(round(bal * 100) AS BIGINT) AS cents,
      |        cur FROM vers)
      |SELECT state, count(*) AS n_rows,
      |  CAST(sum(CASE WHEN cur THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_current,
      |  CAST(sum(cents) AS BIGINT) AS sum_cents,
      |  bit_xor(('0x' || substr(md5(CAST(k AS VARCHAR) || ':' ||
      |    CAST(cents AS VARCHAR) || ':' || state), 1, 15))::BIGINT)
      |    AS member_digest
      |FROM c GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------
  // q133 ordered conversion funnel
  // ---------------------------------------------------------------

  /** q133: ordered conversion funnel over the event stream — the
    * product-analytics staple: per user, the first 'view', the first
    * 'click' strictly AFTER that view, and the first 'purchase'
    * strictly after that click; a later stage never matches before an
    * earlier one (the ordering constraint that separates a funnel
    * from three independent filters). Emits one row per stage with
    * reached-user count, total view-to-stage latency (exact epoch
    * microseconds — no float time arithmetic), and an xor fingerprint
    * of the reached-user set.
    *
    * Scale shape: ONE user-keyed exchange; the three stage times are
    * conditional-min window aggregates over the same partitioning
    * (Catalyst plans them as chained Window ops behind a single
    * Exchange — no per-stage join back to the event stream, which
    * would re-shuffle the full log once per funnel step), then a
    * per-user reduction and a 3-row stage rollup over the users-sized
    * table. Funnel depth extends by adding window columns, not
    * passes. */
  def funnel(spark: SparkSession, dir: String): DataFrame = {
    prep(spark)
    val w = Window.partitionBy("user_id")
    val u = events(spark, dir)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("t1",
        min(when(col("event_type") === "view", col("us"))).over(w))
      .withColumn("t2", min(when(
        col("event_type") === "click" && col("us") > col("t1"),
        col("us"))).over(w))
      .withColumn("t3", min(when(
        col("event_type") === "purchase" && col("us") > col("t2"),
        col("us"))).over(w))
      .groupBy(col("user_id"))
      .agg(min("t1").as("t1"), min("t2").as("t2"), min("t3").as("t3"))
    u.select(col("user_id"), col("t1"), explode(array(
        struct(lit("1_view").as("stage"), col("t1").as("t")),
        struct(lit("2_click").as("stage"), col("t2").as("t")),
        struct(lit("3_purchase").as("stage"), col("t3").as("t")))).as("s"))
      .filter(col("s.t").isNotNull)
      .select(col("s.stage").as("stage"),
        (col("s.t") - col("t1")).as("delay_us"),
        expr(Exprs.hash60("cast(user_id as string)")).as("h"))
      .groupBy(col("stage"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("delay_us")).as("sum_delay_us"),
        expr("bit_xor(h)").as("user_digest"))
      .orderBy("stage")
  }

  val funnelSql: String =
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us
      |  FROM events),
      |u1 AS (
      |  SELECT user_id, min(CASE WHEN event_type = 'view' THEN us END) AS t1
      |  FROM e GROUP BY 1),
      |u2 AS (
      |  SELECT e.user_id, min(u1.t1) AS t1, min(us) AS t2
      |  FROM e JOIN u1 ON e.user_id = u1.user_id
      |  WHERE event_type = 'click' AND us > u1.t1 GROUP BY 1),
      |u3 AS (
      |  SELECT e.user_id, min(u2.t1) AS t1, min(us) AS t3
      |  FROM e JOIN u2 ON e.user_id = u2.user_id
      |  WHERE event_type = 'purchase' AND us > u2.t2 GROUP BY 1),
      |s AS (
      |  SELECT user_id, '1_view' AS stage, CAST(0 AS BIGINT) AS delay_us
      |  FROM u1 WHERE t1 IS NOT NULL
      |  UNION ALL SELECT user_id, '2_click', t2 - t1 FROM u2
      |  UNION ALL SELECT user_id, '3_purchase', t3 - t1 FROM u3)
      |SELECT stage, count(*) AS n_users,
      |  CAST(sum(delay_us) AS BIGINT) AS sum_delay_us,
      |  bit_xor(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT)
      |    AS user_digest
      |FROM s GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------
  // q135 rolling time-series anomaly detection
  // ---------------------------------------------------------------

  /** q135: rolling anomaly detection over the per-(type, day) event
    * counts — the volume-monitoring alarm every ingestion pipeline
    * runs: each day's count is z-scored against the mean/stddev of
    * the PRECEDING 7 days only (a trailing frame — the current day
    * must not launder its own spike into the baseline), and days with
    * |z| > 2.5 flag. Warm-up days (fewer than 3 prior days) and
    * zero-variance baselines don't flag.
    *
    * Mean and stddev are ROUNDED to 6 decimals and z to 4 before the
    * threshold compare, so the flag set is bit-identical
    * cross-engine.
    *
    * Scale shape: the corpus-sized work is the ONE (type, day)
    * groupBy; everything after runs on the days-per-type table
    * (~365 rows/type/year — tiny forever), so the per-type ordered
    * window costs nothing at any corpus scale. The daily-grain
    * reduction IS the design: never window the raw event stream. */
  def rollingAnomaly(spark: SparkSession, dir: String): DataFrame = {
    prep(spark)
    val daily = events(spark, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("dn", datediff(col("d"), lit("1970-01-01")))
    // RANGE over the integer day index, not ROWS over observed days:
    // a quiet gap must age the baseline out of the window, not
    // stretch it across the gap (a resume-after-a-month day would
    // otherwise be z-scored against month-old history)
    val w = Window.partitionBy("event_type").orderBy("dn")
      .rangeBetween(-7, -1)
    daily
      .withColumn("mu", round(avg(col("cnt")).over(w), 6))
      .withColumn("sg", round(stddev_pop(col("cnt")).over(w), 6))
      .withColumn("nprev", count(col("cnt")).over(w))
      .withColumn("z", when(col("nprev") >= 3 && col("sg") > 0,
        round((col("cnt") - col("mu")) / col("sg"), 4)))
      .withColumn("is_anom",
        (abs(coalesce(col("z"), lit(0.0))) > 2.5).cast("long"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("cnt")).as("n_events"),
        sum(col("is_anom")).as("n_anomalies"),
        coalesce(expr("bit_xor(CASE WHEN is_anom = 1 THEN " +
          Exprs.hash60("cast(d as string)") + " END)"), lit(0L))
          .as("anomaly_digest"))
      .orderBy("event_type")
  }

  val rollingAnomalySql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS d,
      |    CAST(ts AS DATE) - DATE '1970-01-01' AS dn, count(*) AS cnt
      |  FROM events GROUP BY 1, 2, 3),
      |r AS (
      |  SELECT event_type, d, cnt,
      |    round(avg(cnt) OVER w, 6) AS mu,
      |    round(stddev_pop(cnt) OVER w, 6) AS sg,
      |    count(cnt) OVER w AS nprev
      |  FROM daily
      |  WINDOW w AS (PARTITION BY event_type ORDER BY dn
      |    RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING)),
      |z AS (
      |  SELECT event_type, d, cnt,
      |    CASE WHEN nprev >= 3 AND sg > 0
      |      THEN round((cnt - mu) / sg, 4) END AS z
      |  FROM r),
      |f AS (
      |  SELECT event_type, d, cnt,
      |    CASE WHEN abs(coalesce(z, 0)) > 2.5 THEN 1 ELSE 0 END AS is_anom
      |  FROM z)
      |SELECT event_type, count(*) AS n_days,
      |  CAST(sum(cnt) AS BIGINT) AS n_events,
      |  CAST(sum(is_anom) AS BIGINT) AS n_anomalies,
      |  coalesce(bit_xor(CASE WHEN is_anom = 1 THEN
      |    ('0x' || substr(md5(CAST(d AS VARCHAR)), 1, 15))::BIGINT END), 0)
      |    AS anomaly_digest
      |FROM f GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------
  // q136 fuzzy record linkage (df-ranked blocking + edit distance)
  // ---------------------------------------------------------------

  /** q136: fuzzy record linkage — match dirty strings back to a clean
    * entity catalog without an equality key, the classic MDM /
    * dedupe-across-systems operator. Entities are the distinct
    * composed part identities (`p_name p_brand p_type`, canonical id
    * = min partkey); the dirty side is derived deterministically from
    * the catalog itself (each name loses the character at
    * hash(name) % length), so both engines build the identical
    * workload AND every dirty record carries its ground-truth entity
    * for precision measurement.
    *
    * Linkage runs in the published blocking+scoring shape:
    *   1. BLOCK on composite TOKEN-PAIR keys — every unordered pair
    *      of distinct tokens on each side. Single rare-token blocking
    *      dies on catalogs whose vocabulary has no tail (measured
    *      here: 47 tokens, min df 320, 8.7M candidate pairs at
    *      sf0.1); pair keys multiply the selectivities
    *      (df(a,b) ~ N·p_a·p_b), the composite-blocking scheme from
    *      the entity-resolution literature (Papadakis et al.). One
    *      deletion corrupts at most 2 adjacent tokens, so a 4+-token
    *      name always keeps one intact pair — blocking recall
    *      survives by construction.
    *   2. SCORE candidates with banded levenshtein
    *      (threshold [[LinkMaxDist]]: the kernel early-exits once a
    *      row of the DP band exceeds it) after a length prefilter
    *      (|len(d)−len(e)| > threshold can never link). Links beyond
    *      the threshold are NON-links (the -1 bucket) — real linkage
    *      always carries a match cutoff, and the cutoff is what makes
    *      banded scoring legal.
    * Best match = min (distance, entity id); digest per distance
    * bucket: record count, links to the TRUE entity, xor fingerprint.
    *
    * Scale shape: pair-key generation is scan-stage (sorted-array
    * lambda, ~k²/2 keys for k tokens); the candidate join is an
    * equality join on the composite key; scoring is banded per-pair
    * scan work; best-match is a map-side-combining min_by — no
    * window, no all-pairs, and block sizes are governed by PAIR
    * frequencies, which stay discriminative even when every single
    * token is common. */
  def recordLinkage(spark: SparkSession, dir: String): DataFrame = {
    prep(spark)
    // The aggregated entity catalog feeds FOUR subplans per call (the
    // dirty chain's three consumers + the broadcast name table), and
    // each used to re-run the part scan + the ename groupBy exchange
    // (guide §1.2 "don't compute things you throw away" — at catalog
    // scale that is three saved scans + aggregations per linkage
    // batch). Memoized per (session, dir) like catalogKeys below —
    // the clean catalog IS the static side a production linkage run
    // materializes once and probes with every arrival batch. (A
    // per-call localCheckpoint was measured WORSE: the fresh leaf RDD
    // changes the plan identity every invocation, so every run paid
    // ~650 ms of codegen recompilation the memoized leaf amortizes.)
    // memoKeyed, not memo: the plain leaf arrived AQE-coalesced to ONE
    // partition at harness scale (the agg output is byte-tiny), so the
    // per-batch dirty derivation + its pair-key explode — per-ROW work
    // (hash60, substrings, split, array_sort, k²/2-key transform) —
    // ran as a single ~780 ms serial task (ProfileOne, sf0.1). The
    // ename-keyed leaf carries the session's parallelism instead, so
    // every downstream per-batch map runs wide with NO added exchange.
    val ents = Tables.memoKeyed(spark, dir, "linkage_catalog_ents",
        Seq("ename")) {
      part(spark, dir)
        .select(concat_ws(" ", col("p_name"), col("p_brand"), col("p_type"))
          .as("ename"), col("p_partkey"))
        .groupBy(col("ename")).agg(min(col("p_partkey")).as("eid"))
    }
    val dirty = ents.select(col("eid").as("truth"), col("ename"))
      .withColumn("pos",
        (expr(Exprs.hash60("ename")) % length(col("ename"))).cast("int"))
      .select(col("truth"),
        concat(expr("substring(ename, 1, pos)"),
          expr("substring(ename, pos + 2)")).as("dname"))
    // all unordered token pairs as composite blocking keys: sort the
    // distinct tokens, pair each with every later one (scan-stage)
    def pairKeys(rows: DataFrame, idCol: String, nameCol: String) =
      rows.withColumn("ts",
          expr(s"array_sort(array_distinct(split($nameCol, ' ')))"))
        .select(col(idCol), col(nameCol), explode(expr(
          "flatten(transform(ts, (x, i) -> " +
            "transform(slice(ts, i + 2, size(ts)), " +
            "y -> concat(x, '|', y))))")).as("bk"))
    // the probe's cost is per-CANDIDATE (key match x length filter),
    // not per-byte, so AQE's byte-based advisory coalesces the tiny
    // bk exchange down to 1-2 reducers and serializes the explosion;
    // explicit-count repartitions pin the join's parallelism (same
    // rationale as Tables.spread) and co-partition both sides.
    // GATED like Tables.spread (round-16 verdict ask #2): the pins
    // exist because the harness's single-row-group scans feed the
    // whole explosion through 1-2 AQE-coalesced reducers; when the
    // catalog scan already splits to the session's parallelism (the
    // 100 TB case) they no-op and the join plans its own exchanges,
    // AQE coalescing and skew-splitting included.
    val nShuf = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val pinNeeded = Tables.scanParallelism(part(spark, dir)) < nShuf
    def pinned(df: DataFrame, k: String): DataFrame =
      if (pinNeeded) df.repartition(nShuf, col(k)) else df
    // the distinct-pair shuffle carries ONLY (did, eid) ids — the
    // name strings would sextuple the exchange payload; they rejoin
    // from the (catalog-sized, broadcast) name tables afterwards.
    // The CLEAN catalog's blocking index is memoized+persisted per
    // (session, dir): a production linkage run builds the static
    // catalog's index once and probes it with every arrival batch
    // (the IVF-codebook discipline); only the dirty side's keys are
    // per-batch work. memoKeyed on the probe key: the leaf CARRIES
    // hashpartitioning(bk, n) (Tables.memoKeyed — AQE-off
    // materialization, since an AQE checkpoint degrades to
    // UnknownPartitioning), so every probe batch joins the catalog
    // index with NO per-call exchange on the catalog side.
    val catalogKeys = Tables.memoKeyed(spark, dir, "linkage_catalog_keys",
      Seq("bk"))(pairKeys(ents, "eid", "ename"))
    val cands = pinned(pairKeys(
        dirty.select(col("truth").as("did"), col("dname")), "did", "dname"),
        "bk")
      .hint("shuffle_hash")
      .join(catalogKeys.hint("shuffle_hash"),
        "bk")
      .filter(abs(length(col("dname")) - length(col("ename"))) <=
        LinkMaxDist)
      .select(col("did"), col("eid"))
      // ONE did-keyed exchange serves the whole post-join pipeline
      // (guide §2.4 "two operations keyed the same way can share one
      // exchange"): HashPartitioning(did) satisfies the distinct's
      // ClusteredDistribution(did, eid) — did is a subset of the
      // grouping keys — AND the min_by groupBy(did), so neither plans
      // its own shuffle. The former shape shuffled the candidate ids
      // TWICE back-to-back (distinct's (did,eid) exchange, then the
      // did repartition pin; 2.64 M rows in, 2.42 M out at sf0.1 —
      // the distinct dedups only ~8 %). Pinned to the session's
      // partition count when the single-row-group scans cannot feed
      // the session (scoring is per-candidate, AQE's byte advisory
      // serializes it); count-free and AQE-sizable when the input
      // already splits (the 100 TB case) — still one exchange
      // replacing two.
      .transform(df =>
        if (pinNeeded) df.repartition(nShuf, col("did"))
        else df.repartition(col("did")))
      .distinct()
      .join(broadcast(dirty.select(col("truth").as("did"), col("dname"))),
        "did")
      .join(broadcast(ents.select(col("eid"), col("ename"))), "eid")
    // min (dist, eid) per did as a PACKED long: min_by over a struct
    // plans as Sort + SortAggregate (struct aggregation buffers are
    // not HashAggregate-eligible — measured as the sort of all 2.4 M
    // candidate rows inside the scoring stage); dist*2^48 + eid is
    // strictly monotone in the (dist, eid) lexicographic order
    // (0 <= dist <= LinkMaxDist, eid < 2^48 — partkeys are far below),
    // so min(packed) decodes to exactly min_by's winner and the
    // aggregate runs as a map-side-combining HashAggregate.
    val best = cands
      .withColumn("dist",
        levenshtein(col("dname"), col("ename"), LinkMaxDist))
      .filter(col("dist") >= 0) // threshold kernel returns -1 past it
      .groupBy(col("did"))
      .agg(min(col("dist").cast("long") * lit(1L << 48) + col("eid"))
        .as("p"))
      .select(col("did"),
        (col("p") % lit(1L << 48)).as("eid"),
        shiftright(col("p"), 48).cast("int").as("dist"))
    dirty.select(col("truth").as("did")).distinct()
      .join(best, Seq("did"), "left")
      .select(col("did"),
        coalesce(col("dist"), lit(-1)).as("dist"),
        (col("eid") === col("did")).cast("long").as("ok"))
      .withColumn("h", expr(Exprs.hash60("cast(did as string)")))
      .groupBy(col("dist"))
      .agg(count(lit(1)).as("n_records"),
        coalesce(sum(col("ok")), lit(0L)).as("n_correct"),
        expr("bit_xor(h)").as("record_digest"))
      .orderBy("dist")
  }

  /** Match cutoff for q136: candidate pairs farther than this edit
    * distance are non-links. Enables the banded levenshtein kernel
    * and the length prefilter. */
  private val LinkMaxDist = 4

  val recordLinkageSql: String =
    s"""WITH ents AS (
      |  SELECT p_name || ' ' || p_brand || ' ' || p_type AS ename,
      |         min(p_partkey) AS eid
      |  FROM part GROUP BY 1),
      |dirty AS (
      |  SELECT eid AS truth,
      |    substring(ename, 1, pos) || substring(ename, pos + 2) AS dname
      |  FROM (SELECT eid, ename,
      |          CAST(('0x' || substr(md5(ename), 1, 15))::BIGINT
      |            % length(ename) AS INTEGER) AS pos
      |        FROM ents)),
      |et AS (SELECT eid, ename,
      |         unnest(list_distinct(string_split(ename, ' '))) AS tok
      |       FROM ents),
      |ek AS (SELECT a.eid, a.ename, a.tok || '|' || b.tok AS bk
      |       FROM et a JOIN et b
      |         ON a.eid = b.eid AND a.tok < b.tok),
      |dt AS (SELECT truth AS did, dname,
      |         unnest(list_distinct(string_split(dname, ' '))) AS tok
      |       FROM dirty),
      |dk AS (SELECT a.did, a.dname, a.tok || '|' || b.tok AS bk
      |       FROM dt a JOIN dt b
      |         ON a.did = b.did AND a.tok < b.tok),
      |cands AS (
      |  SELECT DISTINCT dk.did, dk.dname, ek.eid, ek.ename
      |  FROM dk JOIN ek ON dk.bk = ek.bk
      |  WHERE abs(length(dk.dname) - length(ek.ename)) <= $LinkMaxDist),
      |best AS (
      |  SELECT did, eid, dist FROM (
      |    SELECT did, eid, levenshtein(dname, ename) AS dist,
      |      row_number() OVER (PARTITION BY did
      |        ORDER BY levenshtein(dname, ename), eid) AS rn
      |    FROM cands
      |    WHERE levenshtein(dname, ename) <= $LinkMaxDist)
      |  WHERE rn = 1),
      |r AS (
      |  SELECT d.did, coalesce(b.dist, -1) AS dist,
      |    CASE WHEN b.eid = d.did THEN 1 ELSE 0 END AS ok
      |  FROM (SELECT DISTINCT truth AS did FROM dirty) d
      |  LEFT JOIN best b ON d.did = b.did)
      |SELECT dist, count(*) AS n_records,
      |  CAST(coalesce(sum(ok), 0) AS BIGINT) AS n_correct,
      |  bit_xor(('0x' || substr(md5(CAST(did AS VARCHAR)), 1, 15))::BIGINT)
      |    AS record_digest
      |FROM r GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------
  // q140 last-touch attribution
  // ---------------------------------------------------------------

  /** q140: last-touch marketing attribution — every purchase is
    * credited to the user's most recent view/click within a 7-day
    * lookback, or to 'none' if no touch qualifies. The classic
    * carry-forward shape: the running "latest touch" is a MAX window
    * aggregate over an integer encoding (touch epoch-µs * 4 + channel
    * code), so ONE monotone value carries both the timestamp and the
    * channel — no struct-max portability trap, no self-join of
    * purchases back to the touch log (which would re-shuffle the full
    * stream once per conversion definition).
    *
    * Scale shape: one user-keyed exchange; the carry-forward is a
    * cumulative window over each user's own events; the rollup is
    * channels-sized. Exact integer time arithmetic throughout. */
  def attribution(spark: SparkSession, dir: String): DataFrame = {
    prep(spark)
    val enc = when(col("event_type") === "view",
        unix_micros(col("ts")) * 4 + 1)
      .when(col("event_type") === "click",
        unix_micros(col("ts")) * 4 + 2)
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"), col("value"))
      .withColumn("last_touch", max(enc).over(w))
      .filter(col("event_type") === "purchase")
      .withColumn("touch_us", expr("last_touch div 4"))
      .withColumn("channel",
        when(col("last_touch").isNull, "none")
          .when(unix_micros(col("ts")) - col("touch_us") >
            lit(7L * 86400L * 1000000L), "none")
          .when(col("last_touch") % 4 === 1, "view")
          .otherwise("click"))
      .withColumn("lat",
        when(col("channel") =!= "none",
          unix_micros(col("ts")) - col("touch_us")).otherwise(0L))
      .withColumn("h", expr(Exprs.hash60("cast(event_id as string)")))
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n_conversions"),
        round(sum(col("value")), 4).as("sum_value"),
        sum(col("lat")).as("sum_latency_us"),
        expr("bit_xor(h)").as("purchase_digest"))
      .orderBy("channel")
  }

  val attributionSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type, value,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
      |  FROM events),
      |c AS (
      |  SELECT user_id, event_id, event_type, value, us,
      |    max(CASE WHEN event_type = 'view' THEN us * 4 + 1
      |             WHEN event_type = 'click' THEN us * 4 + 2 END)
      |      OVER (PARTITION BY user_id ORDER BY us, event_id
      |        ROWS UNBOUNDED PRECEDING) AS last_touch
      |  FROM e),
      |p AS (
      |  SELECT event_id, value,
      |    CASE WHEN last_touch IS NULL THEN 'none'
      |         WHEN us - last_touch // 4 > 604800000000
      |           THEN 'none'
      |         WHEN last_touch % 4 = 1 THEN 'view'
      |         ELSE 'click' END AS channel,
      |    CASE WHEN last_touch IS NOT NULL
      |           AND us - last_touch // 4 <= 604800000000
      |         THEN us - last_touch // 4 ELSE 0 END AS lat
      |  FROM c WHERE event_type = 'purchase')
      |SELECT channel, count(*) AS n_conversions,
      |  round(sum(value), 4) AS sum_value,
      |  CAST(sum(lat) AS BIGINT) AS sum_latency_us,
      |  bit_xor(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))
      |    ::BIGINT) AS purchase_digest
      |FROM p GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------
  // q141 activity streaks (gaps and islands)
  // ---------------------------------------------------------------

  /** q141: longest consecutive-day activity streak per user — the
    * gaps-and-islands idiom: reduce to the distinct (user, day)
    * grain, then `day_number - row_number` is constant exactly within
    * a run of consecutive days, so one window + one groupBy finds
    * every island without any self-join or recursion. Reported as a
    * histogram of per-user longest streaks with an xor fingerprint of
    * the users at each streak length.
    *
    * Scale shape: the corpus-sized step is the (user, day) distinct
    * reduction; the island window runs per user over that tiny
    * activity-days table (≤365 rows/user/year). Integer day
    * arithmetic (days since epoch) — no date-string tricks. */
  def activityStreaks(spark: SparkSession, dir: String): DataFrame = {
    prep(spark)
    val days = events(spark, dir)
      .select(col("user_id"),
        datediff(to_date(col("ts")), lit("1970-01-01")).as("dn"))
      .distinct()
    val w = Window.partitionBy("user_id").orderBy("dn")
    days
      .withColumn("grp", col("dn") - row_number().over(w))
      .groupBy(col("user_id"), col("grp"))
      .agg(count(lit(1)).as("len"))
      .groupBy(col("user_id"))
      .agg(max(col("len")).as("best"))
      .withColumn("h", expr(Exprs.hash60("cast(user_id as string)")))
      .groupBy(col("best"))
      .agg(count(lit(1)).as("n_users"),
        expr("bit_xor(h)").as("user_digest"))
      .orderBy("best")
  }

  val activityStreaksSql: String =
    """WITH d AS (
      |  SELECT DISTINCT user_id,
      |    CAST(ts AS DATE) - DATE '1970-01-01' AS dn
      |  FROM events),
      |i AS (
      |  SELECT user_id,
      |    dn - row_number() OVER (PARTITION BY user_id ORDER BY dn) AS grp
      |  FROM d),
      |s AS (
      |  SELECT user_id, grp, count(*) AS len FROM i GROUP BY 1, 2),
      |b AS (
      |  SELECT user_id, max(len) AS best FROM s GROUP BY 1)
      |SELECT best, count(*) AS n_users,
      |  bit_xor(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
      |    ::BIGINT) AS user_digest
      |FROM b GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------
  // q142 event-type transition matrix
  // ---------------------------------------------------------------

  /** q142: first-order behavioral transition matrix — per user, each
    * event's type conditioned on the previous one (lag over the
    * user's own timeline, '^' for session start), counted and
    * normalized into transition probabilities. The Markov-chain
    * summary behind next-action prediction and bot detection (a
    * scraper's click->click self-loop probability is nothing like a
    * human's).
    *
    * Scale shape: one user-keyed exchange for the lag window; the
    * transition table is |types|² + |types| rows, so the probability
    * normalization join is over a constant-sized table. */
  def transitionMatrix(spark: SparkSession, dir: String): DataFrame = {
    prep(spark)
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val trans = events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("nxt"))
      .withColumn("prv", coalesce(lag(col("nxt"), 1).over(w), lit("^")))
      .groupBy(col("prv"), col("nxt"))
      .agg(count(lit(1)).as("n"))
    val totals = trans.groupBy(col("prv")).agg(sum(col("n")).as("tot"))
    trans.join(broadcast(totals), "prv")
      .select(col("prv"), col("nxt"), col("n"),
        round(col("n").cast("double") / col("tot"), 6).as("p"))
      .orderBy("prv", "nxt")
  }

  val transitionMatrixSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type AS nxt,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
      |  FROM events),
      |t AS (
      |  SELECT coalesce(lag(nxt) OVER (PARTITION BY user_id
      |    ORDER BY us, event_id), '^') AS prv, nxt
      |  FROM e),
      |c AS (SELECT prv, nxt, count(*) AS n FROM t GROUP BY 1, 2),
      |tot AS (SELECT prv, sum(n) AS tot FROM c GROUP BY 1)
      |SELECT c.prv, c.nxt, c.n,
      |  round(CAST(c.n AS DOUBLE) / tot.tot, 6) AS p
      |FROM c JOIN tot USING (prv)
      |ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------
  // q144 volume trend regression
  // ---------------------------------------------------------------

  /** q144: per-type daily-volume trend — closed-form least-squares
    * slope and r² of count-per-day against the day index, the
    * "is this source draining / ramping?" monitor that complements
    * q135's spike detector (a slow 2%/day decline never trips a
    * z-score but kills a corpus in a quarter). Slope and r² come from
    * the five classic sums (n, Σx, Σy, Σxy, Σx², Σy²) — x and y are
    * INTEGERS (days since epoch, daily counts), so every sum is exact
    * and cross-engine identical; the only float ops are the two final
    * divisions, computed from identical integer inputs and rounded.
    *
    * Scale shape: the corpus reduces to the (type, day) grain in one
    * groupBy; the regression sums are a second tiny aggregation over
    * the daily table. Nothing else touches data. */
  def volumeTrend(spark: SparkSession, dir: String): DataFrame = {
    prep(spark)
    events(spark, dir)
      .groupBy(col("event_type"),
        datediff(to_date(col("ts")), lit("1970-01-01")).cast("long").as("x"))
      .agg(count(lit(1)).as("y"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .withColumn("num", col("n_days") * col("sxy") - col("sx") * col("sy"))
      .withColumn("denx",
        col("n_days") * col("sxx") - col("sx") * col("sx"))
      .withColumn("deny",
        col("n_days") * col("syy") - col("sy") * col("sy"))
      .select(col("event_type"), col("n_days"), col("sy").as("n_events"),
        when(col("denx") === 0, lit(null).cast("double"))
          .otherwise(round(col("num").cast("double") / col("denx"), 6))
          .as("slope"),
        when(col("denx") * col("deny") === 0, lit(null).cast("double"))
          .otherwise(round(
            (col("num") * col("num")).cast("double") /
              (col("denx") * col("deny")), 6)).as("r2"))
      .orderBy("event_type")
  }

  val volumeTrendSql: String =
    """WITH d AS (
      |  SELECT event_type,
      |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS x,
      |    count(*) AS y
      |  FROM events GROUP BY 1, 2),
      |s AS (
      |  SELECT event_type, count(*) AS n_days,
      |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |    CAST(sum(x * y) AS BIGINT) AS sxy,
      |    CAST(sum(x * x) AS BIGINT) AS sxx,
      |    CAST(sum(y * y) AS BIGINT) AS syy
      |  FROM d GROUP BY 1),
      |m AS (
      |  SELECT event_type, n_days, sy,
      |    n_days * sxy - sx * sy AS num,
      |    n_days * sxx - sx * sx AS denx,
      |    n_days * syy - sy * sy AS deny
      |  FROM s)
      |SELECT event_type, n_days, sy AS n_events,
      |  CASE WHEN denx = 0 THEN NULL
      |       ELSE round(CAST(num AS DOUBLE) / denx, 6) END AS slope,
      |  CASE WHEN denx * deny = 0 THEN NULL
      |       ELSE round(CAST(num * num AS DOUBLE) / (denx * deny), 6)
      |  END AS r2
      |FROM m ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------
  // q148 RFM segmentation
  // ---------------------------------------------------------------

  /** q148: RFM (recency / frequency / monetary) customer
    * segmentation — the classic lifecycle-marketing partition: per
    * purchasing user, days since last purchase, purchase count, and
    * total spend in integer cents; each metric scored 1–5 against its
    * own exact quintile boundaries (5 = most recent / most frequent /
    * highest spend), then users roll up into (r, f, m) segments.
    *
    * Boundary discipline: quintiles are computed ONCE over the
    * per-user table, ROUNDED to 6 decimals, and broadcast back; a
    * user's score is 1 + (strict comparisons against the four
    * boundaries) — never an `ntile` window, whose empty partitionBy
    * would funnel every user through one partition AND whose
    * equal-count tie-splitting is nondeterministic across engines for
    * tied metric values.
    *
    * Scale shape: one purchase-grain scan → user-grain aggregate; a
    * 1-row boundary aggregate broadcast back (q107's
    * statistic-conditioned-gate shape); scoring is scan-stage; the
    * rollup is ≤ 125 segments. `approx_percentile` is the 100 TB
    * dial for the boundary pass. */
  def rfmSegments(spark: SparkSession, dir: String): DataFrame = {
    prep(spark)
    val p = events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), to_date(col("ts")).as("d"),
        expr("cast(round(value * 100) as bigint)").as("cents"))
    val maxd = p.agg(max(col("d")).as("maxd"))
    val users = p.crossJoin(broadcast(maxd))
      .groupBy(col("user_id"))
      .agg(min(datediff(col("maxd"), col("d"))).as("r"),
        count(lit(1)).as("f"), sum(col("cents")).as("m"))
    // literal fraction strings: Scala's `i * 0.2` renders 3 * 0.2 as
    // 0.6000000000000001, a ULP-divergent quantile fraction vs the
    // oracle's exact 0.6 literal
    val fracs = Seq("0.2", "0.4", "0.6", "0.8")
    def qs(c: String) = fracs.zipWithIndex.map { case (f, i) =>
      round(expr(s"percentile($c, $f)"), 6).as(s"${c}q${i + 1}") }
    val bounds = users.agg(qs("r").head,
      (qs("r").tail ++ qs("f") ++ qs("m")): _*)
    def score(c: String, lowIsGood: Boolean) = (1 to 4)
      .map(i => if (lowIsGood) (col(c) < col(s"${c}q$i")).cast("int")
                else (col(c) > col(s"${c}q$i")).cast("int"))
      .reduce(_ + _) + 1
    users.crossJoin(broadcast(bounds))
      .select(col("user_id"), col("m"),
        score("r", lowIsGood = true).as("rs"),
        score("f", lowIsGood = false).as("fs"),
        score("m", lowIsGood = false).as("ms"))
      .withColumn("h", expr(Exprs.hash60("cast(user_id as string)")))
      .groupBy(col("rs"), col("fs"), col("ms"))
      .agg(count(lit(1)).as("n_users"), sum(col("m")).as("sum_cents"),
        expr("bit_xor(h)").as("user_digest"))
      .orderBy("rs", "fs", "ms")
  }

  val rfmSegmentsSql: String =
    """WITH p AS (
      |  SELECT user_id, CAST(ts AS DATE) AS d,
      |    CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events WHERE event_type = 'purchase'),
      |mx AS (SELECT max(d) AS maxd FROM p),
      |u AS (
      |  SELECT user_id, min(maxd - d) AS r, count(*) AS f,
      |    CAST(sum(cents) AS BIGINT) AS m
      |  FROM p, mx GROUP BY 1),
      |b AS (
      |  SELECT
      |    round(quantile_cont(r, 0.2), 6) AS rq1,
      |    round(quantile_cont(r, 0.4), 6) AS rq2,
      |    round(quantile_cont(r, 0.6), 6) AS rq3,
      |    round(quantile_cont(r, 0.8), 6) AS rq4,
      |    round(quantile_cont(f, 0.2), 6) AS fq1,
      |    round(quantile_cont(f, 0.4), 6) AS fq2,
      |    round(quantile_cont(f, 0.6), 6) AS fq3,
      |    round(quantile_cont(f, 0.8), 6) AS fq4,
      |    round(quantile_cont(m, 0.2), 6) AS mq1,
      |    round(quantile_cont(m, 0.4), 6) AS mq2,
      |    round(quantile_cont(m, 0.6), 6) AS mq3,
      |    round(quantile_cont(m, 0.8), 6) AS mq4
      |  FROM u),
      |s AS (
      |  SELECT user_id, m,
      |    1 + CAST(r < rq1 AS INTEGER) + CAST(r < rq2 AS INTEGER)
      |      + CAST(r < rq3 AS INTEGER) + CAST(r < rq4 AS INTEGER) AS rs,
      |    1 + CAST(f > fq1 AS INTEGER) + CAST(f > fq2 AS INTEGER)
      |      + CAST(f > fq3 AS INTEGER) + CAST(f > fq4 AS INTEGER) AS fs,
      |    1 + CAST(m > mq1 AS INTEGER) + CAST(m > mq2 AS INTEGER)
      |      + CAST(m > mq3 AS INTEGER) + CAST(m > mq4 AS INTEGER) AS ms
      |  FROM u, b)
      |SELECT rs, fs, ms, count(*) AS n_users,
      |  CAST(sum(m) AS BIGINT) AS sum_cents,
      |  bit_xor(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
      |    ::BIGINT) AS user_digest
      |FROM s GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  // ---------------------------------------------------------------
  // q151 join-key skew profiler
  // ---------------------------------------------------------------

  /** q151: join-key skew profiling — the measurement that DECIDES the
    * q24 salting and AQE-skew-join dials instead of guessing: for
    * each profiled (table, key) pair, row and key cardinalities, the
    * heaviest key's share, the p99 per-key count, and the count and
    * xor fingerprint of the SALT CANDIDATES (keys holding more than
    * 2x the mean load — the set a salted join would split). The
    * heavy-key predicate is the exact integer cross-multiply
    * `cnt * n_keys > 2 * n_rows` — no float mean to disagree on.
    *
    * Scale shape: one (key) groupBy per profiled table — the same
    * shuffle the join being protected would do — then every metric
    * reduces the keys-sized count table (skew stats, exact p99,
    * heavy-key digest). Nothing returns per-key rows except the
    * digest. */
  def skewProfile(spark: SparkSession, dir: String): DataFrame = {
    prep(spark)
    def profile(tag: String, rows: DataFrame) = {
      val counts = rows.groupBy(col("k")).agg(count(lit(1)).as("cnt"))
      // exact p99 in the q28 shape (sorted window + weighted sum), not
      // percentile()'s value-buffering aggregate — the count table is
      // keys-sized, which at 100 TB is still billions of rows in one
      // in-memory buffer. The global quantile's window is one
      // partition, but Spark's window sort SPILLS (bounded memory);
      // OOM risk becomes a spill, the honest trade for exactness.
      val p99 = exactQuantiles(counts.withColumn("g", lit(1)), "g", "cnt",
        Seq(0.99 -> "p99_raw"))
        .select(round(col("p99_raw"), 6).as("p99_cnt"))
      counts
        .agg(sum(col("cnt")).as("n_rows"),
          count(lit(1)).as("n_keys"),
          max(col("cnt")).as("max_cnt"))
        .crossJoin(broadcast(p99))
        .select(lit(tag).as("keyspace"), col("n_rows"), col("n_keys"),
          col("max_cnt"), col("p99_cnt"),
          round(col("max_cnt") * col("n_keys") /
            col("n_rows").cast("double"), 4).as("skew"))
    }
    def heavies(rows: DataFrame, keyHash: String) = {
      val counts = rows.groupBy(col("k")).agg(count(lit(1)).as("cnt"))
      val tot = counts.agg(sum(col("cnt")).as("n_rows"),
        count(lit(1)).as("n_keys"))
      counts.crossJoin(broadcast(tot))
        .filter(col("cnt") * col("n_keys") > lit(2) * col("n_rows"))
        .withColumn("h", expr(keyHash))
        .agg(count(lit(1)).as("n_heavy"),
          coalesce(expr("bit_xor(h)"), lit(0L)).as("heavy_digest"))
    }
    val targets = Seq(
      ("lineitem.l_orderkey",
        lineitem(spark, dir).select(col("l_orderkey").as("k")),
        Exprs.hash60("cast(k as string)")),
      ("events.user_id",
        events(spark, dir).select(col("user_id").as("k")),
        Exprs.hash60("cast(k as string)")),
      ("documents.source",
        documents(spark, dir).select(col("source").as("k")),
        Exprs.hash60("k")))
    targets.map { case (tag, rows, kh) =>
      profile(tag, rows).crossJoin(heavies(rows, kh))
    }.reduce(_.unionByName(_)).orderBy("keyspace")
  }

  val skewProfileSql: String = {
    val mk = Seq(
      ("li", "lineitem", "l_orderkey",
        "('0x' || substr(md5(CAST(x.k AS VARCHAR)), 1, 15))::BIGINT"),
      ("ev", "events", "user_id",
        "('0x' || substr(md5(CAST(x.k AS VARCHAR)), 1, 15))::BIGINT"),
      ("doc", "documents", "source",
        "('0x' || substr(md5(x.k), 1, 15))::BIGINT"))
    val ctes = mk.map { case (tag, table, key, _) =>
      s"""c$tag AS (SELECT $key AS k, count(*) AS cnt
         |  FROM $table GROUP BY 1),
         |t$tag AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_rows,
         |  count(*) AS n_keys FROM c$tag)""".stripMargin
    }.mkString(",\n")
    val body = mk.map { case (tag, table, key, kh) =>
      val t = table + "." + key
      s"""SELECT '$t' AS keyspace, CAST(sum(cnt) AS BIGINT) AS n_rows,
         |  count(*) AS n_keys, CAST(max(cnt) AS BIGINT) AS max_cnt,
         |  round(quantile_cont(cnt, 0.99), 6) AS p99_cnt,
         |  round(max(cnt) * count(*) / CAST(sum(cnt) AS DOUBLE), 4)
         |    AS skew,
         |  (SELECT count(*) FROM c$tag x, t$tag
         |   WHERE x.cnt * t$tag.n_keys > 2 * t$tag.n_rows) AS n_heavy,
         |  coalesce((SELECT bit_xor($kh) FROM c$tag x, t$tag
         |   WHERE x.cnt * t$tag.n_keys > 2 * t$tag.n_rows), 0)
         |    AS heavy_digest
         |FROM c$tag""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"WITH $ctes\n$body\nORDER BY keyspace"
  }

  // ---------------------------------------------------------------
  // q156 session path mining
  // ---------------------------------------------------------------

  /** q156: clickstream path mining — the most common session-opening
    * event sequences: sessions form on the q25 5-minute-gap rule
    * (lag-and-cumsum per user), each session renders its first THREE
    * event types as an "a->b->c" path (shorter sessions render what
    * they have), and the top 15 paths rank by frequency with a full
    * deterministic tiebreak. The what-do-users-actually-do summary
    * behind funnel design (q133 checks a HYPOTHESIZED order; this
    * DISCOVERS the orders worth hypothesizing).
    *
    * Scale shape: one user-keyed exchange for the session windows;
    * per-session assembly sorts each session's OWN events (bounded by
    * session length, the q118 contract); the path table is bounded by
    * |types|³ and ranks via TakeOrderedAndProject. */
  def sessionPaths(spark: SparkSession, dir: String): DataFrame = {
    prep(spark)
    val w = Window.partitionBy("user_id").orderBy(col("tsus"), col("event_id"))
    val wCum = Window.partitionBy("user_id")
      .orderBy(col("tsus"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("tsus"))
      .withColumn("brk", when(
        col("tsus") - lag(col("tsus"), 1).over(w) >= 300000000L, 1)
        .otherwise(0))
      .withColumn("sid", sum(col("brk")).over(wCum))
      .groupBy(col("user_id"), col("sid"))
      .agg(expr(
        """concat_ws('->', transform(
          |  slice(array_sort(collect_list(
          |    struct(tsus, event_id, event_type))), 1, 3),
          |  s -> s.event_type))""".stripMargin).as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path").asc)
      .limit(15)
  }

  val sessionPathsSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS tsus
      |  FROM events),
      |o AS (
      |  SELECT user_id, event_id, event_type, tsus,
      |    CASE WHEN tsus - lag(tsus) OVER (PARTITION BY user_id
      |           ORDER BY tsus, event_id) >= 300000000 THEN 1 ELSE 0 END
      |      AS brk
      |  FROM e),
      |s AS (
      |  SELECT user_id, event_id, event_type, tsus,
      |    sum(brk) OVER (PARTITION BY user_id ORDER BY tsus, event_id
      |      ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM o),
      |r AS (
      |  SELECT user_id, sid, event_type, tsus, event_id,
      |    row_number() OVER (PARTITION BY user_id, sid
      |      ORDER BY tsus, event_id) AS rn
      |  FROM s),
      |p AS (
      |  SELECT user_id, sid,
      |    string_agg(event_type, '->' ORDER BY tsus, event_id) AS path
      |  FROM r WHERE rn <= 3 GROUP BY 1, 2)
      |SELECT path, count(*) AS n_sessions
      |FROM p GROUP BY 1
      |ORDER BY n_sessions DESC, path ASC LIMIT 15""".stripMargin

  // ---------------------------------------------------------------
  // q157 DAU / WAU engagement
  // ---------------------------------------------------------------

  /** q157: daily and trailing-7-day active users with the stickiness
    * ratio (DAU/WAU) — the engagement dashboard's backbone. Rolling
    * DISTINCT counts don't decompose into window aggregates, so the
    * scale-correct shape is: reduce to the distinct (user, day)
    * grain ONCE (the corpus-sized step), then fan each activity day
    * into the ≤7 trailing report days it supports (a bounded explode
    * on the tiny grain) and count distinct users per report day.
    * Report days are calendar days with any activity; stickiness is
    * the one rounded division, computed from identical integers.
    *
    * Scale shape: one corpus scan → (user, day) distinct (one
    * shuffle); the ×7 fan-out happens on the REDUCED grain; the
    * per-day distinct is user-keyed and bounded by 7×users. No
    * range-window distinct, no per-day self-join of the event log. */
  def dauWau(spark: SparkSession, dir: String): DataFrame = {
    prep(spark)
    val ud = events(spark, dir)
      .select(col("user_id"),
        datediff(to_date(col("ts")), lit("1970-01-01")).as("dn"))
      .distinct()
    val dau = ud.groupBy(col("dn")).agg(countDistinct(col("user_id"))
      .as("dau"))
    val wau = ud
      .select(col("user_id"), explode(expr(
        "sequence(dn, dn + 6)")).as("rd"))
      .join(dau.select(col("dn").as("rd")), "rd") // report days only
      .groupBy(col("rd"))
      .agg(countDistinct(col("user_id")).as("wau"))
    dau.join(wau, col("dn") === col("rd"))
      .select(col("dn"), col("dau"), col("wau"),
        round(col("dau").cast("double") / col("wau"), 6)
          .as("stickiness"))
      .orderBy("dn")
  }

  val dauWauSql: String =
    """WITH ud AS (
      |  SELECT DISTINCT user_id,
      |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS dn
      |  FROM events),
      |dau AS (SELECT dn, count(DISTINCT user_id) AS dau
      |        FROM ud GROUP BY 1),
      |f AS (
      |  SELECT ud.user_id, ud.dn + i AS rd
      |  FROM ud, range(0, 7) t(i)),
      |wau AS (
      |  SELECT f.rd, count(DISTINCT f.user_id) AS wau
      |  FROM f JOIN dau ON f.rd = dau.dn
      |  GROUP BY 1)
      |SELECT dau.dn, dau.dau, wau.wau,
      |  round(CAST(dau.dau AS DOUBLE) / wau.wau, 6) AS stickiness
      |FROM dau JOIN wau ON dau.dn = wau.rd
      |ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------
  // q158 inter-event gap spectrum
  // ---------------------------------------------------------------

  /** q158: per-user inter-event gap spectrum — the burstiness
    * fingerprint: each consecutive-event gap (per user, exact epoch
    * µs) lands in a power-of-two SECONDS bucket (integer bit length —
    * the q139/q146 discipline, no float log), and the per-type
    * histogram separates human rhythm (multi-modal: bursts + daily
    * returns) from scripted traffic (a single tight mode). Feeds the
    * q25/q41 session-gap threshold choice with evidence instead of a
    * folklore 5-minute constant.
    *
    * Scale shape: one user-keyed exchange for the lag window; the
    * spectrum is a (type, ≤40 buckets) table. Sub-second gaps land in
    * bucket 0 via the greatest(…, 1) clamp. */
  def gapSpectrum(spark: SparkSession, dir: String): DataFrame = {
    prep(spark)
    events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("gap_s",
        expr("(us - lag(us, 1) over (partition by user_id " +
          "order by us, event_id)) div 1000000"))
      .filter(col("gap_s").isNotNull)
      .withColumn("gb",
        (length(bin(greatest(col("gap_s"), lit(1L)))) - 1).cast("long"))
      .groupBy(col("event_type"), col("gb"))
      .agg(count(lit(1)).as("n_gaps"), sum(col("gap_s")).as("sum_gap_s"))
      .orderBy("event_type", "gb")
  }

  val gapSpectrumSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
      |  FROM events),
      |g AS (
      |  SELECT event_type,
      |    (us - lag(us) OVER (PARTITION BY user_id
      |      ORDER BY us, event_id)) // 1000000 AS gap_s
      |  FROM e),
      |b AS (
      |  SELECT event_type,
      |    CAST(length(bin(greatest(gap_s, 1))) - 1 AS BIGINT) AS gb,
      |    gap_s
      |  FROM g WHERE gap_s IS NOT NULL)
      |SELECT event_type, gb, count(*) AS n_gaps,
      |  CAST(sum(gap_s) AS BIGINT) AS sum_gap_s
      |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------
  // q159 Pareto revenue concentration
  // ---------------------------------------------------------------

  /** q159: revenue-concentration (Pareto) profile — how few buyers
    * produce how much of the spend. Per-user purchase cents roll into
    * power-of-two spend buckets (integer bit length); buckets rank
    * richest-first with running user and revenue totals and the
    * cumulative revenue share, and the first bucket whose running
    * share reaches 80% is flagged — the "whales down to THIS spend
    * tier cover 80%" statement. Bucket resolution is the deliberate
    * scale trade: the exact 80th-percentile user needs a global
    * revenue sort; the ≤40-bucket profile needs only a user-grain
    * reduction and answers the same operational question.
    *
    * Share arithmetic: cum_cents·10⁶ div total (integer) is compared
    * to 800000 — no float division feeds the flag; the rounded share
    * column is display-only. */
  def paretoRevenue(spark: SparkSession, dir: String): DataFrame = {
    prep(spark)
    val users = events(spark, dir)
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(sum(expr("cast(round(value * 100) as bigint)")).as("cents"))
      .withColumn("vb",
        (length(bin(greatest(col("cents"), lit(1L)))) - 1).cast("long"))
    val buckets = users.groupBy(col("vb"))
      .agg(count(lit(1)).as("n_users"), sum(col("cents")).as("cents"))
    val tot = buckets.agg(sum(col("cents")).as("total"))
    val w = Window.orderBy(col("vb").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    buckets.crossJoin(broadcast(tot))
      .withColumn("cum_users", sum(col("n_users")).over(w))
      .withColumn("cum_cents", sum(col("cents")).over(w))
      .withColumn("share_ppm",
        expr("(cum_cents * 1000000) div total"))
      .withColumn("prev_ppm",
        expr("((cum_cents - cents) * 1000000) div total"))
      .withColumn("crosses_80",
        col("share_ppm") >= 800000 && col("prev_ppm") < 800000)
      .select(col("vb"), col("n_users"), col("cents"),
        col("cum_users"), col("cum_cents"),
        round(col("share_ppm").cast("double") / 1000000, 6)
          .as("cum_share"), col("crosses_80"))
      .orderBy(col("vb").desc)
  }

  val paretoRevenueSql: String =
    """WITH u AS (
      |  SELECT user_id,
      |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |b AS (
      |  SELECT CAST(length(bin(greatest(cents, 1))) - 1 AS BIGINT) AS vb,
      |    count(*) AS n_users, CAST(sum(cents) AS BIGINT) AS cents
      |  FROM u GROUP BY 1),
      |t AS (SELECT CAST(sum(cents) AS BIGINT) AS total FROM b),
      |c AS (
      |  SELECT vb, n_users, cents,
      |    CAST(sum(n_users) OVER w AS BIGINT) AS cum_users,
      |    CAST(sum(cents) OVER w AS BIGINT) AS cum_cents,
      |    t.total
      |  FROM b, t
      |  WINDOW w AS (ORDER BY vb DESC ROWS UNBOUNDED PRECEDING))
      |SELECT vb, n_users, cents, cum_users, cum_cents,
      |  round(CAST((cum_cents * 1000000) // total AS DOUBLE) / 1000000, 6)
      |    AS cum_share,
      |  (cum_cents * 1000000) // total >= 800000 AND
      |    ((cum_cents - cents) * 1000000) // total < 800000 AS crosses_80
      |FROM c ORDER BY vb DESC""".stripMargin

  // ---------------------------------------------------------------
  // q160 referential-integrity audit
  // ---------------------------------------------------------------

  /** q160: referential-integrity audit across the star schema — for
    * each declared FK relationship, how many child rows point at a
    * parent that does not exist (orphans), with an xor fingerprint of
    * the orphaned keys. Parquet lakes have no enforced constraints,
    * so RI is a MEASUREMENT here: the audit a pipeline runs after
    * every load, next to q130's profile and q155's FD check (q155
    * asks "is this column a key"; this asks "do these keys
    * resolve").
    *
    * Scale shape: each relationship is one LEFT ANTI join on the key
    * (child-side shuffle against the parent key set — for dimension
    * parents a broadcast; Catalyst picks it) followed by a 1-row
    * digest. No row-level output. */
  def riAudit(spark: SparkSession, dir: String): DataFrame = {
    prep(spark)
    def rel(name: String, child: DataFrame, parent: DataFrame)
        : DataFrame = {
      val total = child.agg(count(lit(1)).as("n_child_rows"))
      child.join(parent, Seq("k"), "left_anti")
        .agg(count(lit(1)).as("n_orphans"),
          coalesce(expr("bit_xor(" +
            Exprs.hash60("cast(k as string)") + ")"), lit(0L))
            .as("orphan_digest"))
        .crossJoin(broadcast(total))
        .select(lit(name).as("relationship"), col("n_child_rows"),
          col("n_orphans"), col("orphan_digest"))
    }
    Seq(
      rel("lineitem.l_orderkey -> orders",
        lineitem(spark, dir).select(col("l_orderkey").as("k")),
        orders(spark, dir).select(col("o_orderkey").as("k")).distinct()),
      rel("orders.o_custkey -> customer",
        orders(spark, dir).select(col("o_custkey").as("k")),
        customer(spark, dir).select(col("c_custkey").as("k")).distinct()),
      rel("customer.c_nationkey -> nation",
        customer(spark, dir)
          .select(col("c_nationkey").cast("long").as("k")),
        nation(spark, dir)
          .select(col("n_nationkey").cast("long").as("k")).distinct()),
      rel("events.user_id -> customer",
        events(spark, dir).select(col("user_id").as("k")),
        customer(spark, dir).select(col("c_custkey").as("k")).distinct()))
      .reduce(_.unionByName(_)).orderBy("relationship")
  }

  val riAuditSql: String = {
    def one(name: String, child: String, ck: String, parent: String,
        pk: String): String =
      s"""SELECT '$name' AS relationship,
         |  (SELECT count(*) FROM $child) AS n_child_rows,
         |  count(*) AS n_orphans,
         |  coalesce(bit_xor(('0x' || substr(md5(CAST(k AS VARCHAR)),
         |    1, 15))::BIGINT), 0) AS orphan_digest
         |FROM (SELECT CAST($ck AS BIGINT) AS k FROM $child) c
         |WHERE NOT EXISTS (SELECT 1 FROM $parent p
         |                  WHERE CAST(p.$pk AS BIGINT) = c.k)""".stripMargin
    Seq(
      one("lineitem.l_orderkey -> orders", "lineitem", "l_orderkey",
        "orders", "o_orderkey"),
      one("orders.o_custkey -> customer", "orders", "o_custkey",
        "customer", "c_custkey"),
      one("customer.c_nationkey -> nation", "customer", "c_nationkey",
        "nation", "n_nationkey"),
      one("events.user_id -> customer", "events", "user_id",
        "customer", "c_custkey"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY relationship")
  }

  // ---------------------------------------------------------------
  // q184 Z-order layout (multi-column file pruning)
  // ---------------------------------------------------------------

  private val ZBits = 8
  private val ZFiles = 64

  /** Bit-interleave expression builders shared by the Spark plan and
    * the DuckDB oracle — ONE loop emits both spellings, so the
    * z-values cannot drift between engines. */
  private def zSpark(a: String, b: String): String =
    (0 until ZBits).map { i =>
      s"(shiftleft(shiftright($a, $i) & 1, ${2 * i + 1}) + " +
        s"shiftleft(shiftright($b, $i) & 1, ${2 * i}))"
    }.mkString(" + ")

  private def zDuck(a: String, b: String): String =
    (0 until ZBits).map { i =>
      s"(((($a >> $i) & 1) << ${2 * i + 1}) + ((($b >> $i) & 1) << ${2 * i}))"
    }.mkString(" + ")

  /** q184: Z-order (Morton-curve) layout vs linear layout — the
    * multi-dimensional data-clustering decision every 100 TB lakehouse
    * table faces: sorting files by ONE key gives perfect min/max
    * pruning on that key and none on any other; interleaving the key
    * bits (the Z-curve) gives GOOD pruning on both. This operator
    * SIMULATES both layouts over lineitem — [[ZFiles]] equal-range
    * "files" by l_orderkey (linear) and by z(l_orderkey, l_partkey)
    * (z-order) — computes each file's min/max footer stats, and
    * replays two range queries (an orderkey range and a partkey
    * range) against those stats. The output is the measured file-skip
    * table: files hit and rows scanned per (layout, query) — the
    * number a table-layout decision should be made on, not a rule of
    * thumb.
    *
    * Scale shape: the z-value is a pure scan-stage integer
    * expression; bucket assignment is one multiply-divide off the
    * broadcast 1-row max table; the stats table is ≤ 2·[[ZFiles]]
    * rows. Nothing here shuffles more than the per-bucket
    * aggregation — exactly the cost of writing the layout for real. */
  /** The (ok, pk, linear_f, zorder_f) bucket assignment shared by
    * q184's simulation and q192's PHYSICAL write: range-normalize
    * both dimensions to [[ZBits]] bits, Morton-interleave, slice each
    * ordering into [[ZFiles]] equal-range buckets. */
  private[graft] def zorderBuckets(
      spark: SparkSession, dir: String): DataFrame = {
    val li = lineitem(spark, dir)
      .select(col("l_orderkey").cast("long").as("ok"),
        col("l_partkey").cast("long").as("pk"))
    // normalize BOTH dimensions to ZBits before interleaving — the
    // textbook z-order requirement this operator first demonstrated
    // by its absence: with raw values, pk's top bits are all zero
    // (max 2k < 2^11 vs ok's 14 bits), the z top bits depend on ok
    // alone, and the "z-order" degenerates to the linear layout
    val mx0 = li.agg(max(col("ok")).as("okm"), max(col("pk")).as("pkm"))
    val zd = li.crossJoin(broadcast(mx0))
      .select(col("ok"), col("pk"),
        expr(s"(ok * ${1 << ZBits}) div (okm + 1)").as("okn"),
        expr(s"(pk * ${1 << ZBits}) div (pkm + 1)").as("pkn"))
      .withColumn("z", expr(zSpark("okn", "pkn")))
    val mx = zd.agg(max(col("z")).as("zm"))
    zd.crossJoin(broadcast(mx))
      .select(col("ok"), col("pk"),
        expr(s"(okn * $ZFiles) div ${1 << ZBits}").as("linear_f"),
        expr(s"(z * $ZFiles) div (zm + 1)").as("zorder_f"))
  }

  def zorderLayout(spark: SparkSession, dir: String): DataFrame = {
    prep(spark)
    // lazily checkpointed: the bucket frame feeds both layouts' stats
    // plus the final rollup, and each reference re-derived the whole
    // build from the source — 9 lineitem scans in one plan, measured
    // (reviewer find, r10); with the checkpoint the build runs once.
    // The query bounds derive from the materialized frame, not a
    // fresh lineitem aggregate.
    val bucketed = zorderBuckets(spark, dir).localCheckpoint(false)
    val mx0 = bucketed.agg(max(col("ok")).as("okm"), max(col("pk")).as("pkm"))
    def stats(fcol: String, label: String) = bucketed
      .groupBy(col(fcol).as("f"))
      .agg(count(lit(1)).as("rows"),
        min(col("ok")).as("ok_min"), max(col("ok")).as("ok_max"),
        min(col("pk")).as("pk_min"), max(col("pk")).as("pk_max"))
      .select(lit(label).as("layout"), col("f"), col("rows"),
        col("ok_min"), col("ok_max"), col("pk_min"), col("pk_max"))
    val files = stats("linear_f", "linear").unionByName(
      stats("zorder_f", "zorder"))
    // replayed range queries, RELATIVE to each key's domain so the
    // simulation is meaningful at every scale factor: a ~10%-of-range
    // slice of each dimension
    files.crossJoin(broadcast(mx0))
      .withColumn("ok_lo", expr("okm div 3"))
      .withColumn("ok_hi", expr("okm div 3 + okm div 10"))
      .withColumn("pk_lo", expr("pkm div 4"))
      .withColumn("pk_hi", expr("pkm div 4 + pkm div 10"))
      .groupBy(col("layout"))
      .agg(count(lit(1)).as("n_files"),
        sum(when(col("ok_min") <= col("ok_hi") &&
          col("ok_max") >= col("ok_lo"), 1L)
          .otherwise(0L)).as("ok_query_files"),
        sum(when(col("ok_min") <= col("ok_hi") &&
          col("ok_max") >= col("ok_lo"), col("rows"))
          .otherwise(0L)).as("ok_query_rows"),
        sum(when(col("pk_min") <= col("pk_hi") &&
          col("pk_max") >= col("pk_lo"), 1L)
          .otherwise(0L)).as("pk_query_files"),
        sum(when(col("pk_min") <= col("pk_hi") &&
          col("pk_max") >= col("pk_lo"), col("rows"))
          .otherwise(0L)).as("pk_query_rows"))
      .orderBy("layout")
  }

  val zorderLayoutSql: String =
    s"""WITH li AS (
       |  SELECT CAST(l_orderkey AS BIGINT) AS ok,
       |         CAST(l_partkey AS BIGINT) AS pk
       |  FROM lineitem),
       |mx0 AS (SELECT max(ok) AS okm, max(pk) AS pkm FROM li),
       |zn AS (
       |  SELECT ok, pk,
       |    (ok * ${1 << ZBits}) // (okm + 1) AS okn,
       |    (pk * ${1 << ZBits}) // (pkm + 1) AS pkn
       |  FROM li, mx0),
       |z AS (SELECT ok, pk, okn, pkn, ${zDuck("okn", "pkn")} AS z FROM zn),
       |mx AS (SELECT max(z) AS zm FROM z),
       |b AS (
       |  SELECT ok, pk,
       |    (okn * $ZFiles) // ${1 << ZBits} AS linear_f,
       |    (z * $ZFiles) // (zm + 1) AS zorder_f
       |  FROM z, mx),
       |fs AS (
       |  SELECT 'linear' AS layout, linear_f AS f, count(*) AS rows,
       |    min(ok) AS ok_min, max(ok) AS ok_max,
       |    min(pk) AS pk_min, max(pk) AS pk_max
       |  FROM b GROUP BY 2
       |  UNION ALL
       |  SELECT 'zorder', zorder_f, count(*),
       |    min(ok), max(ok), min(pk), max(pk)
       |  FROM b GROUP BY 2),
       |q AS (SELECT okm // 3 AS ok_lo, okm // 3 + okm // 10 AS ok_hi,
       |             pkm // 4 AS pk_lo, pkm // 4 + pkm // 10 AS pk_hi
       |      FROM mx0)
       |SELECT layout, count(*) AS n_files,
       |  CAST(sum(CASE WHEN ok_min <= ok_hi AND ok_max >= ok_lo
       |    THEN 1 ELSE 0 END) AS BIGINT) AS ok_query_files,
       |  CAST(sum(CASE WHEN ok_min <= ok_hi AND ok_max >= ok_lo
       |    THEN rows ELSE 0 END) AS BIGINT) AS ok_query_rows,
       |  CAST(sum(CASE WHEN pk_min <= pk_hi AND pk_max >= pk_lo
       |    THEN 1 ELSE 0 END) AS BIGINT) AS pk_query_files,
       |  CAST(sum(CASE WHEN pk_min <= pk_hi AND pk_max >= pk_lo
       |    THEN rows ELSE 0 END) AS BIGINT) AS pk_query_rows
       |FROM fs, q GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------
  // q192 z-order layout WRITTEN + physically measured (q184 made real)
  // ---------------------------------------------------------------

  /** Both layouts physically written, once per (application, dir):
    * each bucket ordering is RANGE-repartitioned into [[ZFiles]]
    * output partitions so a parquet FILE holds one contiguous bucket
    * range and its footer min/max stats match the bucket's range —
    * the real artifact q184 only simulated (hash partitioning was
    * measured to mix ~1.5 arbitrary buckets per file and halve the
    * skip rate — see the inline note at the write). Returns
    * (linearPath, zorderPath). The spec and [[graft.ZorderProbe]]
    * read these back under single-dimension range predicates and
    * measure the scan's post-row-group-skip output rows — the
    * physical file/row-group pruning the layout decision buys.
    * [[graft.KeyedOnce]], not TrieMap: two racing threads must never
    * both run the delete+rewrite against the same deterministic path
    * (advisor find, round 11). */
  private val zorderWrites =
    new graft.KeyedOnce[(String, String), (String, String)]

  private[graft] def zorderWritten(
      spark: SparkSession, dir: String): (String, String) =
    zorderWrites(
      (spark.sparkContext.applicationId, dir)) {
        // session-scoped write-once artifact: registration keeps the
        // touch-own-scratch heartbeat protecting it from other
        // sessions' 6-hour orphan sweep (reviewer find, r10
        // continuation)
        val base = Reference.appScopedScratch(spark, "graft_zorder", dir)
        val buckets = zorderBuckets(spark, dir).persist()
        val lin = s"$base/linear"
        val zo = s"$base/zorder"
        // RANGE repartition, not hash: contiguous bucket ranges per
        // output file, so each file's footer min/max span ~one bucket
        // (hash partitioning mixed ~1.5 arbitrary buckets per file and
        // measurably halved the skip rate)
        LocalFs.write(buckets.repartitionByRange(ZFiles, col("linear_f"))
          .select(col("ok"), col("pk")))
          .mode("overwrite").parquet(lin)
        LocalFs.write(buckets.repartitionByRange(ZFiles, col("zorder_f"))
          .select(col("ok"), col("pk")))
          .mode("overwrite").parquet(zo)
        buckets.unpersist()
        (lin, zo)
      }

  /** q192: the q184 decision executed — both layouts written to
    * parquet, read back under the SAME two relative range predicates,
    * and aggregated. The oracle computes the identical aggregates
    * straight from lineitem (layout-independent), so a hash match
    * proves the physical roundtrip + filter correctness of BOTH
    * written layouts; the pruning each layout's footer stats buy is
    * the SPEC's scan-metric assertion (zorder strictly prunes the
    * pk-range scan the linear layout cannot) and BENCH_NOTES' probe
    * table ([[graft.ZorderProbe]]). */
  def zorderWriteRead(spark: SparkSession, dir: String): DataFrame = {
    prep(spark)
    val (lin, zo) = zorderWritten(spark, dir)
    layoutRoundtrip(spark, Seq(("linear", lin), ("zorder", zo)))
  }

  /** The q192 physical-roundtrip measurement over any labeled layout
    * set: both relative range probes against each written table,
    * aggregated — layout-independent VALUES (the oracle's half; the
    * pruning each layout buys is the specs' scan-metric half). Shared
    * by q192 and q211 so the two physical-layout operators cannot
    * drift in what they prove. */
  private def layoutRoundtrip(spark: SparkSession,
      layouts: Seq[(String, String)]): DataFrame =
    layouts.map { case (label, path) =>
      val t = spark.read.parquet(path)
      val mx = t.agg(max(col("ok")).as("okm"), max(col("pk")).as("pkm"))
      Seq("ok_range", "pk_range").map { q =>
        val bounded = t.crossJoin(broadcast(mx))
          .withColumn("lo", expr(
            if (q == "ok_range") "okm div 3" else "pkm div 4"))
          .withColumn("hi", expr(
            if (q == "ok_range") "okm div 3 + okm div 10"
            else "pkm div 4 + pkm div 10"))
          .filter((if (q == "ok_range") col("ok") else col("pk"))
            .between(col("lo"), col("hi")))
        bounded.agg(count(lit(1)).as("n_match"),
          sum(col("ok")).as("sum_ok"), sum(col("pk")).as("sum_pk"))
          .select(lit(label).as("layout"), lit(q).as("query"),
            col("n_match"), col("sum_ok"), col("sum_pk"))
      }.reduce(_ unionByName _)
    }.reduce(_ unionByName _).orderBy("layout", "query")

  val zorderWriteReadSql: String =
    """WITH li AS (
      |  SELECT CAST(l_orderkey AS BIGINT) AS ok,
      |         CAST(l_partkey AS BIGINT) AS pk
      |  FROM lineitem),
      |mx AS (SELECT max(ok) AS okm, max(pk) AS pkm FROM li),
      |q AS (
      |  SELECT 'ok_range' AS query, okm // 3 AS lo,
      |         okm // 3 + okm // 10 AS hi, 'ok' AS dim FROM mx
      |  UNION ALL
      |  SELECT 'pk_range', pkm // 4, pkm // 4 + pkm // 10, 'pk' FROM mx),
      |m AS (
      |  SELECT q.query, count(*) AS n_match,
      |    CAST(sum(ok) AS BIGINT) AS sum_ok,
      |    CAST(sum(pk) AS BIGINT) AS sum_pk
      |  FROM li JOIN q
      |    ON (CASE WHEN q.dim = 'ok' THEN li.ok ELSE li.pk END)
      |       BETWEEN q.lo AND q.hi
      |  GROUP BY 1)
      |SELECT l.layout, m.query, m.n_match, m.sum_ok, m.sum_pk
      |FROM m CROSS JOIN (VALUES ('linear'), ('zorder')) l(layout)
      |ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------
  // q203 z-order maintenance (layout append + recluster decision)
  // ---------------------------------------------------------------

  /** Appended files for one daily delta: 1/8 of the corpus at the
    * same rows-per-file as the [[ZFiles]] base layout. */
  private val ZDeltaFiles = ZFiles / 8

  /** q203: the LAYOUT artifact's append arm — the incremental-matrix
    * row q192 left open. A daily arrival does NOT rewrite the
    * z-ordered table: delta rows land as NEW files in arrival (ok)
    * order, so each appended file spans nearly the FULL pk range and
    * the 2-D clustering the base paid for degrades file by file —
    * the exact reason lakehouses schedule OPTIMIZE/re-cluster as a
    * maintenance cadence rather than per write. This operator is
    * that cadence's decision: per scope (base z-ordered files vs
    * delta appended files) it measures the standard pk-range probe's
    * file/row touch counts and the wasted-row share in integer ppm,
    * and fires `recluster` when the delta's waste exceeds the base's
    * by more than 30 points — the q193 refresh-or-keep pattern
    * applied to layout. The z-normalization uses BASE maxes only
    * (yesterday's write never saw the delta), the q193/q198
    * base-honesty convention.
    *
    * File grain is simulated at DATA level exactly like q184 (q192
    * proved the simulation corresponds to real parquet footer
    * pruning); the oracle recomputes every number from the same
    * integer arithmetic, so the DECISION — the thing a scheduler
    * consumes — is cross-engine pinned. Scale shape: two corpus
    * scans into a checkpointed (scope, pk, f) frame, then file-grain
    * (≤ [[ZFiles]]+[[ZDeltaFiles]] rows) aggregates. */
  def zorderMaintenance(spark: SparkSession, dir: String): DataFrame = {
    prep(spark)
    val li = lineitem(spark, dir)
      .select(col("l_orderkey").cast("long").as("ok"),
        col("l_partkey").cast("long").as("pk"))
    val mxAll = li.agg(max(col("ok")).as("okm"), max(col("pk")).as("pkm"))
    val w = li.crossJoin(broadcast(mxAll))
      .withColumn("thr", expr("okm * 7 div 8"))
    val base = w.filter(col("ok") <= col("thr"))
    // yesterday's layout: z-order normalized on the BASE alone
    val mxB = base.agg(max(col("ok")).as("okbm"), max(col("pk")).as("pkbm"))
    val bz = base.crossJoin(broadcast(mxB))
      .select(col("ok"), col("pk"), col("pkm"),
        expr(s"(ok * ${1 << ZBits}) div (okbm + 1)").as("okn"),
        expr(s"(pk * ${1 << ZBits}) div (pkbm + 1)").as("pkn"))
      .withColumn("z", expr(zSpark("okn", "pkn")))
    val mxZ = bz.agg(max(col("z")).as("zm"))
    val baseF = bz.crossJoin(broadcast(mxZ))
      .select(lit("base_zorder").as("scope"), col("pk"), col("pkm"),
        expr(s"(z * $ZFiles) div (zm + 1)").as("f"))
    // today's append: delta rows land in arrival (ok) order
    val deltaF = w.filter(col("ok") > col("thr"))
      .select(lit("delta_append").as("scope"), col("pk"), col("pkm"),
        expr(s"((ok - thr - 1) * $ZDeltaFiles) div (okm - thr)").as("f"))
    // checkpoint the per-row frame (the q184 lesson): both the file
    // stats and nothing else re-derive the two-scan build
    val rowsAll = baseF.unionByName(deltaF)
      .withColumn("lo", expr("pkm div 4"))
      .withColumn("hi", expr("pkm div 4 + pkm div 10"))
      .localCheckpoint(false)
    val fileStats = rowsAll.groupBy(col("scope"), col("f"))
      .agg(count(lit(1)).as("rows"),
        min(col("pk")).as("pk_min"), max(col("pk")).as("pk_max"),
        sum(when(col("pk").between(col("lo"), col("hi")), 1L)
          .otherwise(0L)).as("needed"),
        max(col("lo")).as("lo"), max(col("hi")).as("hi"))
    // checkpoint the 2-row decision frame (the q193 lesson): three
    // branches read it for the flag join
    val per = fileStats
      .withColumn("touched",
        (col("pk_min") <= col("hi") && col("pk_max") >= col("lo"))
          .cast("long"))
      .groupBy(col("scope"))
      .agg(count(lit(1)).as("n_files"),
        sum(col("touched")).as("files_touched"),
        sum(col("touched") * col("rows")).as("rows_touched"),
        sum(col("needed")).as("rows_needed"))
      .withColumn("waste_ppm", expr(
        "(rows_touched - rows_needed) * 1000000 div greatest(rows_touched, 1)"))
      .localCheckpoint(false)
    val bw = per.filter(col("scope") === "base_zorder")
      .select(col("waste_ppm").as("base_waste"))
    val dw = per.filter(col("scope") === "delta_append")
      .select(col("waste_ppm").as("delta_waste"))
    per.crossJoin(broadcast(bw)).crossJoin(broadcast(dw))
      .withColumn("recluster",
        (col("delta_waste") - col("base_waste") > 300000L).cast("long"))
      .select(col("scope"), col("n_files"), col("files_touched"),
        col("rows_touched"), col("rows_needed"), col("waste_ppm"),
        col("recluster"))
      .orderBy("scope")
  }

  val zorderMaintenanceSql: String =
    s"""WITH li AS (
       |  SELECT CAST(l_orderkey AS BIGINT) AS ok,
       |         CAST(l_partkey AS BIGINT) AS pk
       |  FROM lineitem),
       |mxa AS (SELECT max(ok) AS okm, max(pk) AS pkm FROM li),
       |w AS (SELECT ok, pk, okm, pkm, okm * 7 // 8 AS thr FROM li, mxa),
       |base AS (SELECT * FROM w WHERE ok <= thr),
       |mxb AS (SELECT max(ok) AS okbm, max(pk) AS pkbm FROM base),
       |bz AS (
       |  SELECT ok, pk, pkm,
       |    (ok * ${1 << ZBits}) // (okbm + 1) AS okn,
       |    (pk * ${1 << ZBits}) // (pkbm + 1) AS pkn
       |  FROM base, mxb),
       |bz2 AS (SELECT ok, pk, pkm, ${zDuck("okn", "pkn")} AS z FROM bz),
       |mxz AS (SELECT max(z) AS zm FROM bz2),
       |rowsall AS (
       |  SELECT 'base_zorder' AS scope, pk, pkm,
       |    (z * $ZFiles) // (zm + 1) AS f
       |  FROM bz2, mxz
       |  UNION ALL
       |  SELECT 'delta_append', pk, pkm,
       |    ((ok - thr - 1) * $ZDeltaFiles) // (okm - thr)
       |  FROM w WHERE ok > thr),
       |r2 AS (SELECT scope, pk, f, pkm // 4 AS lo,
       |         pkm // 4 + pkm // 10 AS hi FROM rowsall),
       |fs AS (
       |  SELECT scope, f, count(*) AS rows,
       |    min(pk) AS pk_min, max(pk) AS pk_max,
       |    sum(CASE WHEN pk BETWEEN lo AND hi THEN 1 ELSE 0 END) AS needed,
       |    max(lo) AS lo, max(hi) AS hi
       |  FROM r2 GROUP BY 1, 2),
       |per AS (
       |  SELECT scope, count(*) AS n_files,
       |    CAST(sum(CASE WHEN pk_min <= hi AND pk_max >= lo
       |      THEN 1 ELSE 0 END) AS BIGINT) AS files_touched,
       |    CAST(sum(CASE WHEN pk_min <= hi AND pk_max >= lo
       |      THEN rows ELSE 0 END) AS BIGINT) AS rows_touched,
       |    CAST(sum(needed) AS BIGINT) AS rows_needed
       |  FROM fs GROUP BY 1),
       |p2 AS (
       |  SELECT *, (rows_touched - rows_needed) * 1000000
       |    // greatest(rows_touched, 1) AS waste_ppm
       |  FROM per),
       |bwv AS (SELECT waste_ppm AS base_waste FROM p2
       |        WHERE scope = 'base_zorder'),
       |dwv AS (SELECT waste_ppm AS delta_waste FROM p2
       |        WHERE scope = 'delta_append')
       |SELECT scope, n_files, files_touched, rows_touched, rows_needed,
       |  waste_ppm,
       |  CAST(CASE WHEN delta_waste - base_waste > 300000
       |    THEN 1 ELSE 0 END AS BIGINT) AS recluster
       |FROM p2, bwv, dwv ORDER BY scope""".stripMargin

  // ---------------------------------------------------------------
  // q211 layout OPTIMIZE executed (the rewrite q203's decision gates)
  // ---------------------------------------------------------------

  /** Appended and optimized layouts physically written once per
    * (application, dir): `appended` is the degraded state q203
    * decides on (base rows range-partitioned by their z bucket into
    * [[ZFiles]] files, plus the delta appended as [[ZDeltaFiles]]
    * arrival-ordered files — each spanning nearly the full pk
    * domain); `optimized` is the OPTIMIZE executed — every row
    * rewritten by z into the same total file budget. KeyedOnce for
    * the same racing-writer reason as [[zorderWritten]]. */
  private val zoptWrites =
    new graft.KeyedOnce[(String, String), (String, String)]

  private[graft] def zoptWritten(
      spark: SparkSession, dir: String): (String, String) =
    zoptWrites((spark.sparkContext.applicationId, dir)) {
      val base = Reference.appScopedScratch(spark, "graft_zopt", dir)
      val b = zorderBuckets(spark, dir).localCheckpoint(false)
      val thr = b.agg(max(col("ok"))).head.getLong(0) * 7 / 8 // 1-row
      val appended = s"$base/appended"
      val optimized = s"$base/optimized"
      LocalFs.write(b.filter(col("ok") <= thr)
        .repartitionByRange(ZFiles, col("zorder_f"))
        .select(col("ok"), col("pk"))).parquet(appended)
      LocalFs.write(b.filter(col("ok") > thr)
        .repartitionByRange(ZDeltaFiles, col("ok"))
        .select(col("ok"), col("pk"))).mode("append").parquet(appended)
      LocalFs.write(b.repartitionByRange(ZFiles + ZDeltaFiles, col("zorder_f"))
        .select(col("ok"), col("pk"))).parquet(optimized)
      (appended, optimized)
    }

  /** q211: the OPTIMIZE q203's `recluster` flag gates, EXECUTED — the
    * action half the decision operator deliberately left to the
    * maintenance cadence. The appended table (yesterday's z-order +
    * today's arrival-ordered delta files, the physically-proven
    * degraded state) is rewritten in full by z into the same file
    * budget; both physical tables then answer the two relative range
    * probes. The oracle proves the rewrite LOST NOTHING — identical
    * layout-independent aggregates from lineitem for both labels —
    * and the spec proves it BOUGHT what it gates: the optimized pk
    * scan's post-row-group-skip rows drop back to a strict fraction
    * of the appended scan's ([[graft.ZorderProbe]] mechanics, the
    * q192 discipline). At 100 TB this pair is the whole OPTIMIZE
    * contract: values invariant, IO restored, cost = one full
    * rewrite — which is exactly why q203's decision, not a timer,
    * should gate it. */
  def layoutOptimize(spark: SparkSession, dir: String): DataFrame = {
    prep(spark)
    val (app, opt) = zoptWritten(spark, dir)
    layoutRoundtrip(spark, Seq(("appended", app), ("optimized", opt)))
  }

  val layoutOptimizeSql: String =
    """WITH li AS (
      |  SELECT CAST(l_orderkey AS BIGINT) AS ok,
      |         CAST(l_partkey AS BIGINT) AS pk
      |  FROM lineitem),
      |mx AS (SELECT max(ok) AS okm, max(pk) AS pkm FROM li),
      |q AS (
      |  SELECT 'ok_range' AS query, okm // 3 AS lo,
      |         okm // 3 + okm // 10 AS hi, 'ok' AS dim FROM mx
      |  UNION ALL
      |  SELECT 'pk_range', pkm // 4, pkm // 4 + pkm // 10, 'pk' FROM mx),
      |m AS (
      |  SELECT q.query, count(*) AS n_match,
      |    CAST(sum(ok) AS BIGINT) AS sum_ok,
      |    CAST(sum(pk) AS BIGINT) AS sum_pk
      |  FROM li JOIN q
      |    ON (CASE WHEN q.dim = 'ok' THEN li.ok ELSE li.pk END)
      |       BETWEEN q.lo AND q.hi
      |  GROUP BY 1)
      |SELECT l.layout, m.query, m.n_match, m.sum_ok, m.sum_pk
      |FROM m CROSS JOIN (VALUES ('appended'), ('optimized')) l(layout)
      |ORDER BY 1, 2""".stripMargin

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_pricing_summary" -> pricingSummary,
    "q02_events_daily" -> eventsDaily,
    "q03_distinct_customers" -> distinctCustomers,
    "q04_rollup_returns" -> rollupReturns,
    "q05_cube_orders" -> cubeOrders,
    "q06_join_dims" -> joinDims,
    "q07_join_facts" -> joinFacts,
    "q08_semi_join" -> semiJoin,
    "q09_anti_join" -> antiJoin,
    "q10_left_join" -> leftJoin,
    "q11_window_topn" -> windowTopN,
    "q12_window_lag" -> windowLag,
    "q13_window_running" -> windowRunning,
    "q14_topk" -> topK,
    "q15_union_ids" -> unionIds,
    "q16_except_ids" -> exceptIds,
    "q17_intersect_ids" -> intersectIds,
    "q18_json_extract" -> jsonExtract,
    "q19_tumbling_window" -> tumblingWindow,
    "q20_filter_pushdown" -> filterPushdown,
    "q21_sql_exists" -> sqlExists,
    "q22_approx_distinct" -> approxDistinct,
    "q184_zorder_layout" -> zorderLayout,
    "q190_decimal_pricing" -> decimalPricing,
    "q192_zorder_write_read" -> zorderWriteRead,
    "q203_zorder_maintenance" -> zorderMaintenance,
    "q211_layout_optimize" -> layoutOptimize,
    "q212_bucketed_catalog_read" -> bucketedCatalogRead,
    "q23_bucketed_join" -> bucketedJoin,
    "q24_salted_join" -> saltedJoin,
    "q163_auto_skew_join" -> autoSkewJoin,
    "q25_session_window" -> sessionWindow,
    "q28_percentiles" -> percentiles,
    "q29_pivot_status" -> pivotStatus,
    "q66_sliding_window" -> slidingWindow,
    "q68_grouping_sets" -> groupingSets,
    "q69_approx_percentile" -> approxPercentile,
    "q93_bloom_prune_join" -> bloomPruneJoin,
    "q95_cohort_retention" -> cohortRetention,
    "q131_scd2_load" -> scd2Load,
    "q133_funnel" -> funnel,
    "q135_rolling_anomaly" -> rollingAnomaly,
    "q136_record_linkage" -> recordLinkage,
    "q140_attribution" -> attribution,
    "q141_activity_streaks" -> activityStreaks,
    "q142_transition_matrix" -> transitionMatrix,
    "q144_volume_trend" -> volumeTrend,
    "q148_rfm_segments" -> rfmSegments,
    "q151_skew_profile" -> skewProfile,
    "q156_session_paths" -> sessionPaths,
    "q157_dau_wau" -> dauWau,
    "q158_gap_spectrum" -> gapSpectrum,
    "q159_pareto_revenue" -> paretoRevenue,
    "q160_ri_audit" -> riAudit
  )

  val oracle: Map[String, String] = Map(
    "q01_pricing_summary" -> pricingSummarySql,
    "q02_events_daily" -> eventsDailySql,
    "q03_distinct_customers" -> distinctCustomersSql,
    "q04_rollup_returns" -> rollupReturnsSql,
    "q05_cube_orders" -> cubeOrdersSql,
    "q06_join_dims" -> joinDimsSql,
    "q07_join_facts" -> joinFactsSql,
    "q08_semi_join" -> semiJoinSql,
    "q09_anti_join" -> antiJoinSql,
    "q10_left_join" -> leftJoinSql,
    "q11_window_topn" -> windowTopNSql,
    "q12_window_lag" -> windowLagSql,
    "q13_window_running" -> windowRunningSql,
    "q14_topk" -> topKSql,
    "q15_union_ids" -> unionIdsSql,
    "q16_except_ids" -> exceptIdsSql,
    "q17_intersect_ids" -> intersectIdsSql,
    "q18_json_extract" -> jsonExtractSql,
    "q19_tumbling_window" -> tumblingWindowSql,
    "q20_filter_pushdown" -> filterPushdownSql,
    "q21_sql_exists" -> sqlExistsSql,
    "q22_approx_distinct" -> approxDistinctSql,
    "q184_zorder_layout" -> zorderLayoutSql,
    "q190_decimal_pricing" -> decimalPricingSql,
    "q192_zorder_write_read" -> zorderWriteReadSql,
    "q203_zorder_maintenance" -> zorderMaintenanceSql,
    "q211_layout_optimize" -> layoutOptimizeSql,
    "q212_bucketed_catalog_read" -> joinFactsSql, // same answer via catalog
    "q23_bucketed_join" -> joinFactsSql, // same answer via bucketed layout
    "q24_salted_join" -> saltedJoinSql,
    "q163_auto_skew_join" -> autoSkewJoinSql,
    "q25_session_window" -> sessionWindowSql,
    "q28_percentiles" -> percentilesSql,
    "q29_pivot_status" -> pivotStatusSql,
    "q66_sliding_window" -> slidingWindowSql,
    "q68_grouping_sets" -> groupingSetsSql,
    "q69_approx_percentile" -> approxPercentileSql,
    "q93_bloom_prune_join" -> bloomPruneJoinSql,
    "q95_cohort_retention" -> cohortRetentionSql,
    "q131_scd2_load" -> scd2LoadSql,
    "q133_funnel" -> funnelSql,
    "q135_rolling_anomaly" -> rollingAnomalySql,
    "q136_record_linkage" -> recordLinkageSql,
    "q140_attribution" -> attributionSql,
    "q141_activity_streaks" -> activityStreaksSql,
    "q142_transition_matrix" -> transitionMatrixSql,
    "q144_volume_trend" -> volumeTrendSql,
    "q148_rfm_segments" -> rfmSegmentsSql,
    "q151_skew_profile" -> skewProfileSql,
    "q156_session_paths" -> sessionPathsSql,
    "q157_dau_wau" -> dauWauSql,
    "q158_gap_spectrum" -> gapSpectrumSql,
    "q159_pareto_revenue" -> paretoRevenueSql,
    "q160_ri_audit" -> riAuditSql
  )
}
