package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal join operators Spark lacks as built-ins — as-of join and
  * range join — composed from built-ins the Spark-first way (SURVEY
  * custom-op preference (a): compose existing ops), never as theta
  * joins:
  *
  *   - AS-OF: tag both inputs, UNION, and propagate the most recent
  *     right-side row per key with an ignoreNulls last() over a
  *     (key, time) window — ONE shuffle+sort, linear in input, the
  *     classic distributed as-of. (A theta join on t_left >= t_right
  *     would be per-key quadratic.)
  *   - RANGE: decompose each interval into the fixed-width time
  *     buckets it covers (explode), equi-join events on
  *     (key, bucket), then apply the exact range predicate — shuffle
  *     on (key, bucket), candidate pairs bounded by bucket
  *     co-residency. Each (event, interval) pair arises exactly once
  *     because an event lives in exactly one bucket.
  *
  * Both oracles are structurally DIFFERENT implementations: DuckDB's
  * native ASOF JOIN, and a plain range-predicate join — so the
  * compositions are checked against independent semantics, not
  * mirrors of themselves. Order timestamps are synthesized into the
  * events' January-2024 window (hour grain, deterministic) so the
  * as-of answer varies per event.
  */
object Temporal {
  import Tables._

  /** Orders with synthetic event-era timestamps, deduped to one row
    * per (customer, time) so as-of ties are impossible. */
  private def ordersAt(spark: SparkSession, dir: String): DataFrame =
    orders(spark, dir)
      .withColumn("t", expr(
        "timestamp'2024-01-01 00:00:00' + make_dt_interval(0, cast(o_orderkey % 720 as int), 0, 0)"))
      .groupBy(col("o_custkey").as("k"), col("t"))
      .agg(max(col("o_orderkey")).as("ok"))

  private val duckOrdersAt: String =
    """SELECT o_custkey AS k,
      |  TIMESTAMP '2024-01-01' + INTERVAL (o_orderkey % 720) HOUR AS t,
      |  max(o_orderkey) AS ok
      |FROM orders GROUP BY 1, 2""".stripMargin

  /** AS-OF join: each event matched to the customer's most recent
    * order at-or-before the event time (left outer: unmatched events
    * keep null). Digested per event type. */
  def asofJoin(spark: SparkSession, dir: String): DataFrame = {
    val o = ordersAt(spark, dir)
      .select(col("k"), col("t"), col("ok"),
        lit(null).cast("string").as("event_type"), lit(0).as("pri"))
    val e = events(spark, dir)
      .select(col("user_id").as("k"), col("ts").as("t"),
        lit(null).cast("long").as("ok"), col("event_type"), lit(1).as("pri"))
    // pri orders same-instant rows: the order row precedes the event
    // row, so an exactly-simultaneous order IS visible (>= semantics).
    val w = Window.partitionBy(col("k"))
      .orderBy(col("t").asc, col("pri").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    o.unionByName(e)
      .withColumn("asof_ok", last(col("ok"), ignoreNulls = true).over(w))
      .filter(col("pri") === 1)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        count(col("asof_ok")).as("n_matched"),
        sum(col("asof_ok")).as("sum_ok"))
      .orderBy("event_type")
  }

  val asofJoinSql: String =
    s"""WITH o AS ($duckOrdersAt),
       |e AS (SELECT user_id AS k, CAST(ts AS TIMESTAMP) AS t, event_type
       |      FROM events)
       |SELECT event_type, count(*) AS n, count(ok) AS n_matched,
       |  CAST(sum(ok) AS BIGINT) AS sum_ok
       |FROM e ASOF LEFT JOIN o ON e.k = o.k AND e.t >= o.t
       |GROUP BY 1 ORDER BY 1""".stripMargin

  private val BucketUs = 12L * 3600 * 1000 * 1000 // 12 h

  /** RANGE join: events falling inside each order's 12-hour activity
    * interval [t, t+12h), same customer. Spark side decomposes
    * intervals into covered buckets and equi-joins; the oracle is the
    * plain range predicate. Digested per event type. */
  def rangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val iv = ordersAt(spark, dir)
      .withColumn("start_us", unix_micros(col("t")))
      .withColumn("end_us", col("start_us") + BucketUs)
      .withColumn("bucket", explode(expr(
        s"sequence(start_us div ${BucketUs}L, (end_us - 1) div ${BucketUs}L)")))
      .select(col("k"), col("ok"), col("start_us"), col("end_us"), col("bucket"))
    val e = events(spark, dir)
      .withColumn("ts_us", unix_micros(col("ts")))
      .withColumn("bucket", expr(s"ts_us div ${BucketUs}L"))
      .select(col("user_id").as("k"), col("event_id"), col("event_type"),
        col("ts_us"), col("bucket"))
    e.join(iv, Seq("k", "bucket"))
      .filter(col("ts_us") >= col("start_us") && col("ts_us") < col("end_us"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("event_id")).as("n_events"),
        sum(col("ok")).as("sum_ok"))
      .orderBy("event_type")
  }

  val rangeJoinSql: String =
    s"""WITH o AS ($duckOrdersAt),
       |e AS (SELECT user_id AS k, event_id, event_type,
       |        CAST(ts AS TIMESTAMP) AS t
       |      FROM events)
       |SELECT event_type, count(*) AS n_pairs,
       |  count(DISTINCT event_id) AS n_events,
       |  CAST(sum(ok) AS BIGINT) AS sum_ok
       |FROM e JOIN o ON e.k = o.k
       | AND e.t >= o.t AND e.t < o.t + INTERVAL 12 HOUR
       |GROUP BY 1 ORDER BY 1""".stripMargin

  val all: Map[String, Query] = Map(
    "q26_asof_join" -> Query(asofJoin, asofJoinSql),
    "q27_range_join" -> Query(rangeJoin, rangeJoinSql)
  )
}
