package graft.io

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** S5/S6/S7 JDBC load path against embedded Derby. */
class JdbcSinkSpec extends SparkSpec {

  private lazy val url =
    "jdbc:derby:" + tempDir("jdbc_spec").toString +
      "/db;create=true"
  private val allowed = Set("t_spec")

  test("ensureTable creates once, is a no-op the second time (S6)") {
    JdbcSink.ensureTable(url, "t_spec", "id INT, fecha DATE, v DOUBLE")
    JdbcSink.ensureTable(url, "t_spec", "id INT, fecha DATE, v DOUBLE") // no throw
  }

  test("loadIdempotent: batched insert, re-run of a date replaces it (S5+S7)") {
    import spark.implicits._
    JdbcSink.ensureTable(url, "t_spec", "id INT, fecha DATE, v DOUBLE")
    val df = Seq(
      (1, java.sql.Date.valueOf("2024-01-01"), 1.5),
      (2, java.sql.Date.valueOf("2024-01-01"), 2.5),
      (3, java.sql.Date.valueOf("2024-01-02"), 3.5)).toDF("id", "fecha", "v")
    val n1 = JdbcSink.loadIdempotent(
      df.filter(col("fecha") === "2024-01-01"), url, "t_spec", "2024-01-01",
      allowed, batchSize = 1)
    assert(n1 === 2)
    JdbcSink.loadIdempotent(
      df.filter(col("fecha") === "2024-01-02"), url, "t_spec", "2024-01-02",
      allowed)
    // daily re-run: same date again -> still 3 rows total
    JdbcSink.loadIdempotent(
      df.filter(col("fecha") === "2024-01-01"), url, "t_spec", "2024-01-01",
      allowed)
    val back = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "t_spec").load()
    assert(back.count() === 3)
    assert(back.filter(col("fecha") === "2024-01-01").count() === 2)
  }

  test("null column values insert as typed NULLs (Derby rejects untyped)") {
    import spark.implicits._
    JdbcSink.ensureTable(url, "t_spec_nulls",
      "id INT, fecha DATE, v DOUBLE, s VARCHAR(50)")
    val df = Seq(
      (1, java.sql.Date.valueOf("2024-02-01"), Some(1.5), Some("a")),
      (2, java.sql.Date.valueOf("2024-02-01"), None, None))
      .toDF("id", "fecha", "v", "s")
    val n = JdbcSink.loadIdempotent(df, url, "t_spec_nulls", "2024-02-01",
      Set("t_spec_nulls"), batchSize = 1)
    assert(n === 2)
    val back = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "t_spec_nulls").load()
    assert(back.count() === 2)
    assert(back.filter(col("v").isNull && col("s").isNull).count() === 1)
  }

  test("whitelist guard rejects unknown tables (S8)") {
    import spark.implicits._
    val df = Seq((1, java.sql.Date.valueOf("2024-01-01"), 0.0))
      .toDF("id", "fecha", "v")
    intercept[IllegalArgumentException] {
      JdbcSink.loadIdempotent(df, url, "evil", "2024-01-01", allowed)
    }
  }

  test("JDBC source read pushes the predicate into the database " +
      "(q170's BI read shape)") {
    import spark.implicits._
    JdbcSink.ensureTable(url, "t_push", "id INT, fecha DATE, v DOUBLE")
    val df = Seq((1, "2024-01-01", 1.5), (2, "2024-01-02", 2.5),
      (3, "2024-02-01", 3.5))
      .toDF("id", "fecha", "v")
      .withColumn("fecha", col("fecha").cast("date"))
    for (f <- Seq("2024-01-01", "2024-01-02", "2024-02-01"))
      JdbcSink.loadIdempotent(
        df.filter(col("fecha") === f), url, "t_push", f, Set("t_push"))
    val read = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "t_push").load()
      .filter(col("fecha") >= lit(java.sql.Date.valueOf("2024-01-02")))
    // the filter must reach the JDBC scan as a pushed predicate —
    // an empty PushedFilters means Spark would drag the whole table
    // over JDBC and filter locally
    val scanDesc = read.queryExecution.executedPlan
      .collectLeaves().map(_.toString).mkString("\n")
    assert(scanDesc.contains("PushedFilters") &&
      scanDesc.toLowerCase.contains("fecha"),
      s"date predicate not pushed to the JDBC source:\n$scanDesc")
    assert(read.collect().map(_.getInt(0)).sorted.toSeq === Seq(2, 3))
  }

  test("two same-fecha JDBC loads racing serialize: the table ends as " +
      "exactly one load's rows, never a staging interleave (round-10 " +
      "verdict ask #2 — the double-fired scheduler main.py:535-542 " +
      "invites)") {
    import spark.implicits._
    JdbcSink.ensureTable(url, "t_race", "id INT, fecha DATE, src VARCHAR(8)")
    def payload(tag: String, n: Int) =
      (1 to n).map(i => (i, java.sql.Date.valueOf("2024-03-01"), tag))
        .toDF("id", "fecha", "src")
    val a = payload("A", 3)
    val b = payload("B", 5)
    for (round <- 1 to 2) {
      val start = new java.util.concurrent.CountDownLatch(1)
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      def loader(df: org.apache.spark.sql.DataFrame) = new Thread(() => {
        start.await()
        try JdbcSink.loadIdempotent(df, url, "t_race", "2024-03-01",
          Set("t_race"), batchSize = 2)
        catch { case t: Throwable => errs.add(t) }
      })
      val (t1, t2) = (loader(a), loader(b))
      t1.start(); t2.start(); start.countDown()
      t1.join(120000); t2.join(120000)
      assert(errs.isEmpty, s"round $round: ${errs.peek()}")
      val got = spark.read.format("jdbc")
        .option("url", url).option("dbtable", "t_race").load()
        .select(col("src")).collect().map(_.getString(0)).toSeq
      val tags = got.distinct
      assert(tags.size === 1, s"round $round: interleaved loads: $got")
      assert(got.size === (if (tags.head == "A") 3 else 5),
        s"round $round: winner ${tags.head} row count ${got.size}")
    }
  }
}
