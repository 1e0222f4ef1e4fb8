package graft.functions

import graft.SparkSpec
import graft.norm.Coerce
import org.apache.spark.sql.functions._

/** The native expression must agree with the Column-combinator form
  * on every input class, and must run inside whole-stage codegen. */
class TimeToMinutesSpec extends SparkSpec {

  private val inputs = Seq(
    "-", "", "  ", "nan", "None", "NONE", "NaN",
    "1:30", "01:30:30", "0:05", "2:-30", "1.5:30", "1:xx", "1:2:3:4",
    ":30", "1:", "90", "  7.5  ", "-3", "0", "garbage", "0:90", "1:30:90",
    "12abc", "+5", "1e2",
    // Java-only numeric forms (rejected → 0.0 in both implementations)
    // and Python/DuckDB-common forms (accepted: ±infinity literals,
    // PEP-515 underscore groups) — parity either way.
    "1d", "1f", "1D", "0x1p3", "inf", "Infinity", "-inf", "1_000",
    "iNfInItY", "+inf", "1_0.0_1e1_0", "_1", "1_", "1__0", "1e_1",
    // byte-level fast paths and their edges
    "00:00", "23:59:59", " 2:15 ", "\t1:30\n", "+1:30", "-1:30", "-0:-0",
    "1: 30", "123456789012345:00", "1234567890123456:00",
    "123456789012345", "1234567890123456", "0.30000000000000004", "-0", ".",
    // non-ASCII digits and pieces past the Int range
    "١:٣٠", "99999999999:00")

  test("native expression == Coerce combinator on all input classes") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val df = inputs.toDF("s")
    df.createOrReplaceTempView("t2m_inputs")
    val native = spark.sql("SELECT time_to_minutes(s) AS m FROM t2m_inputs")
      .collect().map(_.getDouble(0)).toSeq
    val combinator = df.select(Coerce.timeToMinutes(col("s")).as("m"))
      .collect().map(_.getDouble(0)).toSeq
    assert(native === combinator)
  }

  test("non-ASCII digits and pieces past the Int range agree with the " +
      "combinator") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val cases = Seq("١:٣٠" -> 0.0, "99999999999:00" -> 5.99999999994e12,
      "1:99999999999:0" -> (60 + 9.9999999999e10))
    val df = cases.map(_._1).toDF("s")
    val native = df.select(expr("time_to_minutes(s)")).collect().map(_.getDouble(0)).toSeq
    val combinator = df.select(Coerce.timeToMinutes(col("s")))
      .collect().map(_.getDouble(0)).toSeq
    assert(native === cases.map(_._2))
    assert(combinator === cases.map(_._2))
  }

  test("random strings: native == combinator, bit for bit") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val r = new scala.util.Random(11)
    val alphabet = "0123456789::.+- "
    val in = Seq.fill(4000)(
      Seq.fill(r.nextInt(14))(alphabet(r.nextInt(alphabet.length))).mkString)
    val df = in.toDF("s")
    def bits(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(row => java.lang.Double.doubleToLongBits(row.getDouble(0))).toSeq
    val native = bits(df.select(expr("time_to_minutes(s)")))
    val combinator = bits(df.select(Coerce.timeToMinutes(col("s"))))
    val diff = in.indices.filter(i => native(i) != combinator(i)).map(in)
    assert(diff.isEmpty, diff.take(10))
  }

  test("null input -> 0.0, never null output") {
    import spark.implicits._
    GraftFunctions.register(spark)
    Seq[Option[String]](None, Some("1:30")).toDF("s")
      .createOrReplaceTempView("t2m_nulls")
    val out = spark.sql("SELECT time_to_minutes(s) AS m FROM t2m_nulls")
    assert(!out.schema("m").nullable)
    assert(out.collect().map(_.getDouble(0)).sorted.toSeq === Seq(0.0, 90.0))
  }

  test("runs inside whole-stage codegen (no interpreted fallback)") {
    import spark.implicits._
    GraftFunctions.register(spark)
    inputs.toDF("s").createOrReplaceTempView("t2m_cg")
    val df = spark.sql(
      "SELECT sum(time_to_minutes(s)) AS total FROM t2m_cg")
    df.collect() // force execution (AQE finalizes; generated code runs)
    // The `*(n)` star before an operator marks a WholeStageCodegen span;
    // the aggregate evaluating time_to_minutes must carry it.
    val plan = df.queryExecution.executedPlan.toString
    assert("""\*\(\d+\) HashAggregate.*time_to_minutes""".r
      .findFirstIn(plan).isDefined, plan)
  }

  test("Java-only forms rejected; Python/DuckDB-common forms accepted") {
    import spark.implicits._
    GraftFunctions.register(spark)
    // expected = Python float() semantics (== DuckDB try_cast,
    // verified against both): Java-only forms are garbage → 0.0;
    // infinity literals and underscore groups parse.
    val cases = Seq(
      "1d" -> 0.0, "1f" -> 0.0, "0x1p3" -> 0.0,
      "inf" -> Double.PositiveInfinity,
      "Infinity" -> Double.PositiveInfinity,
      "iNfInItY" -> Double.PositiveInfinity,
      "+inf" -> Double.PositiveInfinity,
      "-inf" -> Double.NegativeInfinity,
      "1_000" -> 1000.0, "1_0.0_1e1_0" -> 1.001e11,
      "_1" -> 0.0, "1_" -> 0.0, "1__0" -> 0.0, "1e_1" -> 0.0)
    val df = cases.map(_._1).toDF("s")
    df.createOrReplaceTempView("t2m_java")
    val native = spark.sql("SELECT time_to_minutes(s) AS m FROM t2m_java")
      .collect().map(_.getDouble(0)).toSeq
    val combinator = df.select(Coerce.timeToMinutes(col("s")).as("m"))
      .collect().map(_.getDouble(0)).toSeq
    assert(native === cases.map(_._2))
    assert(combinator === cases.map(_._2))
  }

  test("known values through the SQL surface") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT time_to_minutes('01:30:30') a, time_to_minutes('1:30') b,
        |       time_to_minutes('7.5') c, time_to_minutes('x') d""".stripMargin)
      .head
    assert(r.getDouble(0) === 90.5)
    assert(r.getDouble(1) === 90.0)
    assert(r.getDouble(2) === 7.5)
    assert(r.getDouble(3) === 0.0)
  }
}
