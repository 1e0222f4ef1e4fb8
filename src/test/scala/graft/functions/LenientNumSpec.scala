package graft.functions

import graft.SparkSpec
import graft.norm.Coerce
import org.apache.spark.sql.functions._

/** The native lenient casts must agree with the Column-combinator
  * forms on every input class, and the wide conform pipelines that
  * use them must COMPILE under whole-stage codegen (no Janino
  * interpreted fallback — the defect they were introduced to fix). */
class LenientNumSpec extends SparkSpec {

  private val inputs = Seq(
    "-", "", "  ", "nan", "None", "NONE", "NaN",
    "90", "  7.5  ", "-3", "0", "garbage", "12abc", "+5", "1e2",
    "95.5", ".5", "5.", "-0.0", "3000000000", "3000000000.7",
    "1d", "1f", "0x1p3", "inf", "Infinity", "-inf", "iNfInItY", "+inf",
    "1_000", "1_0.0_1e1_0", "_1", "1_", "1__0", "1e_1",
    "\t7.5\n", "1e309", "-1e309",
    // byte-level fast path and its edges
    "+0", "-0", "0.1", "0.30000000000000004", "123456789012345",
    "1234567890123456", "12345678901234567890", "999999999999999.9",
    "0.0000000000000000000001", "0.00000000000000000000001", "-.5", "+.",
    ".", "+", "1.2.3", "1 2", "١٢")

  test("native lenient_double == Coerce.lenientDouble on all input classes") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val df = inputs.toDF("s")
    val native = df.select(expr("lenient_double(s)").as("m"))
    assert(!native.schema("m").nullable)
    val a = native.collect().map(_.getDouble(0)).toSeq
    val b = df.select(Coerce.lenientDouble(col("s")).as("m"))
      .collect().map(_.getDouble(0)).toSeq
    assert(a === b)
  }

  test("native lenient_long == Coerce.lenientInt on all input classes") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val df = inputs.toDF("s")
    val a = df.select(expr("lenient_long(s)").as("m"))
      .collect().map(_.getLong(0)).toSeq
    val b = df.select(Coerce.lenientInt(col("s")).as("m"))
      .collect().map(_.getLong(0)).toSeq
    assert(a === b)
    // spot-pin the semantics, not just the parity
    val byIn = inputs.zip(a).toMap
    assert(byIn("3000000000") === 3000000000L) // no int32 wrap
    assert(byIn("inf") === 0L) // non-finite -> default
    assert(byIn("1_000") === 1000L)
  }

  test("the byte-level fast path gives Double.parseDouble's bits") {
    import org.apache.spark.unsafe.types.UTF8String
    val r = new scala.util.Random(5)
    def digits(max: Int) = Seq.fill(r.nextInt(max + 1))(('0' + r.nextInt(10)).toChar).mkString
    val in = Seq.fill(50000) {
      val sign = Seq("", "+", "-")(r.nextInt(3))
      val point = if (r.nextBoolean()) "." + digits(24) else ""
      sign + digits(18) + point
    }
    val diff = in.filter { s =>
      java.lang.Double.doubleToLongBits(LenientNumImpl.toDouble(UTF8String.fromString(s))) !=
        java.lang.Double.doubleToLongBits(LenientNumImpl.parse(s))
    }
    assert(diff.isEmpty, diff.take(10))
  }

  test("random strings: native == combinator, bit for bit") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val r = new scala.util.Random(13)
    val alphabet = "0123456789.+-eE_ "
    val in = Seq.fill(4000)(
      Seq.fill(r.nextInt(14))(alphabet(r.nextInt(alphabet.length))).mkString)
    val df = in.toDF("s")
    val native = df.select(expr("lenient_double(s)"), expr("lenient_long(s)")).collect()
    val combinator = df.select(Coerce.lenientDouble(col("s")), Coerce.lenientInt(col("s"))).collect()
    val diff = in.indices.filter { i =>
      java.lang.Double.doubleToLongBits(native(i).getDouble(0)) !=
        java.lang.Double.doubleToLongBits(combinator(i).getDouble(0)) ||
        native(i).getLong(1) != combinator(i).getLong(1)
    }.map(in)
    assert(diff.isEmpty, diff.take(10))
  }

  test("null input -> defaults, SQL surface registered") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT lenient_double(NULL) a, lenient_long(NULL) b, " +
        "lenient_double('7.5') c, lenient_long('-2.9') d").head
    assert(r.getDouble(0) === 0.0)
    assert(r.getLong(1) === 0L)
    assert(r.getDouble(2) === 7.5)
    assert(r.getLong(3) === -2L) // truncation toward zero
  }

  test("non-string arguments are implicitly cast at analysis, not " +
      "crashed on at runtime") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT lenient_double(42) a, lenient_long(7.9) b, " +
        "time_to_minutes(90) c").head
    assert(r.getDouble(0) === 42.0)
    assert(r.getLong(1) === 7L)
    assert(r.getDouble(2) === 90.0)
  }

  test("wide conform pipelines compile under codegen (no Janino fallback)") {
    import graft.conform.Pipeline
    import spark.implicits._
    // The q38-shaped failure: 25+ coerced columns + a sort in one
    // whole-stage-codegen stage. With fallback disabled a Janino
    // compile failure THROWS instead of silently degrading to
    // interpreted execution — this test pins "the stage compiles".
    val estadosCols = graft.conform.Schemas.Estados.fieldNames
    val row = estadosCols.map {
      case "fecha" => "15/01/2024"
      case "id"    => "201"
      case _       => "1:30"
    }
    val raw = Seq(row).map(r => (r(0), r)).toDF("k", "arr")
      .select(estadosCols.zipWithIndex.map { case (n, i) =>
        element_at(col("arr"), i + 1).as(n)
      }.toIndexedSeq: _*)
    // read from files: a projection over a local relation is evaluated
    // by the optimizer, never compiled
    def csv(lines: String*): org.apache.spark.sql.DataFrame = {
      val f = tempFile("codegen_spec", ".csv")
      java.nio.file.Files.write(f, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
      graft.io.CsvProbe.read(spark, f.toString)
    }
    val conductaCols = graft.conform.Schemas.Conducta.fieldNames.toSeq
    val conductaRaw = csv(conductaCols.mkString(","), conductaCols.map {
      case "fecha" => "5/1/2024" // the formatter fallback
      case "agente" | "campana" => "x"
      case c if c.startsWith("tiempo") => "0:01:30"
      case _ => "12.5"
    }.mkString(","))
    val dates = csv("s", "15/01/2024", " 5/1/2024", "junk", "x,y")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val out = Pipeline.estados(raw).orderBy("id").collect()
      assert(out.length === 1)
      val c = Pipeline.conducta(conductaRaw).orderBy("id").collect()
      assert(c.length === 1 && c.head.getAs[Long]("id") === 12L)
      assert(c.head.getAs[java.sql.Date]("fecha").toString === "2024-01-05")
      val parsed = dates.select(expr("parse_date_day_first(s)").cast("string").as("d"))
      val d = parsed.collect().map(r => Option(r.getString(0))).toSeq
      assert(d === Seq(Some("2024-01-15"), Some("2024-01-05"), None, Some(null)).map(_.flatMap(Option(_))))
      assert("""\*\(\d+\) Project.*parse_date_day_first""".r
        .findFirstIn(parsed.queryExecution.executedPlan.toString).isDefined,
        parsed.queryExecution.executedPlan)
    } finally spark.conf.set("spark.sql.codegen.fallback", "true")
  }
}
