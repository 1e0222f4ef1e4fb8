package graft.conform

import java.nio.charset.{Charset, StandardCharsets}
import java.nio.file.Files

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.io.CsvProbe
import graft.norm.Coerce

/** The conform chains are one projection + one filter, and give, row
  * for row and bit for bit, what the step-by-step chain gave: F1, the
  * all-string conform, then one `withColumn` per coercion built from
  * the Column combinators, then F2. */
class PipelineSpec extends SparkSpec {

  private val conductaHeader = Seq(
    "Agente", "Fecha", "ID", "Campaña", "In", "% In",
    "In Rechazadas / Ignoradas", "% In Rechazadas / Ignoradas",
    "In Atendidas", "% In Atendidas", "Out", "% Out",
    "Out Rechazadas / Ignoradas", "% Out Rechazadas / Ignoradas",
    "Out Atendidas", "% Out Atendidas", "Out Dialing", "% Out Dialing",
    "Tiempo Medio De Respuesta In", "Tiempo Medio De Respuesta Out",
    "Comentario") // the llamados_con_hold pair is absent: null-filled

  private val states = Seq("Login", "Login Neto", "Available", "Preview",
    "Dialing", "Ringing", "Talking", "Talking In", "Talking Out", "Hold",
    "ACW", "Other CRM", "Pause")
  private val estadosHeader =
    Seq("Fecha", "Intervalo", "ID", "Agente", "ID Campaña", "Campaña") ++
      states.map("T " + _) ++ states.map("T Diario " + _)

  private val dates = Seq("15/01/2024", "5/1/2024", "05/1/2024", "5/01/2024",
    " 7/3/2023 ", "29/02/2024", "31/12/1999", "01/01/0001",
    // blank, garbage and impossible, in both widths
    "", "  ", "garbage", "2024-01-15", "31/02/2024", "29/02/2023",
    "00/01/2024", "32/13/2024", "5/13/2024", "0/1/2024", "15/01/24",
    "005/01/2024", "15/01/2024 10:00")
  private val nullTokens = Seq("", "-", "nan", "None", "NaN", "NONE", "  ")
  private val numbers = nullTokens ++ Seq("42", "-7", "+3", "0", "-0", "+0",
    "-0.0", "3.9", "-2.5", ".5", "5.", "95.25", "0.1", "1_000", "1_0.5",
    "1e3", "1E-2", "-1.5e2", "inf", "-inf", "Infinity", "-Infinity", "iNf",
    "123456789012345", "1234567890123456", "12345678901234567890",
    "0.30000000000000004", "3000000000", "-3000000000.7", "1e309", "x",
    "12abc", "1d", "0x1p3", "_1", "1__0", "\t7.5 ")
  private val durations = numbers ++ Seq("1:30", "01:30:30", "0:05",
    "00:00", "23:59:59", "100:00", " 2:15 ", "1:xx", "1:2:3:4", ":30",
    "1:", "+1:30", "-1:30", "-0:-0", "1: 30", "1.5:30", "99999999999:00",
    "123456789012345:00", "1234567890123456:00", "١:٣٠")
  private val names = Seq("Juan Pérez", "María", "Ñandú", "Iñaki Peña", "x")
  private val campaigns = Seq("Ventas", "Café", "Niño", "")

  private def pick(r: Random, xs: Seq[String]) = xs(r.nextInt(xs.size))

  /** A dirty report: one row in 25 blank (only separators), a few
    * wholly empty lines, every cell drawn from its column's corpus. */
  private def report(r: Random, header: Seq[String], sep: Char,
      cell: (Random, String) => String): String = {
    val rows = (1 to 240).map { i =>
      if (i % 25 == 0) sep.toString * (header.size - 1)
      else if (i % 60 == 0) ""
      else header.map(h => cell(r, h)).mkString(sep.toString)
    }
    (header.mkString(sep.toString) +: rows).mkString("\n") + "\n"
  }

  private def conductaCell(r: Random, h: String): String = h match {
    case "Agente" => pick(r, names)
    case "Fecha" => pick(r, dates)
    case "ID" => if (r.nextInt(10) == 0) pick(r, numbers) else (r.nextInt(900) + 100).toString
    case "Campaña" | "Comentario" => pick(r, campaigns)
    case t if t.startsWith("Tiempo") => pick(r, durations)
    case _ => pick(r, numbers)
  }

  private def estadosCell(r: Random, h: String): String = h match {
    case "Fecha" => pick(r, dates)
    case "Intervalo" => f"${r.nextInt(24)}%02d:00"
    case "ID" | "ID Campaña" => if (r.nextInt(10) == 0) pick(r, numbers) else r.nextInt(500).toString
    case "Agente" => pick(r, names)
    case "Campaña" => pick(r, campaigns)
    case _ => pick(r, durations)
  }

  private def write(text: String, cs: Charset): String = {
    val f = tempFile("pipeline_spec", ".csv")
    Files.write(f, text.getBytes(cs))
    f.toString
  }

  /** The chain as a stack of steps: F1 on the raw frame, the all-string
    * conform, one `withColumn` per coercion from the Column
    * combinators (the `to_date` pair for `fecha`), F2, the target order. */
  private def stepwise(raw: DataFrame, target: StructType,
      renames: Map[String, String], ints: Seq[String], doubles: Seq[String],
      times: Seq[String]): DataFrame = {
    val strings = StructType(target.fields.map(f => StructField(f.name, StringType)))
    val conformed = Conform.conformTo(strings, renames)(Pipeline.dropAllNull(raw))
    val trimmed = regexp_replace(col("fecha"), "^[\\x00-\\x20]+|[\\x00-\\x20]+$", "")
    val d1 = conformed.withColumn("fecha",
      coalesce(to_date(trimmed, "dd/MM/yyyy"), to_date(trimmed, "d/M/yyyy")))
    val d2 = ints.foldLeft(d1)((d, c) => d.withColumn(c, Coerce.lenientInt(col(c))))
    val d3 = doubles.foldLeft(d2)((d, c) => d.withColumn(c, Coerce.lenientDouble(col(c))))
    times.foldLeft(d3)((d, c) => d.withColumn(c, Coerce.timeToMinutes(col(c))))
      .na.drop("any", Seq("id", "fecha"))
      .select(target.fieldNames.map(col).toIndexedSeq: _*)
  }

  private def stepwiseConducta(raw: DataFrame) = stepwise(raw, Schemas.Conducta,
    Schemas.ConductaRenames, Schemas.ConductaIntCols,
    Schemas.Conducta.fieldNames.filter(_.contains("pct")).toSeq,
    Schemas.ConductaTimeCols)

  private def stepwiseEstados(raw: DataFrame) = stepwise(raw, Schemas.Estados,
    Map.empty, Schemas.EstadosIntCols, Seq.empty, Schemas.EstadosTimeCols)

  /** Names and types; the native coercions are never null where the
    * combinators may be. */
  private def typed(df: DataFrame) = df.schema.map(f => f.name -> f.dataType)

  /** Rows as sorted value lists; doubles by their bits, so -0.0 and
    * 0.0 differ. */
  private def bits(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toSeq.map {
      case d: Double => s"d${java.lang.Double.doubleToLongBits(d)}"
      case v => String.valueOf(v)
    }.mkString("|")).sorted

  /** Both separators in both charsets. */
  private val cases = for {
    sep <- Seq(',', ';')
    cs <- Seq(StandardCharsets.UTF_8, StandardCharsets.ISO_8859_1)
  } yield (sep, cs)

  test("conducta: one projection equals the stepwise chain, row for row") {
    cases.zipWithIndex.foreach { case ((sep, cs), i) =>
      val path = write(report(new Random(100 + i), conductaHeader, sep, conductaCell), cs)
      val raw = CsvProbe.read(spark, path)
      assert(CsvProbe.probe(path) === (cs, sep))
      val out = Pipeline.conducta(raw)
      assert(typed(out) === typed(stepwiseConducta(raw)))
      val got = bits(out)
      assert(got === bits(stepwiseConducta(raw)), s"sep=$sep charset=$cs")
      assert(got.size > 50 && got.size < 200, s"${got.size} rows kept")
    }
  }

  test("estados: one projection equals the stepwise chain, row for row") {
    cases.zipWithIndex.foreach { case ((sep, cs), i) =>
      val path = write(report(new Random(200 + i), estadosHeader, sep, estadosCell), cs)
      val raw = CsvProbe.read(spark, path)
      val out = Pipeline.estados(raw)
      assert(typed(out) === typed(stepwiseEstados(raw)))
      val got = bits(out)
      assert(got === bits(stepwiseEstados(raw)), s"sep=$sep charset=$cs")
      assert(got.size > 50 && got.size < 200, s"${got.size} rows kept")
    }
  }

  test("a raw frame with no fecha column keeps no row, as F2 demands") {
    import spark.implicits._
    val raw = Seq(("1", "1:30")).toDF("ID", "T Login")
    assert(Pipeline.estados(raw).count() === 0)
    assert(stepwiseEstados(raw).count() === 0)
  }

  test("an all-null raw row is dropped without an F1 step") {
    val schema = StructType(estadosHeader.map(StructField(_, StringType)))
    val rows = Seq(Row.fromSeq(estadosHeader.map(_ => null)),
      Row.fromSeq(estadosHeader.map {
        case "Fecha" => "15/01/2024"
        case "ID" => "7"
        case _ => null
      }))
    val raw = spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
    val out = Pipeline.estados(raw).collect()
    assert(out.length === 1)
    assert(out.head.getAs[Long]("id") === 7L)
    assert(out.head.getAs[Double]("t_login") === 0.0)
  }

  test("plan: one coercion Project under the F2 filter; a count scans " +
      "only the fecha and id sources") {
    val path = write(report(new Random(7), estadosHeader, ',', estadosCell),
      StandardCharsets.UTF_8)
    val raw = CsvProbe.read(spark, path)
    for ((chain, fields) <- Seq[(DataFrame => DataFrame, Int)](
        (Pipeline.estados _) -> Schemas.Estados.size,
        (Pipeline.conducta _) -> Schemas.Conducta.size)) {
      val analyzed = chain(raw).queryExecution.analyzed
      val projects = analyzed.collect { case p: Project => p }
      assert(projects.size === 1, analyzed.treeString)
      assert(projects.head.projectList.size === fields)
      assert(analyzed.toString.contains("parse_date_day_first"))
    }
    val counted = Pipeline.estados(raw).groupBy().count()
    val scans = counted.queryExecution.sparkPlan.collect { case s: FileSourceScanExec => s }
    assert(scans.size === 1)
    assert(scans.head.requiredSchema.fieldNames.toSet === Set("Fecha", "ID"),
      scans.head.requiredSchema)
    assert(counted.head.getLong(0) === Pipeline.estados(raw).collect().length)
  }
}
