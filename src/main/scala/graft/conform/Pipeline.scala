package graft.conform

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's two full transform chains as reusable library
  * operators (conducta: main.py:1207-1261; estados: main.py:1264-1308):
  *
  *   P1 normalize names → P2 rename map → P3 null-fill missing →
  *   P4 project in order → X5 date parse → X3 int coerce →
  *   X4 float coerce → X1/X2 time-to-minutes → F2 drop null keys.
  *
  * P1-X2 are ONE `select` ([[Conform.projection]]) and F2 one filter
  * over it: one projection + one filter, analyzed once, which Catalyst
  * runs as a single whole-stage-codegen pass over the scan — reader
  * speed with zero shuffles. Each source column goes through STRING
  * into its coercion, so the lenient coercions (garbage→0) see the raw
  * text, exactly like pandas — a direct typed cast would turn garbage
  * into NULL instead of 0.
  *
  * The reference's F1 (`dropna(how='all')` on the raw frame,
  * main.py:1352) has no step of its own: F2 subsumes it (main.py:1258,
  * 1305, `dropna(subset=['id','fecha'])`), since an all-null raw row
  * has a null `fecha` source and so a null parsed `fecha`. Dropping the
  * step is what lets the CSV scan prune every column F2 and the caller
  * do not read.
  */
object Pipeline {

  /** The NATIVE coercion forms (registered SQL functions,
    * [[graft.functions.GraftFunctions]]), deliberately: these chains
    * coerce 22-32 columns inside one whole-stage-codegen stage, and
    * the regexp combinators would put ~4-10 compiled matchers per
    * column into a single generated method — past Janino's 64 KB
    * limit, which silently drops the whole conform stage to
    * interpreted execution (observed as `InternalCompilerException:
    * sort_addToSorter_0`). Semantics are identical (parity specs);
    * LenientNumSpec pins the compiles-under-codegen property with
    * codegen fallback disabled. Columns without a coercion stay
    * strings. */
  private def chain(raw: DataFrame, target: StructType,
      renames: Map[String, String], coercion: Map[String, String]): DataFrame = {
    graft.functions.GraftFunctions.register(raw.sparkSession)
    val cols = Conform.projection(target, renames, raw.columns.toSeq) { (f, c) =>
      val s: Column = c.cast(StringType)
      coercion.get(f.name).fold(s)(fn => call_function(fn, s))
    }
    raw.select(cols: _*)
      .na.drop("any", Seq("id", "fecha")) // id never null post-coerce; fecha is the live filter
  }

  private def coercions(ints: Seq[String], doubles: Seq[String],
      times: Seq[String]): Map[String, String] =
    Map("fecha" -> "parse_date_day_first") ++
      ints.map(_ -> "lenient_long") ++ doubles.map(_ -> "lenient_double") ++
      times.map(_ -> "time_to_minutes")

  /** F1: drop rows where EVERY column is null (reference main.py:1352,
    * `dropna(how='all')`). The chains below do not call it: their F2
    * filter already drops every such row. */
  def dropAllNull(raw: DataFrame): DataFrame = raw.na.drop("all")

  /** Conducta - Agentes chain (reference main.py:1207-1261). */
  def conducta(raw: DataFrame): DataFrame = {
    val pctCols = Schemas.Conducta.fieldNames.filter(_.contains("pct")).toSeq
    chain(raw, Schemas.Conducta, Schemas.ConductaRenames,
      coercions(Schemas.ConductaIntCols, pctCols, Schemas.ConductaTimeCols))
  }

  /** Estados Operativos chain (reference main.py:1264-1308). */
  def estados(raw: DataFrame): DataFrame =
    chain(raw, Schemas.Estados, Map.empty,
      coercions(Schemas.EstadosIntCols, Seq.empty, Schemas.EstadosTimeCols))
}
