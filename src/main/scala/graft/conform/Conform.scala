package graft.conform

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.norm.Names

/** Schema conformance: dynamic source schema → fixed target schema.
  *
  * Re-expresses the reference's transform chain P1→P2→P3→P4+casts
  * (reference main.py:1222-1255, 1278-1303):
  *   1. normalize incoming column names ([[graft.norm.Names]]),
  *   2. apply a rename map (e.g. `in`→`in_total`, reserved words,
  *      reference main.py:115/121),
  *   3. add target columns missing from the input as typed NULLs
  *      (reference main.py:1228-1230),
  *   4. project to the target column list in order, dropping extras
  *      (reference main.py:1233), casting each to the target type.
  *
  * All four steps collapse into ONE `select` — a single narrow
  * projection stage under whole-stage codegen. At 100 TB this is the
  * correct shape: no shuffle, column pruning reaches the scan, and
  * Catalyst prunes unreferenced source columns from the reader.
  */
object Conform {

  def conformTo(target: StructType, renames: Map[String, String] = Map.empty)(
      df: DataFrame): DataFrame =
    df.select(projection(target, renames, df.columns.toSeq)(
      (f, c) => c.cast(f.dataType)): _*)

  /** One column per target field, in target order: the source column
    * matched to it (steps 1-3), or a NULL when none is, passed through
    * `finish` and named after the field. [[conformTo]] casts there; the
    * conform chains ([[Pipeline]]) coerce there, so the whole chain is
    * still this one projection. */
  private[conform] def projection(target: StructType, renames: Map[String, String],
      columns: Seq[String])(finish: (StructField, Column) => Column): Seq[Column] = {
    val source = sourceOf(conformedNames(renames, columns))
    target.fields.toSeq.map { f =>
      val c = source.get(f.name).fold(lit(null))(src => col(s"`$src`"))
      finish(f, c).as(f.name)
    }
  }

  /** Each source column with its conformed name: normalized, then renamed. */
  private def conformedNames(renames: Map[String, String],
      columns: Seq[String]): Seq[(String, String)] =
    columns.map { orig =>
      val n = Names.normalizeName(orig)
      orig -> renames.getOrElse(n, n)
    }

  /** Conformed name → the first source column carrying it. */
  private def sourceOf(conformed: Seq[(String, String)]): Map[String, String] =
    conformed.groupBy(_._2).map { case (t, srcs) => t -> srcs.head._1 }

  /** One schema-drift finding. `column` is the conformed name the
    * finding is about; source_* are absent for columns the source
    * never had, target_type is absent for columns the target never
    * wanted. */
  final case class DriftRow(column: String, disposition: String,
      source_column: Option[String], source_type: Option[String],
      target_type: Option[String])

  /** Schema-drift report — the EXPLICIT version of the reference's
    * silent conformance (SURVEY §5's deviation policy; round-10
    * verdict ask #3). `conformTo` faithfully mirrors main.py:1228-1233:
    * missing target columns become NULL, unknown source columns are
    * dropped, matched columns are cast — all silently, which is how a
    * CRM UI change becomes a month of silent NULLs. This side-output
    * names each deviation per run:
    *
    *   - `added_null`: target column with no source match (the
    *     null-fill of main.py:1228-1230 made visible);
    *   - `dropped`: source column (post normalize+rename) the target
    *     does not want — including a duplicate that lost the
    *     first-match tie-break — (the projection drop of
    *     main.py:1233 made visible);
    *   - `retyped`: matched column whose source type differs from the
    *     target type (the cast that would silently null garbage).
    *
    * Pure schema metadata — no data is scanned and no job runs; the
    * report is bounded by the column count. Matching logic is shared
    * with [[conformTo]] by construction (same normalize→rename→
    * first-match rule), so the report can never disagree with what
    * the conformance actually did. */
  def driftRows(target: StructType, renames: Map[String, String] = Map.empty)(
      source: StructType): Seq[DriftRow] = {
    val conformedName = conformedNames(renames, source.fieldNames.toSeq)
    val chosen = sourceOf(conformedName)
    val targetByName = target.fields.map(f => f.name -> f).toMap
    val added = target.fields.toSeq.collect {
      case f if !chosen.contains(f.name) =>
        DriftRow(f.name, "added_null", None, None, Some(f.dataType.sql))
    }
    val dropped = conformedName.collect {
      case (orig, conf)
          if !targetByName.contains(conf) || chosen(conf) != orig =>
        DriftRow(conf, "dropped", Some(orig),
          Some(source(orig).dataType.sql), None)
    }
    val retyped = conformedName.collect {
      case (orig, conf)
          if targetByName.contains(conf) && chosen(conf) == orig &&
            source(orig).dataType != targetByName(conf).dataType =>
        DriftRow(conf, "retyped", Some(orig),
          Some(source(orig).dataType.sql),
          Some(targetByName(conf).dataType.sql))
    }
    (added ++ dropped ++ retyped)
      .sortBy(r => (r.disposition, r.column, r.source_column.getOrElse("")))
  }
}

/** Fixed target schemas of the reference's two destination tables.
  * Names/order: reference main.py:135-146 (conducta) and 148-183
  * (estados); types from the DDLs main.py:1375-1441. `load_date`
  * (DDL default GETDATE(), main.py:1400/1439) is added at write time
  * by [[graft.io.IdempotentWriter]], not part of the conformance
  * target.
  */
object Schemas {

  /** `in`→`in_total`, `out`→`out_total` (SQL reserved words,
    * reference main.py:115, 121) and the one non-identity shortening
    * `tiempo_medio_de_respuesta_*`→`tiempo_medio_respuesta_*`
    * (reference main.py:131-132). */
  val ConductaRenames: Map[String, String] = Map(
    "in" -> "in_total",
    "out" -> "out_total",
    "tiempo_medio_de_respuesta_in" -> "tiempo_medio_respuesta_in",
    "tiempo_medio_de_respuesta_out" -> "tiempo_medio_respuesta_out"
  )

  val Conducta: StructType = StructType(Seq(
    StructField("agente", StringType),
    StructField("fecha", DateType),
    StructField("id", IntegerType),
    StructField("campana", StringType),
    StructField("in_total", IntegerType),
    StructField("pct_in", DoubleType),
    StructField("in_rechazadas_ignoradas", IntegerType),
    StructField("pct_in_rechazadas_ignoradas", DoubleType),
    StructField("in_atendidas", IntegerType),
    StructField("pct_in_atendidas", DoubleType),
    StructField("out_total", IntegerType),
    StructField("pct_out", DoubleType),
    StructField("out_rechazadas_ignoradas", IntegerType),
    StructField("pct_out_rechazadas_ignoradas", DoubleType),
    StructField("out_atendidas", IntegerType),
    StructField("pct_out_atendidas", DoubleType),
    StructField("out_dialing", IntegerType),
    StructField("pct_out_dialing", DoubleType),
    StructField("llamados_con_hold", IntegerType),
    StructField("pct_llamados_con_hold", DoubleType),
    StructField("tiempo_medio_respuesta_in", DoubleType),
    StructField("tiempo_medio_respuesta_out", DoubleType)
  ))

  /** Columns whose raw form is a duration string (`HH:MM:SS`) to be
    * converted by [[graft.norm.Coerce.timeToMinutes]]
    * (reference main.py:1254-1255). */
  val ConductaTimeCols: Seq[String] =
    Seq("tiempo_medio_respuesta_in", "tiempo_medio_respuesta_out")

  val ConductaIntCols: Seq[String] = Seq(
    "id", "in_total", "in_rechazadas_ignoradas", "in_atendidas",
    "out_total", "out_rechazadas_ignoradas", "out_atendidas",
    "out_dialing", "llamados_con_hold")

  private val estadosTimeNames = Seq(
    "t_login", "t_login_neto", "t_available", "t_preview", "t_dialing",
    "t_ringing", "t_talking", "t_talking_in", "t_talking_out", "t_hold",
    "t_acw", "t_other_crm", "t_pause")

  /** Interval-grain (`t_*`) and day-grain (`t_diario_*`) duration
    * columns (reference main.py:148-183). */
  val EstadosTimeCols: Seq[String] =
    estadosTimeNames ++ estadosTimeNames.map(n => "t_diario" + n.stripPrefix("t"))

  val Estados: StructType = StructType(
    Seq(
      StructField("fecha", DateType),
      StructField("intervalo", StringType),
      StructField("id", IntegerType),
      StructField("agente", StringType),
      StructField("id_campana", IntegerType),
      StructField("campana", StringType)
    ) ++ EstadosTimeCols.map(n => StructField(n, DoubleType)))

  val EstadosIntCols: Seq[String] = Seq("id", "id_campana")
}
