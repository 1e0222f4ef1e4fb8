package graft.queries

import java.nio.charset.Charset
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.conform.Conform
import graft.io.{CsvProbe, IdempotentWriter, JdbcSink, JsonlRead, LocalFs,
  Scratch}
import graft.norm.Coerce

/** Layer-A queries: the reference's literal operator semantics
  * (lenient coercions, conformance, null-key drops, idempotent
  * date-partitioned load, messy-CSV ingestion) exercised over the
  * harness tables so the DuckDB oracle can check them value-by-value.
  *
  * The harness parquet has no messy strings, so each query first
  * SYNTHESIZES deterministic messy inputs from integer columns
  * (never from doubles — double→string formatting differs across
  * engines), applies the graft operator, and aggregates. The oracle
  * SQL mirrors both the synthesis and the documented semantics.
  */
object Reference {
  import Tables._

  /** X1 `timeToMinutes` (reference main.py:425-462) over every input
    * class: null-tokens, H:M, H:M:S, broken pieces, too many parts,
    * plain/padded numerics, garbage. */
  def timeToMinutesQ(spark: SparkSession, dir: String): DataFrame = {
    val raw = expr(
      """CASE CAST(l_orderkey % 13 AS INT)
        | WHEN 0 THEN '-'
        | WHEN 1 THEN ''
        | WHEN 2 THEN 'nan'
        | WHEN 3 THEN 'None'
        | WHEN 4 THEN 'garbage'
        | WHEN 5 THEN CAST(l_linenumber AS STRING)
        | WHEN 6 THEN concat(CAST(l_partkey % 10 AS STRING), ':',
        |                    lpad(CAST(l_suppkey % 60 AS STRING), 2, '0'))
        | WHEN 7 THEN concat(CAST(l_partkey % 10 AS STRING), ':',
        |                    lpad(CAST(l_suppkey % 60 AS STRING), 2, '0'), ':',
        |                    lpad(CAST(l_orderkey % 60 AS STRING), 2, '0'))
        | WHEN 8 THEN '1:xx'
        | WHEN 9 THEN '1:2:3:4'
        | WHEN 10 THEN '1d'
        | WHEN 11 THEN 'inf'
        | ELSE '  7.5  '
        |END""".stripMargin)
    // per-row regex coercion over 13 synthesized input classes is the
    // cost here, not the scan bytes — spread the single-row-group read
    // so the coercion stage uses the whole session (guide §2.5)
    spread(lineitem(spark, dir), "l_orderkey")
      .select((col("l_orderkey") % 13).cast("int").as("bucket"),
        Coerce.timeToMinutes(raw).as("minutes"))
      .groupBy(col("bucket"))
      .agg(round(sum("minutes"), 4).as("sum_min"), count(lit(1)).as("n"))
      .orderBy("bucket")
  }

  val timeToMinutesSql: String =
    s"""WITH synth AS (
      |  SELECT CAST(l_orderkey % 13 AS INTEGER) AS bucket,
      |    CASE CAST(l_orderkey % 13 AS INTEGER)
      |      WHEN 0 THEN '-'
      |      WHEN 1 THEN ''
      |      WHEN 2 THEN 'nan'
      |      WHEN 3 THEN 'None'
      |      WHEN 4 THEN 'garbage'
      |      WHEN 5 THEN CAST(l_linenumber AS VARCHAR)
      |      WHEN 6 THEN concat(CAST(l_partkey % 10 AS VARCHAR), ':',
      |                         lpad(CAST(l_suppkey % 60 AS VARCHAR), 2, '0'))
      |      WHEN 7 THEN concat(CAST(l_partkey % 10 AS VARCHAR), ':',
      |                         lpad(CAST(l_suppkey % 60 AS VARCHAR), 2, '0'), ':',
      |                         lpad(CAST(l_orderkey % 60 AS VARCHAR), 2, '0'))
      |      WHEN 8 THEN '1:xx'
      |      WHEN 9 THEN '1:2:3:4'
      |      WHEN 10 THEN '1d'
      |      WHEN 11 THEN 'inf'
      |      ELSE '  7.5  '
      |    END AS raw
      |  FROM lineitem),
      |conv AS (
      |  SELECT bucket,
      |    CASE
      |      WHEN raw IS NULL OR trim(raw) IN ('-','','nan','None') THEN 0.0
      |      WHEN contains(trim(raw), ':') THEN
      |        CASE len(string_split(trim(raw), ':'))
      |          WHEN 3 THEN CASE WHEN NOT regexp_full_match(trim(string_split(trim(raw), ':')[1]), '[+-]?[0-9]+')
      |                             OR NOT regexp_full_match(trim(string_split(trim(raw), ':')[2]), '[+-]?[0-9]+')
      |                             OR NOT regexp_full_match(trim(string_split(trim(raw), ':')[3]), '[+-]?[0-9]+')
      |                      THEN 0.0
      |                      ELSE try_cast(string_split(trim(raw), ':')[1] AS DOUBLE) * 60
      |                         + try_cast(string_split(trim(raw), ':')[2] AS DOUBLE)
      |                         + try_cast(string_split(trim(raw), ':')[3] AS DOUBLE) / 60 END
      |          WHEN 2 THEN CASE WHEN NOT regexp_full_match(trim(string_split(trim(raw), ':')[1]), '[+-]?[0-9]+')
      |                             OR NOT regexp_full_match(trim(string_split(trim(raw), ':')[2]), '[+-]?[0-9]+')
      |                      THEN 0.0
      |                      ELSE try_cast(string_split(trim(raw), ':')[1] AS DOUBLE) * 60
      |                         + try_cast(string_split(trim(raw), ':')[2] AS DOUBLE) END
      |          ELSE 0.0 END
      |      WHEN regexp_full_match(trim(raw), '${Coerce.InfReSql}')
      |        THEN try_cast(trim(raw) AS DOUBLE)
      |      WHEN NOT regexp_full_match(trim(raw), '${Coerce.NumReSql}')
      |        THEN 0.0
      |      ELSE try_cast(replace(trim(raw), '_', '') AS DOUBLE)
      |    END AS minutes
      |  FROM synth)
      |SELECT bucket, round(sum(minutes), 4) AS sum_min, count(*) AS n
      |FROM conv GROUP BY 1 ORDER BY 1""".stripMargin

  /** X3/X4 lenient int/double coercion (reference main.py:501-528):
    * garbage→0, parse-then-truncate for ints. */
  def lenientCasts(spark: SparkSession, dir: String): DataFrame = {
    val raw = expr(
      """CASE CAST(event_id % 8 AS INT)
        | WHEN 0 THEN '42'
        | WHEN 1 THEN '  7  '
        | WHEN 2 THEN '3.9'
        | WHEN 3 THEN 'x9'
        | WHEN 4 THEN ''
        | WHEN 5 THEN '-5.2'
        | WHEN 6 THEN '1d'
        | ELSE 'inf'
        |END""".stripMargin)
    events(spark, dir)
      .select((col("event_id") % 8).cast("int").as("bucket"),
        Coerce.lenientInt(raw).as("as_int"),
        Coerce.lenientDouble(raw).as("as_double"))
      .groupBy(col("bucket"))
      .agg(sum("as_int").as("sum_int"),
        round(sum("as_double"), 4).as("sum_double"),
        count(lit(1)).as("n"))
      .orderBy("bucket")
  }

  val lenientCastsSql: String =
    s"""WITH synth AS (
       |  SELECT CAST(event_id % 8 AS INTEGER) AS bucket,
       |    CASE CAST(event_id % 8 AS INTEGER)
       |      WHEN 0 THEN '42' WHEN 1 THEN '  7  ' WHEN 2 THEN '3.9'
       |      WHEN 3 THEN 'x9' WHEN 4 THEN '' WHEN 5 THEN '-5.2'
       |      WHEN 6 THEN '1d' ELSE 'inf' END AS raw
       |  FROM events),
       |conv AS (
       |  SELECT bucket,
       |    CASE WHEN regexp_full_match(trim(raw), '${Coerce.InfReSql}')
       |           THEN try_cast(trim(raw) AS DOUBLE)
       |         WHEN NOT regexp_full_match(trim(raw), '${Coerce.NumReSql}')
       |           THEN 0.0
       |         ELSE try_cast(replace(trim(raw), '_', '') AS DOUBLE) END AS d
       |  FROM synth)
       |SELECT bucket,
       |  CAST(sum(CASE WHEN isfinite(d) THEN CAST(trunc(d) AS BIGINT)
       |               ELSE 0 END) AS BIGINT) AS sum_int,
       |  round(sum(d), 4) AS sum_double, count(*) AS n
       |FROM conv GROUP BY 1 ORDER BY 1""".stripMargin

  /** X5 day-first date parsing (reference main.py:1239/1295):
    * format out as DD/MM/YYYY, parse back, roll up by month. */
  def dateDayFirst(spark: SparkSession, dir: String): DataFrame = {
    orders(spark, dir)
      .select(date_format(col("o_orderdate"), "dd/MM/yyyy").as("s"))
      .select(Coerce.parseDateDayFirst(col("s")).as("d"))
      .groupBy(trunc(col("d"), "month").as("m"))
      .agg(count(lit(1)).as("n"))
      .orderBy("m")
  }

  val dateDayFirstSql: String =
    """WITH synth AS (SELECT strftime(o_orderdate, '%d/%m/%Y') AS s FROM orders),
      |parsed AS (SELECT CAST(try_strptime(s, '%d/%m/%Y') AS DATE) AS d FROM synth)
      |SELECT CAST(date_trunc('month', d) AS DATE) AS m, count(*) AS n
      |FROM parsed GROUP BY 1 ORDER BY 1""".stripMargin

  /** P1-P4 conformance (reference main.py:1222-1255): messy incoming
    * names (spaces, case, accents, `%`), extra column dropped,
    * missing column null-filled, casts applied — one select. */
  def conformQ(spark: SparkSession, dir: String): DataFrame = {
    val target = StructType(Seq(
      StructField("cust_key", LongType),
      StructField("name", StringType),
      StructField("pct_balance", DoubleType),
      StructField("missing_col", DoubleType)))
    val messy = customer(spark, dir).select(
      col("c_custkey").as("Cust  Key"),
      col("c_name").as("NAME"),
      col("c_acctbal").as("% Balance"),
      col("c_mktsegment").as("Extra Column (dropped)"))
    Conform.conformTo(target)(messy).orderBy("cust_key")
  }

  val conformSql: String =
    """SELECT c_custkey AS cust_key, c_name AS name,
      |  c_acctbal AS pct_balance, CAST(NULL AS DOUBLE) AS missing_col
      |FROM customer ORDER BY cust_key""".stripMargin

  /** F1/F2 null handling (reference main.py:1258/1305,1352):
    * synthesized nulls, drop rows missing required keys. */
  def nullDrop(spark: SparkSession, dir: String): DataFrame = {
    val e2 = events(spark, dir)
      .withColumn("key", when(col("event_id") % 7 === 0, lit(null))
        .otherwise(col("user_id")))
      .withColumn("v", when(col("event_id") % 3 === 0, lit(null))
        .otherwise(col("value")))
    e2.na.drop("any", Seq("key", "v"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("v"), 4).as("sum_v"))
      .orderBy("event_type")
  }

  val nullDropSql: String =
    """WITH synth AS (
      |  SELECT event_type,
      |    CASE WHEN event_id % 7 = 0 THEN NULL ELSE user_id END AS key,
      |    CASE WHEN event_id % 3 = 0 THEN NULL ELSE value END AS v
      |  FROM events)
      |SELECT event_type, count(*) AS n, round(sum(v), 4) AS sum_v
      |FROM synth WHERE key IS NOT NULL AND v IS NOT NULL
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** S5-S7 idempotent date-partitioned load (reference
    * main.py:1500-1578): write all dates, then OVERWRITE a subset
    * partition with the same content, read back. If overwrite
    * degraded to append, per-date counts double → oracle mismatch. */
  def idempotentLoad(spark: SparkSession, dir: String): DataFrame = {
    // One fixed scratch dir, CLEARED before each invocation: dynamic
    // partition overwrite only replaces partitions present in the
    // incoming frame, so stale dates from a previous run against a
    // broader dataset would otherwise survive and corrupt the
    // read-back counts. (Driver-local path: this probe validates the
    // overwrite SEMANTICS; on a cluster the target would be shared
    // storage. Excluded from the timed bench set for the same reason.)
    val tmp = Scratch.path("graft_idem_scratch")
    Scratch.delete(spark, tmp)
    val src = events(spark, dir).select(
      to_date(col("ts")).as("fecha"),
      col("event_id"), col("user_id"), col("value"))
    IdempotentWriter.overwritePartitions(src, tmp)
    // re-load of one date (the reference's daily re-run scenario)
    val oneDate = src.filter(col("fecha") === lit("2024-01-05").cast("date"))
    IdempotentWriter.overwritePartitions(oneDate, tmp)
    spark.read.parquet(tmp)
      .groupBy(col("fecha"))
      .agg(count(lit(1)).as("n"))
      .orderBy("fecha")
  }

  val idempotentLoadSql: String =
    """SELECT CAST(ts AS DATE) AS fecha, count(*) AS n
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------
  // q189 partition-pruned single-date warehouse read (the BI scan)
  // ---------------------------------------------------------------

  /** Session-scoped `fecha`-partitioned events warehouse, written ONCE
    * per (application, dir) through [[IdempotentWriter]] — the table
    * the reference's load phase produces (S7, main.py:1500-1578) and
    * its BI consumers read back by date (README.md:113; the hot
    * predicate `WHERE CAST(fecha AS DATE) = ?`, main.py:1535).
    * Memoized so q189 benches the READ, not a per-call rebuild. */
  private val fechaWarehouses = new Scratch.Artifact[String]("graft_fecha_wh")

  private[graft] def fechaWarehouse(
      spark: SparkSession, dir: String): String =
    fechaWarehouses(spark, dir) { tmp =>
      IdempotentWriter.overwritePartitions(
        events(spark, dir).select(
          to_date(col("ts")).as("fecha"), col("event_id"),
          col("user_id"), col("event_type"), col("value")),
        tmp, addLoadDate = false)
      tmp
    }

  /** The warehouse read path q189 proves: filter on the PARTITION
    * column, so the scan's `PartitionFilters` prune the directory
    * listing to exactly one `fecha=...` partition before any file is
    * opened — at 100 TB × 365 days this is the difference between
    * scanning one day and scanning the table. IdempotentWriterSpec
    * asserts the plan fact (partitionFilters non-empty,
    * selectedPartitions == 1); the oracle checks the values. */
  private[graft] def dailyEventsRead(
      spark: SparkSession, warehouse: String, date: String): DataFrame =
    dailyEventsAgg(spark.read.parquet(warehouse), date)

  /** The single-date BI aggregation, shared by the path read (q189)
    * and the catalog read (q209) so the two surfaces can never drift
    * — they answer to the same oracle hash. */
  private def dailyEventsAgg(warehouse: DataFrame, date: String): DataFrame =
    warehouse
      .filter(col("fecha") === lit(date).cast("date"))
      .groupBy(col("fecha"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
      .orderBy("event_type")

  def partitionPrunedRead(spark: SparkSession, dir: String): DataFrame = {
    dailyEventsRead(spark, fechaWarehouse(spark, dir), "2024-01-05")
  }

  val partitionPrunedReadSql: String =
    """SELECT CAST(ts AS DATE) AS fecha, event_type, count(*) AS n,
      |  round(sum(value), 4) AS sum_value
      |FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-05'
      |GROUP BY 1, 2 ORDER BY 2""".stripMargin

  // ---------------------------------------------------------------
  // q209 catalog-backed BI read (the named-table surface BI tools use)
  // ---------------------------------------------------------------

  /** The fecha warehouse registered as a NAMED CATALOG TABLE, once
    * per (application, dir) — README.md:113's stated purpose is
    * BI-tool consumption, and BI tools query *named tables* through a
    * metastore, not parquet paths. The table is EXTERNAL over the
    * already-written warehouse (no second data copy): catalog
    * createTable with the warehouse's own schema + recoverPartitions
    * to load the fecha directories into the catalog, so partition
    * pruning happens from CATALOG METADATA (CatalogFileIndex) — at
    * 100 TB × 365 days the metastore serves the one-partition listing
    * without touching storage for the other 364. The external catalog
    * is shared across sessions of an application; the name embeds the
    * data dir's md5 so two dirs never collide on one table. */
  private val catalogTables = new graft.KeyedOnce[(String, String), String]

  private[graft] def fechaCatalogTable(
      spark: SparkSession, dir: String): String =
    catalogTables((spark.sparkContext.applicationId, dir)) {
      val name = dirTableName("graft_fecha_wh", dir)
      registerFechaTableAt(spark, fechaWarehouse(spark, dir), name)
      name
    }

  /** `<prefix>_<first 16 hex digits of md5(dir)>`: one catalog table
    * name per data dir, so two dirs never collide on one table. */
  private def dirTableName(prefix: String, dir: String): String =
    prefix + "_" + java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)

  /** PUBLIC entry point — register this engine's fecha warehouse for
    * `dir` under a STABLE, caller-chosen catalog name: the name a BI
    * tool binds to (README.md:113 — the reference's `t_diario_*`
    * consumers). The md5-suffixed [[fechaCatalogTable]] names are
    * right for test isolation, but a dashboard binds ONCE to a stable
    * name; this is that binding.
    *
    * OWNERSHIP: the caller owns the name — exactly one pipeline
    * should register a given name, re-running this at deploy time
    * (registration DROPs and re-creates the EXTERNAL table over the
    * warehouse path: metadata only, the data is never touched, and
    * in-flight readers of the old definition keep their resolved file
    * listing). REFRESH: after each daily load lands a new fecha
    * directory, run `spark.catalog.recoverPartitions(name)` — the
    * MSCK step of the daily cadence; until then the catalog
    * intentionally serves yesterday's partition list (metastore reads
    * never re-list storage — that is the point of the catalog path at
    * 100 TB x 365 partitions). Returns `name` for chaining. */
  def registerFechaTable(spark: SparkSession, dir: String,
      name: String): String = {
    prep(spark)
    registerFechaTableAt(spark, fechaWarehouse(spark, dir), name)
    name
  }

  /** Register `wh` (a fecha-partitioned parquet warehouse) as the
    * named EXTERNAL catalog table `name`. Factored from
    * [[fechaCatalogTable]] / [[registerFechaTable]] so the spec can
    * exercise the operational contract on a scratch warehouse (see
    * the public entry's scaladoc for the ownership + MSCK-refresh
    * contract). */
  private[graft] def registerFechaTableAt(
      spark: SparkSession, wh: String, name: String,
      explicitSchema: Option[StructType] = None): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS `$name`")
    // DDL derived from the warehouse's OWN parquet schema (no
    // hand-written column list to drift); partition column last,
    // declared in PARTITIONED BY — the catalog owns the partition
    // metadata from here on. A SCHEMA-EVOLVED table passes its schema
    // EXPLICITLY (q223): once partitions carry different vintages,
    // sampling one parquet footer is nondeterministic about the new
    // column — the catalog DDL is the authority, and files lacking a
    // declared column serve typed NULLs (the add-column evolution
    // contract).
    val s = explicitSchema.getOrElse(spark.read.parquet(wh).schema)
    val dataCols = s.fields.filter(_.name != "fecha").map(_.toDDL)
    val fechaCol = s("fecha").toDDL
    spark.sql(
      s"""CREATE TABLE `$name` (${(dataCols :+ fechaCol).mkString(", ")})
         |USING parquet PARTITIONED BY (fecha) LOCATION '$wh'""".stripMargin)
    // load the fecha=... directories into the catalog's partition
    // metadata (what MSCK REPAIR TABLE does)
    spark.catalog.recoverPartitions(name)
  }

  /** q209: q189's single-date BI read re-proven through the CATALOG
    * path — `spark.table(name)` with the hot predicate
    * (main.py:1535's `WHERE CAST(fecha AS DATE) = ?`).
    * IdempotentWriterSpec asserts the plan prunes to ONE catalog
    * partition; the oracle checks the values (same SQL as q189 — the
    * read surface changed, the answer must not). */
  def catalogPrunedRead(spark: SparkSession, dir: String): DataFrame = {
    dailyEventsAgg(spark.table(fechaCatalogTable(spark, dir)), "2024-01-05")
  }

  // ---------------------------------------------------------------
  // q223 schema evolution across a fecha boundary (round-12 ask #6)
  // ---------------------------------------------------------------

  private[graft] val EvolutionDay = "2024-01-05"

  /** The warehouse schema BEFORE and AFTER the evolution day: the new
    * fecha's arrival carries a `channel` column history never had.
    * The evolved target appends it LAST among the data columns — the
    * add-column discipline that keeps old files readable. */
  private[graft] val PreEvolutionTarget = StructType(Seq(
    StructField("fecha", DateType), StructField("event_id", LongType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType)))
  private[graft] val EvolvedTarget =
    StructType(PreEvolutionTarget.fields :+
      StructField("channel", StringType))

  /** q223 add-column evolution: history lands under the PRE-evolution
    * schema (its files genuinely lack `channel`, as 364 days of history
    * would); the evolution day arrives WITH `channel`, conformed to the
    * EVOLVED target; the SAME catalog name is re-registered with the
    * evolved schema — metadata only. History is never rewritten: the
    * parquet reader fills the missing column with NULL per file,
    * `conformTo`'s typed-NULL rule applied at read time (the only
    * shape that survives 100 TB × 365 days). IdempotentWriterSpec pins
    * the intermediate states. The BI read is one scan serving both
    * vintages. Per fecha: row count, distinct channels (0 for history
    * via NULL-fill, the arrival's 5 on the evolution day), value sum.
    * Oracle = the same derivation from raw events with the channel
    * rule restated. */
  def schemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val (_, name) = driftWarehouse(spark, dir, "evo",
      PreEvolutionTarget, EvolvedTarget, Map.empty, Some(EvolvedTarget))(
      _.withColumn("channel", concat(col("event_type"), lit("_ch"))))
    spark.table(name)
      .groupBy(col("fecha"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("channel")).as("n_channels"),
        round(sum(col("value")), 4).as("sum_value"))
      .orderBy("fecha")
  }

  val schemaEvolutionSql: String =
    """SELECT CAST(ts AS DATE) AS fecha, count(*) AS n,
      |  CAST(count(DISTINCT CASE WHEN CAST(ts AS DATE) = DATE '2024-01-05'
      |    THEN event_type || '_ch' END) AS BIGINT) AS n_channels,
      |  round(sum(value), 4) AS sum_value
      |FROM events GROUP BY 1 ORDER BY 1 NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------
  // q224-q226: the other three schema drifts a 365-day warehouse
  // actually sees (round-13 verdict, missing #4) — each pinned
  // end-to-end like q223: history on disk under the OLD shape, the
  // evolution day's arrival under the NEW shape, conform/catalog
  // absorbing the drift, one BI scan serving both vintages, and the
  // oracle restating the drift rule from raw events.
  // ---------------------------------------------------------------

  /** Shared scaffold for the drift cells q223–q226: history (every
    * fecha except [[EvolutionDay]]) conformed to `historyTarget` and
    * registered under a stable catalog name; the evolution day's slice
    * reshaped by `arrivalShape` (the drift as the SOURCE produces it),
    * conformed to `arrivalTarget` with `renames`, landed by dynamic
    * partition overwrite; optionally the SAME name re-registered with
    * `reRegisterSchema` (metadata only — q224's widening needs the
    * catalog DDL to be the authority, exactly like q223's add-column;
    * q225/q226 are ingest-side drifts and leave the catalog alone).
    * Built once per (application, dir) for each tag. */
  private val driftWarehouses =
    Seq("evo", "widen", "rename", "dropcol").map(t =>
      t -> new Scratch.Artifact[(String, String)](s"graft_${t}_wh")).toMap

  private[graft] def driftWarehouse(spark: SparkSession, dir: String,
      tag: String, historyTarget: StructType, arrivalTarget: StructType,
      renames: Map[String, String], reRegisterSchema: Option[StructType])(
      arrivalShape: DataFrame => DataFrame): (String, String) =
    driftWarehouses(tag)(spark, dir) { wh =>
      val name = dirTableName(s"graft_${tag}_wh", dir)
      val base = events(spark, dir).select(
        to_date(col("ts")).as("fecha"), col("event_id"),
        col("user_id"), col("event_type"), col("value"))
      val isDay = col("fecha") <=> lit(EvolutionDay).cast("date")
      IdempotentWriter.overwritePartitions(
        Conform.conformTo(historyTarget)(base.filter(!isDay)),
        wh, addLoadDate = false)
      registerFechaTableAt(spark, wh, name)
      IdempotentWriter.overwritePartitions(
        Conform.conformTo(arrivalTarget, renames)(
          arrivalShape(base.filter(isDay))),
        wh, addLoadDate = false)
      reRegisterSchema match {
        case Some(s) => registerFechaTableAt(spark, wh, name, Some(s))
        case None =>
          // the ingest-side drifts change no catalog metadata — the
          // new fecha still needs the daily MSCK step (the same
          // refresh contract registerFechaTable documents)
          spark.catalog.recoverPartitions(name)
      }
      (wh, name)
    }

  /** q224's before/after: `user_id` outgrows INT — history files
    * genuinely store 32-bit ints; the evolved target widens the KEY
    * COLUMN to LONG. */
  private[graft] val PreWidenTarget = StructType(Seq(
    StructField("fecha", DateType), StructField("event_id", LongType),
    StructField("user_id", IntegerType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))
  private[graft] val WidenedTarget = StructType(
    PreWidenTarget.fields.map(f =>
      if (f.name == "user_id") StructField("user_id", LongType) else f))

  /** q224 type widening (int → long on a key column): history lands
    * with `user_id` as INT32 parquet; the evolution day's ids exceed
    * the int range (the drift's actual trigger — shifted by 2^32, so
    * only a genuinely 64-bit pipeline can serve them), its file lands
    * under the widened schema, and the SAME catalog name is
    * re-registered with the widened DDL — metadata only. One scan
    * serves both vintages: Spark's parquet reader performs the
    * INT32 → INT64 widening promotion per file (probed on this Spark
    * line), so history is never rewritten — the add-column argument
    * of q223, applied to a type. Oracle restates the shift rule from
    * raw events. */
  def schemaWiden(spark: SparkSession, dir: String): DataFrame = {
    val (_, name) = driftWarehouse(spark, dir, "widen",
      PreWidenTarget, WidenedTarget, Map.empty, Some(WidenedTarget))(
      _.withColumn("user_id", col("user_id") + lit(4294967296L)))
    spark.table(name)
      .groupBy(col("fecha"))
      .agg(count(lit(1)).as("n"), max(col("user_id")).as("max_user"),
        round(sum(col("value")), 4).as("sum_value"))
      .orderBy("fecha")
  }

  val schemaWidenSql: String =
    """SELECT CAST(ts AS DATE) AS fecha, count(*) AS n,
      |  CAST(max(CASE WHEN CAST(ts AS DATE) = DATE '2024-01-05'
      |    THEN user_id + 4294967296 ELSE user_id END) AS BIGINT)
      |    AS max_user,
      |  round(sum(value), 4) AS sum_value
      |FROM events GROUP BY 1 ORDER BY 1 NULLS FIRST""".stripMargin

  /** q225 column rename arriving mid-history (the reference's own
    * `in` → `in_total` class, reference main.py:115/121): the SOURCE
    * renames `value` to `valor_total` on the evolution day; conform's
    * rename map folds it back to the stable warehouse name at ingest,
    * so the warehouse schema, the catalog binding, and every
    * downstream consumer are untouched. The oracle is the SAME
    * derivation for every day — which is exactly the discriminating
    * check: had the rename map been missed, conform's typed-NULL rule
    * would have nulled the evolution day's values and the sum would
    * mismatch loudly. */
  def schemaRename(spark: SparkSession, dir: String): DataFrame = {
    val (_, name) = driftWarehouse(spark, dir, "rename",
      PreEvolutionTarget, PreEvolutionTarget,
      Map("valor_total" -> "value"), None)(
      _.withColumnRenamed("value", "valor_total"))
    spark.table(name)
      .groupBy(col("fecha"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
      .orderBy("fecha")
  }

  val schemaRenameSql: String =
    """SELECT CAST(ts AS DATE) AS fecha, count(*) AS n,
      |  round(sum(value), 4) AS sum_value
      |FROM events GROUP BY 1 ORDER BY 1 NULLS FIRST""".stripMargin

  /** q226 drop-column: the SOURCE stops shipping `value` on the
    * evolution day (a CRM export dropping a field — SURVEY §5's
    * silent-NULL hazard). The warehouse target keeps the column:
    * conform fills it as a typed NULL and the drift REPORT names the
    * deviation (`added_null` — IdempotentWriterSpec pins it), history
    * keeps its real values, and the BI scan serves both vintages with
    * the NULL-vs-value split visible per fecha. Oracle restates the drop
    * rule from raw events. */
  def schemaDropColumn(spark: SparkSession, dir: String): DataFrame = {
    val (_, name) = driftWarehouse(spark, dir, "dropcol",
      PreEvolutionTarget, PreEvolutionTarget, Map.empty, None)(
      _.drop("value"))
    spark.table(name)
      .groupBy(col("fecha"))
      .agg(count(lit(1)).as("n"), count(col("value")).as("n_value"),
        round(sum(col("value")), 4).as("sum_value"))
      .orderBy("fecha")
  }

  val schemaDropColumnSql: String =
    """SELECT fecha, count(*) AS n,
      |  CAST(count(v) AS BIGINT) AS n_value, round(sum(v), 4) AS sum_value
      |FROM (SELECT CAST(ts AS DATE) AS fecha,
      |        CASE WHEN CAST(ts AS DATE) = DATE '2024-01-05' THEN NULL
      |             ELSE value END AS v
      |      FROM events)
      |GROUP BY 1 ORDER BY 1 NULLS FIRST""".stripMargin

  /** S1+S4+P*+X*+F2 full micro-pipeline: a latin-1, `;`-separated CSV
    * with accented/messy headers → probe → conform → coerce → drop
    * null keys. The oracle pins the exact expected rows (VALUES). */
  def csvPipeline(spark: SparkSession, dir: String): DataFrame = {
    val csv =
      "ID;Campaña;% In;Tiempo Medio De Respuesta In;Fecha\n" +
        "1;Ventas;95.5;00:02:30;15/01/2024\n" +
        "2;Café;-;1:30;16/01/2024\n" +
        ";Soporte;x;90;17/01/2024\n" +
        "3;Niño;88;;18/01/2024\n"
    // Fixed-name fixture, overwritten per run.
    val f = java.nio.file.Paths.get(
      writeFixture("graft_conducta_raw.csv", csv, "ISO-8859-1"))
    val target = StructType(Seq(
      StructField("id", IntegerType),
      StructField("campana", StringType),
      StructField("pct_in", DoubleType),
      StructField("tiempo_medio_respuesta_in", StringType),
      StructField("fecha", StringType)))
    val raw = CsvProbe.read(spark, f.toString)
    Conform.conformTo(target,
        graft.conform.Schemas.ConductaRenames)(raw)
      .select(col("id"), col("campana"),
        Coerce.lenientDouble(col("pct_in")).as("pct_in"),
        Coerce.timeToMinutes(col("tiempo_medio_respuesta_in"))
          .as("tiempo_medio_respuesta_in"),
        Coerce.parseDateDayFirst(col("fecha")).as("fecha"))
      .na.drop("any", Seq("id", "fecha"))
      .orderBy("id")
  }

  val csvPipelineSql: String =
    """SELECT * FROM (VALUES
      |  (CAST(1 AS INTEGER), 'Ventas', CAST(95.5 AS DOUBLE),
      |   CAST(2.5 AS DOUBLE), DATE '2024-01-15'),
      |  (CAST(2 AS INTEGER), 'Café', CAST(0.0 AS DOUBLE),
      |   CAST(90.0 AS DOUBLE), DATE '2024-01-16'),
      |  (CAST(3 AS INTEGER), 'Niño', CAST(88.0 AS DOUBLE),
      |   CAST(0.0 AS DOUBLE), DATE '2024-01-18'))
      |  t(id, campana, pct_in, tiempo_medio_respuesta_in, fecha)
      |ORDER BY id""".stripMargin

  // ---------------------------------------------------------------
  // q208 schema-drift report (conformance made LOUD — SURVEY §5)
  // ---------------------------------------------------------------

  /** q208: the schema-drift report for one arrival — the explicit
    * version of the reference's silent conformance (main.py:1228-1233
    * null-fills missing columns and drops unknown ones without a
    * trace; SURVEY §5's deviation policy says make it visible). The
    * fixture is a CRM export after a UI change: a NOVEL column
    * (`Puntaje Extra`) the target never asked for, two renamed-by-map
    * columns (`In`, `Tiempo Medio De Respuesta In`), and most of the
    * conducta target absent. The report names every deviation —
    * added_null / dropped / retyped — so the UI change surfaces as
    * rows in a run report instead of a month of silent NULLs.
    *
    * Pure schema metadata ([[graft.conform.Conform.driftRows]]): no
    * data scan, bounded by column count; the matching logic is the
    * SAME normalize→rename→first-match rule `conformTo` applies, so
    * report and conformance cannot disagree (spec-pinned). */
  def schemaDrift(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val csv =
      "ID;Campaña;In;% In;Fecha;Puntaje Extra;Tiempo Medio De Respuesta In\n" +
        "101;Ventas;25;95.5;15/01/2024;7;00:02:30\n" +
        "102;Café;3;12.5;16/01/2024;9;0:45\n"
    val path = writeFixture("graft_drift.csv", csv, "ISO-8859-1")
    val src = CsvProbe.read(spark, path)
    Conform.driftRows(graft.conform.Schemas.Conducta,
      graft.conform.Schemas.ConductaRenames)(src.schema)
      .toDF()
      .orderBy("disposition", "column")
  }

  val schemaDriftSql: String =
    """SELECT * FROM (VALUES
      |  ('agente', 'added_null', NULL, NULL, 'STRING'),
      |  ('in_atendidas', 'added_null', NULL, NULL, 'INT'),
      |  ('in_rechazadas_ignoradas', 'added_null', NULL, NULL, 'INT'),
      |  ('llamados_con_hold', 'added_null', NULL, NULL, 'INT'),
      |  ('out_atendidas', 'added_null', NULL, NULL, 'INT'),
      |  ('out_dialing', 'added_null', NULL, NULL, 'INT'),
      |  ('out_rechazadas_ignoradas', 'added_null', NULL, NULL, 'INT'),
      |  ('out_total', 'added_null', NULL, NULL, 'INT'),
      |  ('pct_in_atendidas', 'added_null', NULL, NULL, 'DOUBLE'),
      |  ('pct_in_rechazadas_ignoradas', 'added_null', NULL, NULL, 'DOUBLE'),
      |  ('pct_llamados_con_hold', 'added_null', NULL, NULL, 'DOUBLE'),
      |  ('pct_out', 'added_null', NULL, NULL, 'DOUBLE'),
      |  ('pct_out_atendidas', 'added_null', NULL, NULL, 'DOUBLE'),
      |  ('pct_out_dialing', 'added_null', NULL, NULL, 'DOUBLE'),
      |  ('pct_out_rechazadas_ignoradas', 'added_null', NULL, NULL, 'DOUBLE'),
      |  ('tiempo_medio_respuesta_out', 'added_null', NULL, NULL, 'DOUBLE'),
      |  ('puntaje_extra', 'dropped', 'Puntaje Extra', 'STRING', NULL),
      |  ('fecha', 'retyped', 'Fecha', 'STRING', 'DATE'),
      |  ('id', 'retyped', 'ID', 'STRING', 'INT'),
      |  ('in_total', 'retyped', 'In', 'STRING', 'INT'),
      |  ('pct_in', 'retyped', '% In', 'STRING', 'DOUBLE'),
      |  ('tiempo_medio_respuesta_in', 'retyped',
      |   'Tiempo Medio De Respuesta In', 'STRING', 'DOUBLE'))
      |  t("column", disposition, source_column, source_type, target_type)
      |ORDER BY disposition, "column"""".stripMargin

  // ---------------------------------------------------------------
  // q37/q38 full-width golden pipelines (reference main.py:1207-1308
  // end-to-end, every target column exercised)
  // ---------------------------------------------------------------

  private def writeFixture(name: String, content: String, cs: String): String = {
    val f = Scratch.path(name)
    Files.write(java.nio.file.Paths.get(f), content.getBytes(Charset.forName(cs)))
    f
  }

  /** Full 22-column Conducta chain: latin-1 `;` CSV with the CRM's
    * real dirty headers (accents, `%`, reserved words, two columns
    * missing entirely) → probe → conform → coerce → drop-bad-fecha →
    * idempotent partitioned write → read back. The oracle pins every
    * one of the 66 output cells. */
  /** The golden conducta arrival fixture (shared by q37 and the q101
    * audited run): the CRM's real dirty headers (accents, `%`,
    * reserved words, two columns missing entirely), 5 raw rows of
    * which exactly 3 survive the transform. */
  private val conductaCsvFixture: String =
    "Agente;Fecha;ID;Campaña;In;% In;In Rechazadas / Ignoradas;% In Rechazadas / Ignoradas;" +
      "In Atendidas;% In Atendidas;Out;% Out;Out Rechazadas / Ignoradas;% Out Rechazadas / Ignoradas;" +
      "Out Atendidas;% Out Atendidas;Out Dialing;% Out Dialing;" +
      "Tiempo Medio De Respuesta In;Tiempo Medio De Respuesta Out\n" +
      "Juan Pérez;15/01/2024;101;Ventas;25;95.5;2;7.7;23;92.0;10;40.0;1;10.0;9;90.0;5;50.0;00:02:30;0:45\n" +
      "María García;16/01/2024;102;Café;-;;x;5;7;28.5;8;junk;;-;3;37.5;0;0;90;-\n" +
      ";;;;;;;;;;;;;;;;;;;\n" + // all-null row -> F1 dropna(how='all')
      "Fantasma;not-a-date;103;X;1;1;1;1;1;1;1;1;1;1;1;1;1;1;1:00;1:00\n" +
      "Ñandú Ops;5/2/2024;007;Niño;0;0;0;0;0;0;0;0;0;0;0;0;0;0;1:02:30;10:30\n"

  def conductaPipeline(spark: SparkSession, dir: String): DataFrame = {
    val path =
      writeFixture("graft_conducta_full.csv", conductaCsvFixture, "ISO-8859-1")
    val transformed = graft.conform.Pipeline.conducta(CsvProbe.read(spark, path))
    val out = Scratch.path("graft_conducta_tbl")
    Scratch.delete(spark, out) // see idempotentLoad: no stale partitions
    IdempotentWriter.overwritePartitions(transformed, out)
    spark.read.parquet(out)
      .select(graft.conform.Schemas.Conducta.fieldNames.map(col).toIndexedSeq: _*)
      .orderBy("id")
  }

  val conductaPipelineSql: String =
    """SELECT * FROM (VALUES
      |  ('Juan Pérez', DATE '2024-01-15', CAST(101 AS INTEGER), 'Ventas',
      |   CAST(25 AS INTEGER), CAST(95.5 AS DOUBLE), CAST(2 AS INTEGER),
      |   CAST(7.7 AS DOUBLE), CAST(23 AS INTEGER), CAST(92.0 AS DOUBLE),
      |   CAST(10 AS INTEGER), CAST(40.0 AS DOUBLE), CAST(1 AS INTEGER),
      |   CAST(10.0 AS DOUBLE), CAST(9 AS INTEGER), CAST(90.0 AS DOUBLE),
      |   CAST(5 AS INTEGER), CAST(50.0 AS DOUBLE), CAST(0 AS INTEGER),
      |   CAST(0.0 AS DOUBLE), CAST(2.5 AS DOUBLE), CAST(45.0 AS DOUBLE)),
      |  ('María García', DATE '2024-01-16', 102, 'Café',
      |   0, 0.0, 0, 5.0, 7, 28.5, 8, 0.0, 0, 0.0, 3, 37.5, 0, 0.0,
      |   0, 0.0, 90.0, 0.0),
      |  ('Ñandú Ops', DATE '2024-02-05', 7, 'Niño',
      |   0, 0.0, 0, 0.0, 0, 0.0, 0, 0.0, 0, 0.0, 0, 0.0, 0, 0.0,
      |   0, 0.0, 62.5, 630.0))
      |  t(agente, fecha, id, campana, in_total, pct_in,
      |    in_rechazadas_ignoradas, pct_in_rechazadas_ignoradas,
      |    in_atendidas, pct_in_atendidas, out_total, pct_out,
      |    out_rechazadas_ignoradas, pct_out_rechazadas_ignoradas,
      |    out_atendidas, pct_out_atendidas, out_dialing, pct_out_dialing,
      |    llamados_con_hold, pct_llamados_con_hold,
      |    tiempo_medio_respuesta_in, tiempo_medio_respuesta_out)
      |ORDER BY id""".stripMargin

  /** Full 32-column Estados chain: UTF-8 CSV, all 13 `t_*` duration
    * columns + 12 of 13 `t_diario_*` (one missing → null-filled → 0.0),
    * including `0:90`/`1:30:90` overflow pieces the reference's int()
    * arithmetic accepts verbatim. Transform-only (the write half is
    * q37's). */
  /** The golden estados arrival fixture (shared by q38 and the q162
    * composed daily run): 3 raw rows of which exactly 2 survive the
    * transform (the Ghost row's 31/02 fecha rejects). */
  private val estadosCsvFixture: String = {
    val header =
      "Fecha;Intervalo;ID;Agente;ID Campaña;Campaña;" +
        "T Login;T Login Neto;T Available;T Preview;T Dialing;T Ringing;T Talking;" +
        "T Talking In;T Talking Out;T Hold;T ACW;T Other CRM;T Pause;" +
        "T Diario Login;T Diario Login Neto;T Diario Available;T Diario Preview;" +
        "T Diario Dialing;T Diario Ringing;T Diario Talking;T Diario Talking In;" +
        "T Diario Talking Out;T Diario Hold;T Diario ACW;T Diario Other CRM"
    header + "\n" +
      "15/01/2024;09:00 - 09:30;201;Ana López;11;Ventas;" +
      "08:00:00;07:45:00;3:30;0:15;0:10;0:05;02:20:30;1:10;01:10:30;0:08;0:30;0:12;0:45;" +
      "480;465;210;15;10;5;140.5;70;70.5;8;30;12\n" +
      "16/01/2024;10:00 - 10:30;202;Luis Muñoz;x;Café;" +
      "-;;garbage;1:xx;1:2:3:4;0:00;45.5; ;2:30;0;nan;None;0:30;" +
      "1:00;-;x;0:xx;60;;nan;None;2:00:00;7.5;0:90;1:30:90\n" +
      "31/02/2024;bad;203;Ghost;1;X;0;0;0;0;0;0;0;0;0;0;0;0;0;0;0;0;0;0;0;0;0;0;0;0;0\n"
  }

  def estadosPipeline(spark: SparkSession, dir: String): DataFrame = {
    val path = writeFixture("graft_estados_full.csv", estadosCsvFixture, "UTF-8")
    graft.conform.Pipeline.estados(CsvProbe.read(spark, path)).orderBy("id")
  }

  val estadosPipelineSql: String =
    """SELECT * FROM (VALUES
      |  (DATE '2024-01-15', '09:00 - 09:30', CAST(201 AS INTEGER),
      |   'Ana López', CAST(11 AS INTEGER), 'Ventas',
      |   CAST(480.0 AS DOUBLE), CAST(465.0 AS DOUBLE), CAST(210.0 AS DOUBLE),
      |   CAST(15.0 AS DOUBLE), CAST(10.0 AS DOUBLE), CAST(5.0 AS DOUBLE),
      |   CAST(140.5 AS DOUBLE), CAST(70.0 AS DOUBLE), CAST(70.5 AS DOUBLE),
      |   CAST(8.0 AS DOUBLE), CAST(30.0 AS DOUBLE), CAST(12.0 AS DOUBLE),
      |   CAST(45.0 AS DOUBLE),
      |   CAST(480.0 AS DOUBLE), CAST(465.0 AS DOUBLE), CAST(210.0 AS DOUBLE),
      |   CAST(15.0 AS DOUBLE), CAST(10.0 AS DOUBLE), CAST(5.0 AS DOUBLE),
      |   CAST(140.5 AS DOUBLE), CAST(70.0 AS DOUBLE), CAST(70.5 AS DOUBLE),
      |   CAST(8.0 AS DOUBLE), CAST(30.0 AS DOUBLE), CAST(12.0 AS DOUBLE),
      |   CAST(0.0 AS DOUBLE)),
      |  (DATE '2024-01-16', '10:00 - 10:30', 202, 'Luis Muñoz', 0, 'Café',
      |   0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 45.5, 0.0, 150.0, 0.0, 0.0, 0.0, 30.0,
      |   60.0, 0.0, 0.0, 0.0, 60.0, 0.0, 0.0, 0.0, 120.0, 7.5, 90.0, 91.5,
      |   0.0))
      |  t(fecha, intervalo, id, agente, id_campana, campana,
      |    t_login, t_login_neto, t_available, t_preview, t_dialing,
      |    t_ringing, t_talking, t_talking_in, t_talking_out, t_hold,
      |    t_acw, t_other_crm, t_pause,
      |    t_diario_login, t_diario_login_neto, t_diario_available,
      |    t_diario_preview, t_diario_dialing, t_diario_ringing,
      |    t_diario_talking, t_diario_talking_in, t_diario_talking_out,
      |    t_diario_hold, t_diario_acw, t_diario_other_crm, t_diario_pause)
      |ORDER BY id""".stripMargin

  /** S5/S6/S7 via JDBC (reference main.py:1375-1632): DDL-ensure into
    * embedded Derby, then the conducta output loaded with per-date
    * DELETE+batched-INSERT — one date loaded TWICE (the daily re-run);
    * read back through spark.read.jdbc. Same oracle as q37: if the
    * re-run doubled rows or the sink mangled a value, the hash breaks. */
  /** The embedded-Derby location: Derby allows ONE process per
    * database directory, and the per-JVM scratch root gives each
    * process its own, shared by q42/q170 within the JVM. */
  private def derbyUrl: String =
    "jdbc:derby:" + Scratch.path("graft_derby") + ";create=true"

  def jdbcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val url = derbyUrl
    val table = "tbl_neotel_conducta"
    val ddl = graft.conform.Schemas.Conducta.fields.map { f =>
      val t = f.dataType match {
        case org.apache.spark.sql.types.IntegerType => "INT"
        case org.apache.spark.sql.types.DoubleType  => "DOUBLE"
        case org.apache.spark.sql.types.DateType    => "DATE"
        case _                                      => "VARCHAR(200)"
      }
      s"${f.name} $t"
    }.mkString(", ")
    JdbcSink.ensureTable(url, table, ddl)
    val out = conductaPipeline(spark, dir) // 3 rows, 3 dates
    val allowed = Set("tbl_neotel_conducta", "tbl_neotel_estados_operativos")
    val fechas = out.select(col("fecha")).distinct().collect()
      .map(_.getDate(0).toString).sorted
    for (f <- fechas)
      JdbcSink.loadIdempotent(
        out.filter(col("fecha") === lit(f)), url, table, f, allowed)
    // daily re-run of the first date: must replace, not append
    JdbcSink.loadIdempotent(
      out.filter(col("fecha") === lit(fechas.head)), url, table,
      fechas.head, allowed)
    spark.read.format("jdbc")
      .option("url", url).option("dbtable", table).load()
      .select(graft.conform.Schemas.Conducta.fieldNames.map(col).toIndexedSeq: _*)
      .orderBy("id")
  }

  /** q170: the BI-tool READ path over the loaded warehouse table
    * (reference README.md:113 — the tables exist so Power BI /
    * Metabase can query them): a predicate-filtered read back through
    * the JDBC SOURCE, where the filter must reach the database as SQL
    * (`PushedFilters` on the JDBC scan — JdbcSinkSpec asserts it for
    * this read shape) instead of materializing the table into Spark and
    * filtering there. At warehouse scale that difference is the whole
    * query: the database serves an indexed slice; an unpushed filter
    * ships every row over JDBC first.
    *
    * Self-contained: ensures + idempotently loads the same conducta
    * rows q42 loads (same per-date delete+insert, so running q42 and
    * q170 in any order converges to identical table contents), then
    * reads back `fecha >= 2024-01-16`. Oracle = the q37 value table
    * under the same predicate. */
  def jdbcPushdownRead(spark: SparkSession, dir: String): DataFrame = {
    val cutoff = "2024-01-16"
    jdbcFilteredConducta(spark, dir, cutoff)
      .orderBy("id")
  }

  /** The q170 read: load (idempotent) + JDBC-source read with the
    * date predicate. */
  private[queries] def jdbcFilteredConducta(spark: SparkSession,
      dir: String, cutoff: String): DataFrame = {
    val url = derbyUrl
    val table = "tbl_neotel_conducta"
    val ddl = graft.conform.Schemas.Conducta.fields.map { f =>
      val t = f.dataType match {
        case org.apache.spark.sql.types.IntegerType => "INT"
        case org.apache.spark.sql.types.DoubleType  => "DOUBLE"
        case org.apache.spark.sql.types.DateType    => "DATE"
        case _                                      => "VARCHAR(200)"
      }
      s"${f.name} $t"
    }.mkString(", ")
    JdbcSink.ensureTable(url, table, ddl)
    val out = conductaPipeline(spark, dir)
    val allowed = Set("tbl_neotel_conducta", "tbl_neotel_estados_operativos")
    val fechas = out.select(col("fecha")).distinct().collect()
      .map(_.getDate(0).toString).sorted
    for (f <- fechas)
      JdbcSink.loadIdempotent(
        out.filter(col("fecha") === lit(f)), url, table, f, allowed)
    spark.read.format("jdbc")
      .option("url", url).option("dbtable", table).load()
      .filter(col("fecha") >= lit(java.sql.Date.valueOf(cutoff)))
      .select(graft.conform.Schemas.Conducta.fieldNames.map(col).toIndexedSeq: _*)
  }

  /** The reference's CANONICAL layer-B query (SURVEY §2.4/§2.5): the
    * loaded tables share (id, fecha) keys, and every `t_diario_*`
    * column is BY CONSTRUCTION the day-grain rollup of the
    * interval-grain `t_*` (reference main.py:155-180). This query
    * reproduces that relationship from raw events — interval grain
    * (30-minute buckets per agent-day), day-grain rollup, then the
    * interval⋈daily join on (id, fecha) — and digests per date.
    * Shuffle shape: one shuffle to (id, fecha, window), the rollup
    * reuses the same key prefix, and the join co-partitions on
    * (id, fecha) — exactly the plan a BI layer runs at any scale. */
  def dailyRollupJoin(spark: SparkSession, dir: String): DataFrame = {
    val interval = events(spark, dir)
      .groupBy(col("user_id").as("id"), to_date(col("ts")).as("fecha"),
        window(col("ts"), "30 minutes").as("w"))
      .agg(sum("value").as("t_talking"), count(lit(1)).as("n_calls"))
    val daily = interval.groupBy(col("id"), col("fecha"))
      .agg(round(sum("t_talking"), 4).as("t_diario_talking"),
        sum("n_calls").as("in_total"))
    interval.join(daily, Seq("id", "fecha"))
      .groupBy(col("fecha"))
      .agg(countDistinct(col("id")).as("n_agents"),
        count(lit(1)).as("n_rows"),
        round(sum(col("t_talking")), 4).as("sum_t"),
        round(sum(col("t_diario_talking")), 4).as("sum_t_diario_weighted"))
      .orderBy("fecha")
  }

  val dailyRollupJoinSql: String =
    """WITH i AS (
      |  SELECT user_id AS id, CAST(ts AS DATE) AS fecha,
      |         time_bucket(INTERVAL '30 minutes', ts) AS w,
      |         sum(value) AS t_talking, count(*) AS n_calls
      |  FROM events GROUP BY 1, 2, 3),
      |d AS (
      |  SELECT id, fecha, round(sum(t_talking), 4) AS t_diario_talking,
      |         sum(n_calls) AS in_total
      |  FROM i GROUP BY 1, 2)
      |SELECT i.fecha, count(DISTINCT i.id) AS n_agents, count(*) AS n_rows,
      |  round(sum(i.t_talking), 4) AS sum_t,
      |  round(sum(d.t_diario_talking), 4) AS sum_t_diario_weighted
      |FROM i JOIN d ON i.id = d.id AND i.fecha = d.fecha
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q30's semantics through the NATIVE Catalyst expression
    * ([[graft.functions.TimeToMinutes]], codegen'd) and the SQL
    * surface — same synthesis, same oracle, so any divergence between
    * the native expression and the Column-combinator form (or between
    * generated and interpreted code paths) breaks the hash. */
  def timeToMinutesNativeQ(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    lineitem(spark, dir).createOrReplaceTempView("li_native")
    spark.sql(
      """SELECT CAST(l_orderkey % 13 AS INT) AS bucket,
        |  round(sum(time_to_minutes(
        |    CASE CAST(l_orderkey % 13 AS INT)
        |      WHEN 0 THEN '-'
        |      WHEN 1 THEN ''
        |      WHEN 2 THEN 'nan'
        |      WHEN 3 THEN 'None'
        |      WHEN 4 THEN 'garbage'
        |      WHEN 5 THEN CAST(l_linenumber AS STRING)
        |      WHEN 6 THEN concat(CAST(l_partkey % 10 AS STRING), ':',
        |                         lpad(CAST(l_suppkey % 60 AS STRING), 2, '0'))
        |      WHEN 7 THEN concat(CAST(l_partkey % 10 AS STRING), ':',
        |                         lpad(CAST(l_suppkey % 60 AS STRING), 2, '0'), ':',
        |                         lpad(CAST(l_orderkey % 60 AS STRING), 2, '0'))
        |      WHEN 8 THEN '1:xx'
        |      WHEN 9 THEN '1:2:3:4'
        |      WHEN 10 THEN '1d'
        |      WHEN 11 THEN 'inf'
        |      ELSE '  7.5  '
        |    END)), 4) AS sum_min,
        |  count(*) AS n
        |FROM li_native GROUP BY 1 ORDER BY 1""".stripMargin)
  }

  // ---------------------------------------------------------------
  // q75 S4 filename routing / q76 F3 empty-write guard / q77 X7 dates
  // ---------------------------------------------------------------

  /** S4 file-type routing as a DISTRIBUTED expression: filenames are
    * synthesized from the nation table, routed with
    * [[CsvProbe.routeCol]] (same substring rule as the driver-side
    * router, parity-asserted in CsvProbeSpec), digested per route. */
  def routeByNameQ(spark: SparkSession, dir: String): DataFrame = {
    nation(spark, dir)
      .withColumn("file_name", concat(lower(col("n_name")),
        when(col("n_nationkey") % 4 === 0, "_conducta_diaria.csv")
          .when(col("n_nationkey") % 4 === 1, "_estados_agentes.csv")
          .when(col("n_nationkey") % 4 === 2, "_operativo_v2.csv")
          .otherwise("_resumen_mensual.csv")))
      .withColumn("route",
        coalesce(CsvProbe.routeCol(col("file_name")), lit("sin_ruta")))
      .groupBy(col("route"))
      .agg(count(lit(1)).as("n"),
        min(col("file_name")).as("min_file"),
        max(col("file_name")).as("max_file"))
      .orderBy("route")
  }

  val routeByNameSql: String =
    """WITH f AS (
      |  SELECT lower(n_name) ||
      |    CASE n_nationkey % 4
      |      WHEN 0 THEN '_conducta_diaria.csv'
      |      WHEN 1 THEN '_estados_agentes.csv'
      |      WHEN 2 THEN '_operativo_v2.csv'
      |      ELSE '_resumen_mensual.csv' END AS file_name
      |  FROM nation),
      |r AS (
      |  SELECT file_name,
      |    CASE WHEN file_name LIKE '%conducta%' THEN 'conducta'
      |         WHEN file_name LIKE '%estados%' OR file_name LIKE '%operativo%'
      |           THEN 'estados_operativos'
      |         ELSE 'sin_ruta' END AS route
      |  FROM f)
      |SELECT route, count(*) AS n, min(file_name) AS min_file,
      |  max(file_name) AS max_file
      |FROM r GROUP BY 1 ORDER BY 1""".stripMargin

  /** F3 empty-input guard driver-checked end to end: seed a
    * date-partitioned table, then run the idempotent writer on an
    * EMPTY frame — the table must be untouched. The digest reads the
    * table back; the oracle states the seed. */
  def emptyWriteGuard(spark: SparkSession, dir: String): DataFrame = {
    val path = Scratch.perCall("graft_f3").toString + "/t"
    val seed = orders(spark, dir)
      .filter(col("o_orderkey") < 100)
      .select(col("o_orderkey"), col("o_orderdate").cast("date").as("fecha"))
    IdempotentWriter.overwritePartitions(seed, path, addLoadDate = false)
    IdempotentWriter.overwritePartitions(
      seed.filter(lit(false)), path, addLoadDate = false)
    spark.read.parquet(path)
      .agg(count(lit(1)).as("n"),
        sum(col("o_orderkey")).as("sum_keys"),
        countDistinct(col("fecha")).as("n_dates"))
  }

  val emptyWriteGuardSql: String =
    """SELECT count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS sum_keys,
      |  count(DISTINCT CAST(o_orderdate AS DATE)) AS n_dates
      |FROM orders WHERE o_orderkey < 100""".stripMargin

  /** X7 date helpers, driver-checked: DD/MM/YYYY round-trip over the
    * orders dates (Spark's non-lenient parser rejects impossible
    * dates, like java.time STRICT), plus the driver-side helpers as
    * literals whose expected values the oracle states independently:
    * clamped 31/02 is rejected, a valid date converts to ISO, and
    * `yesterday` of a fixed anchor date. */
  def dateHelpersQ(spark: SparkSession, dir: String): DataFrame = {
    orders(spark, dir)
      .select(col("o_orderdate").cast("date").as("d"))
      .withColumn("ddmm", date_format(col("d"), "dd/MM/yyyy"))
      .withColumn("back", to_date(col("ddmm"), "dd/MM/yyyy"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("back") === col("d"), 1).otherwise(0)).as("n_roundtrip"),
        min(col("ddmm")).as("min_ddmm"),
        max(col("ddmm")).as("max_ddmm"))
      .withColumn("clamped_rejected",
        lit(graft.norm.Dates.dayFirstToIso("31/02/2024").isEmpty))
      .withColumn("iso_of_15_03_2024",
        lit(graft.norm.Dates.dayFirstToIso("15/03/2024").orNull))
      .withColumn("yesterday_of_2024_03_15",
        lit(graft.norm.Dates.yesterday(java.time.LocalDate.of(2024, 3, 15))))
  }

  val dateHelpersSql: String =
    """SELECT count(*) AS n, count(*) AS n_roundtrip,
      |  min(strftime(CAST(o_orderdate AS DATE), '%d/%m/%Y')) AS min_ddmm,
      |  max(strftime(CAST(o_orderdate AS DATE), '%d/%m/%Y')) AS max_ddmm,
      |  TRUE AS clamped_rejected,
      |  '2024-03-15' AS iso_of_15_03_2024,
      |  '14/03/2024' AS yesterday_of_2024_03_15
      |FROM orders""".stripMargin

  /** S2 xlsx fallback read, driver-checked end to end: the nation
    * table — extended with a numeric and a date column — is written
    * out as a TYPED spreadsheet (numeric cells, date-styled serial
    * cells) and read back through [[graft.io.XlsxRead.readTyped]]
    * (JDK-only zip+XML — the pd.read_excel fallback, reference
    * main.py:1345-1346, which returns typed numeric/date cells). The
    * typed columns round-trip with NO string detour: the reader must
    * recover LONG/DOUBLE from numeric cells and TIMESTAMP from
    * date-format cells via the styles part, exactly like openpyxl.
    * The oracle states the rows directly, so any codec, styles, or
    * serial-date defect breaks the hash. */
  def xlsxRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val src = nation(spark, dir)
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      .orderBy("n_nationkey").collect()
      .map { r =>
        val k = r.get(0).toString.toLong
        Seq[Any](k, r.get(1).toString, r.get(2).toString.toLong,
          k + 0.25,
          java.sql.Timestamp.from(java.time.LocalDate.of(2024, 1, 1)
            .plusDays(k).atStartOfDay(java.time.ZoneOffset.UTC).toInstant))
      }
    val path = Scratch.perCall("graft_xlsx")
      .resolve("nation.xlsx").toString
    graft.io.XlsxRead.writeMinimal(path,
      Seq(Seq[Any]("ID", "Nombre País", "Región", "Valor", "Fecha")) ++ src)
    graft.io.XlsxRead.readTyped(spark, path)
      .select(col("ID").as("id"), col("Nombre País").as("nombre_pais"),
        col("Región").as("region"), col("Valor").as("valor"),
        col("Fecha").as("fecha"))
      .orderBy("id")
  }

  val xlsxRoundtripSql: String =
    """SELECT CAST(n_nationkey AS BIGINT) AS id, n_name AS nombre_pais,
      |  CAST(n_regionkey AS BIGINT) AS region,
      |  CAST(n_nationkey AS DOUBLE) + 0.25 AS valor,
      |  CAST(DATE '2024-01-01' + CAST(n_nationkey AS INTEGER) AS TIMESTAMP)
      |    AS fecha
      |FROM nation ORDER BY 1""".stripMargin

  /** S1→S2 dispatch, driver-checked: the SAME nation rows arrive
    * twice — once as a real xlsx workbook, once as CSV text
    * mis-labeled `.xlsx` — and BOTH enter through the unified
    * [[graft.io.ArrivalRead]] read. The binary drop must route to the
    * spreadsheet reader; the mis-labeled text drop must still parse
    * as CSV (reference main.py:1334-1349: CSV is always attempted
    * first, Excel only when the bytes cannot be CSV). Both flows then
    * share the same conformance chain, and the oracle states every
    * row twice, tagged by the branch that must have produced it. */
  def readFallbackQ(spark: SparkSession, dir: String): DataFrame = {
    val src = nation(spark, dir)
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      .orderBy("n_nationkey").collect()
    val tmp = Scratch.perCall("graft_arrival")
    val xlsxPath = tmp.resolve("reporte_nation.xlsx").toString
    // TYPED cells (numbers, a real date) — the xlsx arm must surface
    // them typed pre-conform (ArrivalRead routes through readTyped)
    graft.io.XlsxRead.writeMinimal(xlsxPath,
      Seq(Seq("ID", "Nombre País", "Región", "Alta")) ++ src.map { r =>
        val id = r.getAs[Number](0).longValue()
        Seq(id.toDouble, r.getString(1),
          r.getAs[Number](2).doubleValue(),
          java.time.LocalDate.of(2024, 1, 1).plusDays(id))
      })
    val csvPath = tmp.resolve("nation_texto.xlsx")
    Files.writeString(csvPath,
      (Seq("ID;Nombre País;Región;Alta") ++ src.map { r =>
        val id = r.getAs[Number](0).longValue()
        Seq(id.toString, r.getString(1),
          r.getAs[Number](2).longValue().toString,
          java.time.LocalDate.of(2024, 1, 1).plusDays(id).toString)
          .mkString(";")
      }).mkString("\n"))
    val target = StructType(Seq(
      StructField("id", IntegerType),
      StructField("nombre_pais", StringType),
      StructField("region", IntegerType),
      StructField("alta", DateType)))
    val rawXlsx = graft.io.ArrivalRead.read(spark, xlsxPath)
    // S2's typed guarantee, checked BEFORE conform: numeric and date
    // columns arrive typed from the spreadsheet (pd.read_excel parity)
    // — conform's casts must be no-ops for them, not coercions.
    require(rawXlsx.schema("ID").dataType == LongType,
      s"xlsx numeric column must arrive typed, got ${rawXlsx.schema("ID")}")
    require(rawXlsx.schema("Alta").dataType == TimestampType,
      s"xlsx date column must arrive typed, got ${rawXlsx.schema("Alta")}")
    val viaXlsx = Conform.conformTo(target)(rawXlsx)
      .withColumn("via", lit("xlsx"))
    val viaCsv = Conform.conformTo(target)(
      graft.io.ArrivalRead.read(spark, csvPath.toString))
      .withColumn("via", lit("csv"))
    viaXlsx.unionByName(viaCsv).orderBy("via", "id")
  }

  val readFallbackSql: String =
    """SELECT CAST(n_nationkey AS INTEGER) AS id, n_name AS nombre_pais,
      |  CAST(n_regionkey AS INTEGER) AS region,
      |  DATE '2024-01-01' + CAST(n_nationkey AS INTEGER) AS alta, v.via
      |FROM nation, (SELECT 'xlsx' AS via UNION ALL SELECT 'csv') v
      |ORDER BY via, id""".stripMargin

  /** R1+R3 run orchestration, driver-checked: three datasets load
    * under [[graft.io.Orchestrate.continueOnFailure]] — `pedidos`
    * fails TRANSIENTLY on its first attempt and succeeds on the R1
    * retry, `corrupto` is an unreadable drop that fails every attempt,
    * and `clientes` must still load AFTER the failure (the reference's
    * one-bad-report-never-kills-the-run loop, main.py:1154-1167). The
    * output is the per-dataset outcome table the reference logs; the
    * oracle states outcomes and loaded rowcounts independently. */
  def retryLoadQ(spark: SparkSession, dir: String): DataFrame = {
    val path = Scratch.perCall("graft_retry").toString
    val flaky = new java.util.concurrent.atomic.AtomicInteger(0)
    val datasets: Seq[(String, Option[DataFrame])] = Seq(
      "pedidos" -> Some(orders(spark, dir)
        .filter(col("o_orderkey") < 100).select("o_orderkey")),
      "corrupto" -> None,
      "clientes" -> Some(customer(spark, dir).select("c_custkey")))
    val policy = graft.io.Orchestrate.RetryPolicy(sleep = _ => ())
    val outcomes = graft.io.Orchestrate.continueOnFailure(datasets) {
      (name, dfOpt) =>
        graft.io.Orchestrate.retry(policy) {
          if (name == "pedidos" && flaky.incrementAndGet() == 1)
            throw new java.io.IOException("transient sink failure")
          val df = dfOpt.getOrElse(
            throw new IllegalArgumentException(s"unreadable drop: $name"))
          LocalFs.write(df).mode("overwrite").parquet(s"$path/$name")
          spark.read.parquet(s"$path/$name").count()
        }
    }
    import spark.implicits._
    outcomes.map(o => (o.name, o.ok, o.result.getOrElse(-1L)))
      .toDF("dataset", "ok", "n_rows")
      .orderBy("dataset")
  }

  val retryLoadSql: String =
    """SELECT * FROM (
      |  SELECT 'pedidos' AS dataset, TRUE AS ok,
      |    (SELECT count(*) FROM orders WHERE o_orderkey < 100) AS n_rows
      |  UNION ALL SELECT 'corrupto', FALSE, -1
      |  UNION ALL SELECT 'clientes', TRUE, (SELECT count(*) FROM customer)
      |) ORDER BY dataset""".stripMargin

  /** JSONL ingestion with corrupt-record quarantine
    * ([[graft.io.JsonlRead]]): a six-line crawl-shaped fixture — three
    * fully valid docs, one with missing fields (typed-null fill, NOT
    * corruption, the P3 semantics), one syntactically broken line and
    * one with a type-mismatched field (both quarantined with the raw
    * line preserved). The digest pins the clean/quarantined partition
    * and every clean value; JsonlReadSpec pins the same split so a
    * Spark parse-policy change is caught locally before the driver. */
  def jsonlQuarantine(spark: SparkSession, dir: String): DataFrame = {
    val jsonl = Seq(
      """{"doc_id":1,"text":"hello world","lang":"en","meta":{"src":"web","score":0.9}}""",
      """{"doc_id":2,"text":"hola mundo","lang":"es","meta":{"src":"book","score":0.75}}""",
      """{"doc_id":3,"lang":"fr","meta":{"src":"web"}}""",
      """this line is not json at all""",
      """{"doc_id":"seven","text":"bad key type","lang":"en","meta":{"src":"x","score":0.1}}""",
      """{"doc_id":6,"text":"tail doc","lang":"de","meta":null}"""
    ).mkString("\n")
    val f = writeFixture("graft_docs.jsonl", jsonl, "UTF-8")
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType),
      StructField("lang", StringType),
      StructField("meta", StructType(Seq(
        StructField("src", StringType),
        StructField("score", DoubleType))))))
    JsonlRead.read(spark, f, schema)
      .withColumn("bad", col(JsonlRead.CorruptCol).isNotNull)
      .agg(
        sum(when(!col("bad"), 1L).otherwise(0L)).as("n_clean"),
        sum(when(col("bad"), 1L).otherwise(0L)).as("n_quarantined"),
        sum(when(!col("bad"), col("doc_id"))).as("sum_ids"),
        round(sum(when(!col("bad"), col("meta.score"))), 4).as("sum_score"),
        array_join(array_sort(collect_list(when(!col("bad"), col("lang")))),
          ",").as("langs"))
  }

  val jsonlQuarantineSql: String =
    """SELECT CAST(4 AS BIGINT) AS n_clean, CAST(2 AS BIGINT) AS n_quarantined,
      |  CAST(12 AS BIGINT) AS sum_ids, CAST(1.65 AS DOUBLE) AS sum_score,
      |  'de,en,es,fr' AS langs""".stripMargin

  /** Small-files compaction ([[graft.io.Compact]]), driver-checked:
    * the documents table is written lang-partitioned as many small
    * round-robin files (the post-incremental-load state), compacted to
    * maxRecordsPerFile=200, and re-read. The digest pins that the data
    * survived byte-for-byte (count + id sum) and that the file count
    * landed exactly on the per-partition ceil(rows/200) formula.
    * (That compaction strictly REDUCES file counts is pinned by
    * CompactSpec on a controlled fixture — it is a property of the
    * input layout, not corpus-size-invariant, so it has no place in
    * a scale-parameterized oracle.) */
  def compactQ(spark: SparkSession, dir: String): DataFrame = {
    val scratch = Scratch.perCall("graft_compact")
      .resolve("docs").toString
    LocalFs.write(documents(spark, dir).repartition(8))
      .mode("overwrite").partitionBy("lang").parquet(scratch)
    val stats = graft.io.Compact.compact(spark, scratch, Seq("lang"), 200)
    spark.read.parquet(scratch)
      .agg(count(lit(1)).as("n_rows"),
        sum(col("doc_id")).as("sum_ids"))
      .withColumn("files_after", lit(stats.filesAfter))
  }

  val compactSql: String =
    """SELECT count(*) AS n_rows, CAST(sum(doc_id) AS BIGINT) AS sum_ids,
      |  (SELECT CAST(sum(CAST(ceil(cnt / 200.0) AS BIGINT)) AS BIGINT)
      |   FROM (SELECT count(*) AS cnt FROM documents GROUP BY lang))
      |    AS files_after
      |FROM documents""".stripMargin

  /** R2 run-audit, driver-checked end to end: the conducta golden
    * pipeline runs AUDITED — extract / transform / load each record a
    * structured (dataset, phase, rows in/out, duration, outcome) row
    * via [[graft.io.RunAudit]] (the reference's per-phase operational
    * log, main.py:1260/1307/1577, as a queryable table). The audit
    * trail lands in a parquet table and the query digests it; the
    * oracle pins the deterministic columns (row counts per phase,
    * outcomes) — 5 raw rows in, 3 conformed out, 3 loaded. */
  def runAuditQ(spark: SparkSession, dir: String): DataFrame = {
    val path =
      writeFixture("graft_conducta_audit.csv", conductaCsvFixture, "ISO-8859-1")
    val out = Scratch.path("graft_conducta_audit_tbl")
    val auditTbl = Scratch.path("graft_run_audit_tbl")
    Scratch.delete(spark, out)
    Scratch.delete(spark, auditTbl)
    val audit = new graft.io.RunAudit("q101")
    // each phase returns (result, its own recorded count) so the next
    // phase's rows_in reuses it — no count job runs twice
    val (raw, nRaw) = audit.phase[(DataFrame, Long)]("conducta", "extract") {
      val df = CsvProbe.read(spark, path)
      val n = df.count()
      ((df, n), n)
    }
    val (transformed, nTrans) =
      audit.phase[(DataFrame, Long)]("conducta", "transform", Some(nRaw)) {
        val t = graft.conform.Pipeline.conducta(raw)
        val n = t.count()
        ((t, n), n)
      }
    audit.phase[Unit]("conducta", "load", Some(nTrans)) {
      IdempotentWriter.overwritePartitions(transformed, out)
      ((), spark.read.parquet(out).count())
    }
    audit.write(spark, auditTbl)
    spark.read.parquet(auditTbl)
      .select(col("seq"), col("dataset"), col("phase"), col("rows_in"),
        col("rows_out"), col("outcome"))
      .orderBy("seq")
  }

  val runAuditSql: String =
    """SELECT * FROM (VALUES
      |  (CAST(1 AS INTEGER), 'conducta', 'extract', CAST(NULL AS BIGINT),
      |   CAST(5 AS BIGINT), 'ok'),
      |  (2, 'conducta', 'transform', 5, 3, 'ok'),
      |  (3, 'conducta', 'load', 3, 3, 'ok'))
      |  t(seq, dataset, phase, rows_in, rows_out, outcome)
      |ORDER BY seq""".stripMargin

  /** q162: the COMPOSED daily run — reference main.py:1639-1708
    * parity, every resilience operator exercised TOGETHER the way the
    * reference's `main()` wires them instead of one-per-query:
    *
    *   [[graft.io.Config]] (typed env, validated up front) →
    *   download-dir arrival scan → [[CsvProbe.routeByName]] (S4) →
    *   [[graft.io.ArrivalRead]] (S1/S2 read fallback) →
    *   [[graft.conform.Pipeline]] conducta/estados transforms →
    *   [[IdempotentWriter.overwritePartitions]] (S7 idempotent load),
    *   every phase audited by [[graft.io.RunAudit]] (R2) under
    *   [[graft.io.Orchestrate.continueOnFailure]] (R3).
    *
    * The day's drop contains two good reports and one mangled
    * download (binary garbage named like an operativo report — the
    * failure injection): its extract phase records outcome='error'
    * and the OTHER datasets still load (main.py:1154-1167 semantics).
    * After the loads, the run's tail MAINTAINS the downstream BI
    * rollup ([[WarehouseIvm.rollupIvmAppend]] — one pruned-slice
    * refresh, never a corpus re-aggregation), mirroring the
    * reference's load-then-serve cadence at the aggregate grain.
    * Output = the audit trail's deterministic columns plus a summary
    * row digesting the continue-on-failure outcome vector (2 ok /
    * 1 failed); the oracle pins every cell. */
  def dailyRunQ(spark: SparkSession, dir: String): DataFrame = {
    // R5: every location comes from typed config, validated up front
    // (injected env — the spec for process-env backing is ConfigSpec).
    // Fixed per-JVM paths: re-runs exercise the delete-and-replace
    // idempotence below.
    val cfg = new graft.io.Config(Map(
      "GRAFT_DOWNLOAD_DIR" -> Scratch.path("graft_daily_drop"),
      "GRAFT_TARGET_DIR" -> Scratch.path("graft_daily_tbl"),
      "GRAFT_AUDIT_DIR" -> Scratch.path("graft_daily_audit")))
    cfg.validateRequired("GRAFT_DOWNLOAD_DIR", "GRAFT_TARGET_DIR",
      "GRAFT_AUDIT_DIR")
    val drop = cfg.required("GRAFT_DOWNLOAD_DIR")
    val tgt = cfg.required("GRAFT_TARGET_DIR")
    val auditTbl = cfg.required("GRAFT_AUDIT_DIR")
    Seq(drop, tgt, auditTbl).foreach(Scratch.delete(spark, _))
    Files.createDirectories(java.nio.file.Paths.get(drop))
    // the day's arrivals: two good reports + one mangled download
    // (NUL bytes, no zip/BIFF magic → ArrivalRead's actionable error)
    Files.write(java.nio.file.Paths.get(drop, "tbl_conducta_diaria.csv"),
      conductaCsvFixture.getBytes(Charset.forName("ISO-8859-1")))
    Files.write(java.nio.file.Paths.get(drop, "tbl_estados_operativos.csv"),
      estadosCsvFixture.getBytes(Charset.forName("UTF-8")))
    Files.write(java.nio.file.Paths.get(drop, "zz_operativo_roto.csv"),
      Array[Byte](0x00, 0x13, 0x37, 0x00, 0x7f))
    val audit = new graft.io.RunAudit("q162")
    val arrivals = {
      val s = Files.list(java.nio.file.Paths.get(drop))
      try {
        val it = s.iterator()
        val buf = scala.collection.mutable.ArrayBuffer.empty[String]
        while (it.hasNext) buf += it.next().toString
        buf.toSeq.sorted
      } finally s.close()
    }
    val datasets = arrivals.flatMap { p =>
      val name = java.nio.file.Paths.get(p).getFileName.toString
      CsvProbe.routeByName(name).map(route => name -> ((route, p)))
    }
    val outcomes = graft.io.Orchestrate.continueOnFailure(datasets) {
      case (name, (route, path)) =>
        val (raw, nRaw) = audit.phase[(DataFrame, Long)](name, "extract") {
          val df = graft.io.ArrivalRead.read(spark, path)
          val n = df.count()
          ((df, n), n)
        }
        // the schema-drift report (q208's operator) as a per-dataset
        // run phase: a CRM UI change surfaces HERE, as audit rows on
        // the day it happens, instead of a month of silent NULLs
        // (SURVEY §5's deviation policy; rows_out = deviations found —
        // pure schema metadata, no job)
        audit.phase[Unit](name, "drift") {
          val (target, renames) = route match {
            case "conducta" => (graft.conform.Schemas.Conducta,
              graft.conform.Schemas.ConductaRenames)
            case _ => (graft.conform.Schemas.Estados,
              Map.empty[String, String])
          }
          ((), Conform.driftRows(target, renames)(raw.schema).size.toLong)
        }
        val (t, nT) =
          audit.phase[(DataFrame, Long)](name, "transform", Some(nRaw)) {
            val out = route match {
              case "conducta" => graft.conform.Pipeline.conducta(raw)
              case _          => graft.conform.Pipeline.estados(raw)
            }
            val n = out.count()
            ((out, n), n)
          }
        val dest = s"$tgt/$route"
        audit.phase[Unit](name, "load", Some(nT)) {
          IdempotentWriter.overwritePartitions(t, dest)
          ((), spark.read.parquet(dest).count())
        }
        audit.phase[Unit](name, "partitions") {
          ((), spark.read.parquet(dest).select(col("fecha")).distinct().count())
        }
    }
    // the daily cadence's tail (reference main.py:1581-1632 loads,
    // then BI serves): the downstream daily rollup is MAINTAINED, not
    // rebuilt — q218's incremental refresh as a run phase, rows_out =
    // the maintained rollup's size (one row per live (fecha, type)
    // grain, derived by the oracle from events itself)
    audit.phase[Unit]("__run__", "maintain_rollup") {
      ((), WarehouseIvm.rollupIvmAppend(spark, dir).count())
    }
    audit.write(spark, auditTbl)
    val trail = spark.read.parquet(auditTbl)
      .select(col("seq"), col("dataset"), col("phase"), col("rows_in"),
        col("rows_out"), col("outcome"))
    // the run verdict: continue-on-failure's outcome vector as one row
    val summary = spark.range(1).select(
      lit(100).as("seq"), lit("__run__").as("dataset"),
      lit("summary").as("phase"),
      lit(outcomes.count(_.ok).toLong).as("rows_in"),
      lit(outcomes.count(o => !o.ok).toLong).as("rows_out"),
      lit("ok").as("outcome"))
    trail.unionByName(summary).orderBy("seq")
  }

  /** Drift rows_out are PRINCIPLED, not observed: conducta's fixture
    * carries 20 of the 22 target columns (2 added_null: the
    * llamados_con_hold pair, absent from the CRM export) and every
    * matched non-string target retypes from the CSV's strings (20
    * matched − agente − campana = 18) → 20 deviations; estados
    * carries all 32 (0 added) and retypes the 29 non-string targets
    * (32 − intervalo − agente − campana) → 29. */
  val dailyRunSql: String =
    """SELECT * FROM (VALUES
      |  (CAST(1 AS INTEGER), 'tbl_conducta_diaria.csv', 'extract',
      |   CAST(NULL AS BIGINT), CAST(5 AS BIGINT), 'ok'),
      |  (2, 'tbl_conducta_diaria.csv', 'drift', NULL, 20, 'ok'),
      |  (3, 'tbl_conducta_diaria.csv', 'transform', 5, 3, 'ok'),
      |  (4, 'tbl_conducta_diaria.csv', 'load', 3, 3, 'ok'),
      |  (5, 'tbl_conducta_diaria.csv', 'partitions', NULL, 3, 'ok'),
      |  (6, 'tbl_estados_operativos.csv', 'extract', NULL, 3, 'ok'),
      |  (7, 'tbl_estados_operativos.csv', 'drift', NULL, 29, 'ok'),
      |  (8, 'tbl_estados_operativos.csv', 'transform', 3, 2, 'ok'),
      |  (9, 'tbl_estados_operativos.csv', 'load', 2, 2, 'ok'),
      |  (10, 'tbl_estados_operativos.csv', 'partitions', NULL, 2, 'ok'),
      |  (11, 'zz_operativo_roto.csv', 'extract', NULL, NULL, 'error'),
      |  (100, '__run__', 'summary', 2, 1, 'ok'))
      |  t(seq, dataset, phase, rows_in, rows_out, outcome)
      |UNION ALL
      |SELECT CAST(12 AS INTEGER), '__run__', 'maintain_rollup',
      |  CAST(NULL AS BIGINT),
      |  (SELECT CAST(count(*) AS BIGINT) FROM
      |    (SELECT DISTINCT CAST(ts AS DATE) AS f, event_type
      |     FROM events) g), 'ok'
      |ORDER BY seq""".stripMargin

  /** Keyed MERGE-upsert, driver-checked end to end: a base fact table
    * (3 date partitions keyed by id) takes a batch that UPDATES an
    * overlapping key range (doubled amounts) and INSERTS a new one,
    * through [[IdempotentWriter.mergeUpsert]] — the row-granular
    * generalization of the reference's delete-then-insert (S7). Only
    * touched partitions rewrite (partition-pruned scope; asserted in
    * IdempotentWriterSpec); the oracle states the merged table's
    * digest from the same base/batch definitions. */
  def mergeUpsertQ(spark: SparkSession, dir: String): DataFrame = {
    val out = Scratch.perCall("graft_merge").resolve("fact").toString
    val o = orders(spark, dir)
    def shaped(amount: org.apache.spark.sql.Column) =
      o.select(col("o_orderkey").as("id"), amount.as("amount"),
        date_add(lit("2024-01-01").cast("date"),
          (col("o_orderkey") % 3).cast("int")).as("fecha"))
    val base = shaped(col("o_totalprice"))
      .filter(col("id") % 7 < 5)
    IdempotentWriter.overwritePartitions(base, out, "fecha",
      addLoadDate = false)
    val batch = shaped(col("o_totalprice") * 2)
      .filter(col("id") % 7 >= 3)
    IdempotentWriter.mergeUpsert(batch, out, "id", "fecha")
    spark.read.parquet(out)
      .groupBy(col("fecha"))
      .agg(count(lit(1)).as("n"), sum(col("id")).as("sum_ids"),
        round(sum(col("amount")), 2).as("sum_amount"))
      .orderBy("fecha")
  }

  val mergeUpsertSql: String =
    """WITH base AS (
      |  SELECT o_orderkey AS id, o_totalprice AS amount,
      |    DATE '2024-01-01' + CAST(o_orderkey % 3 AS INTEGER) AS fecha
      |  FROM orders WHERE o_orderkey % 7 < 5),
      |b AS (
      |  SELECT o_orderkey AS id, o_totalprice * 2 AS amount,
      |    DATE '2024-01-01' + CAST(o_orderkey % 3 AS INTEGER) AS fecha
      |  FROM orders WHERE o_orderkey % 7 >= 3),
      |merged AS (
      |  SELECT * FROM b
      |  UNION ALL
      |  SELECT * FROM base WHERE id NOT IN (SELECT id FROM b))
      |SELECT fecha, count(*) AS n, CAST(sum(id) AS BIGINT) AS sum_ids,
      |  round(sum(amount), 2) AS sum_amount
      |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin

  /** q109: table reconciliation — compare a fact load against a
    * deterministically perturbed copy (one row class dropped, one
    * value class shifted) with [[graft.io.Reconcile]]: per-partition
    * (count, xor-of-row-hashes) digests, full-outer joined, statuses
    * assigned. The operational answer to "did the backfill reproduce
    * prod?" at 100 TB: two map-side-combining scans + a
    * partition-count-sized join, no row-level compare until a flagged
    * partition scopes one. The oracle recomputes both digests with
    * the same portable md5-prefix hash and the same status rules. */
  def reconcileQ(spark: SparkSession, dir: String): DataFrame = {
    // per-row md5 digest work dominates; spread the single-row-group
    // scan — both sides' digest passes derive from the one exchange
    // (ReusedExchange) and parallelize (guide §2.5)
    val a = spread(lineitem(spark, dir), "l_orderkey")
      .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").cast("long").as("qty"))
    // perturb per flag so every status arm is exercised: 'A' loses a
    // row class (count_mismatch), 'N' shifts a value class
    // (content_mismatch), 'R' is untouched (match)
    val b = a
      .filter(!(col("l_returnflag") === "A" &&
        col("l_orderkey") % 1000 === 2 && col("l_linenumber") === 1))
      .withColumn("qty",
        when(col("l_returnflag") === "N" && col("l_orderkey") % 1000 === 1,
          col("qty") + 1).otherwise(col("qty")))
    graft.io.Reconcile
      .compare(a, b, "l_returnflag", Seq("l_orderkey", "l_linenumber", "qty"))
      .orderBy("l_returnflag")
  }

  val reconcileSql: String = {
    def rowHash(qty: String) =
      "('0x' || substr(md5(concat_ws(chr(1), " +
        "CAST(l_orderkey AS VARCHAR), CAST(l_linenumber AS VARCHAR), " +
        s"CAST($qty AS VARCHAR))), 1, 15))::BIGINT"
    s"""WITH a AS (
       |  SELECT l_returnflag, l_orderkey, l_linenumber,
       |    CAST(l_quantity AS BIGINT) AS qty
       |  FROM lineitem),
       |b AS (
       |  SELECT l_returnflag, l_orderkey, l_linenumber,
       |    CASE WHEN l_returnflag = 'N' AND l_orderkey % 1000 = 1
       |         THEN qty + 1 ELSE qty END AS qty
       |  FROM a
       |  WHERE NOT (l_returnflag = 'A'
       |             AND l_orderkey % 1000 = 2 AND l_linenumber = 1)),
       |da AS (SELECT l_returnflag, count(*) AS n_a,
       |         bit_xor(${rowHash("qty")}) AS h_a
       |       FROM a GROUP BY 1),
       |db AS (SELECT l_returnflag, count(*) AS n_b,
       |         bit_xor(${rowHash("qty")}) AS h_b
       |       FROM b GROUP BY 1)
       |SELECT coalesce(da.l_returnflag, db.l_returnflag) AS l_returnflag,
       |  n_a, n_b,
       |  CASE WHEN n_a IS NULL THEN 'missing_a'
       |       WHEN n_b IS NULL THEN 'missing_b'
       |       WHEN n_a <> n_b THEN 'count_mismatch'
       |       WHEN h_a <> h_b THEN 'content_mismatch'
       |       ELSE 'match' END AS status
       |FROM da FULL OUTER JOIN db ON da.l_returnflag = db.l_returnflag
       |ORDER BY 1""".stripMargin
  }

  val all: Map[String, Query] = Map(
    "q30_time_to_minutes" -> Query(timeToMinutesQ, timeToMinutesSql),
    "q31_lenient_casts" -> Query(lenientCasts, lenientCastsSql),
    "q32_date_dayfirst" -> Query(dateDayFirst, dateDayFirstSql),
    "q33_conform" -> Query(conformQ, conformSql),
    "q34_null_drop" -> Query(nullDrop, nullDropSql),
    "q35_idempotent_load" -> Query(idempotentLoad, idempotentLoadSql),
    "q36_csv_pipeline" -> Query(csvPipeline, csvPipelineSql),
    "q37_conducta_pipeline" -> Query(conductaPipeline, conductaPipelineSql),
    "q38_estados_pipeline" -> Query(estadosPipeline, estadosPipelineSql),
    // same rows via the JDBC sink
    "q42_jdbc_roundtrip" -> Query(jdbcRoundtrip, conductaPipelineSql),
    "q170_jdbc_pushdown_read" -> Query(jdbcPushdownRead,
      s"""SELECT * FROM ($conductaPipelineSql)
         |WHERE fecha >= DATE '2024-01-16' ORDER BY id""".stripMargin),
    // same semantics, native expr
    "q43_time_to_minutes_native" ->
      Query(timeToMinutesNativeQ, timeToMinutesSql),
    "q44_daily_rollup_join" -> Query(dailyRollupJoin, dailyRollupJoinSql),
    "q75_route_by_name" -> Query(routeByNameQ, routeByNameSql),
    "q76_empty_write_guard" -> Query(emptyWriteGuard, emptyWriteGuardSql),
    "q77_date_helpers" -> Query(dateHelpersQ, dateHelpersSql),
    "q78_xlsx_roundtrip" -> Query(xlsxRoundtrip, xlsxRoundtripSql),
    "q79_read_fallback" -> Query(readFallbackQ, readFallbackSql),
    "q80_retry_load" -> Query(retryLoadQ, retryLoadSql),
    "q92_jsonl_quarantine" -> Query(jsonlQuarantine, jsonlQuarantineSql),
    "q94_compact" -> Query(compactQ, compactSql),
    "q101_run_audit" -> Query(runAuditQ, runAuditSql),
    "q105_merge_upsert" -> Query(mergeUpsertQ, mergeUpsertSql),
    "q109_reconcile" -> Query(reconcileQ, reconcileSql),
    "q162_daily_run" -> Query(dailyRunQ, dailyRunSql),
    "q189_partition_pruned_read" ->
      Query(partitionPrunedRead, partitionPrunedReadSql),
    "q208_schema_drift" -> Query(schemaDrift, schemaDriftSql),
    // same values as q189: the read surface changed (named catalog
    // table), the answer must not
    "q209_catalog_pruned_read" ->
      Query(catalogPrunedRead, partitionPrunedReadSql),
    "q223_schema_evolution" -> Query(schemaEvolution, schemaEvolutionSql),
    "q224_schema_widen" -> Query(schemaWiden, schemaWidenSql),
    "q225_schema_rename" -> Query(schemaRename, schemaRenameSql),
    "q226_schema_drop_column" -> Query(schemaDropColumn, schemaDropColumnSql)
  )
}
