package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: the runner and its oracle, DuckDB SQL that
  * answers the same question on the same parquet tables. A runner
  * assumes a prepped session ([[Tables.prep]]); it never preps. */
final case class Query(run: (SparkSession, String) => DataFrame,
    oracle: String)
