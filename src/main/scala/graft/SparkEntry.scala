package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.rows.Registry

/** Driver contract — one entry per implemented operator from SURVEY §2
  * plus the training-data-pipeline surface, each with an equivalent
  * DuckDB oracle SQL over the same parquet tables. Each row is declared
  * once, with its oracle, in its family's file under `graft.rows`.
  *
  * Parity conventions (both sides):
  *  - every query has a deterministic total ORDER BY;
  *  - double aggregates go through exact decimal summation (see
  *    [[graft.operators.Relational.dsum]] /
  *    [[graft.operators.Similarity.dot]]) then round(…, n);
  *  - computed integers are BIGINT on both sides;
  *  - raw event timestamps are emitted as formatted strings.
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("dam_severity")(spark, "/root/testdata/sf0.001")

  /** One per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Registry.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Every row has one.
    */
  def oracleSql: Map[String, String] = Registry.oracleSql
}
