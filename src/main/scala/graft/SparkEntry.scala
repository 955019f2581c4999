package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{QueryDef, SqlQueries}

/** Driver contract — one named query per implemented operator
  * (SURVEY.md §2), each with a DuckDB oracle twin in [[oracleSql]]. The
  * queries are defined in the family objects under `graft.queries`,
  * each builder beside its oracle; the two maps here are views of that
  * one list.
  *
  * Determinism rules (so the driver's hash compare is stable):
  *  - surrogate keys use the deterministic row_number mode (SURVEY §7.4.1)
  *  - audit dates use a fixed injected clock (2026-01-01)
  *  - double aggregates are rounded (sum→2dp, avg/ratio→4dp) because
  *    parallel summation order differs between engines and runs
  *  - every top-k has a total tie-break order
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    SqlQueries.revenueByNation(spark, dir)
  }

  private lazy val registry: Map[String, QueryDef] =
    QueryDef.register(QueryDef.all)

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (name, d) => name -> d.build }

  lazy val oracleSql: Map[String, String] =
    registry.map { case (name, d) => name -> d.oracle }
}
