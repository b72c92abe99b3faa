package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.catalog.Catalog

/** Driver contract (SURVEY.md §7): the harness-facing surface of the query
  * catalog. The catalog itself is [[graft.catalog.Catalog]], one file per
  * operator family under `graft/catalog`; the maps here are views of it.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001 (the reference's acceptance
    * query shape, get_top_cells — reference src/etl.py:283-299); driver
    * smoke-checks rows > 0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q03_top_users")(spark, "/root/testdata/sf0.001")

  /** Every catalog query by name: its plan over a table directory. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Catalog.entries.map(e => e.name -> e.build).toMap

  /** For each key in queries, equivalent SQL runnable by DuckDB on the same
    * parquet tables — including the sketch ops (q26 MinHash, q27 SimHash,
    * q30 LSH ANN), whose xxhash64/splitmix64 pipelines are ported to DuckDB
    * SQL in [[DuckHash]]. */
  def oracleSql: Map[String, String] =
    Catalog.entries.map(e => e.name -> e.oracle).toMap
}
