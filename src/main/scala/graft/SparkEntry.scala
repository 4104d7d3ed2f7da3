package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.Catalog

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * The real registry lives in [[graft.queries.Catalog]]; this object is the
  * stable facade the driver invokes.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Broadcast fact⋈dim join + exact decimal aggregation (Q9). */
  def entry(spark: SparkSession): DataFrame =
    Catalog.q09.build(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. A builder plans
    * its query under the session's own conf and never writes it, so a
    * caller may build several queries, and run its own work, on one
    * session. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Catalog.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Complete since r12: the sketch queries
    * (x28/x54) hash their tolerance VERDICTS, computed in-query against
    * the exact values, so even engine-specific sketches get a driver row. */
  def oracleSql: Map[String, String] = Catalog.oracleSql
}
