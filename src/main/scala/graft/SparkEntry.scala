package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{BaseQueries, ClosureQueries, Query, SimilarityQueries, TextQueries}

/** Driver contract — see SURVEY.md §7.
  *
  * Every entry in `queries` is one operator row from SURVEY §2, expressed
  * Spark-first, with a DuckDB oracle in `oracleSql`. Determinism conventions
  * (SURVEY §5.2): every query ends in a total ORDER BY; double aggregates go
  * through exact decimal accumulation (`Summaries.exactSum`) so the result is
  * independent of partition/aggregation order; column names are aliased
  * identically on both sides.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_pricing_summary")(spark, "/root/testdata/sf0.001")

  /** Every query as one (name, builder, oracle) record, family by family. */
  private[graft] val records: Seq[Query] =
    BaseQueries.records ++ TextQueries.records ++ SimilarityQueries.records ++
      ClosureQueries.records

  /** One entry per implemented operator from SURVEY.md §2. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    records.map(q => q.name -> q.build).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables; every record carries one.
    */
  val oracleSql: Map[String, String] = records.map(q => q.name -> q.oracle).toMap
}
