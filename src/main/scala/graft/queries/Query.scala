package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

// Determinism conventions for the text/similarity oracles:
// - rounding is always `floor(x*10000 + 0.5)/10000`, NEVER round(): Spark
//   rounds half-up, DuckDB half-even, and small-integer ratios (k/32) land
//   exactly on the boundary.
// - any hash compared across engines is the md5-derived 60-bit value:
//   Spark `conv(substring(md5(x),1,15),16,10)` ≡ DuckDB
//   `('0x' || substr(md5(x),1,15))::BIGINT`.
// - double accumulations that must match bit-for-bit use the same fold
//   order on both sides: Spark `aggregate(...)` is a sequential fold, so
//   the oracle uses `list_reduce(list_prepend(0.0, ...))`, not list_sum.

/** One driver-contract query: its Spark builder, called with the session
  * and the dataset dir, and the DuckDB SQL that must return the same rows
  * over the same parquet tables.
  */
final case class Query(name: String, build: (SparkSession, String) => DataFrame,
    oracle: String)
