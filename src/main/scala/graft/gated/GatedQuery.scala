package graft.gated

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One gated query: `run(spark, sfDir)` builds the Spark result, and
  * `oracle` is the DuckDB SQL that must rebuild the same table (row
  * count, column names and value hash) from the same fixture. The oracle
  * is a required argument, so no query exists without one. */
final case class GatedQuery(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: String)
