package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver-contract query: its name, the Spark plan builder (session,
  * testdata directory) and the equivalent DuckDB SQL over the same
  * parquet tables. Column names are aligned between both sides (the
  * driver sorts columns by name before hashing), and both sides end with
  * a deterministic ORDER BY. */
final case class Q(name: String, build: (SparkSession, String) => DataFrame,
                   oracleSql: String)
