package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

package object operators {
  /** A gate's run function: `(spark, sfDir) => result`. */
  type Q = (SparkSession, String) => DataFrame
}

package operators {
  /** One correctness-gated operator: its registry name, the Spark function
    * that computes it, and the DuckDB SQL over the same parquet tables that
    * the oracle compare runs. Column aliases must match exactly between the
    * two sides (the compare sorts columns by name).
    *
    * Each operator object lists its gates in `val gates` AFTER every run
    * function and SQL helper it references: a `Gate` built above its `qXxx`
    * val would capture `null` during object initialization.
    */
  final case class Gate(name: String, run: Q, oracle: String)
}
