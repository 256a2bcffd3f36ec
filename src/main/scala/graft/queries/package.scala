package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

package object queries {
  /** A declared engine query: the Spark implementation plus (optionally) the
    * equivalent ANSI SQL the driver runs in DuckDB as the correctness oracle.
    * Queries without SQL-expressible semantics omit the oracle (rows-only
    * check). Column names and output ordering must match the oracle exactly.
    *
    * `confs` are session confs the query runs under: the run step
    * ([[graft.Bench.run]]) sets them around construction and execution and
    * restores the session's values afterwards. Building `fn` alone never
    * touches the session's conf.
    */
  final case class Q(fn: (SparkSession, String) => DataFrame, oracle: Option[String],
      confs: Map[String, String] = Map.empty)

  object Q {
    def apply(fn: (SparkSession, String) => DataFrame, sql: String): Q = Q(fn, Some(sql))
    def apply(fn: (SparkSession, String) => DataFrame, sql: String, confs: Map[String, String]): Q =
      Q(fn, Some(sql), confs)
  }
}
