package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each entry in `queries` is one implemented operator from SURVEY.md §2
  * (plus the large-scale training-data-pipeline extensions). `oracleSql`
  * holds the DuckDB-equivalent SQL for the correctness gate; queries whose
  * semantics are not SQL-expressible are omitted there (rows-only check).
  */
object SparkEntry {

  /** All declared queries, grouped by module. */
  private[graft] def registry: Map[String, Q] =
    RelationalQueries.all ++ WindowQueries.all ++ MetricQueries.all ++
      PipelineQueries.all ++ FlagshipQueries.all ++ MarketQueries.all ++
      VocabQueries.all

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. The full
    * epa_predict DAG (five joined sources → 16-metric lag panel → stability
    * matrix) is the reference's flagship workload. */
  def entry(spark: SparkSession): DataFrame =
    registry("e1_stability_matrix").fn(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (k, q) => k -> q.fn }

  def oracleSql: Map[String, String] =
    registry.collect { case (k, Q(_, Some(sql), _)) => k -> sql }
}
