package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Gate for the codegen settings of [[GraftSession.local]]: a session that
  * runs the same queries again reuses the classes it generated the first
  * time instead of recompiling them. At Spark's default of 100 cache
  * entries, one pass over these queries generates well over 100 distinct
  * classes, so the second pass recompiled nearly all of them; with the
  * stage id in each class name, the many-stage AQE plans of the two ANN
  * recall queries recompile when AQE numbers their stages differently. */
class CodegenReuseSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  /** Read-only registry queries: joins, windows, cubes, aggregations and
    * ANN recall, no stored artifact, checkpoint or write. */
  private val names = Seq(
    "j1_left_join_composite", "j2_join_diff_keys", "j3_full_outer", "j5_anti_join",
    "j7_asof_join", "j8_range_join", "j10_null_safe_join", "a2_pricing_summary",
    "a13_cube_agg", "a14_rollup_agg", "w1_lag_yoy", "w2_running_sum", "w8_gap_sessions",
    "w10_rolling_mean", "w11_session_funnel", "w12_cohort_retention", "w14_ewma",
    "a5_corr_groups", "a6_quantiles", "a10_logloss_cube", "r2_pivot", "f2_string_funcs",
    "y8_ann_eval", "y11_nprobe_curve")

  private def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a second pass over 24 registry queries compiles at most 5% of the first pass's classes") {
    def pass(): Seq[Long] = names.map { n =>
      val before = compiles
      SparkEntry.queries(n)(spark, sf).collect()
      Housekeeping.releaseAllBlocks(spark)
      compiles - before
    }
    val first = pass()
    val second = pass()
    assert(second.sum <= first.sum * 0.05,
      s"first pass compiled ${first.sum} classes, the second ${second.sum}: " +
        names.zip(second).filter(_._2 > 0).mkString(", "))
  }
}
