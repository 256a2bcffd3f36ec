package graft

/** Plan auditor: prints a one-line physical-plan summary per query —
  * join strategy, pushed filters, read schema width, codegen span count —
  * plus the full formatted plan when a single query name is given.
  *
  * Usage: runMain graft.Explain [sfDir] [queryName]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val only = args.drop(1).headOption
    val spark = GraftSession.local()
    // AQE wraps the plan and hides WholeStageCodegen spans until stages
    // materialize; disable it here so the audit sees the static plan
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    only match {
      case Some(name) =>
        SparkEntry.queries(name)(spark, sfDir).explain("formatted")
      case None =>
        SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
          // formatted mode includes scan detail (PushedFilters/ReadSchema)
          // that the plain executedPlan string omits under AQE
          val qe = SparkEntry.queries(name)(spark, sfDir).queryExecution
          println(summary(name, qe.explainString(org.apache.spark.sql.execution.FormattedMode)))
        }
    }
    spark.stop()
  }

  /** One line for a formatted plan: join strategy, shuffle and codegen
    * counts, read-schema width and whether filters were pushed. */
  private def summary(name: String, plan: String): String = {
    val join =
      if (plan.contains("BroadcastHashJoin")) "broadcast"
      else if (plan.contains("SortMergeJoin")) "SMJ"
      else if (plan.contains("ShuffledHashJoin")) "SHJ"
      else if (plan.contains("BroadcastNestedLoopJoin")) "BNLJ"
      else "-"
    val pushed = "PushedFilters: \\[([^\\]]*)\\]".r
      .findFirstMatchIn(plan).map(_.group(1)).getOrElse("")
    val readCols = "ReadSchema: struct<([^>]*)>".r
      .findFirstMatchIn(plan).map(_.group(1).count(_ == ':')).getOrElse(-1)
    // formatted mode marks codegen membership as `[codegen id : N]`
    val codegen = "codegen id : (\\d+)".r
      .findAllMatchIn(plan).map(_.group(1)).toSet.size
    val exchanges = "Exchange ".r.findAllIn(plan).size
    f"$name%-24s join=$join%-10s shuffles=$exchanges codegen=$codegen readCols=$readCols pushed=${pushed.nonEmpty}"
  }
}
