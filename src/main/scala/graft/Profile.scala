package graft

/** Per-job measurement view: runs named queries
  * through [[Bench.run]] and prints the Spark jobs each one ran — job
  * description, wall span, gap since the previous job, summed task time,
  * task count and shuffle read/write bytes — so a slow query can be split
  * into "which action/stage pays" without the UI (disabled here) or
  * event-log replay. Gaps between jobs are driver/planning time.
  *
  * Usage: runMain graft.Profile <tableDir> <query> [query...]
  * Env: SPARK_GRAFT_CPUS (default 4, see GraftSession). Second run of each query is the
  * profiled one (first absorbs codegen/artifact builds, mirroring Bench's
  * best-of-N steady state).
  */
object Profile {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Profile <tableDir> <query> [query...]")
    val (dir, names) = (args.head, args.tail.toSeq)
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      val warm = Bench.run(spark, dir, name).seconds
      val it = Bench.run(spark, dir, name)
      println(f"==== $name warm=$warm%.2f s steady=${it.seconds}%.2f s")
      lines(it).foreach(println)
    }
    spark.stop()
  }

  /** One line per job of `it`, then the totals line. */
  def lines(it: Bench.Iteration): Seq[String] = {
    val jobs = it.jobs.sortBy(_.id)
    val gaps = 0L +: jobs.sliding(2).collect { case Seq(a, b) => b.startMs - a.endMs }.toSeq
    val rows = jobs.zip(gaps).map { case (r, gap) =>
      val wall = (r.endMs - r.startMs) / 1e3
      val d = r.description.take(80)
      f"  job ${r.id}%4d wall=$wall%7.3f gap=${gap / 1e3}%7.3f taskSum=${r.taskMs / 1e3}%8.3f tasks=${r.tasks}%4d shufR=${r.shuffleReadBytes}%10d shufW=${r.shuffleWriteBytes}%10d  $d"
    }
    val wallSum = jobs.map(r => r.endMs - r.startMs).sum / 1e3
    val gapSum = gaps.map(_.max(0L)).sum / 1e3
    rows :+ f"  jobs=${jobs.size} tasks=${it.tasks} taskSum=${it.taskSeconds}%.3f jobWallSum=$wallSum%.3f interJobGaps=$gapSum%.3f (query wall ${it.seconds}%.2f)"
  }
}
