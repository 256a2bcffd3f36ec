package graft

import org.apache.spark.scheduler._

/** Optimization-round measurement harness (guide §1): runs named queries
  * through the noop sink like Bench, but with a SparkListener that
  * attributes wall-clock to Spark JOBS — job description, wall span,
  * summed task time, shuffle read/write bytes — so a slow query can be
  * split into "which action/stage pays" without the UI (disabled here) or
  * event-log replay. Gaps between jobs are driver/planning time.
  *
  * Usage: runMain graft.Profile <tableDir> <query> [query...]
  * Env: SPARK_GRAFT_CPUS (default 4, see GraftSession). Second run of each query is the
  * profiled one (first absorbs codegen/artifact builds, mirroring Bench's
  * best-of-N steady state).
  */
object Profile {
  final case class JobRow(id: Int, desc: String, startMs: Long, var endMs: Long,
                          var taskMs: Long, var shufR: Long, var shufW: Long,
                          var tasks: Int)

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Profile <tableDir> <query> [query...]")
    val (dir, names) = (args.head, args.tail.toSeq)
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")

    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRow]()
    // r13 ADVICE: track liveness with an explicit set (a legitimately 0-ms
    // job is not "still running"), and make the gate volatile — it is
    // written on the main thread and read on the listener-bus thread
    val live = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    @volatile var collecting = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = if (collecting) {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(e.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("")
        jobs.put(e.jobId, JobRow(e.jobId, desc, e.time, e.time, 0L, 0L, 0L, 0))
        live.add(e.jobId)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val r = jobs.get(e.jobId)
        if (r != null) r.endMs = e.time
        live.remove(e.jobId)
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        // attribute task metrics to the live job covering this stage — in
        // this serial harness at most one query's jobs run at a time, so
        // matching by time window is unnecessary: just fold into the
        // latest live job (good enough for attribution)
        val m = e.taskMetrics
        if (m != null) {
          val it = live.iterator()
          var latest: JobRow = null
          while (it.hasNext) {
            val r = jobs.get(it.next())
            if (r != null && (latest == null || r.id > latest.id)) latest = r
          }
          if (latest != null) {
            latest.taskMs += m.executorRunTime
            latest.shufR += m.shuffleReadMetrics.totalBytesRead
            latest.shufW += m.shuffleWriteMetrics.bytesWritten
            latest.tasks += 1
          }
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)

    def run(name: String, profiled: Boolean): Double = {
      if (profiled) { jobs.clear(); live.clear(); collecting = true }
      try Bench.run(spark, dir, name).seconds finally collecting = false
    }

    names.foreach { name =>
      val warm = run(name, profiled = false)
      val t = run(name, profiled = true)
      println(f"==== $name warm=$warm%.2f s steady=$t%.2f s")
      val rows = jobs.values().toArray(Array.empty[JobRow]).sortBy(_.id)
      var prevEnd = 0L
      rows.foreach { r =>
        val wall = (r.endMs - r.startMs) / 1e3
        val gap = if (prevEnd == 0) 0.0 else (r.startMs - prevEnd) / 1e3
        prevEnd = r.endMs
        val d = if (r.desc.length > 80) r.desc.substring(0, 80) else r.desc
        println(f"  job ${r.id}%4d wall=$wall%7.3f gap=$gap%7.3f taskSum=${r.taskMs / 1e3}%8.3f tasks=${r.tasks}%4d shufR=${r.shufR}%10d shufW=${r.shufW}%10d  $d")
      }
      val wallSum = rows.map(r => r.endMs - r.startMs).sum / 1e3
      val gapSum = rows.sliding(2).collect { case Array(a, b) => (b.startMs - a.endMs).max(0L) }.sum / 1e3
      println(f"  jobs=${rows.length} jobWallSum=$wallSum%.3f interJobGaps=$gapSum%.3f (query wall $t%.2f)")
    }
    spark.stop()
  }
}
