package graft

/** The run step every harness shares ([[Bench.run]]): a query's declared
  * confs hold only inside it, its record counts the Spark jobs it ran, and
  * no query module sets a session conf itself. */
class HarnessSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"
  private val floor = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
  private val x23 = "x23_chunk_retrieval"

  test("building x23 outside any harness leaves minPartitionSize at the session value") {
    val before = spark.conf.get(floor)
    SparkEntry.queries(x23)(spark, sf)
    assert(spark.conf.get(floor) === before)
    Housekeeping.releaseAllBlocks(spark)
  }

  test("the run step sets x23's declared conf around the sink and restores it, also after a throw") {
    assert(SparkEntry.registry(x23).confs.get(floor).contains("64k"))
    val before = spark.conf.get(floor)
    var seen = ""
    val ok = Bench.run(spark, sf, x23, { df => seen = spark.conf.get(floor); Bench.noop(df) })
    assert(ok.seconds >= 0 && seen === "64k")
    assert(spark.conf.get(floor) === before)
    seen = ""
    val failed = Bench.run(spark, sf, x23,
      { _ => seen = spark.conf.get(floor); throw new IllegalStateException("sink failed") })
    assert(failed.seconds === -1.0 && seen === "64k")
    assert(spark.conf.get(floor) === before)
  }

  test("s1's record counts its jobs and tasks, and Profile's job rows sum to it") {
    val it = Bench.run(spark, sf, "s1_scan_filter_project")
    assert(it.seconds >= 0)
    assert(it.jobs.nonEmpty)
    assert(it.tasks >= it.jobs.size)
    val rows = Profile.lines(it).init
    assert(rows.size === it.jobs.size)
    val tasks = rows.map(r => """tasks=\s*(\d+)""".r.findFirstMatchIn(r).get.group(1).toInt)
    assert(tasks.sum === it.tasks)
    assert(it.jobs.map(_.taskMs).sum / 1e3 === it.taskSeconds)
    for (k <- Seq("jobs", "tasks", "task_s", "shuffle_read_bytes", "shuffle_write_bytes"))
      assert(it.json.contains(s""""$k":"""), it.json)
    // a job run outside the step carries no run tag and is not counted
    val next = Bench.run(spark, sf, "s1_scan_filter_project")
    spark.range(10).count()
    assert(next.jobs.map(_.id).toSet.intersect(it.jobs.map(_.id).toSet).isEmpty)
  }

  test("AbTest fails before running when its key is one a query declares") {
    val before = spark.conf.get(floor)
    val e = intercept[IllegalArgumentException] {
      AbTest.compare(spark, sf, floor, "2m", "4m", Seq("s1_scan_filter_project", x23), 1)
    }
    assert(e.getMessage.contains(x23), e.getMessage)
    assert(spark.conf.get(floor) === before) // arm A was never set
  }

  test("no file under queries/ sets a session conf") {
    val dir = java.nio.file.Paths.get("src/main/scala/graft/queries")
    assert(java.nio.file.Files.isDirectory(dir), s"run from the project root: $dir")
    val setter = """\.conf\.(set|unset)\(|setConf\(|scopedConf|(?i)sql\(\s*"\s*(set|reset)\s""".r
    val stream = java.nio.file.Files.walk(dir)
    val offenders =
      try stream.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
        .filter(_.toString.endsWith(".scala"))
        .flatMap { f =>
          java.nio.file.Files.readAllLines(f).toArray.toSeq.map(_.toString).zipWithIndex.collect {
            case (l, i) if setter.findFirstIn(l).nonEmpty => s"${f.getFileName}:${i + 1}: ${l.trim}"
          }
        }
      finally stream.close()
    assert(offenders.isEmpty, s"declare a query's confs on its Q instead:\n${offenders.mkString("\n")}")
  }
}
