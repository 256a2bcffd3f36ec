package graft

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark harness and the run step every harness shares.
  *
  * `runMain graft.Bench [query...]` runs the named queries (default: every
  * declared query) against SPARK_GRAFT_SF_DIR and prints one JSON line.
  * Each query executes through the noop batch sink, which drives the FULL
  * physical plan (sorts, limits, projections included — `.count()` would
  * let Catalyst prune them) without paying any write-side cost. A warmup
  * run of the first query absorbs JVM/codegen/classloading time so
  * per-query numbers reflect steady state.
  *
  * Queries that build a stored or fitted artifact do so through
  * [[Artifacts]], once per session; every iteration records how many
  * artifacts it built and the build seconds. A query whose first timed
  * iteration built an artifact is timed once — a later iteration would
  * time the cache hit, not the operator — so its time includes the build.
  * Every iteration also records its codegen compiles, its process CPU by
  * thread group and the Spark jobs it ran ([[Codegen]], [[Cpu]], [[Job]]).
  */
object Bench {
  final case class Iteration(seconds: Double, artifactBuilds: Long, artifactBuildSeconds: Double,
      codegen: Codegen, cpu: Cpu, jobs: Seq[Job]) {
    def tasks: Int = jobs.map(_.tasks).sum
    def taskSeconds: Double = jobs.map(_.taskMs).sum / 1e3
    def shuffleReadBytes: Long = jobs.map(_.shuffleReadBytes).sum
    def shuffleWriteBytes: Long = jobs.map(_.shuffleWriteBytes).sum
    def json: String =
      s"""{"s":$seconds,"artifact_builds":$artifactBuilds,"artifact_build_s":$artifactBuildSeconds,""" +
        s"""${codegen.json},${cpu.json},"jobs":${jobs.size},"tasks":$tasks,"task_s":$taskSeconds,""" +
        s""""shuffle_read_bytes":$shuffleReadBytes,"shuffle_write_bytes":$shuffleWriteBytes}"""
  }

  /** One Spark job a run submitted, from any thread that carried the run's
    * job tag (the driver thread and the AQE stage threads it hands its
    * properties to): its description (or call site), start and end times,
    * and the tasks of the stages it ran with their summed run time and
    * shuffle bytes. A stage listed by several jobs counts toward the
    * first, the one that ran it. */
  final case class Job(id: Int, description: String, startMs: Long, endMs: Long, tasks: Int,
      taskMs: Long, shuffleReadBytes: Long, shuffleWriteBytes: Long)

  /** Janino compiles the run paid: whole-stage and expression codegen
    * classes not found in Spark's per-JVM codegen cache. `ms` is
    * approximate: the compile-time histogram keeps a decaying sample, so
    * it is the compile count times the sample's mean. */
  final case class Codegen(compiles: Long, ms: Double) {
    def json: String = s""""codegen_compiles":$compiles,"codegen_ms":$ms"""
  }

  /** Process CPU seconds over a run, split by thread group:
    * `task` — executor task threads; `driver` — the thread that called
    * [[run]] (`main` in every harness: construction, Catalyst, job
    * submission); `exchange` — AQE's `shuffle-exchange` and
    * `broadcast-exchange` threads; `service` — every other live JVM
    * thread (listener bus, RPC dispatcher, block manager, cleaner);
    * `other` — process CPU minus the sum over threads: JIT compiler and
    * GC threads, which ThreadMXBean does not list, and threads that ended
    * during the run. The five parts sum to `process`. */
  final case class Cpu(process: Double, task: Double, driver: Double, exchange: Double,
      service: Double, other: Double) {
    def json: String =
      s""""process_cpu_s":$process,"task_cpu_s":$task,"driver_cpu_s":$driver,""" +
        s""""exchange_cpu_s":$exchange,"service_cpu_s":$service,"other_cpu_s":$other"""
  }

  private val threads =
    java.lang.management.ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def compileTime = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME

  /** Process and per-thread CPU nanoseconds, and the compile count, at
    * one instant. */
  private final case class Probe(process: Long, threadIds: Array[Long], threadNs: Array[Long],
      compiles: Long)

  private def probe(): Probe = {
    val ids = threads.getAllThreadIds
    Probe(os.getProcessCpuTime, ids, threads.getThreadCpuTime(ids), compileTime.getCount)
  }

  /** The compiles and CPU since `start`, taken on the thread that took
    * `start`. A thread that started later counts from 0; a thread that
    * ended between listing and reading (-1) counts 0. */
  private def since(start: Probe): (Codegen, Cpu) = {
    val end = probe()
    val driver = Thread.currentThread.getId
    val before = start.threadIds.zip(start.threadNs).toMap
    val names = threads.getThreadInfo(end.threadIds).map(i => if (i == null) "" else i.getThreadName)
    def group(i: Int): String =
      if (names(i).startsWith("Executor task launch worker")) "task"
      else if (end.threadIds(i) == driver) "driver"
      else if (names(i).startsWith("shuffle-exchange") || names(i).startsWith("broadcast-exchange"))
        "exchange"
      else "service"
    val ns = end.threadIds.indices.groupMapReduce(group) { i =>
      (end.threadNs(i) - before.getOrElse(end.threadIds(i), 0L).max(0L)).max(0L)
    }(_ + _).withDefaultValue(0L)
    val process = end.process - start.process
    val compiles = end.compiles - start.compiles
    val s = (n: Long) => n / 1e9
    (Codegen(compiles, compiles * compileTime.getSnapshot.getMean),
      Cpu(s(process), s(ns("task")), s(ns("driver")), s(ns("exchange")), s(ns("service")),
        s(process - ns.values.sum)))
  }

  /** Collects the jobs that carry `tag`; read [[jobs]] after the
    * listener bus has drained. Events arrive on one listener-bus thread. */
  private final class JobCollector(tag: String) extends SparkListener {
    private val byId = scala.collection.mutable.LinkedHashMap.empty[Int, Job]
    private val stageJob = scala.collection.mutable.HashMap.empty[Int, Int]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      if (prop("spark.job.tags").exists(_.split(",").contains(tag))) {
        val desc = prop("spark.job.description").orElse(prop("callSite.short")).getOrElse("")
        byId(e.jobId) = Job(e.jobId, desc, e.time, e.time, 0, 0L, 0L, 0L)
        e.stageIds.foreach(stageJob.getOrElseUpdate(_, e.jobId))
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      byId.get(e.jobId).foreach(j => byId(e.jobId) = j.copy(endMs = e.time))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (id <- stageJob.get(e.stageId); j <- byId.get(id); m <- Option(e.taskMetrics))
        byId(id) = j.copy(tasks = j.tasks + 1, taskMs = j.taskMs + m.executorRunTime,
          shuffleReadBytes = j.shuffleReadBytes + m.shuffleReadMetrics.totalBytesRead,
          shuffleWriteBytes = j.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten)
    }

    def jobs: Seq[Job] = synchronized(byId.values.toSeq)
  }

  private val runTags = new java.util.concurrent.atomic.AtomicLong()

  /** Sets `confs` on the session for the span of `body`, then puts each
    * key back as it was (its old value, or unset). */
  private def withConfs[A](spark: SparkSession, confs: Map[String, String])(body: => A): A = {
    val saved = confs.keys.map(k => k -> spark.conf.getOption(k))
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Drives a query's full plan without writing anything. */
  val noop: DataFrame => Unit = _.write.format("noop").mode("overwrite").save()

  /** The run step every harness shares (Bench, AbTest, Profile, Verify):
    * construct query `name` over `dir` under the confs it declares, hand
    * it to `sink` and time both, recording the artifacts the run built and
    * the jobs it ran. A failed run prints its error and reports -1 s. */
  def run(spark: SparkSession, dir: String, name: String,
      sink: DataFrame => Unit = noop): Iteration = {
    val sc = spark.sparkContext
    val tag = s"graft-run-${runTags.incrementAndGet()}"
    val collector = new JobCollector(tag)
    sc.addSparkListener(collector)
    val before = Artifacts.stats(spark)
    val start = probe()
    val t0 = System.nanoTime()
    sc.addJobTag(tag)
    val elapsed =
      try {
        val q = SparkEntry.registry(name)
        withConfs(spark, q.confs)(sink(q.fn(spark, dir)))
        (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        -1.0
      } finally sc.removeJobTag(tag)
    val (codegen, cpu) = since(start)
    val built = Artifacts.stats(spark) - before
    ListenerBusDrain(sc)
    sc.removeSparkListener(collector)
    // the block sweep is bench hygiene, not query cost: without it 284
    // runs accumulate never-unpersisted checkpoint blocks (round-3: x6
    // 26 s vs 1 s fresh-JVM), but its driver-side unpersist calls must
    // not bias the measurement, so it runs AFTER elapsed is captured
    Housekeeping.releaseAllBlocks(spark)
    Iteration(elapsed, built.builds, built.buildSeconds, codegen, cpu, collector.jobs)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = if (args.isEmpty) SparkEntry.queries.keys.toSeq.sorted else args.toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown query name(s): ${unknown.mkString(", ")}")
    val cpus = GraftSession.envCpus
    val spark = GraftSession.local(cpus)
    val loadBefore = loadavg
    run(spark, sfDir, names.head) // warmup: JVM + codegen + parquet reader init
    // best-of-N steady state: single-shot numbers on a shared box carry
    // ±30% scheduler noise; min over iterations is the standard estimator
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "2").toInt.max(1)
    val runs = names.map { n =>
      val first = run(spark, sfDir, n)
      n -> (if (first.artifactBuilds > 0) Seq(first)
            else first +: (2 to iters).map(_ => run(spark, sfDir, n)))
    }
    val (line, summary) = report(runs, sfDir, cpus, iters, loadBefore)
    println(line)
    // `bench_full.json` at the repo root is the committed record of a
    // full run; a run restricted to named queries leaves it alone
    write(line, sys.env.get("SPARK_GRAFT_BENCH_OUT").toSeq ++ Seq("target/bench.json") ++
      (if (args.isEmpty) Seq("bench_full.json") else Nil))
    println(summary)
    spark.stop()
  }

  // host contention evidence: apparent regressions have turned out to be
  // shared-box noise that only a fresh-JVM re-run exposed — snapshot
  // 1/5/15-min load before and after so the JSON itself says whether the
  // box was busy (best-effort; absent outside Linux)
  private def loadavg: String =
    try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
      .split(" ").take(3).mkString(",")
    catch { case _: Exception => "" }

  /** The full JSON line (every iteration of every query) and a compact
    * summary line. The full line runs to tens of KB and a tail-limited
    * reader of stdout keeps only its end, so the summary is printed last:
    * small enough that any tail-limited parser sees one complete JSON
    * object (sbt prints its own `[success]` line after it, so parsers take
    * the last stdout line that starts with `{`). */
  private def report(runs: Seq[(String, Seq[Iteration])], sfDir: String, cpus: Int, iters: Int,
      loadBefore: String): (String, String) = {
    val commit =
      try scala.sys.process.Process(Seq("git", "rev-parse", "HEAD"))
        .!!(scala.sys.process.ProcessLogger(_ => ())).trim
      catch { case _: Exception => "" }
    val results = runs.map { case (n, rs) =>
      val ok = rs.map(_.seconds).filter(_ >= 0)
      n -> (if (ok.isEmpty) -1.0 else ok.min)
    }
    // queries that failed on SOME iteration still report their best time,
    // but are named here so flakiness stays visible in the JSON
    val flaky = runs.collect { case (n, rs) if rs.exists(_.seconds < 0) => s"\"$n\"" }
    val qs = results.map { case (k, v) => s"\"$k\":$v" }.mkString("{", ",", "}")
    val detail = runs.map { case (n, rs) => s"\"$n\":${rs.map(_.json).mkString("[", ",", "]")}" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val head = s""""metric":"total","value":$total,"unit":"sec","sf":"$sfDir","cpus":$cpus,"commit":"$commit","iterations":$iters"""
    val tail = s""""loadavg_before":[$loadBefore],"loadavg_after":[$loadavg]"""
    (s"""{$head,"queries":$qs,"runs":$detail,"failed_iterations":[${flaky.mkString(",")}],$tail}""",
      s"""{$head,"n_queries":${results.size},"detail":"bench_full.json",$tail}""")
  }

  /** Writes `line` to each path, best-effort: an unwritable path
    * (read-only checkout, foreign cwd) must not fail a bench run whose
    * measurement already succeeded. */
  private def write(line: String, paths: Seq[String]): Unit = paths.foreach { p =>
    try {
      val path = java.nio.file.Paths.get(p)
      Option(path.getParent).foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.writeString(path, line + "\n")
    } catch { case e: Exception =>
      System.err.println(s"[bench] could not write $p: ${e.getMessage}")
    }
  }
}
