package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One interval at a layer boundary. `parent` is -1 for an op's root span;
  * every span of one op shares `op`. Times: epoch ms (to line up with Spark's
  * job timestamps) plus a nanosecond duration. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
                      startMs: Long, var endMs: Long, var durNs: Long)

/** Spark-side counters collected while a span was the innermost open one. */
final class Counters {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var taskRunMs = 0L; var taskCpuNs = 0L; var taskGcMs = 0L
  var shuffleWriteBytes = 0L; var aqeReplans = 0L; var planMs = 0L
  var stageMaxTaskMs = 0L; var stageSumTaskMs = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Span recorder. Disabled, `op`/`span` run their body and record nothing.
  * Enabled, each open span carries a Spark job tag, so every job, and the SQL
  * execution that started it, is attributed to the innermost span open on the
  * driver thread when it ran; a SparkListener and a QueryExecutionListener
  * collect jobs, stages, tasks, AQE re-plans and Catalyst phase times.
  * Spans stay in memory; [[summary]] and [[spansJson]] are read after the
  * traced pass. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private var opId = 0
  private def tagOf(id: Int) = s"bspan-$id"

  // listener state, written on the listener-bus thread
  private val lock = new Object
  private val jobSpan = mutable.Map.empty[Int, Int]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val execSpan = mutable.Map.empty[Long, Int]
  private val counters = mutable.Map.empty[Int, Counters]
  private val pendingPlanMs = mutable.ArrayBuffer.empty[(QueryExecution, Long)]
  private val qeExec = mutable.Map.empty[QueryExecution, Long]
  private var executions = 0L
  private var attributed = 0L
  private val pendingReplans = mutable.ArrayBuffer.empty[Long]
  private val flushJobs = mutable.Set.empty[Int]
  @volatile private var flushesSeen = 0

  private def innermost(tags: Iterable[String]): Option[Int] =
    tags.filter(_.startsWith("bspan-")).map(_.stripPrefix("bspan-").toInt)
      .maxOption

  private def qeOf(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] =
    scala.util.Try(e.getClass.getMethod("qe").invoke(e).asInstanceOf[QueryExecution])
      .toOption.flatMap(Option(_))

  private def countersOf(span: Int) = counters.getOrElseUpdate(span, new Counters)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
        .map(_.split(",").toSeq).getOrElse(Nil)
      if (tags.contains("bflush")) { flushJobs += e.jobId; return }
      innermost(tags).foreach { s =>
        jobSpan(e.jobId) = s
        jobStart(e.jobId) = e.time
        countersOf(s).jobs += 1
        e.stageIds.foreach(st => stageJob(st) = e.jobId)
        // the SQL execution a job belongs to is charged to the same span
        Option(e.properties.getProperty("spark.sql.execution.id"))
          .foreach(x => execSpan.getOrElseUpdate(x.toLong, s))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobSpan.get(e.jobId).foreach { s =>
        countersOf(s).jobIntervals += ((jobStart(e.jobId), e.time))
      }
      if (flushJobs.remove(e.jobId)) flushesSeen += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      for (j <- stageJob.get(e.stageId); s <- jobSpan.get(j); m <- Option(e.taskMetrics)) {
        val c = countersOf(s)
        c.tasks += 1
        c.taskRunMs += m.executorRunTime
        c.taskCpuNs += m.executorCpuTime
        c.taskGcMs += m.jvmGCTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      val id = e.stageInfo.stageId
      for (j <- stageJob.get(id); s <- jobSpan.get(j)) {
        val c = countersOf(s)
        c.stages += 1
        stageTasks.remove(id).filter(_.nonEmpty).foreach { ts =>
          c.stageMaxTaskMs += ts.max
          c.stageSumTaskMs += ts.sum
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = lock.synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart =>
          innermost(s.jobTags).foreach(span => execSpan(s.executionId) = span)
        case u: SparkListenerSQLAdaptiveExecutionUpdate =>
          pendingReplans += u.executionId
        case end: SparkListenerSQLExecutionEnd =>
          // the event carries its QueryExecution (Scala-private accessor):
          // that is what ties a QueryExecutionListener callback to its id
          qeOf(end).foreach(qe => qeExec(qe) = end.executionId)
        case _ =>
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = lock.synchronized {
      val phases = qe.tracker.phases
      val ms = Seq("analysis", "optimization", "planning")
        .flatMap(phases.get).map(_.durationMs).sum
      pendingPlanMs += ((qe, ms))
    }
  }

  if (enabled) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Root span of one op; every span opened inside shares its op id. */
  def op[T](name: String)(body: => T): T = {
    opId += 1
    span(name)(body)
  }

  def span[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), opId,
      System.currentTimeMillis(), 0L, 0L)
    spans += s
    stack.push(s)
    sc.addJobTag(tagOf(s.id))
    val t0 = System.nanoTime()
    try body
    finally {
      s.durNs = System.nanoTime() - t0
      s.endMs = System.currentTimeMillis()
      sc.removeJobTag(tagOf(s.id))
      stack.pop()
    }
  }

  /** Wait until the listener bus has delivered every event posted so far: a
    * marker job's end arrives after them on the same queue. */
  def flush(): Unit = if (enabled) {
    val seen = flushesSeen
    val before = System.currentTimeMillis()
    sc.addJobTag("bflush")
    try sc.parallelize(Seq(1), 1).count() finally sc.removeJobTag("bflush")
    while (flushesSeen == seen && System.currentTimeMillis() - before < 30000)
      Thread.sleep(20)
    lock.synchronized {
      pendingPlanMs.foreach { case (qe, ms) =>
        executions += 1
        qeExec.get(qe).flatMap(execSpan.get).foreach { s => countersOf(s).planMs += ms; attributed += 1 }
      }
      qeExec.clear()
      pendingPlanMs.clear()
      pendingReplans.foreach(exec => execSpan.get(exec).foreach(s => countersOf(s).aqeReplans += 1))
      pendingReplans.clear()
    }
  }

  def stop(): Unit = if (enabled) {
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  private def sec(ns: Long) = ns / 1e9

  /** Span time not covered by a job of this span or of its descendants. */
  private def driverGapMs(s: Span, desc: Seq[Span]): Long = {
    val iv = (s +: desc).flatMap(d => counters.get(d.id).toSeq.flatMap(_.jobIntervals))
      .map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L; var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    math.max(0L, (s.endMs - s.startMs) - covered)
  }

  private def children: Map[Int, Seq[Span]] = spans.toSeq.groupBy(_.parent)

  private def descendants(id: Int, ch: Map[Int, Seq[Span]]): Seq[Span] =
    ch.getOrElse(id, Nil).flatMap(c => c +: descendants(c.id, ch))

  /** Flat per-layer metrics: `<span name>_s` (total time of spans with that
    * name), `<span name>_jobs` (jobs started while it was the innermost
    * span), and Spark counters summed over every span. */
  def summary: Map[String, Double] = lock.synchronized {
    val ch = children
    val byName = spans.groupBy(_.name)
    val times = byName.map { case (n, ss) => s"${n}_s" -> ss.map(s => sec(s.durNs)).sum }
    val jobCounts = byName.map { case (n, ss) =>
      s"${n}_jobs" -> ss.map(s => counters.get(s.id).map(_.jobs).getOrElse(0L)).sum.toDouble
    }
    val all = counters.values
    val roots = spans.filter(_.parent == -1)
    val gap = roots.map(r => driverGapMs(r, descendants(r.id, ch))).sum
    val maxSum = all.map(_.stageMaxTaskMs).sum.toDouble
    val sumSum = all.map(_.stageSumTaskMs).sum.toDouble
    val run = all.map(_.taskRunMs).sum / 1e3
    val cpu = all.map(_.taskCpuNs).sum / 1e9
    (times ++ jobCounts ++ Map(
      "spark.jobs" -> all.map(_.jobs).sum.toDouble,
      "spark.stages" -> all.map(_.stages).sum.toDouble,
      "spark.tasks" -> all.map(_.tasks).sum.toDouble,
      "spark.task_cpu_s" -> cpu,
      "spark.task_offcpu_s" -> math.max(0.0, run - cpu),
      "spark.task_gc_s" -> all.map(_.taskGcMs).sum / 1e3,
      "spark.shuffle_write_bytes" -> all.map(_.shuffleWriteBytes).sum.toDouble,
      "spark.aqe_replans" -> all.map(_.aqeReplans).sum.toDouble,
      "catalyst.plan_s" -> all.map(_.planMs).sum / 1e3,
      "spark.driver_gap_s" -> gap / 1e3,
      "spark.max_task_share" -> (if (sumSum > 0) maxSum / sumSum else 0.0),
      "trace.sql_executions" -> executions.toDouble,
      "trace.sql_attributed" -> attributed.toDouble
    )).toMap
  }

  /** Every span with its self time and counters, as a JSON array. */
  def spansJson: String = lock.synchronized {
    val ch = children
    spans.map { s =>
      val self = s.durNs - ch.getOrElse(s.id, Nil).map(_.durNs).sum
      val c = counters.getOrElse(s.id, new Counters)
      Json.obj(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "dur_s" -> sec(s.durNs),
        "self_s" -> sec(self), "jobs" -> c.jobs, "stages" -> c.stages,
        "tasks" -> c.tasks, "task_run_s" -> c.taskRunMs / 1e3,
        "task_cpu_s" -> c.taskCpuNs / 1e9, "task_gc_s" -> c.taskGcMs / 1e3,
        "shuffle_write_bytes" -> c.shuffleWriteBytes, "aqe_replans" -> c.aqeReplans,
        "plan_s" -> c.planMs / 1e3)
    }.mkString("[", ",\n", "]")
  }
}

/** Minimal JSON rendering for the run record (no parsing needed). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => s"${str(k.toString)}:${value(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case raw: Raw => raw.json
    case other => str(other.toString)
  }

  final case class Raw(json: String)

  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}
