package graftbench

import graft.{GraftSession, Housekeeping, SparkEntry}
import graft.operators.{Dedup, Similarity, TextAnalysis}
import graft.pipelines.CorePipelines
import graft.queries._
import graft.sources.Store
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed call into the engine: `s` covers the op itself, `release_s` the
  * block sweep after it; result capture for the checks runs between the two
  * and is not timed. */
object Cpu {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU seconds used by the whole JVM so far (all threads; excludes time
    * the host took the CPU away). */
  def seconds: Double = os.getProcessCpuTime / 1e9
}

/** `cpuS` is the JVM's CPU time (all threads) over the op and its block
  * sweep, without the result capture between them. */
final case class OpRecord(kind: String, name: String, s: Double, releaseS: Double, cpuS: Double,
                          ok: Boolean, err: String, info: Map[String, Any])

/** Closed-loop op runner: one client, the next op starts when the previous
  * one (and its block sweep) has finished. */
final class Runner(spark: SparkSession, tracer: Tracer, val capture: Option[Path]) {
  val ops = mutable.ArrayBuffer.empty[OpRecord]

  def run[T](kind: String, name: String)(timed: => T)(after: T => Map[String, Any]): Option[T] = {
    val c0 = Cpu.seconds
    val t0 = System.nanoTime()
    val res = try Right(tracer.op(kind)(timed)) catch { case e: Throwable => Left(e) }
    val s = (System.nanoTime() - t0) / 1e9
    val cpu = Cpu.seconds - c0
    val (ok, err, info) = res match {
      case Right(v) =>
        try (true, "", after(v))
        catch { case e: Throwable => (false, s"capture: ${msg(e)}", Map.empty[String, Any]) }
      case Left(e) => (false, msg(e), Map.empty[String, Any])
    }
    val r0 = System.nanoTime()
    val rc0 = Cpu.seconds
    tracer.span("Housekeeping.releaseAllBlocks")(Housekeeping.releaseAllBlocks(spark))
    ops += OpRecord(kind, name, s, (System.nanoTime() - r0) / 1e9, cpu + Cpu.seconds - rc0,
      ok, err, info)
    res.toOption
  }

  private def msg(e: Throwable) =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").linesIterator.take(3).mkString(" ")}"

  /** Write collected rows where the checker reads them (first pass only). */
  def save(rel: String, rows: Array[Row], schema: org.apache.spark.sql.types.StructType): Unit =
    capture.foreach { dir =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(dir.resolve(rel).toString)
    }

  def save(rel: String, df: DataFrame): Unit =
    capture.foreach(dir => df.coalesce(1).write.mode("overwrite").parquet(dir.resolve(rel).toString))
}

/** A workload: `pass` runs the fixed op sequence on the generated inputs.
  * The warm-up pass (p = 0) runs every kind of op of the sequence at least
  * once, so the timed passes meet warm code paths. */
trait Workload {
  /** Nominal length of one warm pass: a run of `seconds` makes
    * round(seconds / passSeconds) timed passes, at least one, so the pass
    * count depends only on the arguments, never on measured times. */
  def passSeconds: Double
  def pass(spark: SparkSession, r: Runner, t: Tracer, p: Int): Unit
  def extraMetrics: Map[String, Double] = Map.empty
  /** Anything the checker needs beyond the captured results. */
  def finish(out: Path): Unit = ()
}

object BenchMain {
  val SetupCycles = 3

  /** One warm-up pass of each workload, in one JVM, on inputs generated into
    * `seasonDir` and `curationDir`. Run with `-XX:ArchiveClassesAtExit` it
    * records the classes both workloads load, for the class-data archive
    * the measured runs start from. */
  def train(seasonDir: Path, curationDir: Path, cpus: Int): Unit = {
    val spark = GraftSession.local(cpus)
    val off = new Tracer(spark, enabled = false)
    Seq(new SeasonEtl(seasonDir.resolve("input"), seasonDir, 0L),
      new Curation(curationDir.resolve("input"), curationDir))
      .foreach(_.pass(spark, new Runner(spark, off, None), off, 0))
    spark.stop()
  }

  def main(args: Array[String]): Unit = {
    if (args(0) == "train") {
      train(Paths.get(args(1)), Paths.get(args(2)), args(3).toInt)
      sys.exit(0)
    }
    val Array(workload, runDirS, secondsS, traceS, seedS, cpusS) = args
    val mainMs = System.currentTimeMillis()
    val runDir = Paths.get(runDirS)
    val input = runDir.resolve("input")
    val seconds = secondsS.toDouble
    val seed = seedS.toLong
    val cpus = cpusS.toInt
    val w: Workload = workload match {
      case "season_etl" => new SeasonEtl(input, runDir, seed)
      case "curation" => new Curation(input, runDir)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // set-up: a fresh session, several times (the inputs are files the
    // Python side generated); then one untimed warm-up pass
    var spark: SparkSession = null
    val cycles = (1 to SetupCycles).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = GraftSession.local(cpus)
      (System.nanoTime() - t0) / 1e9
    }
    val off = new Tracer(spark, enabled = false)
    val w0 = System.nanoTime()
    val warm = new Runner(spark, off, None)
    w.pass(spark, warm, off, 0)
    val warmupS = (System.nanoTime() - w0) / 1e9
    val firstOpMs = System.currentTimeMillis()

    val passes = mutable.ArrayBuffer.empty[(Boolean, Double, Double, Seq[OpRecord])]
    val timed = math.max(1, math.round(seconds / w.passSeconds).toInt)
    (1 to timed).foreach { p =>
      val capture = if (p == 1) Some(runDir.resolve("out")) else None
      val r = new Runner(spark, off, capture)
      val t0 = System.nanoTime()
      val c0 = Cpu.seconds
      w.pass(spark, r, off, p)
      passes += ((false, (System.nanoTime() - t0) / 1e9, Cpu.seconds - c0, r.ops.toSeq))
    }

    // traced pass: listeners on, spans around every engine call
    var traceJson = "null"
    var spansJson = "[]"
    if (traceS == "1") {
      val t = new Tracer(spark, enabled = true)
      val r = new Runner(spark, t, None)
      val t0 = System.nanoTime()
      val c0 = Cpu.seconds
      w.pass(spark, r, t, passes.size + 1)
      passes += ((true, (System.nanoTime() - t0) / 1e9, Cpu.seconds - c0, r.ops.toSeq))
      t.flush()
      t.stop()
      traceJson = Json.value(t.summary ++ w.extraMetrics ++
        Map("GraftSession.local_s" -> cycles.sorted.apply(cycles.size / 2)))
      spansJson = t.spansJson
    }
    spark.stop()
    w.finish(runDir.resolve("out"))

    val passesJson = passes.map { case (traced, wall, cpu, ops) =>
      Json.obj("traced" -> traced, "wall_s" -> wall, "cpu_s" -> cpu, "ops" -> Json.Raw(ops.map { o =>
        Json.obj("kind" -> o.kind, "name" -> o.name, "s" -> o.s, "release_s" -> o.releaseS, "cpu_s" -> o.cpuS,
          "ok" -> o.ok, "err" -> o.err, "info" -> o.info)
      }.mkString("[", ",\n", "]")))
    }.mkString("[", ",\n", "]")
    val record = Json.obj(
      "workload" -> workload, "seed" -> seed, "cpus" -> cpus,
      "jvm_start_ms" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime,
      "main_ms" -> mainMs, "first_op_ms" -> firstOpMs,
      "setup_cycles" -> cycles, "warmup_s" -> warmupS, "warmup_ops" -> warm.ops.size,
      "warmup_op_s" -> warm.ops.map(o => Json.Raw(Json.obj("name" -> o.name, "s" -> o.s))),
      "warmup_failures" -> warm.ops.filterNot(_.ok).map(o => s"${o.name}: ${o.err}"),
      "passes" -> Json.Raw(passesJson),
      "trace" -> Json.Raw(traceJson), "end_ms" -> System.currentTimeMillis())
    Files.writeString(runDir.resolve("record.json"), record)
    if (traceS == "1") Files.writeString(runDir.resolve("spans.json"), spansJson)
    sys.exit(0)
  }

  def lines(p: Path): Seq[Array[String]] =
    Files.readAllLines(p).asScala.toSeq.filter(_.nonEmpty).map(_.split("\t"))
}

/** The registry's oracle-backed queries over the analyst corpus, construct +
  * collect: the closing analysis stage of `SeasonEtl`. */
final class AnalystQueries(corpus: Path, seed: Long) {
  import AnalystQueries._
  private val dir = corpus.toString
  private val order = new scala.util.Random(seed)

  private def query(spark: SparkSession, r: Runner, t: Tracer, name: String): Unit =
    r.run("registry", name) {
      val df = t.span("queries.construct")(SparkEntry.queries(name)(spark, dir))
      (t.span("queries.execute")(df.collect()), df.schema)
    } { case (rows, schema) =>
      r.save(name, rows, schema)
      Map("rows" -> rows.length)
    }

  def pass(spark: SparkSession, r: Runner, t: Tracer): Unit =
    order.shuffle(selected).foreach(query(spark, r, t, _))

  def finish(out: Path): Unit = {
    val sql = SparkEntry.oracleSql
    Files.createDirectories(out)
    Files.writeString(out.resolve("oracle_sql.json"),
      Json.value(selected.map(n => n -> sql(n)).toMap))
  }
}

object AnalystQueries {
  /** Queries left out, each with why: timing them would not repeat the same
    * work on every call, or their result differs from the oracle on some
    * generated corpora (a defect of the query, named here). */
  val Excluded: Map[String, String] =
    Seq("s22_stats_sidecar", "s23_time_travel", "s25_scd2_store", "s26_change_feed",
      "s27_schema_evolution", "s28_lineage_purge", "s29_evolving_feed", "s30_cdc_chain",
      "s31_history_retention", "s34_tracked_delete", "s35_evolving_scd2")
      .map(_ -> "writes a Store table").toMap ++
    Seq("s32_chain_purge", "s33_idempotent_purge", "s36_versioned_tracked",
      "s37_retention_rebootstrap", "s38_versioned_compaction")
      .map(_ -> "writes a Store table and memoizes it per session").toMap +
    ("e1_stability_matrix" -> "retains a process-lifetime checkpoint of its panel") +
    ("f6_r_mean_semantics" -> ("known defect: rounds a double mean with ROUND(x, 4), which Spark " +
      "and DuckDB do not round alike at a half-way value; on the seed-803 corpus one row reads " +
      "37.7677 against the oracle's 37.7676"))

  val Modules: Seq[Map[String, Q]] = Seq(RelationalQueries.all, WindowQueries.all,
    MetricQueries.all, MarketQueries.all, FlagshipQueries.all)

  /** Every 34th eligible query in name order: three queries, from three
    * modules, so that a warm-up and a timed pass of the whole season fit a
    * run's time budget. */
  val Stride = 34

  /** Oracle-backed queries of the five modules minus the exclusions. Fails
    * loudly if an excluded name is no longer registered, so a rename cannot
    * silently re-admit a memoizing query. */
  def eligible: Seq[String] = eligible(Excluded.keySet)

  def eligible(excluded: Set[String]): Seq[String] = {
    val known = SparkEntry.queries.keySet
    val stale = excluded -- known
    require(stale.isEmpty, s"excluded queries missing from SparkEntry.queries: ${stale.toSeq.sorted.mkString(", ")}")
    val oracle = SparkEntry.oracleSql.keySet
    Modules.flatMap(_.keys).filter(oracle).filterNot(excluded).sorted
  }

  lazy val selected: Seq[String] = eligible.zipWithIndex.collect { case (n, i) if i % Stride == 0 => n }

  /** Lists the eligible and selected queries; extra arguments are added to
    * the exclusions, so the guard can be exercised. */
  def main(args: Array[String]): Unit = {
    val names = eligible(Excluded.keySet ++ args)
    println(s"eligible ${names.size}")
    selected.foreach(n => println(s"selected $n"))
  }
}

/** The reference's lifecycle: full rebuild, weekly incremental ingest into an
  * insert-only table and a versioned feed, change reads, analysis reads, then
  * compaction, vacuum, the analysis reads again and the registry queries. */
final class SeasonEtl(input: Path, runDir: Path, seed: Long) extends Workload {
  private val base = BenchMain.lines(input.resolve("base.txt")).map(_(0))
  private val deliveries = BenchMain.lines(input.resolve("deliveries.txt")).map(a => (a(0), a(1)))
  private val params = BenchMain.lines(input.resolve("params.txt")).map(a => a(0) -> a(1)).toMap
  private val season = params("season").toInt
  private val Keys = Seq("game_id", "play_id")
  private val traced = mutable.Map.empty[String, Double]
  def passSeconds = 16.0
  override def extraMetrics: Map[String, Double] = traced.toMap
  private val Analyses = Seq("letRussCook", "passRateOverExpected", "wilsonGamePassFreq")
  private val registry = new AnalystQueries(input.resolve("analyst"), seed)
  override def finish(out: Path): Unit = registry.finish(out)

  private def reads(spark: SparkSession, r: Runner, t: Tracer, a: Store, state: Int,
                    which: Seq[String]): Unit =
    which.foreach { q =>
      r.run("query", q) {
        val pbp = t.span("Store.read")(a.read)
        val df = t.span("pipelines.construct")(q match {
          case "letRussCook" => CorePipelines.letRussCook(pbp, season)
          case "passRateOverExpected" => CorePipelines.passRateOverExpected(pbp)
          case _ => CorePipelines.wilsonGamePassFreq(pbp, params("team"), params("qb"))
        })
        (t.span("pipelines.execute")(df.collect()), df.schema)
      } { case (rows, schema) =>
        r.save(f"read_$state%02d_$q", rows, schema)
        Map("rows" -> rows.length, "state" -> state)
      }
    }

  private def files(p: Path): Map[String, Long] =
    if (!Files.exists(p)) Map.empty
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .filter(f => f.getFileName.toString.endsWith(".parquet"))
      .map(f => f.toString -> Files.size(f)).toMap

  def pass(spark: SparkSession, r: Runner, t: Tracer, p: Int): Unit = {
    val aDir = runDir.resolve(s"store/p$p/pbp").normalize
    val bDir = runDir.resolve(s"store/p$p/feed").normalize
    val a = Store(spark, aDir.toString, "season")
    val b = Store(spark, bDir.toString, "week")
    b.destroy()
    // Store byte accounting, traced pass only (listings outside the spans)
    var written = 0L
    var userBytes = 0L
    var spaceAmp = 0.0
    def tracked[T](body: => T): T = {
      if (!t.enabled) return body
      val before = files(aDir) ++ files(bDir)
      val v = body
      val after = files(aDir) ++ files(bDir)
      written += (after -- before.keySet).values.sum
      val latest = (files(aDir).values.sum +
        (if (b.exists && b.versions.nonEmpty) b.read.inputFiles.map(f => Files.size(Paths.get(new java.net.URI(f)))).sum else 0L))
      if (latest > 0) spaceAmp = math.max(spaceAmp, after.values.sum.toDouble / latest)
      v
    }

    r.run("rebuild", "rebuild") {
      tracked(t.span("Store.rebuild")(a.rebuild(base.iterator.map(spark.read.parquet(_)))))
    } { _ => Map.empty }
    userBytes += base.map(f => Files.size(Paths.get(f))).sum
    var lastV = 0L
    deliveries.zipWithIndex.foreach { case ((tag, path), i) =>
      val landed = r.run("ingest", tag) {
        val batch = spark.read.parquet(path)
        val n = tracked(t.span("Store.update")(a.update(batch, Keys)))
        val seen = t.span("Store.hasBatchTag")(b.hasBatchTag(tag))
        val v = if (seen) -1L else tracked(t.span("Store.appendVersioned")(b.appendVersioned(batch, Some(tag))))
        (n, v)
      } { case (n, v) => Map("appended" -> n, "version" -> v) }
      landed.foreach { case (n, v) =>
        userBytes += (if (n > 0) Files.size(Paths.get(path)) else 0L) +
          (if (v > 0) Files.size(Paths.get(path)) else 0L)
        if (v > 0) {
          r.run("changes", tag) {
            t.span("Store.readChanges")(b.readChanges(lastV, v).count())
          } { c => Map("rows" -> c, "version" -> v) }
          lastV = v
        }
      }
      // one analysis after each delivery that landed a version, in turn; the
      // warm-up pass (p = 0) reads only at the end: reads warm up fast, ingests don't
      if (p > 0 && landed.exists(_._2 > 0)) reads(spark, r, t, a, i + 1, Seq(Analyses(i % Analyses.size)))
    }
    r.run("compact", "compactVersioned") {
      tracked(t.span("Store.compactVersioned")(b.compactVersioned()))
    } { v => Map("version" -> v) }
    r.run("vacuum", "vacuum") {
      tracked(t.span("Store.vacuum")(b.vacuum()))
    } { n => Map("deleted" -> n) }
    reads(spark, r, t, a, deliveries.size + 1, Analyses)
    registry.pass(spark, r, t)
    if (t.enabled) {
      val live = files(aDir) ++ files(bDir)
      traced ++= Map(
        "Store.files_live" -> live.size.toDouble,
        "Store.bytes_live" -> live.values.sum.toDouble,
        "Store.bytes_written" -> written.toDouble,
        "Store.write_amp" -> (if (userBytes > 0) written.toDouble / userBytes else 0.0),
        "Store.space_amp" -> spaceAmp)
    }
  }
}

/** Iterative and ANN operators: full-corpus dedup to cluster labels, then
  * daily batches merged through incremental components, and top-K lookups of
  * each day's new documents. */
final class Curation(input: Path, runDir: Path) extends Workload {
  private val batches = BenchMain.lines(input.resolve("batches.txt"))
    .map(a => (a(0), a(1), a(2), a(3).toLong, a(4).toLong))
  val Threshold = 0.5
  val TopK = 5
  val Lookups = 5
  def passSeconds = 16.0
  private val traced = mutable.Map.empty[String, Double]
  override def extraMetrics: Map[String, Double] = traced.toMap

  /** 3-word shingles, 32-bit hashed, 8-slot minhash signature. */
  private def signature(docs: DataFrame): DataFrame =
    Dedup.minhashSignature(
      docs.select(col("doc_id"), split(col("text"), " ").as("ws"))
        .filter(size(col("ws")) >= 3)
        .select(col("doc_id"), explode(TextAnalysis.shinglesExpr("ws", 3)).as("sh"))
        .select(col("doc_id"), TextAnalysis.hash32(col("sh")).as("hv")),
      "doc_id", 8)

  private def docs(spark: SparkSession, path: String) =
    spark.read.parquet(path).select("doc_id", "text")

  private var candidates = 0L
  private var kept = 0L

  /** Edge set of one op: scored candidates pinned by one action, thresholded. */
  private def edges(spark: SparkSession, t: Tracer)(scored: => DataFrame) = {
    val pinned = t.span("Dedup.edges")(Housekeeping.pin(spark)(scored))
    (pinned, pinned.df.filter(col("j_est") >= Threshold).select("doc_a", "doc_b"))
  }

  private def afterEdges(r: Runner, t: Tracer, rel: String)(
      pe: (Housekeeping.PinnedFrame, DataFrame)): Map[String, Any] = {
    val (pinned, e) = pe
    r.save(rel, e)
    if (t.enabled || r.capture.nonEmpty) {
      val c = pinned.df.count()
      val k = e.count()
      candidates += c
      kept += k
      Map("candidates" -> c, "edges" -> k)
    } else Map.empty
  }

  private def full(spark: SparkSession, r: Runner, t: Tracer, state: Path): Unit = {
    val (name, docPath, _, _, _) = batches.head
    r.run("dedup", name) {
      val d0 = docs(spark, docPath)
      val sigDir = state.resolve("sig/day=0").toString
      val pe = edges(spark, t) {
        signature(d0).write.mode("overwrite").parquet(sigDir)
        val sig = spark.read.parquet(sigDir)
        Dedup.jaccardEstimate(sig, Dedup.lshCandidates(sig, "doc_id", 8), "doc_id", 8)
      }
      val labels = t.span("Dedup.cc")(Dedup.connectedComponents(pe._2, d0.select("doc_id"), "doc_id"))
      t.span("labels.write")(labels.write.mode("overwrite").parquet(state.resolve("labels_00").toString))
      pe
    }(afterEdges(r, t, "edges_00"))
  }

  private def day(spark: SparkSession, r: Runner, t: Tracer, state: Path, d: Int): Unit = {
    val (name, docPath, _, _, _) = batches(d)
    r.run("ingest", name) {
      val fresh = docs(spark, docPath)
      val labels = spark.read.parquet(state.resolve(f"labels_${d - 1}%02d").toString)
      val pe = edges(spark, t) {
        signature(fresh).write.mode("overwrite").parquet(state.resolve(s"sig/day=$d").toString)
        val all = spark.read.parquet(state.resolve("sig").toString)
        val sig = all.drop("day")
        val mine = all.filter(col("day") === d).drop("day")
        val pairs = Dedup.lshCandidatesAgainst(mine, all.filter(col("day") < d).drop("day"), "doc_id", 8)
          .select(col("doc_new").as("doc_a"), col("doc_base").as("doc_b"))
          .union(Dedup.lshCandidates(mine, "doc_id", 8))
        Dedup.jaccardEstimate(sig, pairs, "doc_id", 8)
      }
      val merged = t.span("Dedup.incremental")(
        Dedup.incrementalComponents(labels, fresh.select("doc_id"), pe._2, "doc_id"))
      t.span("labels.write")(merged.write.mode("overwrite").parquet(state.resolve(f"labels_$d%02d").toString))
      pe
    }(afterEdges(r, t, f"edges_$d%02d"))
  }

  private def lookups(spark: SparkSession, r: Runner, t: Tracer, d: Int, n: Int): Unit = {
    val (name, _, _, lo, hi) = batches(d)
    val width = (hi - lo + Lookups) / Lookups
    (0 until n).foreach { k =>
      val a = lo + k * width
      val b = math.min(hi, a + width - 1)
      r.run("query", s"ann_${name}_$k") {
        val vectors = spark.read.parquet(batches.take(d + 1).map(_._3): _*)
        val df = t.span("Similarity.bucketedTopK")(
          Similarity.bucketedTopK(vectors, c => c.between(a, b), "doc_id", "embedding", TopK, probeRadius = 1))
        (t.span("Similarity.execute")(df.collect()), df.schema)
      } { case (rows, schema) =>
        r.save(s"ann_${name}_$k", rows, schema)
        Map("rows" -> rows.length, "lo" -> a, "hi" -> b, "day" -> d)
      }
    }
  }

  def pass(spark: SparkSession, r: Runner, t: Tracer, p: Int): Unit = {
    val state = runDir.resolve(s"state/p$p")
    candidates = 0L
    kept = 0L
    full(spark, r, t, state)
    (1 until batches.size).foreach { d =>
      day(spark, r, t, state, d)
      lookups(spark, r, t, d, if (p == 0) 1 else Lookups)
    }
    if (t.enabled) traced ++= Map(
      "Dedup.candidate_pairs" -> candidates.toDouble,
      "Dedup.pair_yield" -> (if (candidates > 0) kept.toDouble / candidates else 0.0))
  }
}
