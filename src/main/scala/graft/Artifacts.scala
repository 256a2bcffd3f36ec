package graft

import org.apache.spark.sql.SparkSession

/** The engine's one artifact cache: the stored tables and fitted frames a
  * query builds once and every later construction in the same session
  * reuses (the reference builds its stored tables once per database
  * rebuild, `helpers.R` naming where they live), plus the scratch
  * directories those builds write to.
  *
  * Entries are keyed on (applicationId, input dir, name): a fresh
  * SparkContext or another input directory builds again. A build that
  * throws caches nothing. Builds may nest — one artifact's build may ask
  * for another — because the key is checked, the build runs outside the
  * map, and only then is the value inserted. Harnesses run queries one at
  * a time, so two threads racing to build one key is not a designed-for
  * case (the later insert wins; both values are equivalent).
  *
  * Build and hit counts and build seconds are kept per application, so a
  * harness can tell an iteration that built an artifact from one that
  * reused it ([[stats]]).
  */
object Artifacts {
  final case class Stats(builds: Long, hits: Long, buildSeconds: Double) {
    def -(o: Stats): Stats =
      Stats(builds - o.builds, hits - o.hits, buildSeconds - o.buildSeconds)
  }

  private val built =
    new java.util.concurrent.ConcurrentHashMap[(String, String, String), AnyRef]()
  private val counters = new java.util.concurrent.ConcurrentHashMap[String, Stats]()
  // the checkpoint ids each entry's build retained (nested builds included),
  // handed back to the block sweep when evict drops the entry
  private val retainedBy =
    new java.util.concurrent.ConcurrentHashMap[(String, String, String), Set[Int]]()
  // nesting depth of the running builds: only the outermost build adds its
  // seconds, so buildSeconds never exceeds the wall time it describes
  private val depth = new ThreadLocal[Int] { override def initialValue(): Int = 0 }

  private def count(app: String, s: Stats): Unit =
    counters.merge(app, s, (a, b) =>
      Stats(a.builds + b.builds, a.hits + b.hits, a.buildSeconds + b.buildSeconds))

  def getOrBuild[A](spark: SparkSession, dir: String, name: String)(build: => A): A =
    getOrBuildIn(spark.sparkContext.applicationId, dir, name)(build)

  private[graft] def getOrBuildIn[A](app: String, dir: String, name: String)(build: => A): A = {
    val key = (app, dir, name)
    val hit = built.get(key)
    if (hit != null) {
      count(app, Stats(0, 1, 0.0))
      hit.asInstanceOf[A]
    } else {
      val t0 = System.nanoTime()
      val retainedBefore = Housekeeping.retainedIn(app)
      depth.set(depth.get + 1)
      val v = try build finally depth.set(depth.get - 1)
      val secs = if (depth.get == 0) (System.nanoTime() - t0) / 1e9 else 0.0
      val kept = Housekeeping.retainedIn(app) -- retainedBefore
      if (kept.nonEmpty) retainedBy.put(key, kept)
      built.put(key, v.asInstanceOf[AnyRef])
      count(app, Stats(1, 0, secs))
      v
    }
  }

  /** Drops this application's entries for input `dir`: the next
    * [[getOrBuild]] of any of them builds again. Other directories, other
    * applications and the counters are left alone, and nothing on disk is
    * deleted (each builder clears its scratch path before it writes).
    * The checkpoint blocks a dropped entry's build registered through
    * [[Housekeeping.retainCheckpoint]] go back to the block sweep, unless
    * the build of an entry still cached retained them too: the next
    * [[Housekeeping.releaseAllBlocks]] frees them, so a frame taken from a
    * dropped entry must not run after that sweep. */
  def evict(spark: SparkSession, dir: String): Unit =
    evictIn(spark.sparkContext.applicationId, dir)

  private[graft] def evictIn(app: String, dir: String): Unit = {
    val dropped = (app, dir)
    built.keySet.removeIf(k => (k._1, k._2) == dropped)
    var freed = Set.empty[Int]
    var live = Set.empty[Int]
    retainedBy.forEach { (k, ids) =>
      if ((k._1, k._2) == dropped) freed ++= ids else if (k._1 == app) live ++= ids
    }
    retainedBy.keySet.removeIf(k => (k._1, k._2) == dropped)
    Housekeeping.unretainIn(app, freed -- live)
  }

  /** Builds, hits and outermost build seconds so far in this application. */
  def stats(spark: SparkSession): Stats = statsIn(spark.sparkContext.applicationId)

  private[graft] def statsIn(app: String): Stats = counters.getOrDefault(app, Stats(0, 0, 0.0))

  private val scratch = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  sys.addShutdownHook {
    scratch.forEach(p => deleteRecursively(java.nio.file.Paths.get(p)))
  }

  /** The scratch directory for artifact `name` built from input `dir`:
    * `${java.io.tmpdir}/graft_etl/<name>_<applicationId>_<hex(dir.hashCode)>`.
    * Every path handed out is deleted when the JVM exits. Nothing is
    * deleted on call — readers ask for the same path as builders — so a
    * builder clears the directory itself before it writes. */
  def scratchPath(spark: SparkSession, dir: String, name: String): String =
    scratchPathIn(spark.sparkContext.applicationId, dir, name)

  private[graft] def scratchPathIn(app: String, dir: String, name: String): String = {
    val p = s"${System.getProperty("java.io.tmpdir")}/graft_etl/" +
      s"${name}_${app}_${Integer.toHexString(dir.hashCode)}"
    scratch.add(p)
    p
  }

  private def deleteRecursively(root: java.nio.file.Path): Unit =
    try if (java.nio.file.Files.exists(root)) {
      val walk = java.nio.file.Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
      finally walk.close()
    } catch { case _: java.io.IOException => () }
}
