package graft

import org.apache.spark.CheckpointRelease
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Block hygiene for long-lived sessions.
  *
  * Several operators materialize intermediates (`localCheckpoint`/`persist`)
  * whose blocks outlive the query that created them: the returned frame
  * references them lazily, so the operator itself cannot unpersist them, and
  * Spark's ContextCleaner only reclaims them on a driver GC that may never
  * come. A single JVM running the full declared suite (Bench: 140 queries ×
  * 2 iterations) accumulates those blocks until they crowd the storage pool
  * and poison every later timing — the round-3 bench measured 26 s for a
  * query that runs in 1 s on a fresh JVM. The same failure bites any
  * production notebook/server session that runs many queries in one
  * SparkContext.
  *
  * [[releaseAllBlocks]] is the per-query fix: after a query's action
  * completes, drop the SQL cache and unpersist every block the run left
  * behind. Correctness is unaffected — `persist`ed frames silently recompute
  * from lineage if re-executed, and checkpointed frames are rebuilt fresh by
  * the next query construction.
  *
  * [[retainCheckpoint]] is the deliberate exception: an artifact built
  * once per session through [[Artifacts.getOrBuild]] and read by later
  * queries (the flagship panel, multi-day tail artifacts) registers the
  * checkpoint blocks it keeps as process-lifetime so the per-query sweep
  * skips them, until [[Artifacts.evict]] drops the entry that built them.
  * Each build chooses which of its frames outlive the sweep; everything
  * else it leaves behind is swept. The registry holds RDD ids,
  * not references — a handful of ints.
  */
object Housekeeping {

  /** Retained ids are scoped by applicationId: RDD ids restart near zero
    * in a fresh SparkContext, so ids registered against a stopped context
    * would otherwise shield arbitrary NEW blocks from the sweep — quietly
    * re-introducing the leak this object exists to prevent in any
    * stop-and-restart session (notebooks, servers). */
  private val retained =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(String, Int)]()

  /** Lazy pins whose materialization has not been OBSERVED yet (r13
    * ADVICE: pinLazy's safety contract — "run an action before freeing the
    * parent" — was enforced only by comments). [[PinnedFrame.free]]
    * consults this set and fails loudly instead of letting a freed parent
    * surface later as an unexplained recompute-from-missing-blocks error.
    * Entries self-clean once the lazy frame is seen checkpointed. */
  private val lazyPending =
    new java.util.concurrent.ConcurrentHashMap[(String, Int), Unit]()

  /** A localCheckpointed frame whose blocks can actually be freed.
    *
    * `Dataset.unpersist` only removes CacheManager entries (plans cached
    * via `persist`/`cache`); a localCheckpoint's blocks live on the
    * underlying RDD, which the Dataset API never exposes — so
    * `df.localCheckpoint(true); df.unpersist()` silently leaks the blocks.
    * (This is exactly how the iterative operators' per-round "unpersist"
    * calls leaked ~every round's frame into the round-3 bench session.)
    * [[pin]] snapshots the persistent-RDD registry around the checkpoint to
    * learn the real block ids; [[PinnedFrame.free]] unpersists them at the
    * RDD level. After `free()` the frame CANNOT be recomputed (lineage was
    * truncated) — free only when nothing references it anymore. */
  final class PinnedFrame(val df: DataFrame, val ids: Set[Int]) {
    def free(): Unit = {
      val sc = df.sparkSession.sparkContext
      val app = sc.applicationId
      // contract check (r13 ADVICE): freeing ANY pinned frame while an
      // unmaterialized lazy pin exists is the silent-corruption hazard —
      // the lazy frame may still read this frame's blocks. Scan is O(live
      // lazy pins), i.e. one or two entries; entries whose frames are now
      // checkpointed (or already unpersisted) self-clean here.
      val persistent = sc.getPersistentRDDs
      val it = lazyPending.keySet().iterator()
      while (it.hasNext) {
        val key @ (a, id) = it.next()
        if (a == app) {
          persistent.get(id) match {
            case None => lazyPending.remove(key) // already unpersisted/swept
            case Some(rdd) if rdd.isCheckpointed => lazyPending.remove(key)
            case Some(_) if ids.contains(id) =>
              lazyPending.remove(key) // the lazy frame itself is being freed
            case Some(_) =>
              throw new IllegalStateException(
                s"PinnedFrame.free() with lazy pin (rdd $id) not yet " +
                  "materialized: run an action on the pinLazy frame before " +
                  "freeing what it was derived from (Housekeeping.pinLazy contract)")
          }
        } else if (!persistent.contains(id)) {
          // stale entry from a stopped context: ids restart near zero, so
          // drop it rather than let it match a future context's rdd
          lazyPending.remove(key)
        }
      }
      persistent.foreach { case (id, rdd) =>
        if (ids.contains(id)) CheckpointRelease(rdd, blocking = false)
      }
    }
  }

  /** Eagerly localCheckpoint `build`, capturing the checkpoint's RDD ids so
    * the caller can genuinely free them. Relies on the repo's
    * serial-execution discipline (no concurrent persist between the two
    * registry snapshots). */
  def pin(spark: SparkSession)(build: => DataFrame): PinnedFrame = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val df = build.localCheckpoint(eager = true)
    val after = sc.getPersistentRDDs.keySet
    new PinnedFrame(df, (after -- before).toSet)
  }

  /** LAZY variant of [[pin]]: marks the frame for localCheckpoint but lets
    * the CALLER's next action materialize it — the iterative operators'
    * convergence probes (one tiny aggregate per round) double as the
    * materializing action, so each round costs ONE Spark job instead of
    * two (r13 measurement: the per-round eager-checkpoint job + probe job
    * pair was ~40% of connectedComponents' wall at bench scale). The
    * blocks register at persist time, so the ids are capturable before
    * materialization. CONTRACT: the caller MUST run an action on the
    * returned frame before freeing whatever it was derived from — a lazy
    * pinned frame still reads its parent's blocks until materialized. */
  def pinLazy(spark: SparkSession)(build: => DataFrame): PinnedFrame = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val df = build.localCheckpoint(eager = false)
    val after = sc.getPersistentRDDs.keySet
    val ids = (after -- before).toSet
    val app = sc.applicationId
    ids.foreach(id => lazyPending.put((app, id), ()))
    new PinnedFrame(df, ids)
  }

  /** Eagerly localCheckpoint `build` and register the resulting blocks as
    * process-lifetime (exempt from [[releaseAllBlocks]]). Relies on the
    * repo's serial-execution discipline: no concurrent persist may run
    * between the two registry snapshots, or its blocks would be retained
    * too. */
  def retainCheckpoint(spark: SparkSession)(build: => DataFrame): DataFrame = {
    val app = spark.sparkContext.applicationId
    val p = pin(spark)(build)
    p.ids.foreach(id => retained.add((app, id)))
    p.df
  }

  /** RDD ids registered as process-lifetime for THIS session's context. */
  def retainedIds(spark: SparkSession): Set[Int] = retainedIn(spark.sparkContext.applicationId)

  private[graft] def retainedIn(app: String): Set[Int] = {
    val it = retained.iterator()
    val b = Set.newBuilder[Int]
    while (it.hasNext) {
      val (a, id) = it.next()
      if (a == app) b += id
    }
    b.result()
  }

  /** Returns retained ids to the sweep: the next [[releaseAllBlocks]]
    * frees their blocks ([[Artifacts.evict]] calls this for the entries it
    * drops). */
  private[graft] def unretainIn(app: String, ids: Set[Int]): Unit =
    ids.foreach(id => retained.remove((app, id)))

  /** Drop every cached/persisted/checkpointed block the last query run left
    * behind, except the process-lifetime set. Non-blocking: the executors
    * free the blocks asynchronously while the next query plans. */
  def releaseAllBlocks(spark: SparkSession): Unit = {
    val app = spark.sparkContext.applicationId
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!retained.contains((app, id))) {
        CheckpointRelease(rdd, blocking = false)
        lazyPending.remove((app, id))
      }
    }
  }
}
