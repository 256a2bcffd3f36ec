package graft

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.functions.col

/** Gate for the round-3 bench-poisoning diagnosis: checkpoint-heavy queries
  * must leave ZERO persistent blocks behind once the harness sweep runs —
  * otherwise a long-lived session (Bench's 280 executions, a production
  * notebook) accumulates dead blocks until storage pressure distorts every
  * later query. */
class HousekeepingSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  test("a bench-style run of checkpoint-heavy queries leaves no stray blocks") {
    // x14 (two localCheckpoints), x8 (connectedComponents loop), x4
    // (persisted inverted index) — the three leak families from the
    // round-3 diagnosis — plus z16 (groupedNtile's pinned range
    // partitioning), driven exactly as Bench drives them
    for (q <- Seq("x14_jaccard_estimate", "x8_dup_clusters", "x4_ngram_jaccard",
        "z16_quality_deciles")) {
      SparkEntry.queries(q)(spark, sf).write.format("noop").mode("overwrite").save()
      Housekeeping.releaseAllBlocks(spark)
    }
    val stray = spark.sparkContext.getPersistentRDDs.keySet -- Housekeeping.retainedIds(spark)
    assert(stray.isEmpty, s"persistent RDDs leaked past the sweep: $stray")
  }

  test("the sweep keeps retained (process-shared) blocks alive") {
    // e1 materializes the shared flagship panel through retainCheckpoint;
    // the sweep must NOT evict it (or e2/e3 would silently lose the reuse)
    SparkEntry.queries("e1_stability_matrix")(spark, sf)
      .write.format("noop").mode("overwrite").save()
    Housekeeping.releaseAllBlocks(spark)
    val kept = spark.sparkContext.getPersistentRDDs.keySet.intersect(Housekeeping.retainedIds(spark))
    assert(kept.nonEmpty, "shared panel blocks were evicted by the sweep")
  }

  test("evicting e1's artifacts hands its retained panel back to the sweep") {
    // evict first, so e1 builds here whichever test or suite ran before
    Artifacts.evict(spark, sf)
    Housekeeping.releaseAllBlocks(spark)
    val before = Housekeeping.retainedIds(spark)
    SparkEntry.queries("e1_stability_matrix")(spark, sf)
      .write.format("noop").mode("overwrite").save()
    Housekeeping.releaseAllBlocks(spark)
    val panel = Housekeeping.retainedIds(spark) -- before
    assert(panel.nonEmpty && panel.subsetOf(spark.sparkContext.getPersistentRDDs.keySet))
    Artifacts.evict(spark, sf)
    Housekeeping.releaseAllBlocks(spark)
    val left = spark.sparkContext.getPersistentRDDs.keySet
    assert(left.intersect(panel).isEmpty, s"evicted panel blocks outlived the sweep: ${left.intersect(panel)}")
    assert((left -- Housekeeping.retainedIds(spark)).isEmpty, s"persistent RDDs left: $left")
  }

  test("star contraction frees its edge blocks, keeping only the label checkpoint") {
    val sp = spark
    import sp.implicits._
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val nodes = (1L to 12L).toDF("doc_id")
    val labels = graft.operators.Dedup.connectedComponentsStar(pairs, nodes, "doc_id")
    assert(labels.count() == 12)
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    // exactly one live block family should remain: the eager label checkpoint
    assert(added.size <= 1, s"star contraction leaked intermediate blocks: $added")
    Housekeeping.releaseAllBlocks(spark)
  }

  test("the sweep frees every block the driver finish of connected components pinned") {
    val sp = spark
    import sp.implicits._
    val sc = spark.sparkContext
    Housekeeping.releaseAllBlocks(spark)
    val before = sc.getPersistentRDDs.keySet
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val nodes = (1L to 12L).toDF("doc_id")
    val labels = graft.operators.Dedup.connectedComponents(pairs, nodes, "doc_id")
    val merged = graft.operators.Dedup.incrementalComponents(labels, Seq(13L).toDF("doc_id"),
      Seq((3L, 13L)).toDF("doc_a", "doc_b"), "doc_id")
    assert(merged.as[(Long, Long)].collect().toMap ===
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 13L -> 1L, 10L -> 10L, 11L -> 10L) ++
        (4L to 9L).map(i => i -> i) ++ Seq(12L -> 12L))
    val pinned = sc.getPersistentRDDs.keySet -- before
    assert(pinned.nonEmpty, "the driver finish pinned nothing")
    Housekeeping.releaseAllBlocks(spark)
    val left = sc.getPersistentRDDs.keySet.intersect(pinned)
    assert(left.isEmpty, s"blocks of the driver finish outlived the sweep: $left")
  }

  test("freeing a parent under an unmaterialized lazy pin fails loudly (pinLazy contract)") {
    val sp = spark
    import sp.implicits._
    // legit order: probe (action) materializes the lazy frame, then the
    // parent may be freed
    val parentOk = Housekeeping.pin(spark)((1L to 100L).toDF("v"))
    val childOk = Housekeeping.pinLazy(spark)(parentOk.df.filter(col("v") % 2 === 0))
    assert(childOk.df.count() == 50) // materializes
    parentOk.free() // must not throw
    childOk.free()
    // violation: free the parent while the lazy child has never run an action
    val parent = Housekeeping.pin(spark)((1L to 100L).toDF("v"))
    val child = Housekeeping.pinLazy(spark)(parent.df.filter(col("v") % 2 === 1))
    val ex = intercept[IllegalStateException](parent.free())
    assert(ex.getMessage.contains("pinLazy"), ex.getMessage)
    // cleanup: materialize then sweep so later tests see no strays
    assert(child.df.count() == 50)
    child.free(); parent.free()
    Housekeeping.releaseAllBlocks(spark)
  }

  /** The messages logged through the root logger while `body` runs. */
  private def logged(body: => Unit): Seq[String] = {
    val messages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("capture", null, null, true, Property.EMPTY_ARRAY) {
      def append(e: LogEvent): Unit = messages.add(s"${e.getLevel} ${e.getMessage.getFormattedMessage}")
    }
    appender.start()
    val root = LogManager.getRootLogger.asInstanceOf[Logger]
    root.addAppender(appender)
    try body finally { root.removeAppender(appender); appender.stop() }
    messages.toArray(Array.empty[String]).toSeq
  }

  test("free and the sweep drop locally checkpointed blocks without the unpersist WARN") {
    val sp = spark
    import sp.implicits._
    val sc = spark.sparkContext
    val freed = Housekeeping.pin(spark)((1L to 100L).toDF("v"))
    val swept = Housekeeping.pin(spark)(freed.df.filter(col("v") % 3 === 0))
    val ids = freed.ids ++ swept.ids
    assert(ids.nonEmpty && ids.subsetOf(sc.getPersistentRDDs.keySet))
    val messages = logged {
      freed.free()
      assert(!sc.getPersistentRDDs.keySet.exists(freed.ids), s"free left ${freed.ids}")
      Housekeeping.releaseAllBlocks(spark)
    }
    assert(!sc.getPersistentRDDs.keySet.exists(ids), s"blocks of $ids outlived free and the sweep")
    val warned = messages.filter(_.contains("locally checkpointed"))
    assert(warned.isEmpty, warned.mkString("\n"))
  }
}
