package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.{DoubleType, LongType, StructType}

/** Structured Streaming layer (the 100-TB extension; the reference is batch-
  * only, SURVEY.md §2.12).
  *
  * Three shapes:
  *  1. checkpointed incremental append — the exactly-once upgrade of E2's
  *     anti-join batch append (`/root/reference/2_scrape_new_games.R:7-12`):
  *     a file source discovers new files, the checkpoint remembers them, and
  *     `Trigger.AvailableNow` drains whatever is pending then stops — a
  *     cron-able idempotent job;
  *  2. watermarked event-time windowed aggregation — the streaming form of
  *     the calibration binning (`/root/reference/R/espn_wp.R:87-99`);
  *  3. stateful session cutting via flatMapGroupsWithState — the streaming
  *     form of the cumulative-window session cut
  *     (`/root/reference/R/wilson_game_pass_freq.R:22-38`: "stop counting
  *     once the running total exits the band").
  */
object EventStreams {

  /** Shape 1: file-source stream over a landing directory. */
  def fileSource(spark: SparkSession, srcDir: String, schema: StructType): DataFrame =
    spark.readStream.schema(schema).parquet(srcDir)

  /** Drain all pending files into a partitioned Parquet sink exactly once,
    * then stop. Re-running picks up only files the checkpoint hasn't seen —
    * the streaming-native `update_db`. */
  def drainToParquet(src: DataFrame, destDir: String, checkpointDir: String,
                     partCol: String): StreamingQuery =
    src.writeStream
      .format("parquet")
      .option("path", destDir)
      .option("checkpointLocation", checkpointDir)
      .partitionBy(partCol)
      .trigger(Trigger.AvailableNow())
      .outputMode(OutputMode.Append())
      .start()

  /** Checkpointed SCD2 sink — the CDC loop closed end to end: a change
    * feed drains through foreachBatch into [[graft.sources.Store
    * .upsertScd2]]'s interval-closing merge, so the durable history table
    * (one row per version, `valid_from`/`valid_to`, as-of readable)
    * maintains itself continuously. Exactly-once BY COMPOSITION, each
    * half honest about what it gives: the checkpoint makes file delivery
    * at-least-once across restarts, and the merge's replay safety
    * (already-recorded (key, ts) versions drop out before the append)
    * makes re-application a no-op — the same discipline as
    * drainToParquet's sink log, landed in a store a file sink can't
    * express (a merge is not an append). Cost per micro-batch is the
    * merge's batch-footprint bound: only partitions carrying batch keys
    * are read or rewritten. Empty micro-batches skip the merge. The
    * store's single-writer rule applies: one sink per table.
    *
    * SCHEMA EVOLUTION (`mergeSchema = true`): a source that grows a
    * column mid-flight — in practice, the stream restarted with an
    * evolved source schema (a streaming plan's own schema is fixed at
    * start) — lands through [[graft.sources.Store.upsertScd2]]'s
    * merge-schema arm: the affected snapshot reads with mergeSchema and
    * the closed∪versioned union null-fills by name, so pre-evolution
    * VERSIONS surface the new column as typed NULL while their intervals
    * still close correctly (s35's batch property, now reachable from the
    * sink — r12 verdict #5). Left off (the default), a column mismatch
    * keeps failing loudly at the sink: silent null-padding of history
    * must be opt-in, exactly the store-level gate. */
  def scd2Sink(updates: DataFrame, storePath: String, partCol: String,
               keys: Seq[String], tsCol: String, checkpointDir: String,
               order: Seq[org.apache.spark.sql.Column] = Nil,
               mergeSchema: Boolean = false): StreamingQuery =
    nonEmptyBatches(updates, checkpointDir) { (batch, _) =>
      // the merge body drives several independent jobs off this one
      // micro-batch (empty probe, replay anti-join, first-ts aggregate,
      // the overwrite itself)
      graft.sources.Store(batch.sparkSession, storePath, partCol)
        .upsertScd2(batch, keys, tsCol, order, mergeSchema)
    }

  /** Drains `src` once (AvailableNow) through `body`, called for each
    * non-empty micro-batch with its batch id. The batch is persisted
    * around `body`, so a body that runs several jobs off it evaluates the
    * source once per batch, not once per job: wasteful for file sources
    * and a correctness hazard if a non-replayable source were ever wired
    * in (the multi-action foreachBatch discipline Spark's docs
    * prescribe). */
  private def nonEmptyBatches(src: DataFrame, checkpointDir: String)(
      body: (DataFrame, Long) => Unit): StreamingQuery =
    src.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        batch.persist()
        try if (!batch.isEmpty) body(batch, batchId)
        finally batch.unpersist()
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Checkpointed VERSIONED ingest — [[drainToParquet]]'s lakehouse
    * upgrade: each non-empty micro-batch lands as the NEXT snapshot
    * version of a [[graft.sources.Store]] lineage, exactly once. The
    * stream's checkpoint makes delivery at-least-once across restarts;
    * idempotency comes from the BATCH TAG recorded inside the version
    * entry itself (`appendVersioned(df, Some(tag))` — the log commit is
    * the atomic point, so tag and version can never disagree): a
    * re-delivered batch probes `hasBatchTag` and skips instead of
    * appending a duplicate version. This is what maintains a CDC SOURCE
    * table continuously — every downstream s26/s30-style consumer pulls
    * `readChanges` off a lineage a stream keeps extending, each
    * micro-batch one version. Honest crash note: a crash between the
    * data append and the log commit leaves the batch's files orphaned
    * (the store's documented append window) — the next versioned write
    * refuses loudly and `adoptOrphans()` records them as a repair
    * version, after which the re-delivered tag probe misses (the repair
    * entry carries no tag) and the batch would land twice; the repair
    * for a crashed STREAMING append is therefore to drop the repair
    * version's files instead (vacuum's debris rule does not apply — no
    * marker), or accept the duplicate and dedup downstream. The window
    * is one metadata write wide. */
  def versionedIngestSink(src: DataFrame, storePath: String, partCol: String,
                          checkpointDir: String): StreamingQuery =
    nonEmptyBatches(src, checkpointDir) { (batch, batchId) =>
      val store = graft.sources.Store(batch.sparkSession, storePath, partCol)
      val tag = s"stream_batch_$batchId"
      if (!store.hasBatchTag(tag))
        store.appendVersioned(batch, Some(tag))
    }

  /** Streaming exact dedup with BOUNDED state: drop every repeat of a key
    * seen within the watermark window — x1's exact-dedup gate as a
    * continuous ingest stage. Built on Spark 4's
    * `dropDuplicatesWithinWatermark`: unlike plain `dropDuplicates`
    * (whose seen-key state grows forever — an unbounded-state leak at
    * ingest volume), state per key expires once the event-time watermark
    * passes its expiry, so memory is O(keys inside the delay window) at
    * ANY stream length. First occurrence wins and is emitted exactly
    * once (append mode); a repeat arriving within `delay` of the first
    * sighting is dropped even if their timestamps differ — which is the
    * dedup semantic ingest wants (content re-sent seconds later IS the
    * same record), and exactly what the *WithinWatermark variant adds
    * over keying the watermark column into dropDuplicates. At 100 TB/day
    * the delay is sized to the re-delivery horizon (minutes), not the
    * corpus. */
  def dedupWithinWatermark(events: DataFrame, keys: Seq[String],
                           delay: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark(keys)

  /** Shape 2: watermarked tumbling-window aggregate per event type. Late
    * rows beyond the watermark are dropped; state for closed windows is
    * reclaimed — the property that lets this run forever at scale.
    * `slide` switches to overlapping windows (each event expands into
    * len/slide windows MAP-SIDE — same state-reclaim story, ×overlap
    * state rows live at once). */
  def windowedTypeCounts(events: DataFrame, windowLen: String = "1 hour",
                         watermark: String = "2 hours",
                         slide: Option[String] = None): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(
        slide.fold(window(col("ts"), windowLen))(s => window(col("ts"), windowLen, s)),
        col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(
        col("window.start").as("win_start"),
        col("event_type"), col("n"), col("sum_value"))

  /** Streaming exact dedup — the continuous form of the batch content-hash
    * dedup (Dedup.exactDedup): keep the first arrival per key, drop
    * re-arrivals within the watermark horizon. State is bounded: keys age
    * out of the store once the watermark passes them — the property that
    * lets this run forever, where a plain dropDuplicates would grow state
    * without bound. */
  def dedupStream(events: DataFrame, keyCols: Seq[String],
                  watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Takedown filter — the in-flight complement of the batch takedown
    * propagation (PipelineQueries x44): arrivals matching the removal
    * list are dropped BEFORE they can enter any stored artifact, both by
    * id (the request names a known document) and, when `textCol` is set,
    * by CONTENT hash — the re-upload case: the same bytes arriving under
    * a fresh id must not re-enter a corpus that just removed them, so a
    * removal relation carries a `content_hash` (md5 of the removed text)
    * beside the ids. Both checks are stream-static LEFT ANTI joins
    * against the (requests-sized) removal relation — stateless: no
    * watermark, no stream state; the static side is re-read per
    * micro-batch, so a new takedown request takes effect at the next
    * batch, and it broadcasts while small (at any realistic scale: the
    * removal list grows with requests, not the corpus). A null text
    * yields a null hash, which matches nothing — null-text rows pass to
    * the downstream gates that own that verdict.
    *
    * Null-ID rows: a null id never matches a left-anti equi-join either,
    * so — unlike the null-text case, where downstream gates own the
    * verdict — an UNCHECKABLE arrival would pass the id check silently.
    * The id is this gate's primary key, so the default is FAIL CLOSED:
    * null-id arrivals are dropped (`requireId = true`). Pass
    * `requireId = false` only when a downstream stage re-checks identity
    * (e.g. content-hash matching is on and null-text is impossible). */
  def takedownGate(docs: DataFrame, removal: DataFrame, idCol: String,
                   textCol: Option[String] = None,
                   requireId: Boolean = true): DataFrame = {
    val checked = if (requireId) docs.filter(col(idCol).isNotNull) else docs
    val byId = checked.join(
      broadcast(removal.select(col(idCol)).distinct()), Seq(idCol), "left_anti")
    textCol.fold(byId) { tc =>
      require(removal.columns.contains("content_hash"),
        "content-hash takedown needs a content_hash column in the removal relation")
      // alias the removal side: the docs stream may legitimately carry its
      // own content_hash column, and an unqualified reference would be
      // ambiguous in the join condition
      byId.join(
        broadcast(removal.select(col("content_hash").as("__rm_content_hash"))
          .distinct()),
        md5(col(tc)) === col("__rm_content_hash"), "left_anti")
    }
  }

  /** Boilerplate scrub for arrivals — the in-flight form of the batch
    * frequency scrub (PipelineQueries x46): each arriving doc is rebuilt
    * with every segment in the stored boilerplate INVENTORY stripped.
    * The inventory (h1, h2 dual segment hashes, a corpus-derived
    * artifact maintained in batch) is folded into ONE static row and
    * cross-joined broadcast, so the scrub is a stateless per-row
    * expression: no watermark, no stream state, re-read per micro-batch
    * like the takedown list — a batch job that refreshes the inventory
    * takes effect at the next micro-batch. Exact (array-membership)
    * transport; a web-scale inventory swaps in the Bloom seam
    * (Dedup.spanScrubExpr's refBloom) at the cost of FP drops. */
  def boilerplateScrub(docs: DataFrame, inventory: DataFrame, textCol: String,
                       k: Int, out: String = "scrubbed"): DataFrame = {
    val bl = inventory
      .agg(collect_list(struct(col("h1"), col("h2"))).as("__bl"))
    docs.crossJoin(broadcast(bl))
      .withColumn(out,
        graft.operators.Dedup.boilerplateScrubExpr(col(textCol), k, col("__bl")))
      .drop("__bl")
  }

  /** Streaming curation router: continuous dedup + (optionally) the v5
    * quality gates + deterministic train/val/test assignment, drained
    * exactly-once into a split-partitioned layout. The streaming form of
    * the batch curation pass (x9 → x32): re-arrivals within the watermark
    * drop, every surviving doc gets the same split it would get in batch
    * (md5 assignment is engine- and batch-boundary-independent), and
    * downstream training jobs read one split directory without touching
    * the others.
    *
    * With `textCol` set, each arrival also passes the ROLLING quality
    * gates x32 runs in batch, as PURE per-row expressions (zero new
    * state, no shuffle, no watermark coupling): the Gopher repetition
    * verdict ([[graft.operators.TextAnalysis.gopherKeepExpr]]) and the
    * span-duplication gate ([[graft.operators.Dedup.spanKeepExpr]])
    * probing `spanRefBloom` — a reference corpus's span-fingerprint Bloom
    * ([[graft.operators.Dedup.spanFpBloom]], broadcast-sized at any
    * corpus scale). StreamingSpec gates both verdicts identical to the
    * batch operators on the same drain.
    *
    * With `scrubText` also set, survivors are EDITED before landing:
    * duplicated spans (within-doc repeats and reference-Bloom hits) are
    * island-merged and stripped by [[graft.operators.Dedup.spanScrubExpr]]
    * — x37's gate-then-scrub order as one more stateless expression,
    * spec-gated identical to the batch spanScrub rebuild. */
  def curationRouter(docs: DataFrame, keyCols: Seq[String], idCol: String,
                     destDir: String, checkpointDir: String,
                     watermark: String = "1 hour",
                     textCol: Option[String] = None,
                     spanRefBloom: Option[Array[Byte]] = None,
                     spanK: Int = 8,
                     scrubText: Boolean = false,
                     removal: Option[DataFrame] = None,
                     boilerplateInventory: Option[DataFrame] = None,
                     boilerplateK: Int = 8): StreamingQuery = {
    // takedown runs FIRST: a removed document must not even reach the
    // dedup state, or a later legitimate arrival with the same key would
    // be dropped as its duplicate. Content-hash matching engages only
    // when the removal relation actually carries hashes — the quality
    // gates' textCol must not force an id-only removal list to grow one
    val admitted = removal.fold(docs)(r =>
      takedownGate(docs, r, idCol,
        textCol.filter(_ => r.columns.contains("content_hash"))))
    val deduped = dedupStream(admitted, keyCols, watermark)
    val gated = textCol.fold(deduped) { tc =>
      deduped.filter(
        graft.operators.TextAnalysis.gopherKeepExpr(col(tc)) &&
          graft.operators.Dedup.spanKeepExpr(col(tc), spanK, spanRefBloom))
    }
    // x37's order: gate on the ORIGINAL text, then edit the survivors —
    // the scrub is another pure expression (no state), so the router
    // stays stateless beyond its dedup watermark
    val edited =
      if (!scrubText) gated
      else textCol.fold(gated) { tc =>
        gated.withColumn(tc,
          graft.operators.Dedup.spanScrubExpr(col(tc), spanK, spanRefBloom))
      }
    // the inventory scrub (x46's in-flight form) chains after the span
    // scrub — still a pure per-row expression against the broadcast
    // one-row static inventory, so the router's statefulness is unchanged
    val scrubbed = boilerplateInventory.fold(edited) { inv =>
      textCol.fold(edited)(tc =>
        boilerplateScrub(edited, inv, tc, boilerplateK, out = tc))
    }
    drainToParquet(
      scrubbed.withColumn("split", graft.operators.Sampling.splitAssign(col(idCol))),
      destDir, checkpointDir, partCol = "split")
  }

  /** Streaming ANN serving: each arriving query vector gets its best
    * static-corpus neighbor — the online half of the y2 bucket index.
    * The join is STREAM-STATIC on the hyperplane bucket (stateless: no
    * stream-stream state, the static side is just a relation Spark
    * re-reads per micro-batch — broadcast when small, shuffled when not),
    * and the only stateful op is the watermarked per-query top-1
    * aggregate (max over a (cosine, c_id) struct — deterministic tie by
    * id), whose state expires with the watermark. So total state is
    * O(queries inside the watermark), independent of corpus size — the
    * property that lets this serve forever. Cosine rounds to 6 dp before
    * the max, mirroring the batch ranking exactly (`StreamingSpec` gates
    * stream == batch recompute). Queries landing in an EMPTY bucket emit
    * nothing — at serving scale you raise probeRadius or fall back to a
    * brute rerank for those (the batch path's y2b lesson). */
  def annServe(queries: DataFrame, corpus: DataFrame, idCol: String,
               vecCol: String, tsCol: String,
               watermark: String = "10 minutes"): DataFrame = {
    import graft.operators.Similarity
    val c = corpus
      .select(col(idCol).as("c_id"), col(vecCol).as("c_vec"))
      .withColumn("c_nrm", Similarity.norm("c_vec"))
      .withColumn("bucket", Similarity.hyperplaneBucket("c_vec"))
    val q = queries
      .select(col(idCol).as("q_id"), col(tsCol).as("ts"), col(vecCol).as("q_vec"))
      .withColumn("q_nrm", Similarity.norm("q_vec"))
      .withColumn("bucket", Similarity.hyperplaneBucket("q_vec"))
      .withWatermark("ts", watermark)
    q.join(c, Seq("bucket"))
      .withColumn("cosine",
        round(Similarity.dot("q_vec", "c_vec") / (col("q_nrm") * col("c_nrm")), 6))
      .groupBy(col("q_id"), col("ts"))
      .agg(max(struct(col("cosine"), col("c_id"))).as("best"))
      .select(col("q_id"), col("ts"),
        col("best.c_id").as("c_id"), col("best.cosine").as("cosine"))
  }

  /** Streaming MIPS serving — the online half of y22: each arriving query
    * vector gets its best static-corpus neighbor BY INNER PRODUCT, off
    * the same norm-augmented hyperplane index ([[graft.operators
    * .Similarity.mipsTopK]]'s geometry, ONE augmentation convention so
    * the two can never drift): corpus rows carry the √(M²−‖x‖²) FLOAT
    * coordinate, queries carry 0 — the asymmetric Shrivastava–Li form.
    * M (the max corpus norm) collects ONCE at stream construction — the
    * corpus is static, so M is driver metadata like perplexityScore's
    * model scalars; corpus augmentation happens in-scan on the static
    * side each micro-batch. The query explodes into its Hamming-1 probe
    * keys (stateless), the bucket join is STREAM-STATIC (no
    * stream-stream state; the static side broadcasts while it fits),
    * ranking is by the RAW 64-dim dot rounded to 6 dp, and the only
    * stateful op is the watermarked per-(query, ts) top-1 aggregate —
    * state O(queries inside the watermark), corpus-size-independent.
    * Tie semantics match the batch operator exactly (smaller candidate
    * id wins, via the max-struct's negated id), a candidate sharing
    * the query's id is excluded — the batch self-exclusion rule — and
    * `planes` DEFAULTS to the batch operator's default too: tune the
    * occupancy knob identically on both paths (y22 serves this corpus
    * at planes=4) or the candidate sets silently diverge.
    * Queries probing only empty buckets emit nothing (annServe's
    * documented fallback seam).
    *
    * `tombstones` is the POST-FILTER deletion stopgap (y26's zero-
    * downtime arm brought to the serving path): the STALE index keeps
    * serving — stale M, stale buckets, the corpus relation untouched —
    * while tombstoned candidates drop AFTER the probe (broadcast
    * anti-join on the id; the removal list is request-sized) and
    * tombstoned requesters get nothing. A query whose every candidate
    * is tombstoned emits nothing — the streaming face of y24's
    * starvation, the signal that schedules the rebuild; the REBUILD arm
    * is just this method over the retained corpus (M recomputes — the
    * augmentation scalar is an index-build artifact, y26's subtlety).
    * BINDING CAVEAT: the `tombstones` relation is fixed at STREAM
    * CONSTRUCTION — a path-backed frame's file listing is cached in the
    * analyzed plan, so a takedown arriving mid-stream is not seen until
    * restart. That is fine for a restart-cadence stopgap; a takedown
    * that must land at the NEXT micro-batch without a restart uses
    * [[mipsServeSink]], which re-reads a file-backed tombstone set per
    * batch. */
  def mipsServe(queries: DataFrame, corpus: DataFrame, idCol: String,
                vecCol: String, tsCol: String,
                watermark: String = "10 minutes",
                planes: Int = graft.operators.Similarity.NumPlanes,
                dims: Int = 64,
                tombstones: Option[DataFrame] = None): DataFrame = {
    import graft.operators.Similarity
    val mnormRow = corpus.agg(max(Similarity.norm(vecCol)).cast("double")).head()
    // fail with a message naming the problem instead of the opaque NPE a
    // null aggregate would throw below — an empty (or all-null-vector)
    // static corpus has no max norm, and serving against it is a wiring
    // bug, not a degenerate case (mipsTopK's batch form degrades to an
    // empty result; a STREAM constructed against nothing should not start)
    require(!mnormRow.isNullAt(0),
      s"mipsServe: static corpus is empty or '$vecCol' is all-null — " +
        "the max-norm augmentation scalar is undefined")
    val mnorm = mnormRow.getDouble(0)
    val c = corpus
      .select(col(idCol).as("c_id"), col(vecCol).as("c_vec"))
      .withColumn("c_nrm", Similarity.norm("c_vec"))
      .withColumn("caug", concat(col("c_vec"),
        array(sqrt(greatest(lit(mnorm * mnorm) - col("c_nrm") * col("c_nrm"),
          lit(0.0))).cast("float"))))
      .withColumn("probe", Similarity.hyperplaneBucket("caug", dims + 1, planes))
      .select("c_id", "c_vec", "probe")
    val q0 = queries
      .select(col(idCol).as("q_id"), col(tsCol).as("ts"), col(vecCol).as("q_vec"))
      .withWatermark("ts", watermark)
      .withColumn("qaug", concat(col("q_vec"), array(lit(0.0f))))
      .withColumn("bucket", Similarity.hyperplaneBucket("qaug", dims + 1, planes))
      .withColumn("probe", explode(array(
        col("bucket") +:
          (0 until planes).map(j => col("bucket").bitwiseXOR(lit(1L << j))): _*)))
      .select("q_id", "ts", "q_vec", "probe")
    // tombstoned requesters get nothing (a deleted entity must not be
    // served), and tombstoned candidates drop post-probe — both
    // broadcast anti-joins on the request-sized removal relation
    val q = tombstones.fold(q0)(t => q0.join(
      broadcast(t.select(col(t.columns.head).as("q_id"))), Seq("q_id"), "left_anti"))
    val joined0 = q.join(c, Seq("probe"))
      .filter(col("q_id") =!= col("c_id"))
    val joined = tombstones.fold(joined0)(t => joined0.join(
      broadcast(t.select(col(t.columns.head).as("c_id"))), Seq("c_id"), "left_anti"))
    joined
      .withColumn("dot", round(Similarity.dot("q_vec", "c_vec"), 6))
      .groupBy(col("q_id"), col("ts"))
      .agg(max(struct(col("dot"), (-col("c_id")).as("nid"))).as("best"))
      .select(col("q_id"), col("ts"),
        (-col("best.nid")).as("c_id"), col("best.dot").as("dot"))
  }

  /** [[mipsServe]] with LIVE tombstones — the takedown-without-restart
    * form: the removal set is re-read from `tombstonePath` at EVERY
    * micro-batch, so a tombstone file landed mid-stream stops being
    * served at the next batch. The mechanism is foreachBatch, because a
    * static path-backed relation inside a streaming plan pins its file
    * LISTING at construction (stream-static joins re-execute the static
    * side per batch, but over the cached listing — new files are
    * invisible until restart); inside foreachBatch each batch constructs
    * a fresh frame over the path, so the listing is current. Semantics
    * otherwise identical to [[mipsServe]]'s post-filter arm, and safe to
    * compute per batch: a query's exploded probe rows all live in its
    * arrival batch, so the per-batch top-1 equals the watermarked
    * streaming aggregate row for row (StreamingSpec gates stream ≡ the
    * batch y26-shaped post-filter recompute). M (max corpus norm) still
    * collects ONCE at sink construction — the stale-index contract: a
    * takedown post-filters, it does not re-augment (y25's rebuild
    * decision owns that). Exactly-once to the sink: each batch lands
    * under its `batch_id` partition via dynamic overwrite, so a
    * re-delivered batch REPLACES its own output instead of appending a
    * duplicate. A missing tombstone path means "no takedowns yet"; an
    * existing-but-empty one reads as an empty set (the explicit schema —
    * idCol at the corpus id type — keeps inference off the hot path).
    * The INDEX side is still bound at construction — a y27 generation
    * promotion landing without a restart is
    * [[mipsServeSinkGenerational]]'s job. */
  def mipsServeSink(queries: DataFrame, corpus: DataFrame, idCol: String,
                    vecCol: String, tsCol: String,
                    destDir: String, checkpointDir: String,
                    tombstonePath: Option[String] = None,
                    planes: Int = graft.operators.Similarity.NumPlanes,
                    dims: Int = 64): StreamingQuery = {
    import graft.operators.Similarity
    val mnormRow = corpus.agg(max(Similarity.norm(vecCol)).cast("double")).head()
    require(!mnormRow.isNullAt(0),
      s"mipsServeSink: static corpus is empty or '$vecCol' is all-null — " +
        "the max-norm augmentation scalar is undefined")
    val mnorm = mnormRow.getDouble(0)
    val idType = corpus.schema(idCol).dataType
    val c = augmentedCorpus(corpus, idCol, vecCol, mnorm, dims, planes)
    nonEmptyBatches(queries, checkpointDir) { (batch, batchId) =>
      val tomb = readTombstones(batch.sparkSession, tombstonePath, idCol, idType)
      overwriteBatch(
        serveMipsBatch(batch, c, idCol, vecCol, tsCol, planes, dims, tomb),
        batchId, destDir)
    }
  }

  /** Per-batch tombstone read shared by the live-takedown sinks: a fresh
    * frame over the path each batch, so the file listing is current (the
    * foreachBatch trick — a static relation inside the streaming plan
    * would pin its listing at construction). The files' ACTUAL schema is
    * validated before ours is imposed: an imposed schema over files
    * written under a different column name reads idCol as all-NULL, the
    * anti-joins match nothing, and the takedown is silently NOT enforced —
    * a silent failure on the one path whose whole purpose is enforcement.
    * Loud failure instead, the store's discipline (r12 ADVICE). Footer
    * read only — the tombstone set is request-sized. A dataless directory
    * (e.g. only _SUCCESS) has no footers to check and keeps the documented
    * empty-set behavior; a missing path means "no takedowns yet". */
  private def readTombstones(spark: SparkSession, tombstonePath: Option[String],
                             idCol: String,
                             idType: org.apache.spark.sql.types.DataType)
      : Option[DataFrame] =
    tombstonePath.flatMap { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      val f = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!f.exists(hp)) None
      else {
        val hasData = {
          val it = f.listFiles(hp, true)
          var found = false
          while (!found && it.hasNext) {
            val st = it.next()
            if (st.isFile && st.getPath.getName.endsWith(".parquet"))
              found = true
          }
          found
        }
        if (hasData) {
          val actual = spark.read.parquet(p).schema
          require(actual.fieldNames.contains(idCol),
            s"tombstone files at $p carry columns " +
              s"${actual.fieldNames.mkString("[", ", ", "]")} — expected " +
              s"id column '$idCol'; an imposed schema would read NULLs " +
              "and silently skip enforcement")
        }
        Some(spark.read
          .schema(StructType(Seq(
            org.apache.spark.sql.types.StructField(idCol, idType))))
          .parquet(p))
      }
    }

  /** Shared mipsServeSink/mipsServeSinkGenerational stage: the corpus as
    * (c_id, c_vec, probe), each vector augmented with √(M² − ‖x‖²) for
    * the max norm `mnorm` and hyperplane-bucketed. */
  private def augmentedCorpus(corpus: DataFrame, idCol: String, vecCol: String,
                              mnorm: Double, dims: Int, planes: Int): DataFrame = {
    import graft.operators.Similarity
    corpus
      .select(col(idCol).as("c_id"), col(vecCol).as("c_vec"))
      .withColumn("caug", concat(col("c_vec"),
        array(sqrt(greatest(lit(mnorm * mnorm)
          - Similarity.norm("c_vec") * Similarity.norm("c_vec"),
          lit(0.0))).cast("float"))))
      .withColumn("probe", Similarity.hyperplaneBucket("caug", dims + 1, planes))
      .select("c_id", "c_vec", "probe")
  }

  /** Shared sink write: one batch's rows replace its own `batch_id`
    * partition under `destDir` (dynamic overwrite), so a re-delivered
    * batch never duplicates its output. */
  private def overwriteBatch(out: DataFrame, batchId: Long, destDir: String): Unit =
    out.withColumn("batch_id", lit(batchId))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(destDir)

  /** One micro-batch of MIPS serving against a prepared (c_id, c_vec,
    * probe) index relation — the body [[mipsServeSink]] and
    * [[mipsServeSinkGenerational]] share: explode the query into its
    * Hamming-1 probes, bucket equi-join, post-filter tombstones (both
    * sides), rank by raw dot, per-(query, ts) top-1 with the batch
    * operator's tie rule. */
  private def serveMipsBatch(batch: Dataset[org.apache.spark.sql.Row],
                             c: DataFrame, idCol: String, vecCol: String,
                             tsCol: String, planes: Int, dims: Int,
                             tomb: Option[DataFrame]): DataFrame = {
    import graft.operators.Similarity
    val q0 = batch
      .select(col(idCol).as("q_id"), col(tsCol).as("ts"), col(vecCol).as("q_vec"))
      .withColumn("qaug", concat(col("q_vec"), array(lit(0.0f))))
      .withColumn("bucket", Similarity.hyperplaneBucket("qaug", dims + 1, planes))
      .withColumn("probe", explode(array(
        col("bucket") +:
          (0 until planes).map(j => col("bucket").bitwiseXOR(lit(1L << j))): _*)))
      .select("q_id", "ts", "q_vec", "probe")
    val q = tomb.fold(q0)(t => q0.join(
      broadcast(t.select(col(idCol).as("q_id"))), Seq("q_id"), "left_anti"))
    val joined0 = q.join(c, Seq("probe"))
      .filter(col("q_id") =!= col("c_id"))
    val joined = tomb.fold(joined0)(t => joined0.join(
      broadcast(t.select(col(idCol).as("c_id"))), Seq("c_id"), "left_anti"))
    joined
      .withColumn("dot", round(Similarity.dot("q_vec", "c_vec"), 6))
      .groupBy(col("q_id"), col("ts"))
      .agg(max(struct(col("dot"), (-col("c_id")).as("nid"))).as("best"))
      .select(col("q_id"), col("ts"),
        (-col("best.nid")).as("c_id"), col("best.dot").as("dot"))
  }

  /** [[mipsServeSink]] with a LIVE INDEX — the generation-aware form
    * closing the r12 note "the tombstone side is live; the index side
    * isn't": the SERVING POINTER (y27's promotion artifact — a store
    * whose rows carry `serving_gen`, the generation's max-norm scalar
    * `mnorm`, and its corpus path) is re-read at EVERY micro-batch, so a
    * rebuild promotion lands at the next batch without a sink restart —
    * the index-side twin of the live-tombstone fix, same foreachBatch
    * mechanism (a fresh frame per batch sees the current file listing).
    * The CURRENT generation is the max `serving_gen` row (promotions are
    * monotone metadata appends, y27's contract). M is read FROM the
    * pointer, never recomputed from the corpus — the augmentation scalar
    * is an index-BUILD artifact (y26's subtlety: a rebuild re-augments,
    * so M travels with the generation; recomputing per batch would both
    * scan the corpus per batch and silently disagree with the stored
    * buckets). Per-batch overhead beyond [[mipsServeSink]]: one
    * metadata-sized pointer read; the corpus relation is constructed per
    * batch but scanned only by the bucket join, same as the static form.
    * The pointer schema is validated loudly (the tombstone-read
    * discipline); output rows carry `serving_gen` so the consumer can see
    * exactly when the switch landed. */
  def mipsServeSinkGenerational(queries: DataFrame, pointerPath: String,
                                idCol: String, vecCol: String, tsCol: String,
                                destDir: String, checkpointDir: String,
                                tombstonePath: Option[String] = None,
                                planes: Int = graft.operators.Similarity.NumPlanes,
                                dims: Int = 64): StreamingQuery = {
    nonEmptyBatches(queries, checkpointDir) { (batch, batchId) =>
      val spark = batch.sparkSession
      val ptr = spark.read.parquet(pointerPath)
      val needed = Seq("serving_gen", "mnorm", "corpus_path")
      require(needed.forall(ptr.schema.fieldNames.contains),
        s"serving pointer at $pointerPath carries columns " +
          s"${ptr.schema.fieldNames.mkString("[", ", ", "]")} — " +
          s"expected ${needed.mkString("(", ", ", ")")}; a missing " +
          "column would silently pin the sink to no generation")
      val cur = ptr.select(col("serving_gen").cast("long"),
          col("mnorm").cast("double"), col("corpus_path"))
        .orderBy(col("serving_gen").desc).head()
      val (gen, mnorm, corpusPath) =
        (cur.getLong(0), cur.getDouble(1), cur.getString(2))
      val corpus = spark.read.parquet(corpusPath)
      val idType = corpus.schema(idCol).dataType
      val c = augmentedCorpus(corpus, idCol, vecCol, mnorm, dims, planes)
      val tomb = readTombstones(spark, tombstonePath, idCol, idType)
      overwriteBatch(
        serveMipsBatch(batch, c, idCol, vecCol, tsCol, planes, dims, tomb)
          .withColumn("serving_gen", lit(gen)),
        batchId, destDir)
    }
  }

  /** Streaming held-out perplexity scoring — the online half of z41: each
    * arriving document is scored against a FITTED bigram count model (the
    * (prev, cur, n_bg) table a batch job persisted through the Store),
    * with interpolated Kneser–Ney's backoff covering bigrams the model
    * never saw. This is what lets the CCNet-style perplexity gate run on
    * a live crawl: the reference LM is fixed, arrivals are new.
    *
    * Scale shape: the bigram explode is stateless and in-scan; the three
    * model joins are STREAM-STATIC left joins (no stream-stream state —
    * the static side is a relation Spark re-reads per micro-batch,
    * broadcast while it fits); the two model scalars (N1+(··), |V_cont|)
    * collect ONCE at stream construction (the model is static — two
    * longs, driver metadata). The only stateful op is the watermarked
    * per-(doc, ts) aggregate, whose state expires with the watermark —
    * total state is O(docs inside the watermark), independent of model
    * and corpus size. Numerics identical to the batch scorer (ONE
    * implementation: [[graft.operators.Lm]]); the spec gates stream ==
    * batch scores on the same drain. Docs under 2 words have no bigrams
    * and emit nothing (the batch scorer's absence semantics). */
  def perplexityScore(docs: DataFrame, model: DataFrame, idCol: String,
                      textCol: String, tsCol: String,
                      watermark: String = "10 minutes"): DataFrame = {
    import graft.operators.Lm
    val ntRow = model.agg(
      count(lit(1)).cast("long").as("n1_tot"),
      countDistinct(col("cur")).cast("long").as("v_cont")).head()
    val (n1Tot, vCont) = (ntRow.getLong(0), ntRow.getLong(1))
    val bg = docs
      .select(col(idCol), col(tsCol).as("ts"), split(col(textCol), " ").as("ws"))
      .withWatermark("ts", watermark)
      .filter(size(col("ws")) >= 2)
      .select(col(idCol), col("ts"), explode(expr(
        "transform(sequence(1, size(ws) - 1), i -> struct(ws[i-1] AS prev, ws[i] AS cur))")).as("b"))
      .select(col(idCol), col("ts"), col("b.prev").as("prev"), col("b.cur").as("cur"))
    bg.join(model, Seq("prev", "cur"), "left")
      .join(Lm.prevStats(model), Seq("prev"), "left")
      .join(Lm.contStats(model), Seq("cur"), "left")
      .withColumn("pkn", Lm.pknExpr(col("n_bg"), col("n_prev"), col("n1_fwd"),
        col("n1_bwd"), lit(n1Tot), lit(vCont)))
      .withColumn("lp", log(col("pkn")).cast("decimal(12,6)"))
      .groupBy(col(idCol), col("ts"))
      .agg(count(lit(1)).cast("int").as("n_bigrams"),
        sum(when(col("n_bg").isNull, 1).otherwise(0)).cast("int").as("n_unseen"),
        (sum(col("lp")).cast("double") / count(lit(1))).as("avg_kn_logprob"))
  }

  /** Streaming fitted-discriminator gate — the online half of z42: each
    * arriving document is scored with the logistic coefficients a batch
    * fit persisted (`model`: lang → b0s/b1s/b2s plus the fit-time keep
    * cutoff `cut`), as ONE stream-static broadcast join (the model is
    * group-cardinality — it CANNOT grow with the corpus, so broadcast is
    * the correct hint here) plus pure expressions. Features are computed
    * in-scan from the text itself — x1 = ln(1+chars), x2 = whitespace
    * fraction, z42's exact definitions (documents.n_chars ≡ length(text),
    * so batch and stream score identically; spec-gated bit-exact). The
    * verdict is eta > cut, the per-language retention cutoff chosen AT
    * FIT TIME — x38's lesson made streaming-shaped: a stream cannot rank
    * inside an unbounded corpus, so the threshold must ship WITH the
    * model. Stateless: no watermark, no shuffle, no state store. */
  def discriminatorGate(docs: DataFrame, model: DataFrame, textCol: String,
                        langCol: String = "lang"): DataFrame = {
    // empty/null text has no features (x2 would divide by zero — an ANSI
    // raise that would kill the stream on one bad arrival): score NULL
    // and drop conservatively, the same posture as the Bloom gates
    val nc = length(col(textCol))
    val x1 = log(lit(1.0) + nc)
    val x2 = (nc - length(expr(s"replace($textCol, ' ', '')")))
      .cast("double") / nc
    docs.join(broadcast(model), Seq(langCol))
      .withColumn("eta", when(nc > 0,
        col("b0s") + col("b1s") * x1 + col("b2s") * x2))
      .withColumn("keep", coalesce(col("eta") > col("cut"), lit(false)))
      .drop("b0s", "b1s", "b2s", "cut")
  }

  /** Stateless unigram-FERTILITY gate: score arrivals by tokens-per-char
    * under a FITTED unigram tokenizer (`Vocab.unigramFit`'s cost table read
    * back from the Store, the z42/z41 fitted-artifact shape) and keep docs
    * that compress — gibberish and wrong-script text segments to near one
    * token per character while in-domain text reuses the learned multi-char
    * tokens, so the ratio is a cheap quality signal the tokenizer itself
    * provides (the fertility-filtering recipe). The model joins as ONE
    * broadcast stream-static row (a constant-key equi-join — the token→cost
    * map is vocab-sized and cannot grow with the corpus); segmentation is
    * `Vocab.unigramViterbi` nested in a pure HOF fold per word — zero
    * state, no watermark, no shuffle. Empty text scores NULL and drops
    * conservatively (the discriminatorGate posture). */
  def fertilityGate(docs: DataFrame, costModel: DataFrame, textCol: String,
                    maxTokensPerChar: Double, maxTok: Int = 4): DataFrame = {
    val vmap = costModel
      .agg(map_from_entries(collect_list(struct(col("token"), col("cost"))))
        .as("vmap"))
      .withColumn("__k", lit(1))
    val joined = docs.withColumn("__k", lit(1))
      .join(broadcast(vmap), Seq("__k")).drop("__k")
    val words = filter(split(col(textCol), " "), w => w =!= "")
    val toks = aggregate(words, lit(0L), (acc, w) =>
      acc + size(graft.operators.Vocab.unigramViterbi(w, col("vmap"), maxTok))
        .cast(LongType))
    val chars = length(translate(col(textCol), " ", ""))
    joined
      .withColumn("n_tokens", toks)
      .withColumn("tokens_per_char",
        when(chars > 0, col("n_tokens").cast(DoubleType) / chars))
      .withColumn("keep",
        coalesce(col("tokens_per_char") <= maxTokensPerChar, lit(false)))
      .drop("vmap")
  }

  /** Streaming near-dup gate: drop incoming docs whose minhash signature
    * LSH-collides with a static corpus — the continuous form of
    * `Dedup.lshCandidatesAgainst`. The corpus rides along as a Bloom
    * filter over its band keys (`Dedup.bandKeyBloom`, broadcast-sized at
    * any corpus scale); each row computes its signature with pure HOF
    * expressions (`Dedup.minhashSignatureExprs` — no explode + groupBy, so
    * NO streaming state, no watermark, no shuffle) and probes the filter
    * once per band. Bloom false positives drop a clean doc (conservative —
    * size `numBits` to taste); false negatives cannot happen, so every
    * surviving doc is genuinely LSH-clean against the corpus. Docs with
    * fewer than 3 words have no shingles and always pass. */
  def nearDupGate(docs: DataFrame, textCol: String,
                  corpusBloom: Option[Array[Byte]], k: Int = 8): DataFrame =
    corpusBloom match {
      case None => docs // empty corpus: nothing to collide with
      case Some(bloom) =>
        val ws = split(col(textCol), " ")
        // guarded: for < 3 words sequence(0, size-3) would DESCEND into
        // negative subscripts (an ANSI-mode raise) — null the array instead;
        // the size(ws) >= 3 conjunct below keeps those rows regardless
        val hvArr = when(size(ws) >= 3, expr(
          s"""transform(
             |  transform(sequence(0, size(split($textCol, ' ')) - 3),
             |    i -> concat_ws(' ', split($textCol, ' ')[i],
             |                        split($textCol, ' ')[i+1],
             |                        split($textCol, ' ')[i+2])),
             |  s -> ${graft.operators.TextAnalysis.hash32Sql("s")})""".stripMargin))
        val hit = graft.operators.Dedup.minhashSignatureExprs(hvArr, k).zipWithIndex
          .map { case (mh, i) =>
            call_function("graft_might_contain", lit(bloom),
              xxhash64(concat(lit(s"mh$i:"), mh.cast("string"))))
          }
          .reduce(_ || _)
        // coalesce the shingle guard: null text makes size(ws) >= 3 NULL,
        // and NULL && true = NULL would drop the row or not depending on
        // whether the corpus bloom happens to contain xxhash64(null)'s
        // fixed seed value — coalescing pins "no shingles → always pass"
        docs.filter(!(coalesce(size(ws) >= 3, lit(false)) && hit))
    }

  /** The derived-version fold both state-maintenance shapes share:
    * version `v{batchId}` is computed deterministically from the latest
    * version `< batchId` (the merge parent) + the batch, so a retried
    * batch rewrites the SAME version directory with the same content
    * (idempotent), and the checkpoint guarantees each source file lands
    * in exactly one batchId. Versions older than the merge parent are
    * deleted (a retry only ever needs the parent).
    *
    * Guard: a version NEWER than the current batchId means the stream's
    * checkpoint was recreated (batchIds restarted) while stateDir kept
    * its history — merging would silently discard the accumulated state
    * and [[readAggState]] (which serves max version) would keep answering
    * from the frozen old state while new versions shadow-write below it.
    * That mismatch is unrecoverable by code, so fail loudly instead. */
  private def foldStateVersion(spark: SparkSession, stateDir: String,
                               batchId: Long)
                              (merge: Option[DataFrame] => DataFrame): Unit = {
    val dir = new org.apache.hadoop.fs.Path(stateDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def versions: Seq[Long] =
      if (!fs.exists(dir)) Seq.empty
      else fs.listStatus(dir).toSeq.map(_.getPath.getName)
        .filter(_.startsWith("v")).map(_.drop(1).toLong)
    val ahead = versions.filter(_ > batchId)
    if (ahead.nonEmpty) throw new IllegalStateException(
      s"state dir $stateDir already holds version v${ahead.max} but the " +
        s"stream is at batch $batchId — its checkpoint was recreated. " +
        "Refusing to silently reset accumulated state; point the stream " +
        "at a fresh stateDir or restore the original checkpoint.")
    val parent = versions.filter(_ < batchId).sorted.lastOption
    merge(parent.map(p => spark.read.parquet(s"$stateDir/v$p")))
      .write.mode("overwrite").parquet(s"$stateDir/v$batchId")
    // GC: a retry of any future batch only reads the latest < its id
    parent.foreach(p => versions.filter(_ < p)
      .foreach(v => fs.delete(new org.apache.hadoop.fs.Path(s"$stateDir/v$v"), true)))
  }

  /** Shape 5: incremental aggregate maintenance — the streaming form of
    * the s15 monoid merge: each micro-batch's partial (count, exact-
    * decimal sum) per key folds into a versioned state table, so the
    * "materialized view" is always one batch-sized merge from fresh,
    * never a corpus rescan.
    *
    * Exactly-once via [[foldStateVersion]]'s derived-version discipline.
    * State schema is pinned (n BIGINT, s_dec DECIMAL(28,2)) so the merge
    * union never widens across versions. */
  def aggStateMaintenance(events: DataFrame, stateDir: String,
                          checkpointDir: String,
                          keyCol: String = "event_type",
                          valCol: String = "value"): StreamingQuery =
    events.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        val partial = batch
          .groupBy(keyCol)
          .agg(count(lit(1)).as("n"),
            sum(col(valCol).cast("decimal(18,2)")).as("s_dec"))
        foldStateVersion(spark, stateDir, batchId) { parent =>
          parent.fold(partial) { prev =>
            prev.unionByName(partial.select(col(keyCol),
                col("n").cast("bigint"), col("s_dec").cast("decimal(28,2)")))
              .groupBy(keyCol)
              .agg(sum(col("n")).as("n"), sum(col("s_dec")).as("s_dec"))
          }.select(col(keyCol), col("n").cast("bigint").as("n"),
            col("s_dec").cast("decimal(28,2)").as("s_dec"))
        }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Shape 6: streaming frequency-sketch maintenance — z25's Count-Min
    * sketch as a continuously-maintained object. Each micro-batch builds
    * its own sketch with Spark's `count_min_sketch` partial-merge
    * aggregate (the only corpus-sized pass), and the driver folds it into
    * the stored corpus sketch via `CountMinSketch.mergeInPlace` — the
    * state is a single (sketch BINARY, n_tot BIGINT) row of a few KB, so
    * the merge is metadata-sized regardless of stream volume, and the
    * live sketch is probe-able at any moment with `graft_cms_estimate`
    * (z25's native read side) without touching raw history.
    *
    * Exactly-once via [[foldStateVersion]]: sketch addition at a fixed
    * seed is deterministic, so a retried batch recomputes the SAME bytes
    * and rewrites the same version directory. An empty batch merges an
    * empty sketch (a no-op) rather than nulling the state. */
  def cmsStateMaintenance(docs: DataFrame, stateDir: String,
                          checkpointDir: String, termCol: String,
                          eps: Double = 0.001, confidence: Double = 0.99,
                          seed: Int = 42): StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
        import org.apache.spark.util.sketch.CountMinSketch
        val spark = batch.sparkSession
        def decode(bytes: Array[Byte]): CountMinSketch =
          CountMinSketch.readFrom(new ByteArrayInputStream(bytes))
        def encode(sk: CountMinSketch): Array[Byte] = {
          val bos = new ByteArrayOutputStream()
          sk.writeTo(bos)
          bos.toByteArray
        }
        val agg = batch.agg(
          call_function("count_min_sketch", col(termCol), lit(eps),
            lit(confidence), lit(seed)).as("sk"),
          count(col(termCol)).as("n_tot")).head()
        // count_min_sketch over zero rows yields an empty sketch, but the
        // column is still guarded: a null (all-null batch) merges as empty
        val batchSk = Option(agg.getAs[Array[Byte]]("sk"))
          .map(decode)
          .getOrElse(CountMinSketch.create(eps, confidence, seed))
        val batchN = agg.getLong(1)
        foldStateVersion(spark, stateDir, batchId) { parent =>
          val (mergedSk, mergedN) = parent.map(_.head()) match {
            case None => (batchSk, batchN)
            case Some(prev) =>
              val acc = decode(prev.getAs[Array[Byte]]("sk"))
              acc.mergeInPlace(batchSk)
              (acc, prev.getAs[Long]("n_tot") + batchN)
          }
          import spark.implicits._
          Seq((encode(mergedSk), mergedN)).toDF("sk", "n_tot")
        }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Latest COMMITTED state version written by any [[foldStateVersion]]
    * maintainer ([[aggStateMaintenance]]'s (key, n, s_dec) table,
    * [[cmsStateMaintenance]]'s one-row (sk, n_tot) sketch) — the contract
    * is schema-agnostic: pick a version directory, read its parquet.
    * Versions carrying a `_SUCCESS` marker win: a crash between directory
    * creation and parquet job commit leaves a v{batchId} dir holding only
    * `_temporary`, which would read back as empty state even though the
    * parent version is intact — fall back to the newest committed
    * version instead. A deployment that disables success markers
    * (`mapreduce.fileoutputcommitter.marksuccessfuljobs=false`, common on
    * object stores) has NO marked versions; then the plain newest version
    * is used, which is exactly the pre-marker behavior. */
  def readAggState(spark: SparkSession, stateDir: String): DataFrame = {
    val dir = new org.apache.hadoop.fs.Path(stateDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val vs =
      if (!fs.exists(dir)) Seq.empty
      else fs.listStatus(dir).toSeq.map(_.getPath.getName)
        .filter(_.startsWith("v")).map(_.drop(1).toLong)
    require(vs.nonEmpty, s"no state versions under $stateDir")
    val committed = vs.filter(v => fs.exists(
      new org.apache.hadoop.fs.Path(s"$stateDir/v$v/_SUCCESS")))
    val pick = if (committed.nonEmpty) committed.max else vs.max
    spark.read.parquet(s"$stateDir/v$pick")
  }

  /** Shape 4: watermarked stream-stream interval join — correlate two live
    * event streams per key when their event times fall within `within` of
    * each other (click↔conversion attribution, doc↔annotation arrival).
    * Both sides carry watermarks AND the join predicate bounds both event
    * times, which is exactly what lets Spark expire join state: each side
    * buffers only `watermark + within` of history per key range, however
    * long the streams run. Non-key/non-time column names must not collide
    * across the sides (rename before joining).
    *
    * `joinType` supports the outer forms ("left_outer"/"full_outer") —
    * unmatched rows emit with nulls once the watermark passes their
    * interval, so an outer result row is never retracted. */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
                   leftTs: String, rightTs: String,
                   watermark: String = "1 hour",
                   within: String = "10 minutes",
                   joinType: String = "inner"): DataFrame = {
    require(leftTs != rightTs,
      "leftTs and rightTs must be distinct column names (rename one side)")
    val l = left.withWatermark(leftTs, watermark)
    val r = right.withWatermark(rightTs, watermark)
      .withColumnRenamed(key, "__rk")
    l.join(r,
        col(key) === col("__rk") &&
          col(rightTs) >= col(leftTs) - expr(s"INTERVAL $within") &&
          col(rightTs) <= col(leftTs) + expr(s"INTERVAL $within"),
        joinType)
      // full_outer: an unmatched RIGHT row carries its key only in __rk
      .withColumn(key, coalesce(col(key), col("__rk")))
      .drop("__rk")
  }

  /** quotaGate input: one arriving document's token bill. */
  case class DocIn(doc_id: Long, source: String, n_tokens: Long)
  /** quotaGate output: the per-document admission verdict plus the
    * source's running admitted-token total AFTER this document. */
  case class QuotaVerdict(doc_id: Long, source: String, n_tokens: Long,
                          admitted: Boolean, running_total: Long)

  /** Per-source token-budget enforcement on Spark 4's `transformWithState`
    * (the arbitrary-stateful-processing v2 API — typed state handles, TTL,
    * timers — which supersedes `flatMapGroupsWithState` for new code; the
    * session-cut op above keeps the v1 form deliberately, so both API
    * generations stay exercised).
    *
    * The ingest-quota shape every multi-tenant training-data pipeline
    * needs: each source may admit documents until its cumulative token
    * count would exceed `budget`; an oversized document is REJECTED and
    * does not consume budget (a later, smaller one may still fit — hard
    * caps, not clip-and-truncate). State per source is ONE long, read and
    * written once per micro-batch; rows fold in doc_id order inside each
    * batch so the admission sequence is deterministic, not
    * batch-layout-dependent (the sessionCut/Ev lesson). The state store
    * must be RocksDB (`spark.sql.streaming.stateStore.providerClass` —
    * transformWithState refuses the HDFS-backed provider); state survives
    * restarts through the checkpoint like every other stateful op here.
    *
    * `stateTtl`: on a continuous stream with a churning source population,
    * pass a duration so idle sources' counters expire instead of growing
    * the store without bound (TTL is the v2 replacement for the manual
    * timeout dance in [[sessionCut]]). */
  class QuotaProcessor(budget: Long, stateTtl: Option[java.time.Duration])
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, DocIn, QuotaVerdict] {
    import org.apache.spark.sql.streaming.{TimeMode, TTLConfig, TimerValues, ValueState}
    @transient private var total: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      total = getHandle.getValueState[Long]("total",
        org.apache.spark.sql.Encoders.scalaLong,
        stateTtl.map(TTLConfig(_)).getOrElse(TTLConfig.NONE))
    override def handleInputRows(key: String, rows: Iterator[DocIn],
                                 timerValues: TimerValues): Iterator[QuotaVerdict] = {
      var t = if (total.exists()) total.get() else 0L
      val out = rows.toSeq.sortBy(_.doc_id).map { r =>
        val admit = t + r.n_tokens <= budget
        if (admit) t += r.n_tokens
        QuotaVerdict(r.doc_id, key, r.n_tokens, admit, t)
      }
      total.update(t)
      out.iterator
    }
  }

  def quotaGate(docs: Dataset[DocIn], budget: Long,
                stateTtl: Option[java.time.Duration] = None): Dataset[QuotaVerdict] = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    // TTL-backed state requires a clock: Spark rejects TTLConfig under
    // TimeMode.None(), so the eviction path runs in ProcessingTime mode.
    // CAVEAT (measured): in ProcessingTime mode the engine keeps
    // scheduling micro-batches to advance the clock for eviction, so an
    // AvailableNow drain NEVER self-terminates (a test drain committed
    // 3,700+ empty batches before being killed). TTL is for CONTINUOUS
    // triggers — drive drains with processAllAvailable() + stop(); batch
    // backfills that rely on AvailableNow termination use stateTtl=None.
    val timeMode = if (stateTtl.isDefined) TimeMode.ProcessingTime() else TimeMode.None()
    docs.groupByKey(_.source)
      .transformWithState(new QuotaProcessor(budget, stateTtl),
        timeMode, OutputMode.Append())
  }

  /** Per-user running state for shape 3. */
  case class UserAcc(userId: Long, total: Double, nEvents: Int)
  /** Emitted when a user's running value-total first crosses `cutoff`. */
  case class SessionCut(userId: Long, total: Double, nEvents: Int)
  /** Input row shape (a projection of the events table). `ts` (epoch
    * micros) orders events WITHIN a micro-batch — without it the fold
    * order, and so the emitted crossing row, would be batch-layout
    * dependent. Cross-batch late data still lands after earlier batches
    * (use the watermarked windowed form when that matters). */
  case class Ev(user_id: Long, ts: Long, value: Double)

  /** Shape 3: emit one row per user the moment their cumulative `value`
    * crosses `cutoff` — the reference's "game over once WP leaves the band"
    * session cut, as managed state. State per key is O(1).
    *
    * `idleTimeout`: on a CONTINUOUS stream pass a duration so per-user
    * state is evicted after that long without events — an ever-growing
    * user population would otherwise grow the state store without bound.
    * Leave it None for AvailableNow drains: a processing-time timer keeps
    * the query alive until it fires, so a drain with eviction enabled
    * would hang until the timeout elapses. */
  def sessionCut(events: Dataset[Ev], cutoff: Double,
                 idleTimeout: Option[String] = None): Dataset[SessionCut] = {
    import events.sparkSession.implicits._
    val timeoutConf = if (idleTimeout.isDefined) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[UserAcc, SessionCut](OutputMode.Append(), timeoutConf) {
        (userId: Long, rows: Iterator[Ev], state: GroupState[UserAcc]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val prior = state.getOption.getOrElse(UserAcc(userId, 0.0, 0))
            val out =
              if (prior.total >= cutoff) Iterator.empty // already emitted
              else {
                var acc = prior
                var fired: Option[SessionCut] = None
                rows.toSeq.sortBy(_.ts).foreach { r =>
                  if (fired.isEmpty) {
                    acc = UserAcc(userId, acc.total + r.value, acc.nEvents + 1)
                    if (acc.total >= cutoff)
                      fired = Some(SessionCut(userId, acc.total, acc.nEvents))
                  }
                }
                state.update(acc)
                fired.iterator
              }
            idleTimeout.foreach(state.setTimeoutDuration)
            out
          }
      }
  }
}
