package graft.sources

import graft.operators.Relational
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Partitioned-Parquet table store — the engine's analog of the reference's
  * SQLite lifecycle (SURVEY.md §3 E1/E2):
  *
  *  - full rebuild = destroy + per-batch append
  *    (`/root/reference/1_rebuild_db.R:12-32`: delete DB file, loop seasons,
  *    `dbWriteTable(append = TRUE)` each);
  *  - incremental update = anti-join by key, append only new rows
  *    (`/root/reference/2_scrape_new_games.R:7-12`, `nflfastR::update_db`);
  *  - post-ETL verification queries
  *    (`/root/reference/1_rebuild_db.R:39-50`, `:16-24`).
  *
  * Scale design: the store is partitioned by a coarse time-like column
  * (`season` in the reference; callers choose), so per-batch writes touch
  * one partition directory, readers get static partition pruning, and the
  * incremental anti-join only scans the key column (Parquet column
  * pruning). Paths go through Hadoop FileSystem, so the same code runs on
  * local disk, HDFS, or an object store.
  */
final case class Store(spark: SparkSession, path: String, partCol: String) {

  private def fs = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** S9: destroy the table (idempotent — missing table is fine).
    * Deliberately does NOT touch the `<path>__epoch` sibling: that file is
    * [[purgeRestartLineage]]'s crash-recovery artifact, written BEFORE the
    * purge's own destroy() call so the epoch survives the window between
    * tree destruction and the new lineage's marker write — sweeping it
    * here would reintroduce exactly the epoch-reset hazard it closes. */
  def destroy(): Unit = {
    val (f, p) = fs
    if (f.exists(p)) { require(f.delete(p, true), s"failed to delete $path") }
    // sweep any aborted sibling tmp an older sidecar writer left behind
    val legacyTmp = new org.apache.hadoop.fs.Path(s"${path}__stats_tmp")
    if (f.exists(legacyTmp)) f.delete(legacyTmp, true)
  }

  def exists: Boolean = { val (f, p) = fs; f.exists(p) }

  /** S7: append one batch (one reference "season"), partitioned. On a
    * TRACKED table (a `_stats` sidecar exists) an untracked append would
    * silently stale the metadata a manifest certifies from — refused;
    * use [[appendTracked]] (or rebuild the sidecar with [[trackFrom]]). */
  def append(df: DataFrame): Unit = {
    require(!statsExist,
      s"$path has a _stats sidecar; a plain append would stale it — use appendTracked")
    appendRaw(df)
  }

  private def appendRaw(df: DataFrame): Unit =
    df.write.mode(SaveMode.Append).partitionBy(partCol).parquet(path)

  /** Idempotent re-load of whole partitions: dynamic partition overwrite
    * replaces exactly the partitions present in `df`, leaving the rest —
    * the safe re-run form of E1's per-season append. */
  def overwritePartitions(df: DataFrame): Unit = {
    // a dynamic overwrite rewrites files that recorded snapshots still
    // reference — versioned tables are append-only (see appendVersioned)
    require(versions.isEmpty,
      s"$path has recorded snapshot versions; overwrite would break time travel")
    // and on a tracked table it would stale the sidecar (see append)
    require(!statsExist,
      s"$path has a _stats sidecar; use overwritePartitionsTracked")
    overwriteRaw(df)
  }

  private def overwriteRaw(df: DataFrame): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partCol).parquet(path)

  /** E1: full rebuild — destroy, then append batch by batch. Batches are
    * provided lazily so a 27-season rebuild never holds two seasons of
    * source data at once. */
  def rebuild(batches: Iterator[DataFrame]): Unit = {
    destroy()
    batches.foreach(append)
  }

  /** Lazy scan (partition pruning + column pruning apply downstream).
    * `mergeSchema = true` is the evolved-history read: a column added
    * mid-history (the reference's pbp schema grew across seasons) appears
    * in the unified schema with nulls for pre-evolution rows. Off by
    * default — schema merging reads every file footer, which costs a
    * metadata pass over the whole table at 100 TB; flip it on only when
    * the table's history is known to span a schema change.
    *
    * When a COMPACTION is in flight or unswept ([[compactVersioned]] →
    * [[vacuum]] window, tracked by the `.needs_vacuum` /`.compacting`/
    * `.vacuuming` markers), plain read resolves THROUGH THE LOG
    * (read ≡ readVersion(latest)): superseded files legitimately coexist
    * with their rewrite in that window, and a raw directory read would
    * double-read every compacted row — the log is the truth about which
    * files ARE the table. Outside that window the directory read IS the
    * resolution: version entries partition the directory's data files
    * exactly (the orphan check enforces it; a crashed append's orphans
    * are transiently visible until the named repair, the documented
    * status quo), so the fast path costs three driver-side existence
    * checks, not a log read per construction — the versioned-lifecycle
    * queries measured 2× slower under unconditional log resolution. */
  def read: DataFrame = read(mergeSchema = false)

  def read(mergeSchema: Boolean): DataFrame = {
    if (logResolvedReadRequired) {
      val vs = versions
      val files = resolutionFiles(vs.last).map(rel => s"$path/$rel")
      if (files.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType.fromDDL(
            readVersionEntry(vs.last)._1))
      else {
        val rd = spark.read.option("basePath", path)
        (if (mergeSchema) rd.option("mergeSchema", "true") else rd)
          .parquet(files: _*)
      }
    }
    else if (mergeSchema) spark.read.option("mergeSchema", "true").parquet(path)
    else spark.read.parquet(path)
  }

  /** True while directory bytes may legitimately differ from the latest
    * version's resolution: between a compaction's base commit and the
    * vacuum that sweeps the superseded files (`.needs_vacuum`), or inside
    * either operation's crash window (`.compacting`/`.vacuuming` intent
    * markers — a crash there can leave unlogged rewrite duplicates). */
  private def logResolvedReadRequired: Boolean = {
    val (f, _) = fs
    f.exists(needsVacuumMarker) || f.exists(compactingMarker) ||
      f.exists(vacuumingMarker)
  }

  /** E2: incremental update — append only rows of `incoming` whose `keys`
    * are not already present. The existing-key scan reads just the key
    * columns. Returns the number of appended rows. */
  def update(incoming: DataFrame, keys: Seq[String]): Long = {
    // a keyed insert on a VERSIONED table would land files recorded in no
    // version — orphans the next versioned write refuses over; version the
    // incremental feed instead (appendVersioned with a batch tag is the
    // re-delivery-safe form)
    require(versions.isEmpty,
      s"$path has recorded snapshot versions; update's append would orphan " +
        "its files from the version log — use appendVersioned (with a " +
        "batch tag for re-delivery safety)")
    val fresh =
      if (!exists) incoming
      else Relational.newRowsOnly(incoming, read, keys)
    // count + write in one pass would need an accumulator; the fresh set is
    // the small side (new games only) so a cached count is cheap
    fresh.cache()
    try {
      val n = fresh.count()
      if (n > 0) append(fresh)
      n
    } finally fresh.unpersist()
  }

  /** Lakehouse MERGE (update-or-insert), partition-scoped: last-writer-wins
    * by key against only the partitions the batch touches — untouched
    * partitions are neither read nor rewritten, so the cost scales with
    * the batch's partition footprint, not the table. The distinct
    * partition list is batch-sized (broadcast semi-join prunes the
    * snapshot scan), and dynamic partition overwrite lands the merge
    * atomically per partition. Complements `update` (insert-only).
    * Precondition: a key's `partCol` value is stable across versions —
    * a batch that MOVES a key to a new partition would leave the old
    * copy behind (the old partition isn't in the batch's footprint). */
  def upsert(updates: DataFrame, keys: Seq[String],
             order: Seq[org.apache.spark.sql.Column] = Nil): Unit = {
    if (!exists) {
      // the first write must establish the same key-uniqueness invariant
      // the merge path maintains: a batch carrying duplicate keys keeps
      // one last-writer-wins row (verbatim append would persist both, and
      // the table's shape would depend on whether it existed beforehand)
      append(Relational.upsert(updates.limit(0), updates, keys, order))
      return
    }
    val affected = read.join(broadcast(touchedParts(updates)),
      col(partCol) <=> col("__gp"), "left_semi")
    overwritePartitions(Relational.upsert(affected, updates, keys, order))
  }

  /** The batch's distinct partition values as a broadcastable relation
    * with a non-colliding column name, for NULL-SAFE touched-partition
    * joins: a plain equi-semi-join never matches a null key, so a batch
    * touching the null partition would exclude that partition's EXISTING
    * rows from the merge input while the dynamic overwrite still replaced
    * its directory — silently dropping them (deleteCore's null rule,
    * applied to the merge paths). */
  private def touchedParts(batch: DataFrame): DataFrame =
    batch.select(col(partCol).as("__gp")).distinct()

  /** SCD2 interval-closing merge — the Store-native form of the s24
    * history derivation: the history table keeps one row PER VERSION of
    * a key (`valid_from`/`valid_to`, null = open), and each batch (a
    * change-feed slice) closes the affected keys' open rows at the
    * batch's first timestamp for that key and appends its own chained
    * versions (consecutive in-batch updates close each other via the
    * s24 lead window; the batch's last version stays open). Partition-
    * scoped like [[upsert]]: only partitions carrying batch keys are
    * read or rewritten — cost follows the batch footprint, not table
    * size; per-key window state is one batch's series, bounded.
    * Preconditions: a key's `partCol` value is stable across versions
    * (upsert's rule), and event time moves forward per key across
    * batches — a batch carrying a timestamp OLDER than a key's open
    * `valid_from` would write an inverted interval, so the merge
    * REFUSES it loudly (one batch-footprint check on the open rows)
    * rather than persisting a corrupt tiling; one carrying an EQUAL
    * timestamp ties with the stored version in an order the one-shot
    * window derivation would decide by tiebreaker instead (within one
    * batch, ties are fine — `order` decides both forms identically).
    * Re-delivery caveat the replay rule implies: a row re-delivered at
    * an already-recorded (key, ts) with DIFFERENT value columns is
    * dropped as a duplicate, not detected as drift — the recorded
    * version wins; an upstream that can mutate a fact at a fixed event
    * time needs a new timestamp (or an `order` tiebreaker) to land the
    * correction. A fully re-delivered batch is a true no-op (no
    * partition rewrite). `order`
    * supplies tiebreakers after `tsCol` (pass the event id); equal-ts
    * versions become zero-length intervals, active at no probe, exactly
    * matching the window-derived form. REPLAY-SAFE on existing tables:
    * versions already recorded (same key + timestamp) drop out of the
    * batch before the merge, so re-applying a delivered batch — a
    * checkpointed foreachBatch restart, an upstream duplicate feed — is
    * a no-op instead of a duplicated history
    * ([[graft.streaming.EventStreams.scd2Sink]] composes exactly-once
    * out of this plus the stream checkpoint).
    *
    * SCHEMA EVOLUTION (`mergeSchema = true`): a change feed that grows a
    * column mid-history (the s27/s29 story reaching the SCD2 store) would
    * otherwise either fail the merge's union or — worse — let parquet
    * inference pin a pre-evolution file's schema and silently drop the
    * new column from the rewritten partitions. With the flag on, the
    * affected snapshot reads with mergeSchema (one footer pass over the
    * table's files — flip it on only when the history is known to span a
    * change, read()'s rule) and the closed∪versioned union null-fills
    * missing columns by name, so pre-evolution versions surface the new
    * column as NULL — exactly the read(mergeSchema) contract, now
    * preserved through the merge's partition rewrites. */
  def upsertScd2(updates: DataFrame, keys: Seq[String], tsCol: String,
                 order: Seq[org.apache.spark.sql.Column] = Nil,
                 mergeSchema: Boolean = false): Unit = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol).asc +: order: _*)
    if (!exists) {
      append(updates
        .withColumn("valid_from", col(tsCol))
        .withColumn("valid_to", lead(col(tsCol), 1).over(w)))
      return
    }
    val affected = read(mergeSchema).join(broadcast(touchedParts(updates)),
      col(partCol) <=> col("__gp"), "left_semi")
    // REPLAY SAFETY (the property a checkpointed foreachBatch sink needs:
    // Structured Streaming re-delivers the in-flight batch after a crash):
    // versions already recorded — same (keys, ts) — drop out of the batch
    // before the merge, so re-applying a batch is a no-op, not a
    // duplicate history. The anti-join touches the affected partitions
    // only (batch-footprint cost, like the merge itself).
    val fresh = updates.join(
      affected.select((keys :+ tsCol).map(col): _*), keys :+ tsCol, "left_anti")
    // fresh feeds four jobs (no-op probe, out-of-order guard, the chained
    // versions, firstTs) — evaluate the anti-join once
    fresh.cache()
    try {
      // a FULLY re-delivered batch leaves fresh empty: a true no-op — do
      // not re-run the merge and rewrite every affected partition with
      // byte-identical content (duplicate delivery must cost nothing)
      if (fresh.isEmpty) return
      val firstTs = fresh.groupBy(keys.map(col): _*)
        .agg(min(col(tsCol)).as("__new_from"))
      // OUT-OF-ORDER guard: a batch carrying a timestamp OLDER than an
      // affected key's open valid_from would close that interval at a time
      // before it opened — an inverted interval (valid_to < valid_from)
      // that readAsOf silently never matches. That is always an upstream
      // delivery bug (the contract: event time moves forward per key
      // across batches), so fail loudly here instead of persisting a
      // corrupt tiling. Cost: one batch-footprint join on the open rows.
      val inverted = affected.filter(col("valid_to").isNull)
        .select(keys.map(col) :+ col("valid_from"): _*)
        .join(firstTs, keys)
        .filter(col("__new_from") < col("valid_from"))
        .count()
      require(inverted == 0L,
        s"upsertScd2 at $path: $inverted key(s) arrive with a timestamp " +
          "older than their open version's valid_from — out-of-order " +
          "cross-batch delivery would write an inverted interval; deliver " +
          "change batches in per-key event-time order")
      val versioned = fresh
        .withColumn("valid_from", col(tsCol))
        .withColumn("valid_to", lead(col(tsCol), 1).over(w))
      val closed = affected.join(firstTs, keys, "left")
        .withColumn("valid_to",
          when(col("valid_to").isNull && col("__new_from").isNotNull,
            col("__new_from")).otherwise(col("valid_to")))
        .drop("__new_from")
      // gated null-fill: with mergeSchema off, a column-name mismatch is a
      // caller bug and must keep failing loudly rather than silently
      // null-padding its way into history
      overwritePartitions(
        closed.unionByName(versioned, allowMissingColumns = mergeSchema))
    } finally fresh.unpersist()
  }

  /** Partition-scoped DELETE — the x44 takedown shape as a Store
    * primitive: rows matching `remove` leave the table by dynamically
    * overwriting ONLY the partitions that contain them (the touched-
    * partition list is read from the matching rows, broadcast, and the
    * rewrite carries each touched partition's retained rows). Cost
    * follows the removed rows' partition footprint, not table size —
    * on a date-partitioned 100-TB table a takedown touching three days
    * rewrites three directories. Returns the number of touched
    * partitions (0 = nothing matched, nothing rewritten). Refused on
    * versioned tables (rewriting recorded files breaks time travel —
    * that collision is [[purgeRestartLineage]]'s job) and tracked
    * tables (the sidecar would stale; retrofit with trackFrom after). */
  def deleteWhere(remove: org.apache.spark.sql.Column): Long = {
    require(versions.isEmpty,
      s"$path has recorded snapshot versions; deleteWhere would rewrite " +
        "files old snapshots reference — purgeRestartLineage is the " +
        "versioned-table form")
    require(!statsExist,
      s"$path has a _stats sidecar; a blind deleteWhere would stale it — " +
        "use deleteWhereTracked(remove, term) to maintain it through the delete")
    deleteCore(remove)(_ => ())
  }

  /** [[deleteWhere]] on a TRACKED table: same partition-scoped delete, and
    * the `_stats` sidecar is MAINTAINED through it instead of refused —
    * touched partitions' rows are replaced from a re-read of the retained
    * rewrite (the [[appendTracked]] disk-truth discipline), fully-emptied
    * partitions' rows are dropped. At 100 TB a table wants BOTH the s22
    * metadata layer and partition-scoped takedowns; forcing a full
    * `trackFrom` retrofit after every delete would re-scan the table at
    * governance cadence. `term` is the caller's per-row checksum term —
    * the SAME term every other tracked write used, or the sidecar stops
    * certifying anything. Cost beyond the delete itself: one scan of the
    * touched partitions' retained rows (batch-footprint, not table). */
  def deleteWhereTracked(remove: org.apache.spark.sql.Column,
                         term: org.apache.spark.sql.Column): Long = {
    require(versions.isEmpty,
      s"$path has recorded snapshot versions; deleteWhere would rewrite " +
        "files old snapshots reference — purgeRestartLineage is the " +
        "versioned-table form")
    require(statsExist,
      s"$path has no _stats sidecar — plain deleteWhere is the untracked form")
    deleteCore(remove) { touchedVals =>
      // replace ALL touched partitions' sidecar rows: surviving ones get
      // stats recomputed from the files the rewrite landed; emptied ones
      // simply have no replacement row (statsOf over the re-read yields
      // nothing for them), so the filter drop IS their removal. The
      // touched set arrives as COLLECTED values, not a frame: a cached
      // frame over the table is invalidated by the rewrite's refreshByPath
      // and would silently recompute EMPTY against the post-delete table.
      val nonNull = touchedVals.filter(_ != null)
      val touchPred = {
        val inSet =
          if (nonNull.isEmpty) lit(false)
          else col(partCol).isin(nonNull: _*)
        if (nonNull.size < touchedVals.size) inSet || col(partCol).isNull
        else inSet
      }
      val retained = readStats.filter(not(coalesce(touchPred, lit(false))))
      // FULL WIPE: a predicate that emptied every partition leaves ZERO
      // data files — `read` on the dataless root would throw
      // UNABLE_TO_INFER_SCHEMA after the destructive rewrite but before
      // the sidecar update, stranding a sidecar that certifies rows no
      // longer on disk (exactly the staleness the tracked form exists to
      // prevent — r12 ADVICE). With no files there is nothing to re-scan:
      // commit the retained rows directly (empty when everything was
      // touched; untouched partitions' rows when a disjoint wipe somehow
      // removed only the touched files).
      if (listDataFiles().isEmpty) writeStats(retained)
      else writeStats(retained.unionByName(statsOf(read.filter(touchPred), term)))
    }
  }

  /** Shared body of [[deleteWhere]]/[[deleteWhereTracked]]. SQL DELETE
    * semantics under three-valued logic: a row where `remove` evaluates to
    * NULL (a null predicate input) is UNKNOWN — it is neither selected for
    * removal (`filter(remove)` drops it) nor removed by the retained
    * rewrite, which keeps `NOT coalesce(remove, false)` rows; the naive
    * `filter(!remove)` would silently delete null-predicate rows in
    * touched partitions while identical rows in untouched partitions
    * survived. `afterRewrite` runs after the data rewrite with the
    * touched partitions' COLLECTED values (values, not a frame: any frame
    * over the table is cache-invalidated by the rewrite's refreshByPath
    * and would silently recompute against the post-delete table). */
  private def deleteCore(remove: org.apache.spark.sql.Column)
                        (afterRewrite: Seq[Any] => Unit): Long = {
    val parts = read.filter(remove).select(partCol).distinct()
    parts.cache()
    try {
      val n = parts.count()
      if (n > 0) {
        // null-safe equality: a touched NULL partition must join like any
        // other (plain equi-semi-join never matches null keys, which would
        // exclude the null partition's retained rows from the rewrite and
        // then delete the whole directory below — over-deletion)
        val partsR = parts.select(col(partCol).as("__gp"))
        val touched = read.join(broadcast(partsR),
          col(partCol) <=> col("__gp"), "left_semi")
        // rows must be materialized off the files being overwritten: the
        // dynamic overwrite rewrites the directories this frame reads, so
        // snapshot through a durable temp path first (compact's rule)
        val tmp = s"${path}__delete_tmp"
        val tmpPath = new org.apache.hadoop.fs.Path(tmp)
        val (f, _) = fs
        try {
          touched.filter(not(coalesce(remove, lit(false))))
            .write.mode(SaveMode.Overwrite).partitionBy(partCol).parquet(tmp)
          // an all-matching delete lands no tmp data files — there is
          // nothing to overwrite back, only directories to remove
          val tmpHasData = hasParquetFile(f, tmpPath)
          // a partition whose every row matched must still be REPLACED
          // (with nothing): dynamic overwrite only touches partitions
          // present in the written frame, so fully-emptied partitions are
          // deleted explicitly by path — through the SAME Hive-style
          // escaping Spark's writers use (special characters percent-
          // encoded, null → __HIVE_DEFAULT_PARTITION__); a raw
          // s"$partCol=$v" path would silently miss e.g. a value with a
          // space or colon and leave the taken-down rows readable. The
          // existence check turns any residual naming mismatch into a
          // loud failure instead of a silent no-op delete.
          val remaining: Set[Any] =
            if (!tmpHasData) Set.empty
            else spark.read.parquet(tmp).select(partCol).distinct()
              .collect().map(_.get(0)).toSet
          val touchedVals = parts.collect().map(_.get(0)).toSeq
          touchedVals.filterNot(remaining.contains)
            .foreach { v =>
              val dirName = org.apache.spark.sql.catalyst.catalog
                .ExternalCatalogUtils.getPartitionPathString(
                  partCol, if (v == null) null else v.toString)
              val dir = new org.apache.hadoop.fs.Path(s"$path/$dirName")
              require(f.exists(dir),
                s"deleteWhere at $path: emptied partition directory " +
                  s"$dirName not found on disk — partition-path escaping " +
                  "mismatch would leave removed rows readable")
              require(f.delete(dir, true),
                s"deleteWhere at $path: failed to remove $dirName")
            }
          if (remaining.nonEmpty) overwriteRaw(spark.read.parquet(tmp))
          afterRewrite(touchedVals)
        } finally f.delete(tmpPath, true)
      }
      n
    } finally parts.unpersist()
  }

  /** Point-in-time read of an SCD2 history table ([[upsertScd2]]): the
    * version active at `ts` per key — valid_from <= ts < valid_to, open
    * rows unbounded above. O(touched partitions) under a partCol
    * predicate pushed by the caller; the interval predicate itself
    * prunes via parquet min/max stats on valid_from. */
  def readAsOf(ts: Long): DataFrame =
    read.filter(col("valid_from") <= ts &&
      (col("valid_to").isNull || col("valid_to") > ts))

  /** Post-rebuild invariant query: rows per partition
    * (`/root/reference/1_rebuild_db.R:40-44`). */
  def countsByPartition: DataFrame =
    read.groupBy(partCol).count().orderBy(partCol)

  // ---- per-partition statistics sidecar ----------------------------------
  //
  // The Iceberg/Delta-style metadata layer in its minimal honest form: a
  // tiny `_stats` relation (one row per partition: row count + an additive
  // content checksum on the 2³¹−1 lattice) maintained INCREMENTALLY at
  // write time — append ADDS a batch's per-partition stats (counts and
  // lattice checksums are both additive mod M), dynamic partition
  // overwrite REPLACES the touched partitions' rows. A run manifest or
  // promotion diff (x42/x43's shape) then reads O(partitions) metadata
  // instead of scanning O(rows) data — at 100 TB the sidecar is the only
  // thing a daily manifest needs to touch. The caller supplies the per-row
  // checksum TERM (a Column), so the stats stay recomputable by any engine
  // that can replay the term — the property the s22 oracle gate exploits.
  // The sidecar lives under `_stats` inside the table directory: Spark's
  // file index ignores underscore-prefixed paths, so plain `read`,
  // appends, and dynamic partition overwrites never see it, while
  // `destroy` removes table and sidecar together.

  private val StatsM = 2147483647L

  /** Per-partition (n_rows, checksum) of one batch under the caller's
    * per-row checksum term. Map-side combinable; terms reduce below 2³¹
    * before the sum (z46's overflow rule). */
  def statsOf(df: DataFrame, term: org.apache.spark.sql.Column): DataFrame =
    df.groupBy(col(partCol))
      .agg(count(lit(1)).as("n_rows"),
        pmod(sum(pmod(term, lit(StatsM))), lit(StatsM)).cast("long").as("checksum"))

  /** Append + fold the batch's stats into the sidecar (additive merge).
    * Stats are computed from the FILES THE APPEND LANDED (the before/after
    * listing brackets one append under the store's single-writer
    * discipline), not by re-executing the input plan — so a
    * nondeterministic batch (sampling, rand()) still gets a sidecar that
    * certifies what is actually on disk, and a deterministic one doesn't
    * pay a second plan execution; the extra cost is one scan of the new
    * files only. */
  def appendTracked(df: DataFrame, term: org.apache.spark.sql.Column): Unit = {
    // on a VERSIONED table this append would land files recorded in no
    // version — orphans the next versioned write refuses over; the
    // composed form commits both ledgers in one call
    require(versions.isEmpty,
      s"$path has recorded snapshot versions; a tracked-only append would " +
        "orphan its files from the version log — use appendVersionedTracked")
    // guard the guard: on a pre-existing UNTRACKED table, a tracked write
    // would create a sidecar covering ONLY this batch — and from then on
    // statsExist=true would certify the table as fully tracked, silently
    // under-counting the pre-existing data to every metadata-only reader.
    // Bootstrap with trackFrom(read, term) first (one full scan, once).
    val before = listDataFiles()
    require(statsExist || before.isEmpty,
      s"$path has data without a _stats sidecar; a tracked write would " +
        "certify only this batch — bootstrap with trackFrom(read, term) first")
    appendRaw(df)
    val added = (listDataFiles() -- before).toSeq.sorted.map(rel => s"$path/$rel")
    if (added.nonEmpty)
      mergeStats(
        statsOf(spark.read.option("basePath", path).parquet(added: _*), term),
        replace = false)
    else if (!statsExist)
      mergeStats(statsOf(df.limit(0), term), replace = false)
  }

  /** Dynamic partition overwrite + replace the touched partitions' stats.
    * Same disk-truth discipline as [[appendTracked]]: the replacement
    * stats come from re-reading the partitions the overwrite landed. */
  def overwritePartitionsTracked(df: DataFrame,
                                 term: org.apache.spark.sql.Column): Unit = {
    require(versions.isEmpty,
      s"$path has recorded snapshot versions; overwrite would break time travel")
    require(statsExist || listDataFiles().isEmpty, // appendTracked's bootstrap rule
      s"$path has data without a _stats sidecar; a tracked write would " +
        "certify only the touched partitions — bootstrap with " +
        "trackFrom(read, term) first")
    overwriteRaw(df)
    mergeStats(statsOf(read.join(broadcast(touchedParts(df)),
      col(partCol) <=> col("__gp"), "left_semi"), term), replace = true)
  }

  private def statsDir = new org.apache.hadoop.fs.Path(s"$path/_stats")

  /** Committed sidecar versions, ascending. A version counts only once its
    * `_SUCCESS` marker exists — the committer drops the marker LAST, so it
    * is the commit point: a crash mid-write leaves a markerless child that
    * every reader ignores and the previous version live. */
  private def statsVersions: Seq[Long] = {
    val (f, _) = fs
    if (!f.exists(statsDir)) Seq.empty
    else f.listStatus(statsDir).filter(_.isDirectory)
      .map(_.getPath.getName).filter(_.startsWith("v"))
      .flatMap(n => scala.util.Try(n.drop(1).toLong).toOption)
      .filter(v => f.exists(
        new org.apache.hadoop.fs.Path(statsDir, s"v$v/_SUCCESS")))
      .sorted.toSeq
  }

  def statsExist: Boolean = statsVersions.nonEmpty

  /** The sidecar relation: (partCol, n_rows, checksum), one row per
    * partition ever written. O(partitions) at any table size.
    *
    * Laziness contract: the frame points at the CURRENT sidecar version;
    * [[writeStats]] retains exactly one superseded generation, so a frame
    * obtained before a later tracked write still executes after THAT
    * write, but not after two — consume (or `.localCheckpoint`) promptly
    * rather than holding it across multiple writes. */
  def readStats: DataFrame = {
    val vs = statsVersions
    require(vs.nonEmpty, s"no _stats sidecar at $path — use appendTracked")
    spark.read.parquet(s"$path/_stats/v${vs.last}")
  }

  // ---- snapshot versions / time travel -----------------------------------
  //
  // The minimal honest form of a lakehouse transaction log: each versioned
  // append records the DATA FILES it added under `_log/v<N>` (metadata-
  // sized — a file list, never data), and `readVersion(n)` reconstructs
  // the table exactly as it stood after batch n by reading the union of
  // files recorded through version n. That is what pins a training run to
  // a reproducible corpus snapshot — "run R trained on corpus version 7"
  // stays answerable (and re-readable) after arbitrarily many later
  // appends, and an x42-style manifest can name the version it describes.
  // Append-only by design (the repo's E2 shape): a dynamic partition
  // OVERWRITE rewrites files that older versions still reference, so
  // versioned tables reject it — compaction/overwrite means starting a
  // new versioned table (exactly Delta's "rewrite = new snapshot lineage"
  // in minimal form). Relies on the store's single-writer discipline (the
  // before/after listing brackets one append).

  private def logDir = new org.apache.hadoop.fs.Path(s"$path/_log")

  /** Whether any `.parquet` file lies under `dir` (a rewrite's temp
    * snapshot lands none when every row was removed). */
  private def hasParquetFile(f: org.apache.hadoop.fs.FileSystem,
                             dir: org.apache.hadoop.fs.Path): Boolean = {
    val it = f.listFiles(dir, true)
    var found = false
    while (!found && it.hasNext) {
      val st = it.next()
      if (st.isFile && st.getPath.getName.endsWith(".parquet")) found = true
    }
    found
  }

  private def listDataFiles(): Set[String] = {
    val (f, p) = fs
    if (!f.exists(p)) Set.empty
    else {
      val base = f.makeQualified(p).toString
      val it = f.listFiles(p, true)
      val b = Set.newBuilder[String]
      while (it.hasNext) {
        val st = it.next()
        val name = st.getPath.getName
        val rel = f.makeQualified(st.getPath).toString
          .stripPrefix(base).stripPrefix("/")
        // data files only: skip _SUCCESS, _stats, _log, hidden files
        if (st.isFile && !name.startsWith("_") && !name.startsWith(".") &&
          !rel.startsWith("_")) b += rel
      }
      b.result()
    }
  }

  /** Versions recorded so far, ascending (v1, v2, ...). A version whose
    * primary `v<N>` entry is mid-replacement by a crashed
    * [[collapseHistory]] still counts via its committed `.v<N>_merged`
    * recovery artifact — readers never observe the collapse's
    * delete+rename window as a missing version. */
  def versions: Seq[Long] = {
    val (f, _) = fs
    if (!f.exists(logDir)) Seq.empty
    else f.listStatus(logDir).map(_.getPath.getName)
      .flatMap {
        case n if n.startsWith(".v") && n.endsWith("_merged") =>
          scala.util.Try(n.stripPrefix(".v").stripSuffix("_merged").toLong).toOption
        case n if n.startsWith("v") =>
          scala.util.Try(n.drop(1).toLong).toOption
        case _ => None
      }.distinct.sorted.toSeq
  }

  /** Append one batch and record it as the next snapshot version.
    * Returns the new version number. The log entry's first line is the
    * batch SCHEMA (DDL), so a snapshot whose recorded batches were all
    * empty (an all-dup ingest day — a zero-row append lands no data
    * files) still reconstructs as a typed empty relation instead of
    * failing schema inference. Cost note: the before/after listing is a
    * full table enumeration per append — fine at this store's scale; a
    * production lakehouse writer reports its added files through the
    * commit protocol instead of diffing listings, which is the swap this
    * method's contract (record WHAT THIS BATCH ADDED) is designed for.
    *
    * `batchTag`: an idempotency key recorded IN the log entry (the commit
    * is the atomic point, so tag and version can never disagree) — a
    * writer that may re-deliver a batch (a checkpointed streaming sink, a
    * retried orchestrator step) probes [[hasBatchTag]] first and skips
    * the duplicate; see [[graft.streaming.EventStreams.versionedIngestSink]]. */
  def appendVersioned(df: DataFrame): Long = appendVersioned(df, None)

  def appendVersioned(df: DataFrame, batchTag: Option[String]): Long = {
    val before = listDataFiles()
    // orphan check: every data file visible to plain read must be recorded
    // in SOME version, or readVersion(latest) silently diverges from read —
    // the two ways that happens are a pre-existing unversioned table and a
    // crash between the data append and the log write (files landed,
    // version never recorded; our before-listing would exclude them
    // forever). Fail loudly instead of silently skipping; adoptOrphans()
    // records them as a repair version.
    val orphans = before -- loggedFiles()
    require(orphans.isEmpty,
      s"$path has ${orphans.size} data file(s) visible to read but recorded " +
        "in no version (pre-existing unversioned data, or a crash between " +
        "append and log write) — adoptOrphans() to record them as a repair " +
        "version, or start a fresh versioned table")
    append(df)
    val added = (listDataFiles() -- before).toSeq.sorted
    writeVersionEntry(df.schema.toDDL, added,
      batchTag.map(t => s"#batch=$t").toSeq)
  }

  /** True iff some recorded version carries `batchTag` — the re-delivery
    * probe for tagged [[appendVersioned]] writers. O(versions) metadata
    * reads, never data. */
  def hasBatchTag(tag: String): Boolean =
    versions.exists(v => entryHeaders(v).contains(s"#batch=$tag"))

  /** VERSIONS + STATS SIDECAR in one commit — the composition a 100-TB
    * governed table actually wants (r12 verdict #3): time travel / CDC
    * ([[appendVersioned]]'s `_log`) AND the metadata layer
    * ([[appendTracked]]'s `_stats`) on the SAME table, where each half
    * alone refuses the other's state. One batch lands as the next version
    * entry AND merges its per-partition stats, both under the existing
    * single-writer create-exclusive discipline. Returns the new version.
    *
    * Commit order is sidecar BEFORE log entry, chosen by which crash
    * window fails loud: a crash after the data append leaves orphan files
    * the next versioned write names ([[adoptOrphans]] is the repair — its
    * version is tagged, see [[isRepairVersion]]); a crash between the
    * sidecar merge and the log commit leaves the sidecar one batch AHEAD
    * of the log, surfaced by the SAME orphan check (the batch's files are
    * logged nowhere) — repair with adoptOrphans() and the sidecar is
    * already correct. The inverse order would commit a version whose rows
    * the sidecar silently under-certifies — staleness no guard sees.
    * Stats come from the files the append landed (disk truth, the
    * appendTracked discipline). [[purgeRestartLineage]] maintains the
    * composition through a purge (pass `term`); [[collapseHistory]] is
    * metadata-only and leaves a valid sidecar untouched. */
  def appendVersionedTracked(df: DataFrame,
                             term: org.apache.spark.sql.Column): Long = {
    val before = listDataFiles()
    val orphans = before -- loggedFiles()
    require(orphans.isEmpty,
      s"$path has ${orphans.size} data file(s) visible to read but recorded " +
        "in no version (pre-existing unversioned data, or a crash between " +
        "append and log write) — adoptOrphans() to record them as a repair " +
        "version, or start a fresh versioned table")
    require(statsExist || before.isEmpty, // appendTracked's bootstrap rule
      s"$path has data without a _stats sidecar; a tracked write would " +
        "certify only this batch — bootstrap with trackFrom(read, term) first")
    appendRaw(df)
    val added = (listDataFiles() -- before).toSeq.sorted
    if (added.nonEmpty)
      mergeStats(
        statsOf(spark.read.option("basePath", path)
          .parquet(added.map(rel => s"$path/$rel"): _*), term),
        replace = false)
    else if (!statsExist)
      mergeStats(statsOf(df.limit(0), term), replace = false)
    writeVersionEntry(df.schema.toDDL, added)
  }

  /** Repair path for [[appendVersioned]]'s orphan check: record every data
    * file visible to plain read but logged in no version as the next
    * version (schema inferred from the table). Returns the repair version,
    * or None if there was nothing to adopt. The version is TAGGED as a
    * repair (`_log/.v<N>_repair`, read back via [[isRepairVersion]]) so a
    * manifest diff can report `repaired` instead of a spurious `changed` —
    * the tag lands after the entry commits, so a crash between the two
    * leaves an untagged repair (reported as a normal append — the pre-tag
    * status quo, benign) rather than a tag naming no version. */
  def adoptOrphans(): Option[Long] = {
    val orphans = (listDataFiles() -- loggedFiles()).toSeq.sorted
    if (orphans.isEmpty) None
    else {
      val v = writeVersionEntry(read.schema.toDDL, orphans)
      val (f, _) = fs
      f.create(repairMarker(v), true).close()
      Some(v)
    }
  }

  private def repairMarker(v: Long) =
    new org.apache.hadoop.fs.Path(logDir, s".v${v}_repair")

  /** True iff version `v` was recorded by [[adoptOrphans]] — the signal
    * that lets an x43-style manifest diff name a repair instead of
    * misreporting it as content change. Collapsed-away versions lose the
    * tag with the entry (the merged base is a collapse artifact, not a
    * repair). */
  def isRepairVersion(v: Long): Boolean = {
    val (f, _) = fs
    f.exists(repairMarker(v))
  }

  /** Union of the data files recorded by every version entry. */
  private def loggedFiles(): Set[String] =
    versions.flatMap(v => readVersionEntry(v)._2).toSet

  /** Log commit — the single-writer discipline's CHECKED form: the entry
    * is created exclusively (`overwrite = false`), so two concurrent
    * writers that both computed v = last+1 cannot both commit — the loser
    * fails loudly here instead of silently shadowing the winner's batch
    * out of history (its data files are already on disk as orphans; the
    * next appendVersioned's orphan check names them and adoptOrphans()
    * records them as a repair version). This is the minimal form of the
    * optimistic-concurrency commit every real table format has. */
  private def writeVersionEntry(schemaDdl: String, added: Seq[String],
                                headers: Seq[String] = Nil): Long = {
    val v = versions.lastOption.getOrElse(0L) + 1
    commitVersionEntry(v, schemaDdl, added, headers)
    v
  }

  /** The commit step alone, at a CALLER-CHOSEN version number —
    * package-visible so the spec can reproduce the racing-writer state
    * deterministically (two writers that both computed v = last+1; the
    * second commit must fail loudly here). Entry layout: line 1 = schema
    * DDL, then zero or more `#`-prefixed HEADER lines (`#base` marks a
    * compaction/collapse base whose file list REPLACES the cumulative
    * history below it; `#batch=<tag>` is a writer idempotency key), then
    * the relative data-file paths — headers can never collide with paths
    * because the store never writes a path component starting with `#`. */
  private[graft] def commitVersionEntry(v: Long, schemaDdl: String,
                                        added: Seq[String],
                                        headers: Seq[String] = Nil): Unit = {
    val (f, _) = fs
    // only an already-exists failure means a racing committer; any other
    // IOException (permissions, disk full, transient FS) propagates
    // unchanged — misreporting it as a concurrent writer would send the
    // operator to adoptOrphans(), the wrong repair (r12 ADVICE)
    val out =
      try f.create(new org.apache.hadoop.fs.Path(logDir, s"v$v"), false)
      catch {
        case e @ (_: org.apache.hadoop.fs.FileAlreadyExistsException |
                  _: java.nio.file.FileAlreadyExistsException) =>
          throw new IllegalStateException(
            s"concurrent writer detected at $path: log entry v$v already " +
              "exists — the store is single-writer per table; this batch's " +
              "data files are orphaned (adoptOrphans() records them as a " +
              "repair version)", e)
      }
    try out.write((schemaDdl +: (headers ++ added)).mkString("\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** One version entry: (schema DDL, header lines, relative data-file
    * paths). Falls back to the `.v<N>_merged` recovery artifact when the
    * primary entry is missing — the crash window inside
    * [[collapseHistory]]'s commit. */
  private def readVersionEntryFull(n: Long): (String, Seq[String], Seq[String]) = {
    val (f, _) = fs
    val primary = new org.apache.hadoop.fs.Path(logDir, s"v$n")
    val p =
      if (f.exists(primary)) primary
      else {
        val recovery = new org.apache.hadoop.fs.Path(logDir, s".v${n}_merged")
        require(f.exists(recovery), s"missing log entry v$n at $path")
        recovery
      }
    val in = f.open(p)
    val txt = try new String(
      org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
    finally in.close()
    val lines = txt.split("\n").toSeq
    val (headers, files) = lines.tail.filter(_.nonEmpty).partition(_.startsWith("#"))
    (lines.head, headers, files)
  }

  private def readVersionEntry(n: Long): (String, Seq[String]) = {
    val (s0, _, files) = readVersionEntryFull(n)
    (s0, files)
  }

  private def entryHeaders(n: Long): Seq[String] = readVersionEntryFull(n)._2

  /** True iff version `v` is a BASE entry — its file list REPLACES the
    * cumulative history below it. Bases are written by
    * [[compactVersioned]] (a data rewrite that adds no rows) and by
    * [[collapseHistory]] (a metadata fold). */
  def isBaseEntry(v: Long): Boolean = entryHeaders(v).contains("#base")

  /** The files version `v` RESOLVES to: the greatest base at or below `v`
    * (whose list already carries everything older), plus the non-base
    * deltas above it. Without a base: every entry's files through `v`.
    * Distinct: a crash between collapseHistory's merged-entry commit and
    * its old-entry deletes leaves overlapping references — dedupe makes
    * that window harmless instead of double-reading rows. */
  private def resolutionFiles(v: Long): Seq[String] = {
    // one read per entry: everything at or after the LAST base (the base
    // carries all older content; entries above it are necessarily deltas)
    val entries = versions.filter(_ <= v).map(readVersionEntryFull)
    val baseIdx = entries.lastIndexWhere(_._2.contains("#base"))
    (if (baseIdx < 0) entries else entries.drop(baseIdx))
      .flatMap(_._3).distinct
  }

  /** The table exactly as it stood after version `v`: the files it
    * resolves to through the log (base-aware — see [[resolutionFiles]]).
    * `basePath` keeps partition-column recovery working on an explicit
    * file list; an all-empty prefix yields a typed empty relation from
    * the logged schema. */
  def readVersion(v: Long): DataFrame = {
    require(versions.contains(v), s"unknown version $v at $path (have $versions)")
    val files = resolutionFiles(v).map(rel => s"$path/$rel")
    if (files.nonEmpty) spark.read.option("basePath", path).parquet(files: _*)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(readVersionEntry(v)._1))
  }

  /** Change-data read on a versioned table: the rows ADDED by versions in
    * (fromV, toV] — the append-only store's change feed. Reads ONLY the
    * files those versions recorded, so the cost is O(changed bytes) and
    * the decision of WHICH bytes is a metadata read of the `_log` entries
    * — the log IS the diff. This is what turns a downstream incremental
    * consumer (x39's daily resolution, x48's count merge, s25's SCD2
    * upsert) into a pure pull: "give me what changed since the version I
    * last processed", no table scan, no keyed full-outer diff (s17's
    * O(table) form remains for tables WITHOUT a log). `fromV = 0` means
    * "from the beginning" (≡ readVersion(toV)). */
  def readChanges(fromV: Long, toV: Long): DataFrame =
    readChanges(fromV, toV, mergeSchema = false)

  /** [[readChanges]] across a SCHEMA EVOLUTION boundary: when the range's
    * versions straddle a column add (a later batch arrived with a new
    * column — the s27 story), `mergeSchema = true` unions the recorded
    * files' schemas so pre-evolution delta rows surface the new column as
    * NULL instead of the read failing or silently pinning one file's
    * schema. Costs a footer read per CHANGED file only — the range's
    * files, never the table's — so the metadata pass stays O(changes)
    * like the data read. */
  /** The oldest NON-ZERO cursor [[readChanges]] still accepts — the
    * retention boundary [[collapseHistory]] establishes: per-version
    * deltas at or below the collapse target fold into the base entry, so
    * a consumer cursor strictly below this version no longer resolves
    * (fromV = 0, the full-history read, always does). A CDC consumer
    * paused across a collapse compares its cursor here before pulling;
    * below the boundary the contract is RE-BOOTSTRAP — rebuild state from
    * `readVersion(earliestChangeVersion)` and resume the feed from that
    * cursor ([[Store.RetentionBoundaryException]] names the same path). */
  def earliestChangeVersion: Long = versions.headOption.getOrElse(0L)

  def readChanges(fromV: Long, toV: Long, mergeSchema: Boolean): DataFrame = {
    require(fromV < toV, s"empty change range ($fromV, $toV]")
    val vs = versions
    if (fromV != 0 && !vs.contains(fromV)) {
      // name the retention boundary when that is what the cursor hit — a
      // generic "unknown version" sends the consumer debugging a corrupt
      // log instead of running the documented re-bootstrap (r12 verdict)
      if (vs.nonEmpty && fromV < vs.head)
        throw new Store.RetentionBoundaryException(path, fromV, vs.head)
      throw new IllegalArgumentException(
        s"unknown from-version $fromV at $path (have $vs)")
    }
    require(vs.contains(toV),
      s"unknown to-version $toV at $path (have $vs)")
    // fromV = 0 is the full-history read: resolve like readVersion (a
    // base's files SUPERSEDE the pre-base deltas — a raw union would
    // double-read every row a compaction rewrote). For a real cursor,
    // the rows ADDED in (fromV, toV] are the NON-BASE entries' files:
    // a base is a rewrite, dataChange = false — it adds nothing, so a
    // consumer whose range straddles a compaction sees exactly the
    // ingested deltas and never the rewrite (Delta's dataChange=false
    // contract in this store's minimal form).
    val files =
      (if (fromV == 0) resolutionFiles(toV)
       else versions.filter(v => v > fromV && v <= toV && !isBaseEntry(v))
         .flatMap(v => readVersionEntry(v)._2).distinct)
        .map(rel => s"$path/$rel")
    if (files.nonEmpty) {
      val rd = spark.read.option("basePath", path)
      (if (mergeSchema) rd.option("mergeSchema", "true") else rd).parquet(files: _*)
    }
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(readVersionEntry(toV)._1))
  }

  /** History RETENTION — the third governance knob beside time travel
    * (every version stays readable) and [[purgeRestartLineage]] (no
    * version survives): bound how far back the lineage stays ADDRESSABLE
    * without touching data. The log entries for versions 1..upTo collapse
    * into ONE base entry at `upTo` (the union of their recorded files —
    * a METADATA-only operation, no file moves, no rewrite, O(log)), so
    * `readVersion(v >= upTo)` and `readChanges` over surviving ranges
    * stay byte-identical while versions below `upTo` stop resolving —
    * the retention promise, honestly stated (Delta's log checkpointing
    * in this store's minimal form; at 100 TB this is what keeps a
    * years-old table's `_log` listing O(retained versions), not
    * O(every append ever)). The merged entry keeps the newest collapsed
    * entry's schema line, so an all-empty collapsed prefix still
    * reconstructs typed. Crash safety, stated as the commit order (the
    * r11 ADVICE closed the old order's window, where older entries were
    * deleted BEFORE the merged entry replaced `v<upTo>` — a crash there
    * silently served partial data): (1) the merged entry is fully
    * written to `_log/.v<upTo>_merged` FIRST — from that point both
    * `versions()` and `readVersionEntry` transparently serve v<upTo>
    * from the recovery artifact if the primary is absent; (2) the
    * primary `v<upTo>` is replaced by delete+rename (the only
    * non-atomic step, covered by the fallback); (3) only THEN are the
    * older entries deleted — a crash mid-deletes leaves duplicate file
    * references, which readVersion/readChanges dedupe. Every crash
    * point therefore reads complete data with no manual repair. */
  def collapseHistory(upTo: Long): Unit = {
    val vs = versions
    require(vs.contains(upTo), s"unknown version $upTo at $path (have $vs)")
    val toMerge = vs.filter(_ <= upTo)
    val (f, _) = fs
    if (toMerge.size <= 1) {
      // nothing to merge — but a PREVIOUS collapse may have crashed inside
      // its delete+rename window, leaving upTo served from the recovery
      // artifact; finish the rename so the repair is idempotent
      val primary = new org.apache.hadoop.fs.Path(logDir, s"v$upTo")
      val recovery = new org.apache.hadoop.fs.Path(logDir, s".v${upTo}_merged")
      if (!f.exists(primary) && f.exists(recovery))
        require(f.rename(recovery, primary),
          s"failed to finish crashed collapse at $path (v$upTo)")
      return
    }
    val schemaDdl = readVersionEntry(toMerge.last)._1
    // base-aware fold: the merged entry is upTo's RESOLUTION set (a raw
    // union would re-include files a compaction base superseded and
    // double-read every compacted row), and it is itself marked #base so
    // later reads resolve from here — identical results on a never-
    // compacted lineage, correct ones on a compacted one
    val files = resolutionFiles(upTo)
    val tmp = new org.apache.hadoop.fs.Path(logDir, s".v${upTo}_merged")
    val out = f.create(tmp, true)
    try out.write((schemaDdl +: ("#base" +: files)).mkString("\n").getBytes("UTF-8"))
    finally out.close()
    // commit point: the merged entry is durable; replace the primary
    val target = new org.apache.hadoop.fs.Path(logDir, s"v$upTo")
    f.delete(target, false)
    require(f.rename(tmp, target),
      s"failed to commit merged log entry v$upTo at $path")
    // retire superseded entries last (their files are a subset of the
    // merged entry's — duplicates are harmless until these complete);
    // repair tags die with their entries — the merged base is a collapse
    // artifact, not a repair, so upTo's tag (if any) is dropped too
    toMerge.filter(_ < upTo).foreach { v =>
      f.delete(new org.apache.hadoop.fs.Path(logDir, s"v$v"), false)
      f.delete(new org.apache.hadoop.fs.Path(logDir, s".v${v}_merged"), false)
      f.delete(repairMarker(v), false)
    }
    f.delete(repairMarker(upTo), false)
  }

  private def compactingMarker = new org.apache.hadoop.fs.Path(logDir, ".compacting")
  private def vacuumingMarker = new org.apache.hadoop.fs.Path(logDir, ".vacuuming")
  private def needsVacuumMarker = new org.apache.hadoop.fs.Path(logDir, ".needs_vacuum")

  /** OPTIMIZE on a VERSIONED lineage — the small-file compaction
    * [[compact]] refuses on versioned tables, made time-travel-safe
    * (Delta's `OPTIMIZE` + `dataChange = false` in this store's minimal
    * form): the CURRENT table is rewritten into ~`filesPerPartition`
    * files per partition, the new files land BESIDE the old ones, and the
    * result commits as the next version marked `#base` — its file list
    * REPLACES the cumulative history, so `readVersion(new)` reads only
    * the compacted files while every OLDER version keeps resolving
    * against the original files, which stay on disk until [[vacuum]].
    * A base adds no rows: `readChanges` skips it, so an incremental
    * consumer whose range straddles the compaction sees exactly the
    * ingested deltas and never the rewrite. At 100 TB this is the
    * operation that keeps a daily-appended table's scan cost bounded by
    * bytes instead of file count WITHOUT breaking the snapshot pin a
    * training run holds. Rows are preserved exactly, so a `_stats`
    * sidecar stays valid (counts and lattice checksums are layout-
    * invariant). Returns the base version. Cost: one read + rewrite of
    * the current table (through a durable tmp — we land files beside the
    * ones being read) + one metadata commit; storage holds old + new
    * until vacuum, which is the honest price of keeping history
    * readable. Crash safety: the `.compacting` intent marker brackets
    * the window where the new files exist unlogged — a crash there
    * leaves orphans that are DUPLICATES of logged content, and
    * [[vacuum]] (which sees the marker) sweeps them; without the marker
    * an orphan is presumed to be a crashed APPEND's recoverable data and
    * vacuum refuses to touch it. */
  def compactVersioned(filesPerPartition: Int = 1): Long = {
    require(filesPerPartition > 0,
      s"filesPerPartition must be positive, got $filesPerPartition")
    require(versions.nonEmpty,
      s"$path has no versioned lineage — compact() is the unversioned form")
    val before = listDataFiles()
    val orphans = before -- loggedFiles()
    require(orphans.isEmpty,
      s"$path has ${orphans.size} unlogged data file(s) — repair first " +
        "(adoptOrphans() for a crashed append; vacuum() for a crashed " +
        "compaction)")
    val tmp = s"${path}__compact_tmp"
    val tmpPath = new org.apache.hadoop.fs.Path(tmp)
    val (f, _) = fs
    try {
      // mergeSchema: an evolved lineage's compaction must carry the
      // unified schema (the purge's rule) — the rewrite pays a full pass
      // anyway, the footer read is marginal
      val snapshot = read(mergeSchema = true)
      val schemaDdl = snapshot.schema.toDDL
      compactionClustered(snapshot, filesPerPartition)
        .write.mode(SaveMode.Overwrite).partitionBy(partCol).parquet(tmp)
      // intent marker FIRST: from here new files may exist unlogged, and
      // they are rewrite duplicates — vacuum's sweepable class
      f.create(compactingMarker, true).close()
      appendRaw(spark.read.parquet(tmp))
      val added = (listDataFiles() -- before).toSeq.sorted
      val v = writeVersionEntry(schemaDdl, added, Seq("#base"))
      // flip reads to log resolution BEFORE dropping the in-flight marker:
      // from the base commit until vacuum sweeps, directory bytes hold the
      // table twice and every read must resolve through the log
      f.create(needsVacuumMarker, true).close()
      f.delete(compactingMarker, false)
      v
    } finally f.delete(tmpPath, true)
  }

  /** VACUUM — [[compactVersioned]]'s second half: bound the addressable
    * lineage at the NEWEST base and delete every data file no surviving
    * version references. Metadata first (entries below the base are
    * dropped — versions there stop resolving, and a change cursor below
    * lands on the typed [[Store.RetentionBoundaryException]], exactly the
    * collapseHistory contract), then the file sweep (anything
    * `loggedFiles` no longer references). Returns the number of files
    * deleted. Idempotent and crash-safe by re-run: the `.vacuuming`
    * intent marker brackets the sweep, so a crash mid-delete leaves
    * unlogged files a re-run recognizes as vacuum debris. Refuses to run
    * when unlogged files exist WITHOUT an intent marker — those are a
    * crashed append's RECOVERABLE data (adoptOrphans territory), and a
    * sweep would silently destroy them; the marker is what separates
    * "duplicate bytes a rewrite left behind" from "the only copy of a
    * batch". Without a base it degrades to the debris sweep alone. */
  def vacuum(): Long = {
    val vs = versions
    require(vs.nonEmpty,
      s"$path has no versioned lineage — nothing to vacuum")
    val (f, _) = fs
    val pre = listDataFiles() -- loggedFiles()
    require(pre.isEmpty || f.exists(compactingMarker) || f.exists(vacuumingMarker),
      s"$path has ${pre.size} unlogged data file(s) and no compaction or " +
        "vacuum was in flight — that is a crashed append's recoverable " +
        "data; adoptOrphans() first (a sweep would delete the only copy)")
    f.create(vacuumingMarker, true).close()
    // 1. metadata commit: entries below the newest base stop resolving
    vs.filter(isBaseEntry).lastOption.foreach { b =>
      vs.filter(_ < b).foreach { v =>
        f.delete(new org.apache.hadoop.fs.Path(logDir, s"v$v"), false)
        f.delete(new org.apache.hadoop.fs.Path(logDir, s".v${v}_merged"), false)
        f.delete(repairMarker(v), false)
      }
    }
    // 2. sweep every data file no surviving version references
    val dead = (listDataFiles() -- loggedFiles()).toSeq.sorted
    dead.foreach { rel =>
      val p0 = new org.apache.hadoop.fs.Path(s"$path/$rel")
      require(f.delete(p0, false), s"vacuum at $path: failed to delete $rel")
    }
    f.delete(compactingMarker, false)
    f.delete(vacuumingMarker, false)
    // the sweep restored directory == resolution: reads take the fast path
    f.delete(needsVacuumMarker, false)
    dead.size
  }

  /** The (partition, content-salt) clustering [[compact]] and
    * [[compactVersioned]] share: each (partition, salt) pair lands in one
    * task, so each table partition ends up with ≤ filesPerPartition
    * files. The salt hashes row CONTENT, never monotonically_increasing_id
    * (per-attempt ids under a nondeterministic partitioning expression
    * are the classic lost/duplicated-rows hazard for a write job);
    * identical rows hashing to one file only skews sizes, never
    * correctness. hash() rejects MapType at analysis — salt on the
    * hashable columns only. */
  private def compactionClustered(snapshot: DataFrame,
                                  filesPerPartition: Int): DataFrame = {
    def hashable(t: org.apache.spark.sql.types.DataType): Boolean = t match {
      case _: org.apache.spark.sql.types.MapType => false
      case s0: org.apache.spark.sql.types.StructType =>
        s0.fields.forall(f => hashable(f.dataType))
      case a: org.apache.spark.sql.types.ArrayType => hashable(a.elementType)
      case _ => true
    }
    val saltCols = snapshot.schema.fields
      .filter(f => hashable(f.dataType)).map(f => col(f.name))
    val salt =
      if (saltCols.isEmpty) lit(0) // all-map row: one file per partition
      else pmod(hash(saltCols: _*), lit(filesPerPartition.max(1)))
    snapshot.repartition(col(partCol), salt)
  }

  // ---- governance purge: the takedown × time-travel collision ------------
  //
  // Snapshot versioning promises every recorded version stays readable; a
  // takedown demands the removed content stop being readable ANYWHERE,
  // history included. Editing files in place (x44's unversioned takedown
  // shape) would silently break the readVersion contract; honoring history
  // would keep removed content alive. SCALE.md's documented resolution —
  // Delta/Iceberg's retention-epoch purge in this store's minimal form —
  // is implemented here: the lineage RESTARTS. The retained rows become v1
  // of a new lineage, the old epoch's files (data and log) are destroyed,
  // and an `_log/_epoch` marker advances so an x42-style manifest can
  // record the boundary: "epoch E, version V" is the full reproducibility
  // coordinate, and pre-purge version numbers no longer resolve BY DESIGN.

  private def epochMarker = new org.apache.hadoop.fs.Path(logDir, "_epoch")

  /** The purge's crash-recovery epoch record, OUTSIDE the tree destroy()
    * wipes: written (with the incremented epoch) before the purge
    * destroys the old lineage, deleted only after the new lineage's
    * in-tree marker commits. Without it, a crash between destroy and the
    * marker write would reset the epoch to 1, and a recovered "epoch E,
    * version V" manifest coordinate could collide with a pre-purge
    * coordinate that referenced different content. */
  private def epochSibling = new org.apache.hadoop.fs.Path(s"${path}__epoch")

  /** Lineage epoch: 1 + the number of [[purgeRestartLineage]] restarts
    * this table has undergone (epoch 1 = never purged, no marker on
    * disk). Version numbers are only meaningful WITHIN an epoch. Reads
    * the max of the in-tree marker and the out-of-tree sibling, so the
    * coordinate survives every crash point of a purge (a sibling left by
    * a purge that crashed even before its destroy reads one epoch HIGH —
    * a fresh, never-used coordinate: conservative, never a collision). */
  def epoch: Long = {
    val (f, _) = fs
    def readAt(p: org.apache.hadoop.fs.Path): Option[Long] =
      if (!f.exists(p)) None
      else {
        val in = f.open(p)
        try Some(new String(
          org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8").trim.toLong)
        finally in.close()
      }
    (readAt(epochMarker).toSeq ++ readAt(epochSibling).toSeq)
      .foldLeft(1L)(_ max _)
  }

  /** Takedown against a versioned lineage: drop every row matching
    * `remove` from the table AND its history by restarting the lineage —
    * retained rows are snapshotted through a durable temp directory, the
    * table (data files and old `_log`) is destroyed, the snapshot lands
    * as the NEW lineage's v1, and the epoch marker advances. Returns the
    * new epoch. After the purge: `versions == Seq(1)`, `readVersion(1)`
    * is the post-purge state, old version numbers no longer resolve, and
    * the removed bytes are OFF THE DISK — which is the takedown's point
    * (a metadata-only "purge" that leaves files in place is not one).
    *
    * Cost: one full read + rewrite of the RETAINED rows — a purge is a
    * table rewrite by definition; at 100 TB it runs at the cadence of
    * governance requests, not ingest. RE-DELIVERY costs one
    * predicate-column probe, not a second rewrite: when no row matches
    * `remove` the effect is already durable, the method returns the
    * CURRENT epoch unchanged (finishing any crash-pending epoch-marker
    * repair), and the lineage is untouched — the purge leg is
    * request-keyed like the s33 state leg. On a TRACKED table pass the
    * sidecar's checksum `term` so the `_stats` relation is rebuilt over
    * the new lineage (destroy() necessarily takes it with the tree);
    * omitted on a tracked table the purge refuses loudly. Crash safety:
    * the temp snapshot
    * (`<path>__purge_tmp`) is durable and deleted only after the new
    * lineage commits; a crash after the destroy leaves it as the
    * recovery artifact (re-land it as v1 by hand), a crash before the
    * destroy leaves the old lineage intact plus a stale tmp the next
    * purge sweeps. The incremented EPOCH is persisted to the
    * `<path>__epoch` sibling before the destroy and folded into
    * [[epoch]], so no crash point can reset the manifest coordinate to a
    * pre-purge value (r11 ADVICE). An EMPTY retained set still commits: v1 records the
    * schema with no files, so the new lineage reads as a typed empty
    * relation. */
  def purgeRestartLineage(remove: org.apache.spark.sql.Column,
                          term: Option[org.apache.spark.sql.Column] = None): Long = {
    require(versions.nonEmpty,
      s"$path has no versioned lineage — purge an unversioned table by " +
        "rewriting it (the x44 takedown shape); this method resolves the " +
        "takedown vs time-travel collision on versioned tables")
    // a VERSIONED+TRACKED table ([[appendVersionedTracked]]): destroy()
    // takes the `_stats` sidecar with the tree, so the purge must rebuild
    // it over the new lineage — that needs the caller's checksum term;
    // refusing here is the loud form of "the sidecar would silently vanish"
    require(!statsExist || term.isDefined,
      s"$path is tracked (a _stats sidecar exists); the purge must rebuild " +
        "the sidecar over the new lineage — pass the per-row checksum term")
    // REQUEST-KEYED LEG (the s33 idempotency discipline applied to the
    // purge itself, closing the documented "replayed leg's price"): if the
    // request's effect is already durable — no row matches `remove` — the
    // rewrite is SKIPPED and the epoch does not advance. A crashed-then-
    // re-delivered purge therefore pays ONE table rewrite and ONE epoch,
    // not two, and no phantom epoch pollutes the manifest coordinates.
    // The probe costs one predicate-column scan (column pruning), not a
    // rewrite. A sibling left by the crash still commits: the recovered
    // epoch lands in the in-tree marker and the sibling is swept, so the
    // metadata repair completes without burning a coordinate.
    if (listDataFiles().isEmpty || read.filter(remove).isEmpty) {
      val (f, _) = fs
      if (f.exists(epochSibling)) {
        val e = epoch // max(marker, sibling): the crash-recovered value
        val out = f.create(epochMarker, true)
        try out.write(e.toString.getBytes("UTF-8")) finally out.close()
        f.delete(epochSibling, false)
      }
      return epoch
    }
    val newEpoch = epoch + 1
    val tmp = s"${path}__purge_tmp"
    val tmpPath = new org.apache.hadoop.fs.Path(tmp)
    val (f, _) = fs
    if (f.exists(tmpPath)) f.delete(tmpPath, true) // stale from a dead purge
    // mergeSchema: a lineage whose versions straddle a column add (the s29
    // evolution story) must carry the UNIFIED schema through the purge —
    // plain read could pin a pre-evolution file's schema and silently drop
    // the evolved column from the new epoch's v1. The purge already pays a
    // full table rewrite; the footer pass is marginal.
    // Three-valued logic: rows where `remove` is UNKNOWN are RETAINED
    // (deleteCore's SQL DELETE rule) — `!remove` would silently purge them.
    val retained = read(mergeSchema = true)
      .filter(not(coalesce(remove, lit(false))))
    val schemaDdl = retained.schema.toDDL
    retained.write.mode(SaveMode.Overwrite).partitionBy(partCol).parquet(tmp)
    val tmpHasData = hasParquetFile(f, tmpPath)
    // persist the incremented epoch OUTSIDE the tree about to be destroyed
    // (destroy() wipes _log/_epoch with the data): from here every crash
    // point reads `newEpoch` via the sibling, never a reset epoch 1
    val sib = f.create(epochSibling, true)
    try sib.write(newEpoch.toString.getBytes("UTF-8")) finally sib.close()
    destroy()
    if (tmpHasData) appendRaw(spark.read.parquet(tmp))
    writeVersionEntry(schemaDdl, listDataFiles().toSeq.sorted)
    // tracked table: rebuild the sidecar from the landed new lineage (one
    // scan of the retained rows — marginal beside the rewrite itself; the
    // disk-truth discipline). A crash before this leaves a versioned table
    // whose tracked-write guard fails LOUDLY (data without a sidecar) and
    // trackFrom is the named repair — never silent staleness.
    term.foreach { t =>
      if (tmpHasData) trackFrom(read, t)
      else trackFrom(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(schemaDdl)), t)
    }
    val out = f.create(epochMarker, true)
    try out.write(newEpoch.toString.getBytes("UTF-8")) finally out.close()
    f.delete(epochSibling, false)
    f.delete(tmpPath, true)
    newEpoch
  }

  /** Rebuild the sidecar wholesale from a snapshot of the current table
    * state (the caller passes the read-back frame so an EMPTY table — a
    * gate that dropped everything — can hand in a zero-row frame with
    * schema). The retrofit/repair path, and the cheap way for a builder
    * that writes a table in ONE logical batch to track it without
    * re-executing the builder plan: one scan of the just-written files. */
  def trackFrom(df: DataFrame, term: org.apache.spark.sql.Column): Unit =
    writeStats(statsOf(df, term))

  private def mergeStats(batch: DataFrame, replace: Boolean): Unit = {
    val merged =
      if (!statsExist) batch
      else if (replace)
        // null-safe: the null partition's superseded sidecar row must be
        // REPLACED like any other, not kept beside its replacement
        readStats.join(broadcast(touchedParts(batch)),
            col(partCol) <=> col("__gp"), "left_anti")
          .unionByName(batch)
      else
        readStats.unionByName(batch)
          .groupBy(col(partCol))
          .agg(sum(col("n_rows")).cast("long").as("n_rows"),
            pmod(sum(col("checksum")), lit(StatsM)).cast("long").as("checksum"))
    writeStats(merged)
  }

  private def writeStats(stats: DataFrame): Unit = {
    val (f, _) = fs
    // the sidecar's commit protocol IS the _SUCCESS marker: with
    // marksuccessfuljobs=false every committed version reads as
    // uncommitted, statsExist flips to false, and the plain-append guard
    // silently re-opens — fail loudly instead of certifying nothing
    require(spark.sparkContext.hadoopConfiguration.getBoolean(
        "mapreduce.fileoutputcommitter.marksuccessfuljobs", true),
      "tracked writes require mapreduce.fileoutputcommitter." +
        "marksuccessfuljobs=true — _SUCCESS is the sidecar commit point")
    // clean up any aborted sibling tmp an older writer left behind
    val legacyTmp = new org.apache.hadoop.fs.Path(s"${path}__stats_tmp")
    if (f.exists(legacyTmp)) f.delete(legacyTmp, true)
    // land as the NEXT versioned child beside the current one — never a
    // delete-then-rename of the live sidecar (that window transiently reads
    // as untracked and a crash there loses the sidecar entirely, flipping
    // the plain-append guard back off). The new version's _SUCCESS marker
    // is the commit point; reading the old version while writing the new
    // one is safe because they are different directories (a merge's input
    // is the old version). ErrorIfExists is the single-writer check (the
    // log commit's create-exclusive discipline applied to the sidecar):
    // two concurrent tracked writers that both computed `next` would
    // otherwise both write the same child and one batch's stats would
    // silently vanish from the fold — the loser now errors loudly. A
    // markerless crash leftover at `next` also errors (it is invisible to
    // readers but occupies the slot) — remove it by hand or destroy().
    val next = statsVersions.lastOption.getOrElse(0L) + 1
    try stats.coalesce(1).write.mode(SaveMode.ErrorIfExists)
      .parquet(s"$path/_stats/v$next")
    catch { case e: org.apache.spark.sql.AnalysisException =>
      throw new IllegalStateException(
        s"concurrent tracked writer detected at $path: _stats/v$next " +
          "already exists — the store is single-writer per table (a " +
          "markerless leftover from a crashed write also occupies the " +
          "slot; remove it to proceed)", e)
    }
    // prune superseded versions AFTER the commit, RETAINING one
    // generation (best-effort — a stale survivor is re-pruned on the next
    // write; readers always take max). The one-version grace window keeps
    // a lazily-executed readStats frame obtained before THIS write alive
    // across it — only a frame held across TWO subsequent writes can see
    // FileNotFoundException, the documented consume-promptly contract.
    statsVersions.filter(_ < next - 1).foreach(v =>
      f.delete(new org.apache.hadoop.fs.Path(statsDir, s"v$v"), true))
  }

  /** Co-located (bucketed) table: hash-bucket + sort by the join key at
    * write time so equi-joins and aggregations on that key need NO shuffle
    * at read time — the 100-TB answer to "this join shuffles every run".
    * Bucketing requires the catalog (`saveAsTable`); both sides of a join
    * must share the bucket count. */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String, buckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("path", s"$path/$table")
      .bucketBy(buckets, bucketCol)
      .sortBy(bucketCol)
      .saveAsTable(table)

  /** Compaction: rewrite the table's partitions into `filesPerPartition`
    * files each (dynamic overwrite, so only partitions present in the
    * data are touched). Incremental appends accrete small files — at
    * scale, scan cost is dominated by file count long before bytes; run
    * this periodically or after a burst of updates. */
  def compact(filesPerPartition: Int = 1): Unit = {
    // hash-cluster on (partition, salt): each (partition, salt) pair lands
    // in one task, so each table partition ends up with ≤ filesPerPartition
    // files (hashing on partCol alone would always yield exactly one).
    // The salt hashes the row CONTENT, not monotonically_increasing_id():
    // the monotonic id is assigned per task ATTEMPT, so a partial stage
    // retry under a nondeterministic partitioning expression is the
    // classic lost/duplicated-rows hazard for a write job. Identical rows
    // hashing to the same file only skews file sizes, never correctness.
    // The snapshot goes through a DURABLE temp path, not executor-local
    // checkpoint blocks: we are about to overwrite the files being read,
    // and an executor lost mid-write must not lose the only copy.
    val tmp = s"${path}__compact_tmp"
    val tmpPath = new org.apache.hadoop.fs.Path(tmp)
    val f = tmpPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      // the (partition, content-salt) clustering is shared with
      // compactVersioned — see [[compactionClustered]]
      compactionClustered(read, filesPerPartition)
        .write.mode(SaveMode.Overwrite).parquet(tmp)
      // raw overwrite: compaction preserves rows exactly, so a _stats
      // sidecar stays valid (counts and content checksums are invariant
      // under file re-layout); versioned tables still refuse above
      require(versions.isEmpty,
        s"$path has recorded snapshot versions; compaction would rewrite " +
          "files older snapshots reference")
      overwriteRaw(spark.read.parquet(tmp))
    } finally f.delete(tmpPath, true)
  }

  /** Post-update verification: most recent `n` keys
    * (`/root/reference/2_scrape_new_games.R:16-24` — the reference collects
    * everything and takes `tail(5)` relying on insertion order; here the
    * order is explicit). */
  def recentKeys(keyCol: String, n: Int): DataFrame =
    read.select(col(keyCol)).distinct().orderBy(col(keyCol).desc).limit(n)
}

object Store {
  /** Typed retention-boundary error for [[Store.readChanges]]: the
    * consumer's cursor fell below the floor a [[Store.collapseHistory]]
    * established. Carries the boundary so a handler can run the
    * re-bootstrap programmatically (real table formats name this state —
    * Delta's "version not available after checkpoint cleanup", in this
    * store's minimal form): rebuild consumer state from
    * `readVersion(earliestChangeVersion)`, resume the feed from that
    * cursor. */
  final class RetentionBoundaryException(val table: String,
                                         val fromVersion: Long,
                                         val earliestChangeVersion: Long)
    extends IllegalStateException(
      s"change cursor $fromVersion at $table is below the retention " +
        s"boundary: collapseHistory folded versions <= " +
        s"$earliestChangeVersion into the base entry, so per-version " +
        "deltas below it no longer resolve. Re-bootstrap the consumer: " +
        s"rebuild its state from readVersion($earliestChangeVersion) and " +
        s"resume the change feed from cursor $earliestChangeVersion")

  /** Range-clustered write — data skipping for non-partition keys:
    * `repartitionByRange` + `sortWithinPartitions` gives each output file
    * a DISJOINT key range, so parquet footer min/max stats let any reader
    * skip whole files/row-groups for key predicates (partition pruning
    * handles the coarse time column; this handles the second key a 100-TB
    * table is queried by). The disjointness is the testable property —
    * `StoreSpec` reads the footers back and asserts it. */
  def writeSorted(df: DataFrame, path: String, sortCol: String, files: Int): Unit = {
    require(files > 0, s"files must be positive, got $files")
    df.repartitionByRange(files, col(sortCol))
      .sortWithinPartitions(sortCol)
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Z-order-clustered write — [[writeSorted]]'s two-dimensional sibling
    * (Delta/Iceberg `OPTIMIZE ZORDER BY`): ranges on the Morton curve of
    * BOTH columns, so every file's min-max footer stats stay tight on
    * EITHER dimension and a selective predicate on either one skips most
    * files. The curve key is derived (Layout.zorder2), used for the
    * physical ordering, and dropped before write — projection preserves
    * the within-partition row order, so the layout survives without
    * persisting a helper column. */
  /** Row-budget compaction — the plan-driven sibling of the instance-level
    * `compact(filesPerPartition)`: instead of a fixed file count per
    * partition, size files by a row target. `repartition(partCol)` lands
    * each partition value on one task, and `maxRecordsPerFile` makes the
    * writer roll files at the target — so a partition directory ends up
    * with exactly ceil(rows / targetRows) files, matching the s19 plan
    * query row for row (StoreSpec asserts plan == files on disk). For
    * partitions too large for one task, salt the repartition by the
    * planned file count (slot = pmod(hash(id), files)): same file budget,
    * bounded task size — the single-task form here is the testable exact
    * case. */
  def compactByRows(df: DataFrame, path: String, partCol: String, targetRows: Int): Unit = {
    require(targetRows > 0, s"targetRows must be positive, got $targetRows")
    df.repartition(col(partCol))
      .write.mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", targetRows)
      .partitionBy(partCol)
      .parquet(path)
  }

  def writeZOrdered(df: DataFrame, path: String, colA: String, colB: String,
                    files: Int): Unit = {
    require(files > 0, s"files must be positive, got $files")
    graft.operators.Layout.zorder2(df, colA, colB, "__z")
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }
}
