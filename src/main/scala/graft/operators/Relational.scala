package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Reusable relational operators distilled from the reference workload
  * (SURVEY.md §2). Each is a thin, composable DataFrame→DataFrame function
  * built on Catalyst-optimizable primitives — no collect(), no UDFs — so
  * plans stay inside whole-stage codegen and scale with partitioning.
  */
object Relational {

  /** W3: top-1 row per group with an explicit total order.
    * Reference idiom: `group_by(...) %>% arrange(...) %>% slice(1)`
    * (`/root/reference/R/nfc_west_starting_qbs.R:25-27`). The reference
    * relies on R's stable sort + insertion order; Spark has no insertion
    * order, so callers MUST pass a tie-breaking total order.
    */
  def top1PerGroup(df: DataFrame, partition: Seq[Column], order: Seq[Column]): DataFrame =
    df.withColumn("__rn", row_number().over(Window.partitionBy(partition: _*).orderBy(order: _*)))
      .filter(col("__rn") === 1)
      .drop("__rn")

  /** E2/lakehouse MERGE: last-writer-wins keyed upsert. Union the current
    * snapshot with an update batch and keep one row per key — update rows
    * beat snapshot rows, `order` breaks ties among duplicate keys WITHIN
    * the batch (pass a total order there, or deduplicate the batch first;
    * with unique batch keys it can be omitted). Schemas must align by name.
    * One shuffle on the key — the overwrite side of a lakehouse merge;
    * `Store.upsert` scopes it to only the affected partitions. */
  def upsert(snapshot: DataFrame, updates: DataFrame,
             keys: Seq[String], order: Seq[Column] = Nil): DataFrame = {
    require(keys.nonEmpty, "upsert needs at least one key column")
    require(snapshot.columns.sorted.sameElements(updates.columns.sorted),
      s"upsert schemas differ: ${snapshot.columns.mkString(",")} vs ${updates.columns.mkString(",")}")
    require(!snapshot.columns.contains("__src"), "column name __src is reserved")
    val tagged = snapshot.withColumn("__src", lit(0))
      .unionByName(updates.withColumn("__src", lit(1)))
    top1PerGroup(tagged, keys.map(col), col("__src").desc +: order)
      .drop("__src")
  }

  /** J6: positional zip of two unequal-length tables (`bind_cols`,
    * `/root/reference/R/nfc_west_starting_qbs.R:71-94`). The reference
    * manually PADS the shorter side with blank rows to the longer length
    * before zipping (`:74-89`, also `/root/reference/R/nfl_draft_espn_dk.R:
    * 105-110`); the engine form is a FULL OUTER join on the row index —
    * the shorter side null-fills, nothing silently truncates. Each side
    * needs a deterministic order. At scale both sides of this idiom are
    * tiny presentation tables, so the single-partition window is
    * acceptable; for large inputs use zipWithIndex-style repartitioning.
    */
  def bindCols(left: DataFrame, leftOrder: Seq[Column], right: DataFrame, rightOrder: Seq[Column]): DataFrame = {
    val l = left.withColumn("__idx", row_number().over(Window.orderBy(leftOrder: _*)))
    val r = right.withColumn("__idx", row_number().over(Window.orderBy(rightOrder: _*)))
    l.join(r, Seq("__idx"), "full_outer")
  }

  /** A7/W5: min-max rescale of `valueCol` to [0, scaleTo] within each group.
    * Reference: `pct = 100 * pct / max(pct)`-style gauges
    * (`/root/reference/R/let_russ_cook.R:104-116`) and per-season/position
    * rescales (`/root/reference/pff/99_passblock_piece.R:44-52`).
    * Window-based: one shuffle on the group key, no join-back needed.
    */
  def minMaxRescale(df: DataFrame, groups: Seq[Column], valueCol: Column, scaleTo: Double = 100.0): Column = {
    val w = Window.partitionBy(groups: _*)
    val mn = min(valueCol).over(w)
    val mx = max(valueCol).over(w)
    when(mx === mn, lit(scaleTo / 2)).otherwise(lit(scaleTo) * (valueCol - mn) / (mx - mn))
  }

  /** A8: binned aggregation (histogram/calibration curves).
    * Reference: `mutate(bin = round(wp/0.01)*.01) %>% group_by(qtr, bin)`
    * (`/root/reference/R/espn_wp.R:87-99`). */
  def bin(c: Column, width: Double): Column =
    round(c / lit(width)) * lit(width)

  /** A10: log-loss of a probability column against a 0/1 label.
    * Reference: `LogLoss(pred, label)` (`/root/reference/R/espn_wp.R:236`).
    * Pure aggregate expression — 20 reference slices become one cube pass.
    * Predictions are clamped to [eps, 1-eps] like MLmetrics::LogLoss:
    * without it, log(0) → null → avg silently DROPS the row, understating
    * the metric exactly where the model is worst (a confident miss). */
  def logLoss(pred: Column, label: Column, eps: Double = 1e-15): Column = {
    val p = greatest(least(pred, lit(1.0 - eps)), lit(eps))
    -avg(label * log(p) + (lit(1) - label) * log(lit(1) - p))
  }

  /** A11: closed-form simple OLS (slope, intercept, r2) via aggregates.
    * Reference: `lm(diff ~ over)` (`/root/reference/R/preseason_predictiveness.R:150-151`).
    * Distributed closed form — no driver-side fitting, no ml dependency. */
  def olsAggs(x: Column, y: Column): Seq[Column] = {
    // var_samp guard: a constant regressor has no slope — null, not an
    // ANSI division error (and corr would raise the same way)
    val slope = when(var_samp(x) > 0, covar_samp(x, y) / var_samp(x))
    Seq(
      round(slope.cast(DoubleType), 4).as("slope"),
      round((avg(y) - slope * avg(x)).cast(DoubleType), 4).as("intercept"),
      round(pow(graft.functions.RSemantics.safeCorr(x, y), 2).cast(DoubleType), 4).as("r2"))
  }

  /** A11b: closed-form two-regressor OLS (y ~ x1 + x2) via the normal
    * equations over distributed aggregates.
    * Reference: `lm(diff ~ over + ps_point_diff)`
    * (`/root/reference/R/preseason_predictiveness.R:151`).
    * covar_samp/var_samp share the (n-1) factor, so the centered-moment
    * ratios are exact closed forms:
    *   b1 = (S22·S1y − S12·S2y) / det,  b2 = (S11·S2y − S12·S1y) / det,
    *   det = S11·S22 − S12²  (Cauchy-Schwarz: det = 0 ⇔ collinear → null,
    *   matching lm's NA on a singular fit — and avoiding the ANSI /0 raise),
    *   b0 = ȳ − b1·x̄1 − b2·x̄2,  R² = (b1·S1y + b2·S2y) / Syy. */
  def ols2Aggs(x1: Column, x2: Column, y: Column): Seq[Column] = {
    val v1 = var_samp(x1)
    val v2 = var_samp(x2)
    val vy = var_samp(y)
    val c12 = covar_samp(x1, x2)
    val c1y = covar_samp(x1, y)
    val c2y = covar_samp(x2, y)
    val det = v1 * v2 - c12 * c12
    val b1 = when(det > 0, (v2 * c1y - c12 * c2y) / det)
    val b2 = when(det > 0, (v1 * c2y - c12 * c1y) / det)
    Seq(
      round(b1.cast(DoubleType), 4).as("b1"),
      round(b2.cast(DoubleType), 4).as("b2"),
      round((avg(y) - b1 * avg(x1) - b2 * avg(x2)).cast(DoubleType), 4).as("intercept"),
      round(when(vy > 0, (b1 * c1y + b2 * c2y) / vy).cast(DoubleType), 4).as("r2"))
  }

  /** A18: per-group logistic regression (y ~ x1 + x2) via ridge-penalized
    * IRLS — the distributed closing of the quality-classifier loop (z14
    * *scores* documents with fixed weights; this *learns* the weights from
    * a labeled corpus, the fasttext-discriminator shape every LLM curation
    * stack trains).
    *
    * Fully declarative: each Newton step is ONE aggregate pass over the
    * features joined to the previous step's per-group coefficients (a
    * group-cardinality relation, broadcast), and the 3×3 penalized normal
    * equations A·β = b are solved in-plan by Cramer's rule — no driver-side
    * actions, no collect, no ml dependency, one logical plan Catalyst sees
    * whole. `iters` corpus scans total (IRLS converges quadratically;
    * 4 steps is the textbook budget), each a plain map-side-combinable
    * aggregation — the 100-TB cost is `iters` scans, nothing quadratic.
    *
    * The ridge term `lambda` (added to A's diagonal) keeps the solve
    * well-posed under perfect separation (small groups CAN separate; the
    * unpenalized MLE then diverges) — det ≥ λ³ > 0 always, so no /0 branch
    * is needed. `mu` is clamped to [1e-6, 1−1e-6] so the working response
    * z = η + (y−μ)/(μ(1−μ)) never divides by zero.
    *
    * `feats` must have columns (group, x1, x2, y) with y ∈ {0.0, 1.0}.
    * Returns (group, b0, b1, b2) at full precision — callers round at the
    * output boundary. */
  def logisticIrls(feats: DataFrame, group: String, iters: Int = 4,
                   lambda: Double = 1.0): DataFrame = {
    val f = feats.select(col(group), col("x1"), col("x2"), col("y"))
    var beta = f.select(col(group)).distinct()
      .select(col(group), lit(0.0).as("b0"), lit(0.0).as("b1"), lit(0.0).as("b2"))
    for (_ <- 1 to iters) {
      val joined = f.join(broadcast(beta), Seq(group))
        .withColumn("eta", col("b0") + col("b1") * col("x1") + col("b2") * col("x2"))
        .withColumn("mu", greatest(
          least(lit(1.0) / (lit(1.0) + exp(-col("eta"))), lit(0.999999)), lit(1e-6)))
        .withColumn("w", col("mu") * (lit(1.0) - col("mu")))
        .withColumn("z", col("eta") + (col("y") - col("mu")) / col("w"))
      val s = joined.groupBy(group).agg(
        sum(col("w")).as("s0"),
        sum(col("w") * col("x1")).as("s1"),
        sum(col("w") * col("x2")).as("s2"),
        sum(col("w") * col("x1") * col("x1")).as("s11"),
        sum(col("w") * col("x1") * col("x2")).as("s12"),
        sum(col("w") * col("x2") * col("x2")).as("s22"),
        sum(col("w") * col("z")).as("r0"),
        sum(col("w") * col("z") * col("x1")).as("r1"),
        sum(col("w") * col("z") * col("x2")).as("r2"))
      val a00 = col("s0") + lambda
      val a11 = col("s11") + lambda
      val a22 = col("s22") + lambda
      val a01 = col("s1"); val a02 = col("s2"); val a12 = col("s12")
      val r0 = col("r0"); val r1 = col("r1"); val r2 = col("r2")
      val det = a00 * (a11 * a22 - a12 * a12) - a01 * (a01 * a22 - a12 * a02) +
        a02 * (a01 * a12 - a11 * a02)
      val d0 = r0 * (a11 * a22 - a12 * a12) - a01 * (r1 * a22 - a12 * r2) +
        a02 * (r1 * a12 - a11 * r2)
      val d1 = a00 * (r1 * a22 - a12 * r2) - r0 * (a01 * a22 - a12 * a02) +
        a02 * (a01 * r2 - r1 * a02)
      val d2 = a00 * (a11 * r2 - r1 * a12) - a01 * (a01 * r2 - r1 * a02) +
        r0 * (a01 * a12 - a11 * a02)
      beta = s.select(col(group),
        (d0 / det).as("b0"), (d1 / det).as("b1"), (d2 / det).as("b2"))
    }
    beta
  }

  /** A6: grouped quantiles with a scale switch. Exact `percentile` is
    * R's type-7 interpolating quantile (`quantile(probs = ...)`,
    * `/root/reference/darko/2_ourlads_projections.R:508-524`) but buffers
    * every group value; `approx = true` swaps in the t-digest sketch
    * (`percentile_approx`, fixed-size state) — the 100-TB path, rank error
    * ≤ 1/accuracy. */
  def quantileAgg(c: Column, probs: Seq[Double], approx: Boolean = false,
                  accuracy: Int = 10000): Column = {
    val arr = array(probs.map(lit): _*)
    if (approx) percentile_approx(c, arr, lit(accuracy)) else percentile(c, arr)
  }

  /** C2: the de-vig fixed-point loop
    * (`/root/reference/R/nfl_draft_espn_dk.R:28-40`): iteratively re-scale
    * implied probabilities within each group until they sum to 1:
    *   k = log(target) / log(target / tot), p <- p^k, repeated.
    * Driver-side loop over a lazy plan; lineage grows linearly with `iters`
    * (10 in the reference) which is fine; checkpoint if generalized.
    * Convergence (linearized at the fixed point): the per-iteration error
    * contracts by |1 - H/ln(target)| where H is the entropy (nats) of the
    * implied probability distribution. So: high-entropy books
    * (H > 2·ln(target), e.g. 4+ near-uniform outcomes at target 2) 2-cycle
    * instead of converging; near-certain favorites (H → 0) converge but
    * sublinearly slowly; the reference's two-outcome over/under markets sit
    * comfortably in the fast region. Group sums ≥ target diverge outright.
    * The reference runs a fixed 10 iterations and accepts the residual.
    */
  def devig(df: DataFrame, group: Seq[Column], pctCol: String, iters: Int = 10, target: Double = 2.0): DataFrame = {
    val w = Window.partitionBy(group: _*)
    var out = df
    for (_ <- 1 to iters) {
      out = out
        .withColumn("__tot", sum(col(pctCol)).over(w))
        .withColumn(pctCol, pow(col(pctCol), log(lit(target)) / log(lit(target) / col("__tot"))))
        .drop("__tot")
    }
    out
  }

  /** U1: `bind_rows` semantics — union by column name, null-filling columns
    * missing on either side (`/root/reference/R/preseason_predictiveness.R:48-49`). */
  def unionPad(dfs: Seq[DataFrame]): DataFrame =
    dfs.reduce(_.unionByName(_, allowMissingColumns = true))

  /** As-of join — for each left row, the nearest right row on the same
    * key: with `direction = "backward"` (default) the LATEST right row at
    * or before left.time; with `"forward"` the EARLIEST at or after.
    * Spark has no native operator; the engine form COMPOSES existing ones
    * (no custom SparkPlan needed): tag the sides, union by name, carry the
    * right payload forward with one `last(_, ignoreNulls)` window ordered
    * by (time, side) — time descending for the forward direction — and
    * keep the left rows. ONE shuffle on the key, state per key is
    * O(payload) — no per-row range probe, no join explosion, whatever the
    * time skew. A right row at exactly left.time matches in both
    * directions (right sorts before left on the side tag).
    *
    * `tolerance` bounds how far the match may sit from left.time: a match
    * farther than `tolerance` (in the time column's difference algebra —
    * a day-time interval for timestamps, a number for numerics) yields
    * null payload, exactly like no match. Since as-of picks the NEAREST
    * candidate, an out-of-tolerance nearest match implies no candidate is
    * in tolerance — so the filter is a post-hoc null-out, not a re-match.
    *
    * `rightPayload` must be disjoint from the left columns, and the right
    * side must be unique per (key, time) — pre-aggregate ties (e.g.
    * `groupBy(key, time).agg(max(...))`) or the carried value is
    * order-dependent. The payload travels as ONE struct, so a matched row
    * whose payload values are legitimately NULL yields those NULLs (not a
    * stale older value), and multiple payload columns always come from the
    * SAME right row — per-column `last(ignoreNulls)` would do neither. */
  def asOfJoin(left: DataFrame, right: DataFrame, key: String, time: String,
               rightPayload: Seq[String], direction: String = "backward",
               tolerance: Option[Column] = None): DataFrame = {
    require(rightPayload.intersect(left.columns.toSeq).isEmpty,
      s"right payload ${rightPayload.mkString(",")} collides with left columns")
    require(!rightPayload.contains("__t"),
      "__t is reserved for the match-time field inside the payload struct")
    require(Seq("backward", "forward").contains(direction),
      s"direction must be backward or forward, got $direction")
    val l = left.withColumn("__side", lit(1))
    val r = right.select((Seq(key, time) ++ rightPayload).map(col): _*)
      .withColumn("__side", lit(0))
    val timeOrd = if (direction == "backward") col(time).asc else col(time).desc
    val w = Window.partitionBy(col(key))
      .orderBy(timeOrd, col("__side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // the matched right row's own time rides in the struct so the
    // tolerance check compares against the ACTUAL match, per row
    val packed = unionPad(Seq(l, r)).withColumn("__pay",
      when(col("__side") === 0,
        struct(col(time).as("__t") +: rightPayload.map(col): _*)))
    val carried = packed
      .withColumn("__pay", last(col("__pay"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
    val bounded = tolerance match {
      case Some(tol) =>
        val dist = if (direction == "backward") col(time) - col("__pay.__t")
                   else col("__pay.__t") - col(time)
        // null __pay → null dist → condition null → null payload: the
        // no-match case falls through unchanged
        carried.withColumn("__pay", when(dist <= tol, col("__pay")))
      case None => carried
    }
    bounded.select(left.columns.map(col) ++
      rightPayload.map(c => col(s"__pay.$c").as(c)): _*)
  }

  /** Range join — match points to the intervals containing them WITHOUT
    * the cartesian a naive inequality join plans: intervals explode into
    * the fixed-width buckets they span (≤ len/width + 1 rows each), points
    * carry their single bucket, and the bucket equi-join bounds candidate
    * pairs by points-per-bucket × intervals-per-bucket before the exact
    * `s <= t < e` containment filter. Bucket width is the skew knob: set
    * it near the typical interval length so each interval explodes into a
    * handful of buckets and each point meets only overlapping intervals.
    *
    * Limits: a single interval may span at most ~2³¹ buckets (`sequence`'s
    * element cap) — pick a width within 2³¹× of the longest interval.
    * Malformed intervals (start > end) are dropped before the explode:
    * they can never satisfy the containment filter, but `sequence(s, e)`
    * with e < s would generate a DESCENDING run of spurious bucket rows. */
  def rangeJoin(points: DataFrame, tCol: String, intervals: DataFrame,
                sCol: String, eCol: String, bucketWidth: Long): DataFrame = {
    require(points.columns.intersect(intervals.columns).isEmpty,
      "points and intervals must have disjoint column names")
    // width 0 would put every row in one bucket — the cartesian this
    // operator exists to avoid, hidden inside a nominal hash join
    require(bucketWidth > 0, s"bucketWidth must be positive, got $bucketWidth")
    def bucket(c: Column) = floor(c / lit(bucketWidth.toDouble)).cast(LongType)
    val p = points.withColumn("__bucket", bucket(col(tCol)))
    val iv = intervals.filter(col(sCol) <= col(eCol)).withColumn("__bucket",
      explode(sequence(bucket(col(sCol)), bucket(col(eCol)))))
    p.join(iv, Seq("__bucket"))
      .filter(col(tCol) >= col(sCol) && col(tCol) < col(eCol))
      .drop("__bucket")
  }

  /** Range join with the bucket width derived from the data: width = the
    * MEDIAN positive interval length (t-digest sketch — fixed-size state
    * at any scale), so the typical interval explodes into ~2 bucket rows
    * and the explode factor stays bounded on skewed interval sets (one
    * huge outlier interval widens its own row count, not every row's).
    * Zero-length intervals are excluded from the estimate — they match
    * nothing under `s <= t < e`, and letting them drag the median to 0
    * would hand every REAL interval a width-1 explode. A second floor,
    * maxLen/10⁶, bounds even the longest interval to ~10⁶ bucket rows —
    * far under `sequence`'s ~2³¹ element cap, so no length distribution
    * can turn the estimate into a crash or a silent row blowup. Costs one
    * extra pass over the intervals' two bound columns; pass an explicit
    * width instead when the caller knows the distribution. */
  def rangeJoinAutoWidth(points: DataFrame, tCol: String, intervals: DataFrame,
                         sCol: String, eCol: String): DataFrame = {
    val len = (col(eCol) - col(sCol)).cast(DoubleType)
    val row = intervals
      .filter(col(sCol) < col(eCol))
      .agg(percentile_approx(len, lit(0.5), lit(10000)), max(len))
      .head()
    // no matchable intervals → the join is empty whatever the width
    val (medianLen, maxLen) =
      if (row.isNullAt(0)) (1.0, 1.0) else (row.getDouble(0), row.getDouble(1))
    val width = math.max(math.max(1L, medianLen.toLong), (maxLen / 1e6).ceil.toLong)
    rangeJoin(points, tCol, intervals, sCol, eCol, bucketWidth = width)
  }

  /** Gap sessionization: a new session starts where the gap to the
    * previous event on the same key exceeds `gapMicros`. Session ids are
    * a running count of session starts — two window passes over ONE
    * (key, time) sort, O(1) state per key. `tiebreak` pins the order of
    * equal timestamps (without it the lag, and so the session cut, would
    * be nondeterministic). */
  def sessionize(df: DataFrame, key: Column, time: Column, tiebreak: Column,
                 gapMicros: Long): DataFrame = {
    val order = Window.partitionBy(key).orderBy(time.asc, tiebreak.asc)
    val running = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__prev", lag(unix_micros(time), 1).over(order))
      .withColumn("__new",
        when(col("__prev").isNull || unix_micros(time) - col("__prev") > gapMicros, 1)
          .otherwise(0))
      .withColumn("session_id", sum(col("__new")).over(running))
      .drop("__prev", "__new")
  }

  /** Scale-safe grouped NTILE — identical bucket ids to
    * `ntile(n) over (partition by groups order by order)`, computed WITHOUT
    * ever sorting a whole group on one task.
    *
    * The window form funnels each group's entire corpus into a single
    * task: with a handful of low-cardinality groups (languages, sources)
    * at 100 TB that is the biggest possible single-task sort. This is the
    * exact two-pass alternative: range-partition on (groups ++ order) so
    * each TASK sorts only its own bounded partition, count rows per
    * (partition, group) — a tiny `shufflePartitions × |groups|` relation —
    * cumulate those counts into per-(partition, group) offsets, and add
    * each row's offset to its partition-local row number. That global
    * per-group row number feeds NTILE's closed form (first `N mod n`
    * buckets take `N div n + 1` rows, the rest `N div n`) in pure integer
    * arithmetic, so the ids replay SQL NTILE bit-for-bit (gate-matched
    * against DuckDB's NTILE).
    *
    * Cost: ONE range shuffle (the partitioned frame is eagerly pinned —
    * both the counts and the numbering must observe the SAME partition
    * memberships, and two separate executions of a range exchange may
    * sample different bounds; the pinned blocks are the caller's to
    * release after the action, e.g. `Housekeeping.releaseAllBlocks` — at
    * warehouse scale this materialization is a table you'd write anyway)
    * plus one bounded per-(partition, group) sort. The final ids are
    * independent of WHERE the range bounds fall — only the within-group
    * total order matters, and it is pinned by `order` (pass a total
    * order, tiebreaker included, exactly as NTILE itself requires).
    * NULL group values bucket as their own group, matching the window
    * form (the offset join is null-safe). */
  def groupedNtile(df: DataFrame, groups: Seq[String], order: Seq[String],
                   n: Int, out: String): DataFrame = {
    require(n > 0, s"ntile bucket count must be positive, got $n")
    require(!df.columns.exists(c =>
        Seq("__q", "__r").contains(c.toLowerCase)),
      "column names __q/__r are reserved")
    rangedRankTot(df, groups, order)
      .withColumn("__q", expr(s"__tot DIV $n"))
      .withColumn("__r", expr(s"__tot % $n"))
      .withColumn(out,
        when(col("__rn") <= col("__r") * (col("__q") + lit(1)),
          expr("(__rn + __q) DIV (__q + 1)"))
          .otherwise(expr("__r + ((__rn - __r * (__q + 1)) + __q - 1) DIV __q"))
          .cast("int"))
      .drop("__tot", "__rn", "__q", "__r")
  }

  /** Scale-safe per-group rank: identical ordering values to
    * `row_number() OVER (PARTITION BY groups ORDER BY order)` without
    * ever sorting a whole group on one task — the fix for the classic
    * skew funnel where one hot group (one language of a 100-TB corpus)
    * is a single window task. Same two-pass machinery as
    * [[groupedNtile]]; `out` is LongType (deliberately wider than
    * `row_number`'s IntegerType — a single group CAN exceed 2³¹ rows at
    * the scale this operator exists for). `order` must be a total order
    * (tiebreaker included), exactly as the window form requires. */
  def groupedRowNumber(df: DataFrame, groups: Seq[String],
                       order: Seq[String], out: String): DataFrame =
    rangedRankTot(df, groups, order)
      .withColumn(out, col("__rn"))
      .drop("__tot", "__rn")

  /** Shared two-pass range-partition rank behind [[groupedNtile]] and
    * [[groupedRowNumber]]: range-partition on (groups ++ order) — pinned
    * so both passes observe the SAME memberships — count per
    * (partition, group) cell, cumulate cell counts into per-partition
    * offsets (a `shufflePartitions × groups`-row relation, the only
    * windowed step), then per-partition local numbering + offset. Output
    * = input columns + `__rn` (1-based global per-group rank, LongType)
    * + `__tot` (group total). */
  private def rangedRankTot(df: DataFrame, groups: Seq[String],
                            order: Seq[String]): DataFrame = {
    val ranged = rangePinned(df, groups, order,
      Seq("__pid", "__loc", "__off", "__tot", "__rn", "__n", "__opid"))
    val groupCols = groups.map(col)
    val cellCounts = ranged.groupBy(col("__pid") +: groupCols: _*)
      .agg(count(lit(1)).as("__n"))
    val wOff = Window.partitionBy(groupCols: _*).orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wTot = Window.partitionBy(groupCols: _*)
    val cells = cellCounts
      .withColumn("__off", coalesce(sum(col("__n")).over(wOff), lit(0L)))
      .withColumn("__tot", sum(col("__n")).over(wTot))
      .drop("__n")
    val wLoc = Window.partitionBy(col("__pid") +: groupCols: _*)
      .orderBy(order.map(col): _*)
    plusOffsets(ranged, cells, groups, Seq("__tot"), row_number().over(wLoc), "__rn")
  }

  /** Range-partitions `df` on (groups ++ order) over the session's shuffle
    * partitions and pins it with each row's partition id as `__pid`, so
    * both passes of [[rangedRankTot]] and [[groupedRunningTotal]] observe
    * the same memberships. `reserved` names (and the `__og*` prefix) must
    * not be input columns. */
  private def rangePinned(df: DataFrame, groups: Seq[String], order: Seq[String],
                          reserved: Seq[String]): DataFrame = {
    // NOTE: name resolution is case-INsensitive by default, so helper
    // names must differ by more than case ("__n" vs "__N" would collide)
    // __opid and the __og<i> join-key aliases are created on the offsets
    // side — an input column with one of those names would make the join
    // condition ambiguous (or be silently dropped by the cleanup), so they
    // are reserved too
    require(!df.columns.exists(c =>
        reserved.contains(c.toLowerCase) || c.toLowerCase.startsWith("__og")),
      s"column names ${reserved.mkString("/")} and the __og* prefix are reserved")
    val sortCols = (groups ++ order).map(col)
    val parts = df.sparkSession.sessionState.conf.numShufflePartitions
    graft.Housekeeping.pin(df.sparkSession)(
      df.repartitionByRange(parts, sortCols: _*)
        .withColumn("__pid", spark_partition_id())).df
  }

  /** The second pass of [[rangedRankTot]] and [[groupedRunningTotal]]:
    * joins each row of `ranged` to its (partition, group) cell in `cells`
    * (`__pid`, the groups, `__off` and the `carry` columns) and writes
    * `out` = `local` (a window over the row's partition and group) + the
    * cell's offset `__off`. */
  private def plusOffsets(ranged: DataFrame, cells: DataFrame, groups: Seq[String],
                          carry: Seq[String], local: Column, out: String): DataFrame = {
    // rename the join keys instead of using-columns syntax: the group
    // match must be NULL-SAFE (<=>) or NULL-group rows silently vanish
    val offsets = cells
      .withColumnRenamed("__pid", "__opid")
      .select(col("__opid") +: col("__off") +: (carry.map(col) ++
        groups.zipWithIndex.map { case (g, i) => col(g).as(s"__og$i") }): _*)
    val joinCond = (col("__pid") === col("__opid")) +:
      groups.zipWithIndex.map { case (g, i) => col(g) <=> col(s"__og$i") }
    ranged
      .withColumn("__loc", local)
      .join(offsets, joinCond.reduce(_ && _))
      .drop("__opid" +: groups.indices.map(i => s"__og$i"): _*)
      .withColumn(out, col("__loc") + col("__off"))
      .drop("__pid", "__loc", "__off")
  }

  /** Exact per-group top-k without sorting any whole group on one task —
    * the scale-safe form of `row_number() OVER (PARTITION BY g ORDER BY
    * ...) <= k` when the group key is low-cardinality (a handful of
    * languages over a 100-TB corpus puts one language's ENTIRE corpus in
    * one window task — the same funnel [[groupedNtile]] exists for).
    *
    * Two stages: (1) a salted window — partition by (group, hash(key) %
    * salts) — sorts 1/salts of each group per task; a bucket is a subset
    * of its group, so every global top-k row survives its bucket's local
    * top-k. (2) the exact window replays on the ≤ k·salts survivors per
    * group — a bounded relation at any corpus size. Identical rows and
    * ranks to the naive window (spec-matched on random data); `order`
    * must be a total order (tiebreaker included) for determinism, exactly
    * as the window form requires. `out` gets the 1-based per-group rank
    * (IntegerType, matching `row_number`). */
  def groupedTopK(df: DataFrame, groups: Seq[String], keyCol: Column,
                  order: Seq[Column], k: Int, out: String,
                  salts: Int = 32): DataFrame = {
    require(k > 0, s"top-k count must be positive, got $k")
    require(salts > 0, s"salt count must be positive, got $salts")
    val reserved = Seq("__salt", "__srn")
    require(!df.columns.exists(c => reserved.contains(c.toLowerCase)),
      s"column names ${reserved.mkString("/")} are reserved")
    val g = groups.map(col)
    val w1 = Window.partitionBy(g :+ col("__salt"): _*).orderBy(order: _*)
    val w2 = Window.partitionBy(g: _*).orderBy(order: _*)
    df.withColumn("__salt", pmod(xxhash64(keyCol), lit(salts.toLong)))
      .withColumn("__srn", row_number().over(w1))
      .filter(col("__srn") <= k)
      .drop("__salt", "__srn")
      .withColumn(out, row_number().over(w2))
      .filter(col(out) <= k)
  }

  /** Scale-safe GLOBAL running sum — identical values to
    * `sum(value) over (order by order rows unbounded preceding)`, computed
    * without the single-task global sort that window form implies (an
    * unpartitioned window funnels the whole relation through one task —
    * the worst possible shape at corpus scale).
    *
    * Same two-pass discipline as [[groupedNtile]]: range-partition on the
    * (total) order — the frame is eagerly pinned so both passes observe
    * the SAME partition memberships — then per-partition totals (one tiny
    * `shufflePartitions`-row relation) cumulate into per-partition
    * offsets, and each row adds its offset to a partition-local running
    * sum. Every stage is bounded by partition size; the tiny offset
    * window is the only serial step. `order` must be a total order
    * (unique tiebreaker included), exactly as the window form requires
    * for determinism. Integer-exact when `valueCol` is integral, so the
    * result hash-matches an engine-replayed window oracle. */
  def runningTotal(df: DataFrame, order: Seq[String], valueCol: String,
                   out: String): DataFrame = {
    val reserved = Seq("__pid", "__loc", "__off", "__s")
    require(!df.columns.exists(c => reserved.contains(c.toLowerCase)),
      s"column names ${reserved.mkString("/")} are reserved")
    val sortCols = order.map(col)
    val parts = df.sparkSession.sessionState.conf.numShufflePartitions
    val ranged = graft.Housekeeping.pin(df.sparkSession)(
      df.repartitionByRange(parts, sortCols: _*)
        .withColumn("__pid", spark_partition_id())).df
    val wOff = Window.orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = ranged.groupBy(col("__pid"))
      .agg(sum(col(valueCol)).as("__s"))
      .withColumn("__off", coalesce(sum(col("__s")).over(wOff), lit(0L)))
      .drop("__s")
    val wLoc = Window.partitionBy(col("__pid")).orderBy(sortCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranged
      .withColumn("__loc", sum(col(valueCol)).over(wLoc))
      .join(offsets, Seq("__pid"))
      .withColumn(out, col("__loc") + col("__off"))
      .drop("__pid", "__loc", "__off")
  }

  /** Scale-safe PER-GROUP running sum — identical values to `sum(value)
    * OVER (PARTITION BY groups ORDER BY order ROWS UNBOUNDED PRECEDING)`
    * without ever running one group through one task (the same skew
    * funnel [[groupedRowNumber]] exists for: a hot group IS its window
    * task under the naive form). Same two-pass machinery as
    * [[rangedRankTot]] with SUM cells instead of COUNT cells:
    * range-partition on (groups ++ order) — pinned so both passes
    * observe the same memberships — cumulate per-(partition, group)
    * sums into per-partition offsets (a `shufflePartitions × groups`-row
    * relation, the only windowed step), then each row adds its offset to
    * a partition-local running sum. Integer-exact for integral
    * `valueCol`; `order` must be a total order (tiebreaker included).
    * NULL group values cumulate as their own group (null-safe offset
    * join), matching the window form. */
  def groupedRunningTotal(df: DataFrame, groups: Seq[String], order: Seq[String],
                          valueCol: String, out: String): DataFrame = {
    val ranged = rangePinned(df, groups, order, Seq("__pid", "__loc", "__off", "__s", "__opid"))
    val groupCols = groups.map(col)
    val cells = ranged.groupBy(col("__pid") +: groupCols: _*)
      .agg(sum(col(valueCol)).as("__s"))
    val wOff = Window.partitionBy(groupCols: _*).orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = cells
      .withColumn("__off", coalesce(sum(col("__s")).over(wOff), lit(0L)))
      .drop("__s")
    val wLoc = Window.partitionBy(col("__pid") +: groupCols: _*)
      .orderBy(order.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    plusOffsets(ranged, offsets, groups, Nil, sum(col(valueCol)).over(wLoc), out)
  }

  /** One mergeable aggregate for [[Relational.saltedAgg]]: `partial` runs
    * per (key, salt); `merge` combines the partials per key (sum merges by
    * sum, count merges by SUM, min by min, ...). */
  final case class SaltedSpec(name: String, partial: Column, merge: Column => Column)

  /** Skew-safe two-phase aggregation: salt the key space, partially
    * aggregate per (key, salt), then merge per key. AQE re-splits skewed
    * JOIN partitions at runtime, but a skewed groupBy still funnels each
    * key's rows into one task — salting spreads the hot key `salts`-ways
    * at the cost of a second (tiny) shuffle. Only mergeable aggregates
    * compose this way; express avg as sum+count and divide after.
    *
    * Precondition: every input column must be hashable (`hash()` rejects
    * MapType at analysis) — project maps/variant columns away, or into a
    * canonical form, before salting. The full-row hash is what makes the
    * salt deterministic under task retry; hashing a caller-chosen subset
    * would re-open the identical-rows collapse documented below. */
  /** The retry-safe deterministic salt shared by [[saltedAgg]] and
    * [[saltedJoin]] — ONE definition so the two paths (and the specs that
    * assert on spread) can never drift. hash(row) + partition id, not
    * monotonically_increasing_id(): the monotonic id is assigned per task
    * ATTEMPT, so a retry would re-salt rows differently mid-stage.
    * hash(row) alone is retry-safe but collapses when the hot key's rows
    * are IDENTICAL (the canonical skewed-count shape) — every copy gets
    * one salt and the mitigation vanishes. Adding spark_partition_id()
    * spreads identical rows across input partitions while staying
    * deterministic under retry (a re-attempt re-reads the same
    * partition). Precondition: every column of `df` must be hashable. */
  def saltCol(df: DataFrame, salts: Int): Column =
    pmod(hash(df.columns.map(col) :+ spark_partition_id(): _*), lit(salts))

  def saltedAgg(df: DataFrame, key: Column, salts: Int, specs: Seq[SaltedSpec]): DataFrame = {
    // identical rows WITHIN a partition collapse into one row at partial
    // aggregation before the shuffle, so they never pile onto a reducer
    val salted = df.withColumn("__salt", saltCol(df, salts))
    val phase1 = salted.groupBy(key.as("__key"), col("__salt"))
      .agg(specs.head.partial.as(specs.head.name),
        specs.tail.map(s => s.partial.as(s.name)): _*)
    phase1.groupBy(col("__key").as("key"))
      .agg(specs.head.merge(col(specs.head.name)).as(specs.head.name),
        specs.tail.map(s => s.merge(col(s.name)).as(s.name)): _*)
  }

  /** Skew-safe equi-join without broadcast: salt the big side's rows
    * deterministically (same retry-safe hash+partition-id salt as
    * [[saltedAgg]]), replicate the small side once per salt value, and
    * join on (key, salt). A hot join key's rows then spread over `salts`
    * reducers instead of funneling into one. The result is EXACTLY the
    * plain inner equi-join — each big row matches the single replica of
    * its key carrying its salt — so correctness is oracle-checkable
    * against the unsalted join. Use when the small side exceeds the
    * broadcast threshold and the big side is key-skewed; AQE splits
    * skewed sort-merge partitions at runtime, but a static salt also
    * covers the shapes AQE can't re-split (e.g. a partial aggregate
    * fused above the join). Cost: |small| × salts shuffled rows.
    * Precondition (as saltedAgg): big's columns must be hashable. */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String, salts: Int): DataFrame = {
    require(salts > 0, s"salts must be positive, got $salts")
    val bigS = big.withColumn("__salt", saltCol(big, salts))
    val smallS = small.withColumn("__salt",
      explode(sequence(lit(0), lit(salts - 1))))
    bigS.join(smallS, Seq(key, "__salt")).drop("__salt")
  }

  /** E2: idempotent incremental append — the `nflfastR::update_db` shape
    * (`/root/reference/2_scrape_new_games.R:7-12`): rows of `incoming` whose
    * key is not already present in `existing`. Anti-join is the scalable
    * form of the reference's collect-and-set-difference. */
  def newRowsOnly(incoming: DataFrame, existing: DataFrame, keys: Seq[String]): DataFrame =
    incoming.join(existing.select(keys.map(col): _*).distinct(), keys, "left_anti")
}
