package graft

import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

/** Physical-plan regression guards on the real test corpus: the properties
  * SCALE.md claims (pushdown, pruning, broadcast dims, codegen coverage)
  * asserted per representative query so a refactor can't silently lose
  * them. */
class PlanAuditSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  /** The formatted plans of every query execution that ran while `name`
    * was being built (store writes, fits, pins, checkpoints), followed by
    * the plan of the frame it returns: lineage that a checkpoint or a
    * stored artifact truncates out of the final plan is audited where it
    * actually ran. This directory's artifacts are evicted first, so the
    * builds run inside the capture whichever test or suite ran first.
    * AQE wraps plans and hides codegen/scan detail until stages run, so
    * it is off (suites run sequentially in the forked test JVM, so
    * toggling the shared session conf is safe). */
  private def formatted(name: String): String = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.explainString(FormattedMode))
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    Artifacts.evict(spark, sf)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    ListenerBusDrain(spark.sparkContext)
    spark.listenerManager.register(capture)
    try {
      val df = SparkEntry.queries(name)(spark, sf)
      ListenerBusDrain(spark.sparkContext)
      plans.add(df.queryExecution.explainString(FormattedMode))
      String.join("\n", plans)
    } finally {
      spark.listenerManager.unregister(capture)
      spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
  }

  test("s1: filters reach the parquet scan and the schema is pruned") {
    val plan = formatted("s1_scan_filter_project")
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_quantity), LessThan"),
      plan.linesIterator.filter(_.contains("PushedFilters")).mkString("\n"))
    val read = plan.linesIterator.find(_.contains("ReadSchema")).get
    assert(read.count(_ == ':') <= 6, s"scan reads too many columns: $read") // 5 cols + label
  }

  test("j1: the dim join broadcasts (no sort-merge on a small dimension)") {
    val plan = formatted("j1_left_join_composite")
    assert(plan.contains("BroadcastHashJoin"), plan.take(400))
    assert(!plan.contains("SortMergeJoin"))
  }

  test("x2/x3b/x10/y2/y2b/y2c/m4: bucketed pair generation contains no cartesian product") {
    for (q <- Seq("x2_minhash_lsh", "x3b_simhash_pairs", "x10_incremental_lsh",
        "y2_knn_bucketed", "y2b_knn_multiprobe", "y2c_knn_bucketed16",
        "m4_media_embed_ann")) {
      val plan = formatted(q)
      assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
        s"$q must stay a bucket equi-join")
    }
  }

  test("y1: the HOF dot product is rewritten to the native vector_dot") {
    assert(formatted("y1_knn_brute").contains("vector_dot"))
  }

  test("x23: retrieval pairs ride the native vector_dot and a bucket equi-join") {
    val plan = formatted("x23_chunk_retrieval")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "x23 must stay a bucket equi-join")
    // the per-pair cosine must be the codegen'd native expression — the
    // interpreted HOF dot measured 47 s at the 10x soak vs 19.9 s native
    assert(plan.contains("vector_dot"), "RewriteDotProduct must fire on the serve join")
  }

  test("y6: quantized serving is a bucket equi-join; only the amax scalar crosses") {
    val plan = formatted("y6_sq_ann")
    assert(!plan.contains("CartesianProduct"), "y6 must stay a bucket equi-join")
    // the only nested-loop joins are the broadcast 1-row amax attachments
    // (one per side of the serve join); the corpus-pair join itself must
    // be hash/sort-merge on the bucket key
    val bnlj = "\\(\\d+\\) BroadcastNestedLoopJoin".r.findAllIn(plan).size
    assert(bnlj <= 2, s"unexpected nested-loop joins in y6 plan: $bnlj")
  }

  test("y3e: 64-cell IVF serving crosses only the broadcast anchor relation") {
    val plan = formatted("y3e_knn_ivf64")
    assert(!plan.contains("CartesianProduct"), "y3e grew a real cartesian")
    // the 64-row anchor table broadcast-crosses for cell assignment —
    // corpus side plus the nprobe=2 query probe expansion re-ranks
    // against the same anchors (3 attaches in the one DAG); the serve
    // join itself must be a hash equi-join on the cell key
    val bnlj = "\\(\\d+\\) BroadcastNestedLoopJoin".r.findAllIn(plan).size
    assert(bnlj <= 3, s"unexpected nested-loop joins in y3e plan: $bnlj")
    assert("\\(\\d+\\) (Broadcast|Shuffled)HashJoin".r.findAllIn(plan).nonEmpty
      || plan.contains("SortMergeJoin"), "y3e serve join must be an equi-join")
  }

  test("y9: IVF-PQ serving crosses only broadcast anchor/codebook relations") {
    val plan = formatted("y9_ivfpq")
    assert(!plan.contains("CartesianProduct"), "y9 grew a real cartesian")
    // constant-sized broadcast attaches only: anchors (cell assign — the
    // assigned relation feeds BOTH serve sides, so it appears twice in
    // the one-DAG plan), codebook (encode argmin), codebook again (query
    // distance table) — the ADC serve join itself must be an equi-join
    // on (cell, sub, code)
    val bnlj = "\\(\\d+\\) BroadcastNestedLoopJoin".r.findAllIn(plan).size
    assert(bnlj <= 4, s"unexpected nested-loop joins in y9 plan: $bnlj")
  }

  test("y10: the projection runs in-scan; only the bounded pair batch nest-loops") {
    val plan = formatted("y10_jl_project")
    // one non-equi pair join over the bounded query batch is the design;
    // nothing else may nest-loop and the corpus scan reads 2 columns
    val bnlj = "\\(\\d+\\) BroadcastNestedLoopJoin".r.findAllIn(plan).size
    assert(bnlj <= 1, s"unexpected joins in y10 plan: $bnlj")
    val read = plan.linesIterator.find(_.contains("ReadSchema")).get
    assert(read.count(_ == ':') <= 3, s"scan reads too many columns: $read")
  }

  test("z35: containment stays on x4's capped inverted-index equi-join") {
    val plan = formatted("z35_containment")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "z35 must stay a (lang, shingle) equi-join")
    assert(plan.contains("TakeOrderedAndProject"),
      "the top-100 must plan as TakeOrdered, not a global sort")
  }

  test("s20: no distinct-agg Expand; exact ndv runs as two-phase groupBy") {
    val plan = formatted("s20_column_stats")
    // r13: the 4-way countDistinct used to plan as Expand (×5 row fan-out)
    // feeding a NON-codegen HashAggregate (the HLL ImperativeAggregate
    // evicts the node from whole-stage codegen) — 23 s of task time at
    // sf0.1. Each exact ndv is now its own two-phase groupBy(col)→count
    // (map-side combinable, codegen'd), so Expand must be GONE, every
    // ndv leg aggregates hash-based, and the panel assembles through the
    // one-row broadcast cross joins.
    assert(!plan.contains("Expand"), "the distinct-agg Expand came back")
    assert(plan.contains("HashAggregate"))
    // the string min/max ranges pass alone may sort (partial + final)
    val sortAggs = "\\(\\d+\\) SortAggregate".r.findAllIn(plan).size
    assert(sortAggs <= 2, s"string min/max leaked beyond the ranges pass: $sortAggs")
  }

  test("s5: the cleanup path reads only the two source columns") {
    val read = formatted("s5_clean_table").linesIterator
      .find(_.contains("ReadSchema")).get
    assert(read.count(_ == ':') <= 3, s"scan reads too many columns: $read") // 2 cols + label
  }

  test("c3/c2b: every dim join broadcasts; the only SMJ is the full outer") {
    val c3 = formatted("c3_ourlads_summary")
    assert(c3.contains("BroadcastHashJoin"))
    // the grades ids join is full_outer (reference :62) — SMJ is correct
    // there and must NOT appear anywhere else
    assert("SortMergeJoin FullOuter".r.findAllIn(c3).size ==
      "SortMergeJoin".r.findAllIn(c3).size, "non-full-outer SMJ crept in")
    val c2b = formatted("c2b_draft_compare")
    assert(c2b.contains("BroadcastHashJoin") && !c2b.contains("CartesianProduct"))
  }

  test("e1: the 16-metric stability matrix is ONE aggregation pass") {
    // explode → single groupBy(metric): metric count widens rows, it must
    // never multiply aggregation passes (the reference runs 26 cor() scans)
    val plan = formatted("e1_stability_matrix")
    assert("HashAggregate".r.findAllIn(plan).size <= 30, // panel aggs + 1 matrix pair
      "stability matrix fanned out into per-metric aggregations")
    assert(plan.contains("Generate") && plan.contains("explode"),
      "metric stacking left the plan")
  }

  test("j8/j8b: the range join is a bucket equi-join, not a cartesian/BNLJ") {
    for (q <- Seq("j8_range_join", "j8b_range_join_auto")) {
      val plan = formatted(q)
      assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
        s"$q: interval containment must go through the bucket equi-join")
    }
  }

  test("x11: chunk dedup has no window over the raw chunk relation") {
    // the keep-first winner must stay a map-side-combinable aggregate —
    // a row_number window per chunk hash would serialize hot hashes
    val plan = formatted("x11_chunk_dedup")
    assert(!plan.contains("Window"),
      "chunk dedup regressed to a per-hash window")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("z14: the classifier evaluates inside the scan stage (no join, no extra shuffle)") {
    val plan = formatted("z14_quality_classifier")
    assert(!plan.contains("Join"), "classifier must not join a weight table at eval")
    // one Exchange for the final orderBy only (formatted mode lists each
    // node twice — tree + detail — so count the detail entries)
    assert("\\(\\d+\\) Exchange".r.findAllIn(plan).size <= 1,
      "classifier scoring grew an unexpected shuffle")
  }

  test("w9/w9b: event-time windows stay one aggregation over a bounded key space") {
    for (q <- Seq("w9_tumbling_window", "w9b_sliding_window")) {
      val plan = formatted(q)
      // agg exchange + sort exchange (+AQE-less partial pairs): the sliding
      // form's two-window expansion must be an Expand/explode, not a join
      assert(!plan.contains("Join"), s"$q: window membership must be map-side")
      assert("\\(\\d+\\) Exchange".r.findAllIn(plan).size <= 2,
        s"$q grew extra shuffles")
    }
  }

  test("s14/x14: upsert merge and Jaccard estimate stay equi-join shaped") {
    for (q <- Seq("s14_upsert", "x14_jaccard_estimate", "j10_null_safe_join",
        "s15_incremental_agg")) {
      val plan = formatted(q)
      assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
        s"$q must join on keys only")
    }
  }

  test("x18: span dedup is aggregates only — no window, no span self-join") {
    val plan = formatted("x18_span_dedup")
    assert(!plan.contains("Window"), "span dedup regressed to a window")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
    // fp totals join back at (doc, fp) granularity: exactly one equi-join
    assert("\\(\\d+\\) (BroadcastHash|SortMerge|ShuffledHash)Join".r
      .findAllIn(plan).size == 1, "span dedup grew extra joins")
  }

  test("z20: BM25 top-20 is TakeOrdered, never a single-partition sort/window") {
    val plan = formatted("z20_bm25")
    assert(plan.contains("TakeOrderedAndProject"), "global top-k must be TakeOrdered")
    assert(!plan.contains("Window"), "BM25 must not rank through a window")
  }

  test("z49: unigram-fit candidate prunes are TakeOrdered, never a global-sort window") {
    // The distinct-substring histogram the init/EM prunes rank can reach
    // 10⁷–10⁸ rows on CJK-heavy corpora: a row_number over an unpartitioned
    // Window.orderBy would sort it on ONE task. The prunes must plan as
    // TakeOrderedAndProject (per-partition heap + k-row driver merge); the
    // only acceptable global Sort is the declared output's range-partitioned
    // orderBy. (The pinned rounds' plans are captured at construction.)
    val plan = formatted("z49_unigram_fit")
    assert(plan.contains("TakeOrderedAndProject"),
      "top-k candidate prunes must plan as TakeOrdered")
    assert(!plan.contains("Window"),
      "unigram fit must not rank candidates through a window (single-partition sort)")
  }

  test("z27/z28/x21: weighted sampling plans stay scale-safe") {
    // global form: per-partition top-k + one k·P merge, never a sort
    val p27 = formatted("z27_weighted_sample")
    assert(p27.contains("TakeOrderedAndProject"),
      "global weighted sample must plan as TakeOrdered")
    assert(!p27.contains("Window"), "z27 must not rank through a window")
    // grouped form: the salted two-stage shape — exactly two Window
    // operators, and stage 1 keeps its salt key (losing it silently
    // regresses to one task per group); the rank<=k filters must have
    // pushed down as WindowGroupLimit so each task drops losers early
    val p28 = formatted("z28_group_weighted_sample")
    assert("\\(\\d+\\) Window\\b".r.findAllIn(p28).size == 2,
      "groupedTopK must keep the two-stage window form")
    assert(p28.contains("WindowGroupLimit"),
      "the rank<=k filters lost the group-limit pushdown")
    assert(p28.contains("__salt"), "stage-1 window lost its salt key")
    // the composition keeps the same sampling stage (plus the
    // cluster-keyed survivor window, which partitions by cluster_id —
    // high-cardinality, never a per-group funnel)
    val p21 = formatted("x21_curation_v4")
    assert(p21.contains("__salt"), "x21's sample stage lost the salted form")
    assert(!p21.contains("CartesianProduct"))
    // the DSIR gate attaches its two corpus totals by design: one-row
    // IdentityBroadcastMode crosses (scalar attach), never a real cross
    assert("\\(\\d+\\) BroadcastNestedLoopJoin".r.findAllIn(p21).size <= 2,
      "x21 grew an unblocked cross join beyond DSIR's two scalar attaches")
  }

  test("x22/s18: span ranking and z-order assignment keep scale-safe shapes") {
    // x22: two combinable aggregates then a TakeOrdered top-k — no
    // window, no corpus sort
    val p22 = formatted("x22_top_spans")
    assert(p22.contains("TakeOrderedAndProject"),
      "span top-k must plan as TakeOrdered")
    assert(!p22.contains("Window") && !p22.contains("CartesianProduct"))
    // s18: the min-max stats attach is the ONE scalar broadcast cross;
    // the curve math itself must stay codegen'd expressions in-scan
    val p18 = formatted("s18_zorder_cells")
    assert("\\(\\d+\\) BroadcastNestedLoopJoin".r.findAllIn(p18).size <= 1,
      "z-order grew a second cross beyond the one-row stats attach")
    assert(!p18.contains("CartesianProduct") && !p18.contains("Window"))
  }

  test("z29: sketch union aggregates sketches, never re-shuffling raw events twice") {
    val plan = formatted("z29_sketch_union")
    // the HLL aggregates run on the sketch (object-agg) path with a
    // partial/final split — the raw user_id relation shuffles once per
    // aggregate tree, never through a cartesian or window
    assert(plan.contains("ObjectHashAggregate"), "HLL aggregation left the object-agg path")
    assert(!plan.contains("CartesianProduct") && !plan.contains("Window"))
  }

  test("y5: the ADC serve join blocks on the bucket; only the codebook crosses (broadcast)") {
    val plan = formatted("y5_pq_ann")
    assert(!plan.contains("CartesianProduct"))
    // two deliberate broadcast crosses against the 16-row codebook
    // (encode + the query distance table); the ADC join itself must be a
    // (bucket, sub, code) hash equi-join, never a third cross
    assert("\\(\\d+\\) BroadcastNestedLoopJoin".r.findAllIn(plan).size <= 2,
      "PQ serve grew an unblocked cross join")
    assert("(BroadcastHash|SortMerge|ShuffledHash)Join".r.findAllIn(plan).nonEmpty,
      "the ADC join left the plan")
  }

  test("j11: the bloom probe filters the fact scan BEFORE the exact semi-join") {
    val plan = formatted("j11_bloom_semi_join")
    assert(plan.contains("might_contain"), "bloom reduction left the plan")
    // the probe must sit under the join (scan-side filter), not above it
    val probeLine = plan.linesIterator.indexWhere(_.contains("might_contain"))
    val joinLine = plan.linesIterator.indexWhere(_.contains("Join"))
    assert(probeLine >= 0 && joinLine >= 0)
    // formatted trees print children BELOW their parent: a probe that sits
    // under the join (scan-side, pre-shuffle) must appear after it
    assert(probeLine > joinLine,
      s"bloom probe (line $probeLine) must be under the join (line $joinLine)")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("w10/z16/y4/a14: new window/agg paths keep bounded shuffles") {
    val w10 = formatted("w10_rolling_mean")
    assert(!w10.contains("Join"))
    assert("\\(\\d+\\) Exchange".r.findAllIn(w10).size <= 2, "w10 grew shuffles")
    // z16's deciles must NEVER regress to `ntile() over (partition by
    // lang)`: lang is low-cardinality, so that window sorts a whole
    // language on one task. The two-pass form's only windows are keyed by
    // (__pid, lang) — bounded by partition size — plus the tiny
    // per-(partition, group) offset relation.
    val z16 = formatted("z16_quality_deciles")
    assert(!z16.contains("ntile("),
      "z16 regressed to a single-task per-language ntile window")
    assert(z16.contains("__pid"),
      "the bounded-task numbering key left the z16 plan")
    val y4 = formatted("y4_centroid_stats")
    assert(!y4.contains("Join"), "centroid stats must not join")
    assert(y4.contains("Generate"), "posexplode left the y4 plan")
    assert("\\(\\d+\\) Exchange".r.findAllIn(y4).size <= 3, "y4 grew shuffles")
    val a14 = formatted("a14_rollup_agg")
    assert(a14.contains("Expand"), "rollup must expand grouping sets in ONE pass")
    assert("\\(\\d+\\) Exchange".r.findAllIn(a14).size <= 2, "a14 grew shuffles")
  }

  test("z37/z37b/z38/x32: round-6 text gates keep bounded shapes") {
    // the Gopher panels are explode → combinable aggregates → pivot:
    // no joins over raw gram/fingerprint rows at all
    for (q <- Seq("z37_gopher_repetition", "z37b_gopher_rolling")) {
      val p = formatted(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q grew a non-equi join")
      assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin")
        && !p.contains("BroadcastHashJoin"),
        s"$q must be pure aggregation — a join appeared")
    }
    // z38: KN count tables are unhinted equi-joins (z17's rule); the only
    // nested-loop is the one-row distinct-bigram total attach
    val z38 = formatted("z38_kneser_ney")
    assert(!z38.contains("CartesianProduct"), "z38 grew a real cartesian")
    assert("\\(\\d+\\) BroadcastNestedLoopJoin".r.findAllIn(z38).size <= 1,
      "z38: only the 1-row total may nest-loop")
    // x32: the banding must ride the two-pass groupedNtile, never a
    // per-language single-task ntile window
    val x32 = formatted("x32_curation_v5")
    assert(!x32.contains("ntile("),
      "x32 regressed to a single-task per-language ntile window")
    assert(x32.contains("__pid"), "the bounded-task numbering key left x32")
    assert(!x32.contains("CartesianProduct"), "x32 grew a cartesian")
  }

  test("z41/x32b/x33/x34: round-7 additions keep their scale shapes") {
    // z41: every model join must stay UNHINTED (a web-scale bigram table
    // must not be forced to broadcast) and LEFT (unseen bigrams must
    // survive to the backoff floor — an inner join would drop them)
    val z41 = formatted("z41_heldout_perplexity")
    assert(!z41.contains("CartesianProduct"), "z41 grew a cartesian")
    assert("\\(\\d+\\) BroadcastNestedLoopJoin".r.findAllIn(z41).size <= 1,
      "z41: only the 1-row totals may nest-loop")
    assert(z41.contains("LeftOuter"),
      "z41 lost its left joins — unseen bigrams would be dropped")
    // x32b: same banding discipline as x32 (two-pass groupedNtile)
    val x32b = formatted("x32b_curation_heldout")
    assert(!x32b.contains("ntile("),
      "x32b regressed to a single-task per-language ntile window")
    assert(x32b.contains("__pid"), "the bounded-task numbering key left x32b")
    assert(!x32b.contains("CartesianProduct"), "x32b grew a cartesian")
    // x33: the occupancy measurement is scan → hash aggregate — no join
    // may touch the corpus side (the planner chooses from aggregates)
    val x33 = formatted("x33_planner_applied")
    assert(!x33.contains("CartesianProduct"), "x33 grew a real cartesian")
    assert(x33.contains("HashAggregate"), "x33's occupancy must hash-aggregate")
    // x34: the capstone keeps the banding discipline and never sorts the
    // corpus on one task (packing rides the two-pass running total)
    val x34 = formatted("x34_curation_v6")
    assert(!x34.contains("ntile("),
      "x34 regressed to a single-task per-language ntile window")
    assert(!x34.contains("CartesianProduct"), "x34 grew a cartesian")
  }

  test("x35/z43/z44/x37: scrub-and-materialize additions keep their scale shapes") {
    // x35: the scrub is aggregates + equi-joins + row-local HOFs — never a
    // window function or a span self-join; exactly two equi-joins (the
    // dup-fp verdict and the per-doc rebuild join)
    for (q <- Seq("x35_span_scrub", "x35b_span_scrub_rolling")) {
      val x35 = formatted(q)
      assert(!x35.contains("Window"), s"$q: span scrub regressed to a window")
      assert(!x35.contains("CartesianProduct") && !x35.contains("BroadcastNestedLoopJoin"))
      assert("\\(\\d+\\) (BroadcastHash|SortMerge|ShuffledHash)Join".r
        .findAllIn(x35).size == 2, s"$q: span scrub grew extra joins")
    }
    // z43: source-level arithmetic — the only nest-loops are the two
    // broadcast one-row relations (normalizer, budget); no corpus re-join
    val z43 = formatted("z43_token_budget")
    assert(!z43.contains("CartesianProduct"), "z43 grew a real cartesian")
    assert("\\(\\d+\\) BroadcastNestedLoopJoin".r.findAllIn(z43).size <= 2,
      "z43: only the two 1-row relations may nest-loop")
    // z44: the global rank rides the two-pass running total — exactly the
    // two bounded Window ops (per-partition local + partition-count
    // offsets), never one corpus-wide rank window
    val z44 = formatted("z44_shard_assign")
    assert("\\(\\d+\\) Window".r.findAllIn(z44).size == 2,
      "z44 must keep the two-pass running-total shape")
    assert(z44.contains("__pid"), "the bounded-task offset key left z44")
    // x37: the capstone composes the above — banding stays two-pass, no
    // cartesian, and the scrub/shard machinery keeps its bounded windows
    val x37 = formatted("x37_curation_v7")
    assert(!x37.contains("ntile("),
      "x37 regressed to a single-task per-language ntile window")
    assert(!x37.contains("CartesianProduct"), "x37 grew a cartesian")
    assert(x37.contains("__pid"), "the bounded-task numbering key left x37")
  }

  test("x15/z17/w12: composed pipelines keep their bounded join shapes") {
    val x15 = formatted("x15_semantic_dedup")
    assert(!x15.contains("CartesianProduct") && !x15.contains("BroadcastNestedLoopJoin"),
      "semantic-dedup pair stage must stay a bucket equi-join")
    // z17's count tables deliberately carry NO broadcast hint (an observed-
    // bigram table grows with the corpus — a forced hint would OOM at
    // scale): the static plan may pick any equi-join; only a cartesian
    // would be wrong. Runtime broadcast-vs-shuffle is AQE's call, and the
    // graceful-degradation path is gate-tested in PipelineDegradeSpec.
    val z17 = formatted("z17_bigram_logprob")
    assert(!z17.contains("CartesianProduct") && !z17.contains("BroadcastNestedLoopJoin"),
      "bigram scoring must stay an equi-join")
    val w12 = formatted("w12_cohort_retention")
    assert(!w12.contains("CartesianProduct") && !w12.contains("BroadcastNestedLoopJoin"))
  }

  test("a18/x24/x25/z34/y7: round-5 additions keep their scale shapes") {
    // a18: every join is the tiny per-group coefficient relation —
    // broadcast, never sort-merge; the corpus is re-scanned once per
    // Newton step plus the loss pass, nothing else
    val a18 = formatted("a18_logistic_irls")
    assert(!a18.contains("SortMergeJoin"),
      "IRLS coefficient joins must broadcast (group-cardinality relations)")
    assert(!a18.contains("CartesianProduct"))
    // x24: candidate and truth stages are equi-joins; the ONLY nested-loop
    // join is the deliberate 3-row tau grid broadcast
    val x24 = formatted("x24_lsh_eval")
    assert(!x24.contains("CartesianProduct"))
    assert("\\(\\d+\\) BroadcastNestedLoopJoin".r.findAllIn(x24).size <= 1,
      "x24 grew a second non-equi join beyond the tau grid")
    // x25: winner selection is the min-struct aggregate, not a window over
    // the corpus; all pair generation stays equi-join
    val x25 = formatted("x25_cluster_best")
    assert(!x25.contains("CartesianProduct") && !x25.contains("BroadcastNestedLoopJoin"))
    // z34: the majority pick's window partitions by doc_id (state bounded
    // by a doc's language count — never a corpus- or lang-wide sort)
    val z34 = formatted("z34_code_switch")
    assert(z34.contains("windowspecdefinition(doc_id"),
      "z34's winner window must partition by doc_id")
    assert(!z34.contains("CartesianProduct") && !z34.contains("BroadcastNestedLoopJoin"))
    // y7: the query side is the broadcast-bounded batch (the A×B is the
    // rerank rung by construction)
    val y7 = formatted("y7_bitext_margin")
    assert(y7.contains("BroadcastNestedLoopJoin") || y7.contains("BroadcastExchange"),
      "y7's bounded query batch must broadcast")
    assert(!y7.contains("SortMergeJoin"), "y7 must not shuffle the corpus side for the join")
  }

  test("y15: assignment broadcasts the anchors; the corpus never shuffles for a join") {
    val plan = formatted("y15_ivf_arrival")
    assert(plan.contains("BroadcastExchange"), "anchor table must broadcast")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      "the corpus side must not shuffle to meet the anchors")
  }

  test("x40: the ingest composition keeps every stage's scale shape") {
    // the daily-ingest capstone must not lose its components' guarantees
    // when composed: no quadratic pair generation anywhere (all LSH
    // candidate joins stay equi-joins), and the ANN drift pass keeps
    // y15's broadcast-argmin shape (the embedding corpus never shuffles
    // to meet the 8 anchors). NOTE: construction runs the CC driver loop
    // and the artifact builds — a few seconds.
    val plan = formatted("x40_daily_ingest")
    assert(!plan.contains("CartesianProduct"),
      "x40 grew a cartesian pair stage")
    assert(plan.contains("BroadcastExchange"),
      "anchor/model small sides must broadcast")
  }

  test("z48: postings joins stay equi-joins; the phrase mine is a TakeOrdered top-3") {
    val plan = formatted("z48_phrase_postings")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "consecutive-position joins must be (doc_id, pos) equi-joins")
    // the top-3 mine must stay limit-bounded (TakeOrdered, or the
    // LocalLimit → merge-sort → GlobalLimit split Catalyst plans under a
    // join) — never an unbounded global sort of the trigram histogram
    assert(plan.contains("TakeOrderedAndProject") || plan.contains("GlobalLimit"),
      "the top-3 phrase mine must not globally sort the trigram relation")
  }

  test("round-9 additions keep their scale shapes") {
    // x46: the segmenter is a map-side explode; the boilerplate anti-join
    // and the frequency join stay equi-joins — no pair stage anywhere
    val x46 = formatted("x46_boilerplate_scrub")
    assert(!x46.contains("CartesianProduct"), "x46 grew a non-broadcast cartesian")
    // the ONLY nested-loop join is the deliberate one-row inventory panel
    assert("""\(\d+\) BroadcastNestedLoopJoin""".r.findAllIn(x46).size <= 1,
      "x46 grew a second non-equi join beyond the one-row inventory crossJoin")
    // y19: candidates come from the multi-probe bucket EQUI-join — the n²
    // pair space must never materialize
    val y19 = formatted("y19_triplet_mine")
    assert(!y19.contains("CartesianProduct") && !y19.contains("BroadcastNestedLoopJoin"),
      "y19 must stay a bucket equi-join")
    // y20: the ADC stage stays the (cell, sub, code) equi-join and the
    // exact rerank only joins the batch-sized shortlist (the deliberate
    // cross joins are the broadcast 16-row codebook/8-row anchors)
    val y20 = formatted("y20_pq_rerank")
    assert(!y20.contains("CartesianProduct"),
      "y20 grew a non-broadcast cartesian stage")
    // z57: assignment + move flags are pure row expressions — no join at
    // all beyond the broadcast one-row global panel
    val z57 = formatted("z57_rendezvous_reshard")
    assert(!z57.contains("SortMergeJoin") && !z57.contains("CartesianProduct"),
      "z57's assignment must stay in-scan")
    // x47/x48: the composed incremental paths keep their components'
    // equi-join pair generation (construction runs the CC driver loops
    // and artifact builds — a few seconds)
    for (q <- Seq("x47_ingest_replay", "x48_inventory_maintenance",
        "z56_domain_reweight", "m8_payload_integrity")) {
      val p = formatted(q)
      assert(!p.contains("CartesianProduct"), s"$q grew a cartesian stage")
    }
  }

  test("round-10 additions keep their scale shapes") {
    // z61: ranks must ride the two-pass range-partition rank — a
    // PARTITION BY lang row_number over the corpus puts one language's
    // entire corpus in a single window task (the r9 weak grade)
    val z61 = formatted("z61_classifier_auc")
    assert(z61.contains("__pid"), "the bounded-task numbering key left z61")
    assert("""windowspecdefinition\(lang#\d+, score""".r.findFirstIn(z61).isEmpty,
      "z61 regressed to a single-task per-language rank window")
    // z56: the audited plans must cover the corpus explode+join stage that
    // the construction-time checkpoint runs (not only the lineage-truncated
    // LogicalRDD) — pin the scan's visibility so the cartesian check above
    // can never go vacuous again
    val z56 = formatted("z56_domain_reweight")
    assert("""\(\d+\) Scan parquet""".r.findAllIn(z56).nonEmpty,
      "z56's audited plans lost the corpus scan (the checkpoint escaped the capture)")
    // y22: the serving arm must stay a bucket equi-join (the n² pair
    // space never materializes); the only nested-loop joins are the
    // deliberate one-row max-norm broadcasts and the exact arm's capped
    // q_id <> c_id batch join
    val y22 = formatted("y22_mips_serve")
    assert(!y22.contains("CartesianProduct"), "y22 grew a non-broadcast cartesian")
    assert(y22.contains("__probe"), "y22's serving arm lost the bucket probe key")
    // y21: both ranks now ride the salted two-stage top-k — stage 1 must
    // keep its salt key (losing it silently regresses to one task per
    // query over the whole corpus)
    val y21 = formatted("y21_mips_augment")
    assert(y21.contains("__salt"), "y21's stage-1 window lost its salt key")
    // x51: probe joins stay equi-joins; the only nested-loops are the
    // two deliberate one-row broadcasts (sketch blob, exact-row count)
    val x51 = formatted("x51_inventory_tail")
    assert(!x51.contains("CartesianProduct"), "x51 grew a non-broadcast cartesian")
    assert("""\(\d+\) BroadcastNestedLoopJoin""".r.findAllIn(x51).size <= 2,
      "x51: only the one-row sketch/count frames may nest-loop")
    // x52: the repair path is all equi/anti/semi joins over segment hashes
    // and doc ids
    val x52 = formatted("x52_takedown_rematerialize")
    assert(!x52.contains("CartesianProduct") && !x52.contains("BroadcastNestedLoopJoin"),
      "x52 grew a non-equi join")
    // z64: the segment map must ride the two-pass prefix sum — never an
    // unpartitioned corpus-wide running-sum window (single-task funnel)
    val z64 = formatted("z64_packed_segments")
    assert(z64.contains("__pid"), "z64 lost the bounded-task prefix-sum key")
    assert(!z64.contains("CartesianProduct"), "z64 grew a cartesian")
    // x53: both sampling arms must stay TakeOrdered (per-partition top-k
    // + one k·P merge — z27's shape), and the pair stage an equi-join
    val x53 = formatted("x53_soft_dedup")
    assert("""\(\d+\) TakeOrderedAndProject""".r.findAllIn(x53).size >= 2,
      "x53's sampling arms must plan as TakeOrdered")
    assert(!x53.contains("CartesianProduct"), "x53 grew a cartesian")
    // y23: all four serving arms stay bucket equi-joins off one truth
    val y23 = formatted("y23_mips_curve")
    assert(!y23.contains("CartesianProduct"), "y23 grew a non-broadcast cartesian")
    assert(y23.contains("__probe"), "y23's serving arms lost the bucket probe key")
    // m9: the per-modality prefix sum must ride the grouped two-pass
    // form — never a PARTITION BY modality corpus window (one task per
    // modality at any corpus size)
    val m9 = formatted("m9_modality_packing")
    assert(m9.contains("__pid"), "m9 lost the bounded-task prefix-sum key")
    assert(!m9.contains("CartesianProduct"), "m9 grew a cartesian")
    // x54: artifact maintenance is combinable counts + equi-joins; only
    // the one-row sketch blob may nest-loop
    val x54 = formatted("x54_tail_maintenance")
    assert(!x54.contains("CartesianProduct"), "x54 grew a non-broadcast cartesian")
  }

  test("round-11: sketch blobs ride the plan as literals, never as row columns") {
    // The r10 weak grade: x54's 11 MB CMS sketch was crossJoin-attached as
    // a COLUMN of the batch relation, so every probed row re-materialized
    // (and re-memcmp'd) the blob out of its UnsafeRow — 91 s fresh-JVM at
    // sf0.1, and worse at 100× because per-probe cost grew with sketch
    // width × batch keys. The transport contract this pins: a multi-MB
    // sketch is collected ONCE at build and inlined as a binary LITERAL
    // (the Bloom precedent), so no join output — i.e. no batch- or
    // corpus-cardinality relation — ever carries a binary column.
    import org.apache.spark.sql.catalyst.plans.logical.Join
    import org.apache.spark.sql.types.BinaryType
    for (q <- Seq("x54_tail_maintenance", "x51_inventory_tail",
        "x55_tail_composition", "x58_interleaved_takedown")) {
      val plan = SparkEntry.queries(q)(spark, sf).queryExecution.optimizedPlan
      val offenders = plan.collect {
        case j: Join => j.output.filter(_.dataType == BinaryType)
      }.flatten
      assert(offenders.isEmpty,
        s"$q: a binary sketch column rides a join output: ${offenders.map(_.name)}")
    }
  }

  test("round-11 additions keep their scale shapes") {
    // x55/x56: merge days and the takedown subtract are combinable counts
    // + equi-joins over the artifact; the only nested-loops are the
    // one-row panel broadcasts
    for (q <- Seq("x55_tail_composition", "x56_tail_takedown")) {
      val p = formatted(q)
      assert(!p.contains("CartesianProduct"), s"$q grew a non-broadcast cartesian")
    }
    // y25/y26: every serving arm stays a bucket equi-join (the only
    // nested-loops are the deliberate bounded truth batches and one-row
    // panel broadcasts — never a corpus×corpus pair space)
    for (q <- Seq("y25_deletion_decision", "y26_mips_tombstone")) {
      val p = formatted(q)
      assert(!p.contains("CartesianProduct"), s"$q grew a non-broadcast cartesian")
    }
    // s28/s29/s30: the store-lifecycle panels stay equi-join/aggregate
    // shaped, with the corpus scan visible in the captured plans
    for (q <- Seq("s28_lineage_purge", "s29_evolving_feed", "s30_cdc_chain",
        "s31_history_retention", "s32_chain_purge")) {
      val p = formatted(q)
      assert(!p.contains("CartesianProduct"), s"$q grew a cartesian stage")
      assert("""\(\d+\) Scan parquet""".r.findAllIn(p).nonEmpty,
        s"$q's audited plan lost its scan")
    }
  }

  test("round-12 additions keep their scale shapes") {
    // s33/s34: governance-lifecycle panels stay equi-join/aggregate shaped
    // with the corpus scan visible in the captured plans
    for (q <- Seq("s33_idempotent_purge", "s34_tracked_delete",
        "s35_evolving_scd2")) {
      val p = formatted(q)
      assert(!p.contains("CartesianProduct"), s"$q grew a cartesian stage")
      assert("""\(\d+\) Scan parquet""".r.findAllIn(p).nonEmpty,
        s"$q's audited plan lost its scan")
    }
    // x57: two O(artifacts)-row manifests full-outer-joined — the diff
    // join must never be a cartesian, and the manifest aggregates keep
    // their corpus scans
    val x57 = formatted("x57_epoch_manifest_diff")
    assert(!x57.contains("CartesianProduct"), "x57 grew a cartesian")
    assert("""\(\d+\) Scan parquet""".r.findAllIn(x57).nonEmpty,
      "x57's audited plan lost its scan")
    // x58: merge days + the takedown subtract stay combinable counts +
    // equi-joins over the artifact (x55/x56's shape, composed)
    val x58 = formatted("x58_interleaved_takedown")
    assert(!x58.contains("CartesianProduct"), "x58 grew a non-broadcast cartesian")
    // y27: both serving arms ride the stored-index bucket probe key; the
    // only nested-loops are the one-row max-norm/panel broadcasts and the
    // deliberate bounded truth batch
    val y27 = formatted("y27_governed_ann")
    assert(!y27.contains("CartesianProduct"), "y27 grew a non-broadcast cartesian")
    assert(y27.contains("__probe"), "y27's serving arms lost the bucket probe key")
  }

  test("round-13 additions keep their scale shapes") {
    // s36/s37: the versioned+tracked lifecycle and the retention
    // re-bootstrap stay equi-join/aggregate shaped with the corpus scan
    // visible in the captured plans
    for (q <- Seq("s36_versioned_tracked", "s37_retention_rebootstrap",
        "s38_versioned_compaction")) {
      val p = formatted(q)
      assert(!p.contains("CartesianProduct"), s"$q grew a cartesian stage")
      assert("""\(\d+\) Scan parquet""".r.findAllIn(p).nonEmpty,
        s"$q's audited plan lost its scan")
    }
    // x59: the five-store capstone panel is a union of one-pass store
    // aggregates + two O(artifacts) manifest relations full-outer-joined
    // on the artifact name + the O(segments) transition equi-join — the
    // only nested loops are the one-row max-norm broadcast inside the
    // index builders; never a corpus×corpus pair space
    val x59 = formatted("x59_governed_platform")
    assert(!x59.contains("CartesianProduct"), "x59 grew a non-broadcast cartesian")
    assert("""\(\d+\) Scan parquet""".r.findAllIn(x59).nonEmpty,
      "x59's audited plan lost its scan")
    // x60: two O(artifacts) manifests diffed on an equi-key, scans visible
    val x60 = formatted("x60_repair_manifest")
    assert(!x60.contains("CartesianProduct"), "x60 grew a cartesian stage")
    assert("""\(\d+\) Scan parquet""".r.findAllIn(x60).nonEmpty,
      "x60's audited plan lost its scan")
  }

  test("s21: both window profiles come from ONE scan of the fact table") {
    val plan = formatted("s21_profile_diff")
    // count detail-section entries ("(1) Scan parquet"), not tree echoes
    assert("""\(\d+\) Scan parquet""".r.findAllIn(plan).size === 1,
      "the two-window profile must be one conditional-aggregation pass")
  }

  /** ONE construction of every declared query feeds both registry-wide
    * audits below: each query is built once with AQE off, and its output
    * schema and formatted plan are read from that one frame (building
    * every query costs minutes at this SF, so two sweeps doubled it).
    * Forced by whichever audit runs first. */
  private lazy val sweep: Seq[(String, Seq[String], Boolean)] = {
    import org.apache.spark.sql.types.DecimalType
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val df = fn(spark, sf)
      val decimals = df.schema.fields.collect {
        case f if f.dataType.isInstanceOf[DecimalType] => s"$name.${f.name}"
      }.toSeq
      val codegen = "codegen id : (\\d+)".r
        .findFirstIn(df.queryExecution.explainString(FormattedMode)).isDefined
      (name, decimals, codegen)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("no query output schema contains a DECIMAL column") {
    // The driver's compare reads Spark parquet decimals scale-preserving
    // ("1.50") but DuckDB oracle decimals as doubles ("1.5"): any DECIMAL
    // output column hash-mismatches on the first trailing-zero value.
    // DECIMAL belongs inside the plan; DOUBLE at the output boundary.
    // NOTE: constructing y3b/x9b runs their driver loops (k-means, CC) —
    // a few seconds at this SF, the price of auditing every declared query.
    val offenders = sweep.flatMap(_._2)
    assert(offenders.isEmpty, s"DECIMAL-typed output columns: $offenders")
  }

  test("every registered query keeps at least one whole-stage codegen span") {
    // y3b's DECLARED output is the 4-row contract literal summarizing the
    // k-means driver loop — the distributed stages live inside kmeansFit
    // (audited by SimilaritySpec's convergence test), not in this frame.
    // z30's is the collected BPE merge table (a LocalRelation by shape —
    // the distributed stages live inside Vocab.bpeLearn's per-round jobs,
    // audited by VocabSpec).
    val gaps = sweep
      .filterNot { case (name, _, _) => Set("y3b_kmeans_iterate", "z30_bpe_learn")(name) }
      .collect { case (name, _, false) => name }
    assert(gaps.isEmpty, s"queries with zero codegen spans: $gaps")
  }
}
