package graft.operators

import graft.Housekeeping
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Subword-vocabulary learning (BPE merge induction) over a document corpus.
  *
  * The reference workload tokenizes with fixed rules (SURVEY.md §2.9); a
  * training-data pipeline additionally LEARNS its tokenizer from the corpus.
  * This is the classic byte-pair-encoding loop (Sennrich et al. 2016,
  * "Neural Machine Translation of Rare Words with Subword Units"): start
  * from characters, repeatedly merge the most frequent adjacent token pair.
  *
  * Scale design — the word-histogram trick that makes distributed BPE
  * tractable: the corpus is scanned ONCE into a (word, count) histogram
  * (one map-side-combinable shuffle; Heaps' law keeps the histogram
  * sublinear in corpus size — ~10^6-10^7 rows even at 100 TB, vs 10^13
  * tokens). Every merge round then runs on the histogram, never the corpus:
  * an in-scan explode of adjacent token pairs weighted by word count, a
  * vocab-sized pair aggregate (map-side combinable), and a TakeOrdered(1)
  * for the arg-max pair. The driver collects exactly one row per round
  * (the chosen pair — metadata, never data), mirroring the k-means loop in
  * [[Similarity.kmeansFit]]. The histogram is pinned (localCheckpoint) for
  * the loop's lifetime and freed before returning.
  *
  * Merge semantics: a round rewrites every word's token string by replacing
  * occurrences of " a b " with " ab " in two left-to-right non-overlapping
  * sweeps over the space-padded string. One sweep cannot merge a chain of
  * adjacent occurrences ("a b a b" leaves the second pair untouched because
  * consecutive matches share their boundary space); after the first sweep
  * no two remaining occurrences are adjacent, so the second sweep catches
  * every leftover. The two-sweep form is deterministic and engine-portable
  * (plain non-overlapping string replace exists everywhere), at the cost of
  * a documented deviation from strict leftmost-greedy BPE on runs of 3+
  * overlapping occurrences of a self-adjacent pair ("a a a a a" merges to
  * "aa a aa"; strict greedy gives "aa aa a") — same token count, different
  * alignment, and identical on both engines, which is what the differential
  * gate needs.
  *
  * Tie-breaks: arg-max by (count desc, pair asc) — deterministic across
  * engines, partitionings, and runs.
  */
object Vocab {

  /** One learned merge: `step` is 1-based, `merged = tokA + tokB`, `n` the
    * weighted occurrence count at the time of the merge. */
  final case class Merge(step: Int, tokA: String, tokB: String,
                         merged: String, n: Long)

  val MergeSchema: StructType = StructType(Seq(
    StructField("step", IntegerType, nullable = false),
    StructField("tok_a", StringType, nullable = false),
    StructField("tok_b", StringType, nullable = false),
    StructField("merged", StringType, nullable = false),
    StructField("n", LongType, nullable = false)))

  /** Space-joined character tokens of a word column ("hash" → "h a s h"). */
  def charTokens(word: Column): Column =
    trim(regexp_replace(word, "(.)", "$1 "))

  /** Two-sweep literal pair merge of a token-string column (object doc). */
  def mergePair(ts: Column, tokA: String, tokB: String): Column = {
    val patt = lit(s" $tokA $tokB ")
    val repl = lit(s" $tokA$tokB ")
    val once = replace(concat(lit(" "), ts, lit(" ")), patt, repl)
    trim(replace(once, patt, repl))
  }

  /** The (token-string, count) word histogram of a corpus — the ONE
    * corpus-wide pass of the BPE loop. */
  def wordHistogram(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(split(col(textCol), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("n"))
      .select(charTokens(col("w")).as("ts"), col("n"))

  /** Adjacent-pair counts of a (ts, n) histogram: every "tokᵢ tokᵢ₊₁" pair
    * weighted by word count. In-scan explode + map-side-combinable
    * aggregate; output is vocab-sized. */
  def pairCounts(hist: DataFrame): DataFrame =
    hist.select(split(col("ts"), " ").as("tok"), col("n"))
      .filter(size(col("tok")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(tok) - 2), i -> concat(tok[i], ' ', tok[i+1]))"))
        .as("pair"), col("n"))
      .groupBy("pair").agg(sum(col("n")).as("cnt"))

  /** Learn up to `merges` BPE merges from the corpus (fewer if every word
    * fully merges first). Runs the driver loop at call time: one tiny job
    * per round over the pinned histogram, one collected row per round.
    *
    * The histogram plan grows one `withColumn` (two literal replaces) per
    * round — fine at a handful of merges, but a production 30k-merge
    * vocabulary would build a 30k-node plan whose ANALYSIS cost dwarfs the
    * jobs. `repinEvery` bounds it: every K rounds the current histogram is
    * re-localCheckpointed (vocab-sized — tiny) and the previous pin freed,
    * so plan depth never exceeds K nodes above a checkpoint scan and
    * memory holds ONE extra pinned copy transiently during the swap.
    * Results are invariant to K (spec-gated: K=4 == no-repin on a 64-merge
    * run); `onRound` is a test probe for asserting the bound. */
  def bpeLearn(docs: DataFrame, textCol: String, merges: Int,
               repinEvery: Int = 16,
               onRound: (Int, DataFrame) => Unit = (_, _) => ()): Seq[Merge] = {
    require(merges >= 1, s"merges must be positive, got $merges")
    require(repinEvery >= 1, s"repinEvery must be positive, got $repinEvery")
    val spark = docs.sparkSession
    var pinned = Housekeeping.pin(spark)(wordHistogram(docs, textCol))
    try {
      var hist = pinned.df
      var sincePin = 0
      val out = Seq.newBuilder[Merge]
      var step = 1
      var exhausted = false
      while (step <= merges && !exhausted) {
        val top = pairCounts(hist)
          .orderBy(col("cnt").desc, col("pair").asc).limit(1).collect()
        if (top.isEmpty) exhausted = true // every word fully merged
        else {
          val pair = top(0).getString(0)
          val cnt = top(0).getLong(1)
          val Array(a, b) = pair.split(" ", 2)
          out += Merge(step, a, b, a + b, cnt)
          hist = hist.withColumn("ts", mergePair(col("ts"), a, b))
          sincePin += 1
          if (sincePin >= repinEvery && step < merges) {
            val next = Housekeeping.pin(spark)(hist)
            pinned.free()
            pinned = next
            hist = pinned.df
            sincePin = 0
          }
          onRound(step, hist)
          step += 1
        }
      }
      out.result()
    } finally pinned.free()
  }

  /** Word-level subword tokenization under a learned merge list: chars,
    * then each merge replayed in learned order. A pure chained expression —
    * the merge list compiles into 2·merges literal replaces inside
    * whole-stage codegen. Applied per WORD, so merges never span word
    * boundaries (BPE pre-tokenization contract). */
  def applyMerges(word: Column, merges: Seq[Merge]): Column =
    merges.foldLeft(charTokens(word)) { (acc, m) => mergePair(acc, m.tokA, m.tokB) }

  /** Per-document subword token count under a learned merge list — the
    * "how many tokens is my corpus under this vocab" accounting every
    * training run needs. Tokenization is in-scan; the only shuffle is the
    * per-doc aggregate (map-side combinable). */
  def bpeTokenCounts(docs: DataFrame, idCol: String, textCol: String,
                     merges: Seq[Merge]): DataFrame =
    docs.select(col(idCol), explode(split(col(textCol), " ")).as("w"))
      .filter(col("w") =!= "")
      .select(col(idCol),
        size(split(applyMerges(col("w"), merges), " ")).cast(IntegerType).as("w_tokens"))
      .groupBy(idCol)
      .agg(sum(col("w_tokens")).cast(LongType).as("n_tokens"),
        count(lit(1)).cast(IntegerType).as("n_words"))

  // ---- unigram-LM tokenizer (SentencePiece-style, Kudo 2018) ----

  /** Viterbi segmentation of one word under a token→cost map (costs =
    * −ln p snapshotted at DECIMAL(12,6), so the DP's additions and
    * comparisons are EXACT and engine-portable): best[i] = min over the
    * last-token length l ≤ maxTok of best[i−l] + cost(substr ending at i),
    * ties broken by fewer tokens, then the lexicographically smallest
    * token path — a total order, so the winning segmentation is unique
    * and identical on any engine that replays the same costs.
    *
    * One pure `aggregate` HOF: the accumulator is the growing best[0..i]
    * array of (cost, n_tokens, path) structs; `array_min` over the
    * candidate structs IS the (c, k, p) lexicographic argmin. O(len·maxTok)
    * per word, in-scan, no shuffle, no UDF.
    *
    * Totality: a single-character candidate missing from the map costs
    * [[UnkCost]] (the byte-fallback posture every serving tokenizer needs),
    * so ANY input segments. In the fit path the char vocabulary is
    * corpus-derived and never pruned, so the fallback is unreachable there
    * (the z49/z50 oracles replay without it); it is load-bearing only for
    * arbitrary arrivals (the streaming fertility gate). */
  val UnkCost: Double = 25.0

  def unigramViterbi(word: Column, vmap: Column, maxTok: Int): Column = {
    val zero = array(struct(
      lit(0).cast(DecimalType(18, 6)).as("c"),
      lit(0).as("k"), lit("").as("p")))
    // Totality guard: length=0 would make sequence(1, 0) DESCEND to [1, 0]
    // and the i=0 step index element_at(acc, 0), which Spark rejects
    // (array indices are 1-based). An empty word segments to zero tokens.
    val dp = aggregate(
      sequence(lit(1), length(word)),
      zero,
      (acc, i) => {
        val cands = filter(
          transform(sequence(lit(1), least(lit(maxTok), i)), l => {
            val j = i - l
            val tok = word.substr(j + lit(1), l)
            val prev = element_at(acc, j + lit(1))
            val raw = element_at(vmap, tok)
            val cst = when(l === lit(1),
              coalesce(raw, lit(UnkCost).cast(DecimalType(12, 6)))).otherwise(raw)
            struct(
              (prev.getField("c") + cst)
                .cast(DecimalType(18, 6)).as("c"),
              (prev.getField("k") + lit(1)).as("k"),
              concat(prev.getField("p"), lit(" "), tok).as("p"))
          }),
          s => s.getField("c").isNotNull)
        concat(acc, array(array_min(cands)))
      },
      acc => split(ltrim(element_at(acc, lit(-1)).getField("p")), " "))
    when(length(word) === 0, array().cast(ArrayType(StringType))).otherwise(dp)
  }

  /** Unigram-LM vocabulary fit (the SentencePiece training shape, hard-EM
    * variant): candidate tokens are every ≤ maxTok-char substring of the
    * corpus WORD HISTOGRAM (the same Heaps'-law trick as [[bpeLearn]] —
    * the corpus pays one scan, every round runs on vocab-sized frames plus
    * one histogram-wide segmentation pass); the initial vocabulary keeps
    * every single character (never pruned — segmentability guarantee) plus
    * the top `initMulti` multi-char candidates by weighted occurrence
    * count. Each EM round Viterbi-segments the histogram under the current
    * costs ([[unigramViterbi]]), recounts token usage (map-side-combinable
    * weighted aggregate), prunes multi-char tokens to the top `pruneTo` by
    * usage, and re-derives costs as add-1-smoothed negative log
    * frequencies, −ln((u+1)/(total+|V|)), snapshotted at DECIMAL(12,6) —
    * integer-operand division + one ln + one engine-stable decimal cast,
    * so every round's costs (and therefore every segmentation) replays
    * bit-identically in the oracle.
    *
    * Returns the post-round-R vocabulary: (token, n_uses, cost
    * DECIMAL(12,6), is_char), usage from round R's segmentation, costs
    * from round R's M-step.
    *
    * `pinRounds` (default true) localCheckpoints each round's vocab-sized
    * cost table, so round r's plan references a ~40-row checkpoint scan
    * instead of nesting every earlier round's full segmentation subtree —
    * without it the composed plan's ANALYSIS alone measured ~9 s at ANY
    * corpus size (the bpeLearn plan-depth lesson, at the optimizer level).
    * Pass false to build without actions; results are invariant
    * (spec-gated). A production 10⁶-word histogram would
    * additionally pin the histogram and driver-iterate like [[bpeLearn]]. */
  def unigramFit(docs: DataFrame, textCol: String, maxTok: Int = 4,
                 initMulti: Int = 24, pruneTo: Int = 16,
                 rounds: Int = 2, pinRounds: Boolean = true): DataFrame = {
    require(rounds >= 1 && maxTok >= 2 && initMulti >= 1 && pruneTo >= 1)
    val words = docs.select(explode(split(col(textCol), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("n"))

    // smoothed cost table from a (token, u) frame: −ln((u+1)/(total+|V|))
    def costs(vocab: DataFrame): DataFrame = {
      val scal = vocab.agg(sum(col("u")).cast(LongType).as("tot"),
        count(lit(1)).as("nv"))
      vocab.crossJoin(scal)
        .select(col("token"),
          (-log((col("u") + lit(1L)) / (col("tot") + col("nv"))))
            .cast(DecimalType(12, 6)).as("cost"))
    }

    // one-row token→cost map for the segmentation crossJoin
    def asMap(costDf: DataFrame): DataFrame =
      costDf.agg(map_from_entries(collect_list(struct(col("token"), col("cost"))))
        .as("vmap"))

    // initial candidates: every (start, len ≤ maxTok) substring of every
    // histogram word, weighted by word count
    val subs = words.select(explode(expr(
      s"""flatten(transform(sequence(1, length(w)),
         |  i -> transform(sequence(1, least($maxTok, length(w) - i + 1)),
         |    l -> substring(w, i, l))))""".stripMargin)).as("token"), col("n"))
      .groupBy("token").agg(sum(col("n")).as("u"))
    val chars0 = subs.filter(length(col("token")) === 1)
    // top-k by usage via orderBy+limit: compiles to TakeOrderedAndProject
    // (per-partition heap + driver merge of k rows), NOT a single-partition
    // global sort — the candidate-substring histogram reaches 10⁷–10⁸ rows
    // on CJK-heavy corpora and must never land on one task. Caveat: the
    // heap plan only holds for k ≤ spark.sql.execution.topKSortFallback-
    // Threshold (default 10000 — below the production pruneTo=32768);
    // GraftSession raises it to 2²⁰, and any external session running
    // large-vocab fits must do the same or this degrades to a full sort
    // with a single-partition GlobalLimit (bounded by per-partition local
    // limits, but not the plan this comment promises).
    val multi0 = subs.filter(length(col("token")) > 1)
      .orderBy(col("u").desc, col("token").asc)
      .limit(initMulti)
    val v0 = chars0.unionByName(multi0)

    // one EM round: segment under `prev` costs → usage → prune → new vocab
    def emRound(prevCosts: DataFrame): DataFrame = {
      val seg = words.crossJoin(broadcast(asMap(prevCosts)))
        .select(explode(unigramViterbi(col("w"), col("vmap"), maxTok)).as("token"),
          col("n"))
      val usage = seg.groupBy("token").agg(sum(col("n")).as("u"))
      val chars = prevCosts.filter(length(col("token")) === 1).select("token")
        .join(usage, Seq("token"), "left")
        .select(col("token"), coalesce(col("u"), lit(0L)).as("u"))
      val multi = usage.filter(length(col("token")) > 1)
        .orderBy(col("u").desc, col("token").asc)
        .limit(pruneTo)
      chars.unionByName(multi)
    }

    def maybePin(df: DataFrame): DataFrame =
      if (pinRounds) Housekeeping.pin(docs.sparkSession)(df).df else df
    var vocab = v0
    var cost = maybePin(costs(v0))
    for (_ <- 1 to rounds) {
      vocab = maybePin(emRound(cost))
      cost = maybePin(costs(vocab))
    }
    vocab.join(cost, Seq("token"))
      .select(col("token"), col("u").cast(LongType).as("n_uses"),
        col("cost"), (length(col("token")) === 1).as("is_char"))
  }
}
