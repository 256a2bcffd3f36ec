package graft.queries

import graft.{Artifacts, Tables}
import graft.operators.Vocab
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Vocabulary-learning and corpus-accounting queries (the tokenizer-side
  * extension of the training-data pipeline): BPE merge induction over the
  * word histogram, corpus re-tokenization under the learned vocabulary, and
  * the per-(source, lang) datacard panel a corpus release ships with.
  *
  * Oracle style: the BPE loop is inherently iterative, so its DuckDB oracle
  * is generated programmatically — K unrolled CTE rounds, each computing
  * the weighted adjacent-pair counts, the arg-max pair (count desc, pair
  * asc), and the two-sweep merge rewrite, exactly mirroring
  * [[graft.operators.Vocab]]'s per-round jobs. Strings and counts are exact
  * integers/ASCII, so every query hash-matches, not approximately.
  */
object VocabQueries {

  /** Merge rounds learned by the declared queries — deep enough that the
    * merge table shows multi-character tokens being re-merged (merged
    * tokens re-enter the pair pool), small enough that the unrolled oracle
    * SQL stays reviewable. */
  private val BpeMerges = 6

  /** One learn per (session, input dir): Verify/Bench construct z30 and
    * z31 and must not re-run the K-round loop every time. The cached
    * value is a driver-local Seq — nothing references executor blocks
    * (the learn frees its histogram checkpoint before returning). */
  private def merges(s: SparkSession, d: String): Seq[Vocab.Merge] =
    Artifacts.getOrBuild(s, d, s"bpe_merges_$BpeMerges")(
      Vocab.bpeLearn(Tables.documents(s, d), "text", BpeMerges))

  // ---- DuckDB oracle generation (unrolled BPE rounds) ----

  /** DuckDB mirror of Vocab.charTokens. */
  private def charSql(w: String): String =
    s"trim(regexp_replace($w, '(.)', '\\1 ', 'g'))"

  /** DuckDB mirror of Vocab.mergePair: two-sweep literal replace of the
    * space-padded token string; `p` is a SQL expression for the pair
    * ("a b") and the merged form is `replace(p, ' ', '')`. */
  private def mergeSql(x: String, p: String): String = {
    val patt = s"' ' || $p || ' '"
    val repl = s"' ' || replace($p, ' ', '') || ' '"
    s"trim(replace(replace(' ' || $x || ' ', $patt, $repl), $patt, $repl))"
  }

  /** CTE chain w0 → (s1, p1, b1, w1) → … → (sK, pK, bK, wK): w{r} is the
    * histogram after r merges, b{r} the r-th chosen pair. */
  private def bpeRoundsCtes(k: Int): String = {
    val base =
      s"""wh AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n
         |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
         |  WHERE w <> '' GROUP BY 1),
         |w0 AS (SELECT ${charSql("w")} AS ts, n FROM wh)""".stripMargin
    val rounds = (1 to k).map { r =>
      s"""s$r AS (SELECT string_split(ts, ' ') AS l, n FROM w${r - 1}),
         |p$r AS (SELECT l[i] || ' ' || l[i+1] AS pair, CAST(SUM(n) AS BIGINT) AS cnt
         |  FROM (SELECT l, n, unnest(generate_series(1, len(l) - 1)) AS i FROM s$r)
         |  GROUP BY 1),
         |b$r AS (SELECT pair, cnt FROM p$r ORDER BY cnt DESC, pair LIMIT 1),
         |w$r AS (SELECT ${mergeSql("w.ts", "b.pair")} AS ts, w.n
         |  FROM w${r - 1} w CROSS JOIN b$r b)""".stripMargin
    }
    (base +: rounds).mkString(",\n")
  }

  /** z30: the learned merge table itself — K rounds of "most frequent
    * adjacent token pair" over the corpus word histogram. */
  private val z30BpeLearn = Q(
    (s, d) => {
      val rows = merges(s, d)
        .map(m => org.apache.spark.sql.Row(m.step, m.tokA, m.tokB, m.merged, m.n))
      s.createDataFrame(java.util.Arrays.asList(rows: _*), Vocab.MergeSchema)
        .orderBy("step")
    }, {
      val sel = (1 to BpeMerges).map { r =>
        s"""SELECT $r AS step, string_split(pair, ' ')[1] AS tok_a,
           |  string_split(pair, ' ')[2] AS tok_b,
           |  replace(pair, ' ', '') AS merged, cnt AS n FROM b$r""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH ${bpeRoundsCtes(BpeMerges)}
         |SELECT CAST(step AS INT) AS step, tok_a, tok_b, merged, n
         |FROM ($sel) ORDER BY step""".stripMargin
    })

  /** z31: re-tokenize the corpus under the learned vocabulary — per-doc
    * subword token counts, the accounting a training run budgets by. The
    * oracle re-derives the SAME merges (CTEs b1..bK) and replays them
    * per word, so learn and encode are differentially gated end-to-end. */
  private val z31BpeTokens = Q(
    (s, d) => {
      val ms = merges(s, d)
      Vocab.bpeTokenCounts(Tables.documents(s, d), "doc_id", "text", ms)
        .orderBy("doc_id")
    }, {
      val chain = (1 to BpeMerges).foldLeft(charSql("w")) { (acc, r) =>
        mergeSql(acc, s"b$r.pair")
      }
      s"""WITH ${bpeRoundsCtes(BpeMerges)},
         |dw AS (SELECT doc_id, w FROM (
         |    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
         |  WHERE w <> ''),
         |enc AS (SELECT doc_id, $chain AS ts
         |  FROM dw ${(1 to BpeMerges).map(r => s"CROSS JOIN b$r b$r").mkString(" ")})
         |SELECT doc_id, CAST(SUM(len(string_split(ts, ' '))) AS BIGINT) AS n_tokens,
         |  CAST(COUNT(*) AS INT) AS n_words
         |FROM enc GROUP BY 1 ORDER BY 1""".stripMargin
    })

  /** z32: the corpus datacard — the per-(source, lang) release panel:
    * volume (docs, words), length shape (mean/median chars), and exact
    * duplication (docs whose full text hash repeats corpus-wide). One
    * corpus scan plus a content-hash aggregate joined back UNHINTED (the
    * hash table is corpus-sized — AQE broadcasts while it fits, degrades
    * to a shuffle join beyond; forcing a broadcast would OOM the driver at
    * 100 TB). Median is exact `percentile` here; at warehouse scale swap
    * for percentile_approx (the a6b precedent). */
  private val z32Datacard = Q(
    (s, d) => {
      val h = Tables.documents(s, d)
        .select(col("source"), col("lang"), col("n_chars"),
          size(split(col("text"), " ")).as("nw"), md5(col("text")).as("h"))
      val copies = h.groupBy("h").agg(count(lit(1)).as("copies"))
      h.join(copies, Seq("h"))
        .groupBy("source", "lang")
        .agg(count(lit(1)).cast(IntegerType).as("n_docs"),
          sum(col("nw")).cast(LongType).as("n_words"),
          round(avg(col("n_chars")), 4).as("avg_chars"),
          round(expr("percentile(n_chars, 0.5)"), 4).as("med_chars"),
          sum(when(col("copies") > 1, 1).otherwise(0)).cast(IntegerType).as("n_dup_docs"))
        .withColumn("dup_ratio",
          round(col("n_dup_docs").cast("double") / col("n_docs"), 6))
        .orderBy("source", "lang")
    },
    """WITH h AS (SELECT source, lang, n_chars,
      |    len(string_split(text, ' ')) AS nw, md5(text) AS h FROM documents),
      |c AS (SELECT h, COUNT(*) AS copies FROM h GROUP BY 1)
      |SELECT source, lang, CAST(COUNT(*) AS INT) AS n_docs,
      |  CAST(SUM(nw) AS BIGINT) AS n_words,
      |  ROUND(AVG(n_chars), 4) AS avg_chars,
      |  ROUND(CAST(quantile_cont(n_chars, 0.5) AS DOUBLE), 4) AS med_chars,
      |  CAST(SUM(CASE WHEN copies > 1 THEN 1 ELSE 0 END) AS INT) AS n_dup_docs,
      |  ROUND(CAST(SUM(CASE WHEN copies > 1 THEN 1 ELSE 0 END) AS DOUBLE)
      |        / COUNT(*), 6) AS dup_ratio
      |FROM h JOIN c USING (h) GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)

  // ---- unigram-LM tokenizer oracle (unrolled Viterbi DP + EM rounds) ----

  /** Unigram fit parameters shared by the Spark query and the oracle:
    * token length ≤ UgMaxTok, UgInitMulti initial multi-char candidates,
    * pruned to UgPruneTo per round, UgRounds hard-EM rounds. UgMaxWord
    * bounds the oracle's DP unroll — corpus words are ≤ 8 chars at the
    * correctness SFs; positions beyond a word's length produce no rows,
    * so the bound is slack, not semantics. */
  private val UgMaxTok = 4
  private val UgInitMulti = 24
  private val UgPruneTo = 16
  private val UgRounds = 2
  private[graft] val UgMaxWord = 12

  /** Smoothed cost CTE over a (token, u) vocab CTE `v`:
    * −ln((u+1)/(total+|V|)) at DECIMAL(12,6) — integer-operand division,
    * one ln, one engine-stable cast (mirrors Vocab.unigramFit.costs). */
  private def ugCostCte(c: String, v: String): String =
    s"""$c AS MATERIALIZED (SELECT token,
       |  CAST(-ln((u + 1) / (t.tot + t.nv)) AS DECIMAL(12,6)) AS cost
       |  FROM $v CROSS JOIN (SELECT CAST(SUM(u) AS BIGINT) AS tot,
       |    COUNT(*) AS nv FROM $v) t)""".stripMargin

  /** One EM round's CTE chain: Viterbi DP b{r}_0..b{r}_maxWord under cost
    * table `cPrev`, winners f{r}, usage u{r}, pruned vocab v{r}, costs
    * c{r} — the relational unroll of Vocab.unigramViterbi's HOF (same
    * (c, k, p) lexicographic argmin, same DECIMAL-exact arithmetic). */
  private def ugRoundCtes(r: Int, cPrev: String): String = {
    val b0 = s"b${r}_0 AS MATERIALIZED (SELECT w, n, CAST(0 AS DECIMAL(18,6)) AS c, " +
      s"0 AS k, '' AS p FROM wh)"
    val dp = (1 to UgMaxWord).map { i =>
      val branches = (1 to math.min(UgMaxTok, i)).map { l =>
        s"""      SELECT b.w, b.n, CAST(b.c + v.cost AS DECIMAL(18,6)) AS c,
           |        b.k + 1 AS k, b.p || ' ' || v.token AS p
           |      FROM b${r}_${i - l} b JOIN $cPrev v
           |        ON len(b.w) >= $i AND v.token = substr(b.w, ${i - l + 1}, $l)"""
          .stripMargin
      }.mkString("\n      UNION ALL\n")
      s"""b${r}_$i AS MATERIALIZED (
         |  SELECT w, n, c, k, p FROM (
         |    SELECT w, n, c, k, p,
         |      ROW_NUMBER() OVER (PARTITION BY w ORDER BY c, k, p) AS rn
         |    FROM (
         |$branches
         |    ) cand) best WHERE rn = 1)""".stripMargin
    }
    val f = (1 to UgMaxWord).map(i =>
        s"  SELECT w, n, ltrim(p) AS p FROM b${r}_$i WHERE len(w) = $i")
      .mkString("\n  UNION ALL\n")
    val tail =
      s"""f$r AS MATERIALIZED (
         |$f),
         |u$r AS MATERIALIZED (SELECT token, CAST(SUM(n) AS BIGINT) AS u FROM (
         |    SELECT unnest(string_split(p, ' ')) AS token, n FROM f$r)
         |  GROUP BY 1),
         |v$r AS MATERIALIZED (
         |  SELECT c.token, CAST(COALESCE(u.u, 0) AS BIGINT) AS u
         |  FROM chs c LEFT JOIN u$r u USING (token)
         |  UNION ALL
         |  SELECT token, u FROM (
         |    SELECT token, u, ROW_NUMBER() OVER (ORDER BY u DESC, token) AS rn
         |    FROM u$r WHERE len(token) > 1) mu WHERE rn <= $UgPruneTo),
         |${ugCostCte(s"c$r", s"v$r")}""".stripMargin
    (Seq(b0) ++ dp :+ tail).mkString(",\n")
  }

  /** The shared fit CTE body (histogram, candidates, init vocab, and
    * `nRounds` EM-round chains) — z49 consumes v/c at round UgRounds; z50
    * appends one extra round whose E-step DP (f{R+1}) IS "encode under the
    * final fitted costs". `includeWh=false` omits the word-histogram CTE
    * for composition with the BPE chain, which defines an identical `wh`
    * (z52). */
  private def ugFitCtes(nRounds: Int, includeWh: Boolean = true): String = {
    val rounds = (1 to nRounds).map(r => ugRoundCtes(r, s"c${r - 1}"))
      .mkString(",\n")
    val whCte = if (includeWh)
      s"""wh AS MATERIALIZED (SELECT w, CAST(COUNT(*) AS BIGINT) AS n
         |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
         |  WHERE w <> '' GROUP BY 1),
         |""".stripMargin
    else ""
    s"""$whCte|sub AS MATERIALIZED (SELECT token, CAST(SUM(n) AS BIGINT) AS u FROM (
       |    SELECT unnest(flatten(list_transform(generate_series(1, len(w)),
       |      i -> list_transform(generate_series(1, least($UgMaxTok, len(w) - i + 1)),
       |        l -> substr(w, i, l))))) AS token, n
       |    FROM wh) GROUP BY 1),
       |v0 AS MATERIALIZED (
       |  SELECT token, u FROM sub WHERE len(token) = 1
       |  UNION ALL
       |  SELECT token, u FROM (
       |    SELECT token, u, ROW_NUMBER() OVER (ORDER BY u DESC, token) AS rn
       |    FROM sub WHERE len(token) > 1) mu WHERE rn <= $UgInitMulti),
       |chs AS MATERIALIZED (SELECT token FROM v0 WHERE len(token) = 1),
       |${ugCostCte("c0", "v0")},
       |$rounds""".stripMargin
  }

  private def ugOracleSql: String =
    s"""WITH ${ugFitCtes(UgRounds)}
       |SELECT v.token, v.u AS n_uses, CAST(c.cost AS DOUBLE) AS cost,
       |  len(v.token) = 1 AS is_char
       |FROM v$UgRounds v JOIN c$UgRounds c USING (token)
       |ORDER BY n_uses DESC, token""".stripMargin

  /** z49: unigram-LM tokenizer fit (the SentencePiece training shape,
    * Kudo 2018, hard-EM) — the probabilistic sibling of z30's greedy BPE:
    * candidate tokens from the word histogram's substrings, two Viterbi-EM
    * rounds (segment under current costs, recount usage, prune multi-char
    * tokens, re-derive add-1-smoothed costs), final vocabulary with usage
    * and cost. Every comparison in the DP rides DECIMAL(12,6)-snapshotted
    * costs with a (cost, n_tokens, path) total order, so the oracle's
    * fully-unrolled relational DP lands on the bit-identical vocabulary —
    * the differential gate covers init, both EM rounds, and the pruning
    * rule end to end. */
  private val z49UnigramFit = Q(
    (s, d) => Vocab.unigramFit(Tables.documents(s, d), "text",
        maxTok = UgMaxTok, initMulti = UgInitMulti, pruneTo = UgPruneTo,
        rounds = UgRounds)
      .select(col("token"), col("n_uses"),
        col("cost").cast("double").as("cost"), col("is_char"))
      .orderBy(col("n_uses").desc, col("token")),
    ugOracleSql)

  /** Shared z50/z51/z52 stage: the corpus's distinct words, each carrying
    * the fitted unigram cost map `vmap` (one fit, broadcast). */
  private def ugWords(docs: DataFrame) = {
    val fitCosts = Vocab.unigramFit(docs, "text",
        maxTok = UgMaxTok, initMulti = UgInitMulti, pruneTo = UgPruneTo,
        rounds = UgRounds)
      .select(col("token"), col("cost"))
    val vmap = fitCosts.agg(
      map_from_entries(collect_list(struct(col("token"), col("cost"))))
        .as("vmap"))
    docs.select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "").distinct()
      .crossJoin(broadcast(vmap))
  }

  /** Shared z50/z51/z52 stage: word `w`'s token count under `vmap`. */
  private def ugWordTokens: Column =
    size(Vocab.unigramViterbi(col("w"), col("vmap"), UgMaxTok))

  /** z50: re-tokenize the corpus under the FITTED unigram vocabulary —
    * z31's accounting for the probabilistic tokenizer, gating learn →
    * encode end to end (the oracle re-derives the same fit and replays
    * the same DP). Segmentation runs ONCE PER DISTINCT WORD (the
    * histogram trick again — at 100 TB the per-word token count is a
    * Heaps'-sized dimension the doc join broadcasts), then per-doc counts
    * are one map-side-combinable aggregate. Tokens-per-word under the
    * final costs reuses round R's winning paths, so the encode side is
    * exactly the fit's own segmentation — no second DP formulation to
    * drift. */
  private val z50UnigramTokens = Q(
    (s, d) => {
      val docs = Tables.documents(s, d)
      val perWord = ugWords(docs)
        .select(col("w"), ugWordTokens.cast(IntegerType).as("w_tokens"))
      docs.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
        .join(perWord, Seq("w"))
        .groupBy("doc_id")
        .agg(sum(col("w_tokens")).cast(LongType).as("n_tokens"),
          count(lit(1)).cast(IntegerType).as("n_words"))
        .orderBy("doc_id")
    }, {
      // the fit chain plus ONE extra round: its E-step DP (f{R+1}) is the
      // per-word segmentation under the FINAL fitted costs c{R} — exactly
      // the encode the Spark side runs (the extra round's u/v/c CTEs are
      // generated but unused)
      s"""WITH ${ugFitCtes(UgRounds + 1)},
         |wt AS (SELECT w, CAST(len(string_split(p, ' ')) AS INT) AS w_tokens
         |  FROM f${UgRounds + 1}),
         |dw AS (SELECT doc_id, w FROM (
         |    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
         |  WHERE w <> '')
         |SELECT dw.doc_id, CAST(SUM(wt.w_tokens) AS BIGINT) AS n_tokens,
         |  CAST(COUNT(*) AS INT) AS n_words
         |FROM dw JOIN wt USING (w)
         |GROUP BY 1 ORDER BY 1""".stripMargin
    })

  /** z51: FERTILITY PANEL — the batch curation view of the tokenizer's own
    * quality signal (the streaming fertilityGate's corpus-wide form):
    * per-doc tokens-per-char under the FITTED unigram tokenizer, profiled
    * per language — doc count, DECIMAL-exact mean, and the min/max spread
    * that calibrates the streaming gate's threshold (a production corpus
    * sets the cut from THIS panel's in-domain spread; out-of-domain text
    * surfaces as max-side outliers approaching 1 token/char). Ratio is one
    * division of exact long counts; min/max order deterministic doubles —
    * engine-identical. Same per-distinct-word segmentation shape as z50;
    * the panel aggregate carries |langs| rows. */
  private val z51FertilityBands = Q(
    (s, d) => {
      val docs = Tables.documents(s, d)
      val perWord = ugWords(docs)
        .select(col("w"), ugWordTokens.cast(LongType).as("w_tokens"),
          length(col("w")).cast(LongType).as("w_chars"))
      val perDoc = docs
        .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
        .join(perWord, Seq("w"))
        .groupBy("doc_id", "lang")
        .agg(sum(col("w_tokens")).as("nt"), sum(col("w_chars")).as("nc"))
        .withColumn("ratio", col("nt").cast("double") / col("nc"))
      perDoc.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          (sum(col("ratio").cast("decimal(12,6)")).cast("double")
            / count(lit(1))).as("mean_ratio"),
          min(col("ratio")).as("min_ratio"),
          max(col("ratio")).as("max_ratio"))
        .orderBy("lang")
    },
    s"""WITH ${ugFitCtes(UgRounds + 1)},
       |wt AS (SELECT w, CAST(len(string_split(p, ' ')) AS BIGINT) AS w_tokens,
       |    CAST(len(w) AS BIGINT) AS w_chars
       |  FROM f${UgRounds + 1}),
       |dw AS (SELECT doc_id, lang, w FROM (
       |    SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE w <> ''),
       |pd AS (SELECT dw.doc_id, dw.lang,
       |    CAST(SUM(wt.w_tokens) AS DOUBLE) / CAST(SUM(wt.w_chars) AS BIGINT) AS ratio
       |  FROM dw JOIN wt USING (w) GROUP BY 1, 2)
       |SELECT lang, COUNT(*) AS n_docs,
       |  CAST(SUM(CAST(ratio AS DECIMAL(12,6))) AS DOUBLE) / COUNT(*) AS mean_ratio,
       |  MIN(ratio) AS min_ratio, MAX(ratio) AS max_ratio
       |FROM pd GROUP BY 1 ORDER BY 1""".stripMargin)

  /** z52: TOKENIZER COMPARISON — the decision artifact for picking the
    * corpus's tokenizer: both learners fit on the same corpus (z30's
    * 6-merge BPE, z49's 2-round unigram-LM), both encodings replayed per
    * document, compared per source as total token budgets and the
    * unigram-to-BPE ratio. One frame answers "which tokenizer compresses
    * THIS corpus better, and is the answer uniform across sources?" —
    * the question every pretraining run prices before committing a vocab.
    * The oracle composes BOTH unrolled chains (they share the word
    * histogram CTE) so the comparison can never drift from the learners
    * it compares. Scale: both encodes are per-distinct-word (Heaps-sized),
    * the doc-level replay is in-scan (BPE) or one broadcast join
    * (unigram), the panel is |sources| rows. */
  private val z52TokenizerCompare = Q(
    (s, d) => {
      val docs = Tables.documents(s, d)
      val ms = merges(s, d)
      val bpe = Vocab.bpeTokenCounts(docs, "doc_id", "text", ms)
        .select(col("doc_id"), col("n_tokens").as("bt"))
      val perWord = ugWords(docs)
        .select(col("w"), ugWordTokens.cast(LongType).as("w_tokens"))
      val ug = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
        .join(perWord, Seq("w"))
        .groupBy("doc_id").agg(sum(col("w_tokens")).as("ut"))
      docs.select("doc_id", "source")
        .join(bpe, Seq("doc_id")).join(ug, Seq("doc_id"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("bt")).cast(LongType).as("bpe_tokens"),
          sum(col("ut")).cast(LongType).as("ug_tokens"))
        .withColumn("ug_to_bpe",
          col("ug_tokens").cast("double") / col("bpe_tokens"))
        .orderBy("source")
    }, {
      val chain = (1 to BpeMerges).foldLeft(charSql("w")) { (acc, r) =>
        mergeSql(acc, s"b$r.pair")
      }
      val crosses = (1 to BpeMerges).map(r => s"CROSS JOIN b$r b$r").mkString(" ")
      s"""WITH ${bpeRoundsCtes(BpeMerges)},
         |${ugFitCtes(UgRounds + 1, includeWh = false)},
         |dwx AS (SELECT doc_id, w FROM (
         |    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
         |  WHERE w <> ''),
         |benc AS (SELECT doc_id, $chain AS ts FROM dwx $crosses),
         |bt AS (SELECT doc_id,
         |    CAST(SUM(len(string_split(ts, ' '))) AS BIGINT) AS bt
         |  FROM benc GROUP BY 1),
         |wt AS (SELECT w, CAST(len(string_split(p, ' ')) AS BIGINT) AS w_tokens
         |  FROM f${UgRounds + 1}),
         |ut AS (SELECT doc_id, CAST(SUM(w_tokens) AS BIGINT) AS ut
         |  FROM dwx JOIN wt USING (w) GROUP BY 1)
         |SELECT d.source, COUNT(*) AS n_docs,
         |  CAST(SUM(bt.bt) AS BIGINT) AS bpe_tokens,
         |  CAST(SUM(ut.ut) AS BIGINT) AS ug_tokens,
         |  CAST(SUM(ut.ut) AS DOUBLE) / CAST(SUM(bt.bt) AS BIGINT) AS ug_to_bpe
         |FROM documents d
         |JOIN bt ON bt.doc_id = d.doc_id
         |JOIN ut ON ut.doc_id = d.doc_id
         |GROUP BY 1 ORDER BY 1""".stripMargin
    })

  val all: Map[String, Q] = Map(
    "z30_bpe_learn" -> z30BpeLearn,
    "z31_bpe_tokens" -> z31BpeTokens,
    "z32_datacard" -> z32Datacard,
    "z49_unigram_fit" -> z49UnigramFit,
    "z50_unigram_tokens" -> z50UnigramTokens,
    "z51_fertility_panel" -> z51FertilityBands,
    "z52_tokenizer_compare" -> z52TokenizerCompare)
}
