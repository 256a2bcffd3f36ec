package graft.queries

import graft.Tables
import graft.functions.RSemantics._
import graft.operators.Relational._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, IntegerType, LongType}

/** SURVEY.md §2.4 metric layer (corr, quantiles, rescale, calibration,
  * log-loss cube, OLS, model scoring), §2.8 reshape, §2.10 C2 iterative
  * fixed point. The reference computes these with repeated full-table scans
  * (20 LogLoss slices, 26 cor() calls); here each is a single pass.
  */
/** Shared DuckDB renderer for ridge-IRLS logistic regression (λ=1, the
  * Cramer 3×3 solve), parameterized by the feature relation and group
  * column so a18's within-corpus fit and z42's train/score split render
  * the SAME Newton-step text — the step semantics can never drift between
  * them. Expression arrangement mirrors `Relational.logisticIrls` term
  * for term. */
private[queries] object IrlsSql {
  private def step(featsRel: String, g: String, prev: String,
                   sAlias: String, bAlias: String): String = {
    val detSql = "(a00 * (a11 * a22 - a12 * a12) - a01 * (a01 * a22 - a12 * a02) + a02 * (a01 * a12 - a11 * a02))"
    s"""$sAlias AS (
       |  SELECT t.$g,
       |    sum(w) AS s0, sum(w * x1) AS s1, sum(w * x2) AS s2,
       |    sum(w * x1 * x1) AS s11, sum(w * x1 * x2) AS s12, sum(w * x2 * x2) AS s22,
       |    sum(w * z) AS r0, sum(w * z * x1) AS r1, sum(w * z * x2) AS r2
       |  FROM (
       |    SELECT u.$g, u.x1, u.x2, u.mu * (1.0 - u.mu) AS w,
       |      u.eta + (u.y - u.mu) / (u.mu * (1.0 - u.mu)) AS z
       |    FROM (
       |      SELECT f.$g, f.x1, f.x2, f.y,
       |        b.b0 + b.b1 * f.x1 + b.b2 * f.x2 AS eta,
       |        GREATEST(LEAST(1.0 / (1.0 + EXP(-(b.b0 + b.b1 * f.x1 + b.b2 * f.x2))), 0.999999), 0.000001) AS mu
       |      FROM $featsRel f JOIN $prev b ON f.$g = b.$g) u) t
       |  GROUP BY t.$g),
       |$bAlias AS (
       |  SELECT $g,
       |    (r0 * (a11 * a22 - a12 * a12) - a01 * (r1 * a22 - a12 * r2) + a02 * (r1 * a12 - a11 * r2)) / $detSql AS b0,
       |    (a00 * (r1 * a22 - a12 * r2) - r0 * (a01 * a22 - a12 * a02) + a02 * (a01 * r2 - r1 * a02)) / $detSql AS b1,
       |    (a00 * (a11 * r2 - r1 * a12) - a01 * (a01 * r2 - r1 * a02) + r0 * (a01 * a12 - a11 * a02)) / $detSql AS b2
       |  FROM (SELECT $g, s0 + 1.0 AS a00, s1 AS a01, s2 AS a02,
       |          s11 + 1.0 AS a11, s12 AS a12, s22 + 1.0 AS a22, r0, r1, r2
       |        FROM $sAlias) m)""".stripMargin
  }

  /** `b0it` zero-init plus `iters` unrolled Newton steps; the final
    * coefficient relation is `b<iters>it`. */
  def ctes(featsRel: String, g: String, iters: Int): String = {
    val init =
      s"""b0it AS (
         |  SELECT $g, 0.0 AS b0, 0.0 AS b1, 0.0 AS b2
         |  FROM (SELECT DISTINCT $g FROM $featsRel) g0)""".stripMargin
    val steps = (1 to iters).map(i =>
      step(featsRel, g, if (i == 1) "b0it" else s"b${i - 1}it", s"s${i}it", s"b${i}it"))
      .mkString(",\n")
    s"$init,\n$steps"
  }
}

object MetricQueries {

  /** A5: grouped correlation matrix (`summarize(c_epa = cor(...))`,
    * `/root/reference/R/epa_predict.R:361-377`). Spark's `corr` is
    * pairwise-complete — exactly R's `use = "complete.obs"`. */
  private val a5CorrGroups = Q(
    (s, d) => {
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          stat4(corr(col("l_quantity"), col("l_extendedprice"))).as("c_qty_price"),
          stat4(corr(col("l_quantity"), col("l_discount"))).as("c_qty_disc"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag")
    },
    """SELECT l_returnflag,
      |  ROUND(CAST(corr(l_quantity, l_extendedprice) AS DOUBLE), 4) AS c_qty_price,
      |  ROUND(CAST(corr(l_quantity, l_discount) AS DOUBLE), 4) AS c_qty_disc,
      |  count(*) AS n
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)

  /** A6: exact quantiles (`quantile(probs = c(.2,.5,.8))`,
    * `/root/reference/darko/2_ourlads_projections.R:508-524`). Exact
    * `percentile` (interpolating, type-7 like R) — not approx — since group
    * counts here are modest; switch to percentile_approx at 100 TB. */
  private val a6Quantiles = Q(
    (s, d) => {
      Tables.events(s, d)
        .groupBy("event_type")
        .agg(expr("percentile(value, array(0.2, 0.5, 0.8))").as("qs"))
        .select(
          col("event_type"),
          stat4(col("qs").getItem(0)).as("q20"),
          stat4(col("qs").getItem(1)).as("q50"),
          stat4(col("qs").getItem(2)).as("q80"))
        .orderBy("event_type")
    },
    """SELECT event_type,
      |  ROUND(CAST(quantile_cont(value, 0.2) AS DOUBLE), 4) AS q20,
      |  ROUND(CAST(quantile_cont(value, 0.5) AS DOUBLE), 4) AS q50,
      |  ROUND(CAST(quantile_cont(value, 0.8) AS DOUBLE), 4) AS q80
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)

  /** A7/W5: grouped min-max rescale to [0,100]
    * (`/root/reference/R/let_russ_cook.R:104-116`,
    * `/root/reference/pff/99_passblock_piece.R:44-52`). */
  private val a7MinmaxRescale = Q(
    (s, d) => {
      val c = Tables.customer(s, d)
      c.withColumn("scaled",
        stat4(minMaxRescale(c, Seq(col("c_mktsegment")), col("c_acctbal"))))
        .select("c_custkey", "c_mktsegment", "scaled")
        .orderBy("c_custkey")
    },
    """SELECT c_custkey, c_mktsegment,
      |  ROUND(100.0 * (c_acctbal - MIN(c_acctbal) OVER (PARTITION BY c_mktsegment))
      |        / (MAX(c_acctbal) OVER (PARTITION BY c_mktsegment)
      |           - MIN(c_acctbal) OVER (PARTITION BY c_mktsegment)), 4) AS scaled
      |FROM customer ORDER BY c_custkey""".stripMargin)

  /** A8: binned aggregation / calibration curve
    * (`bin = round(wp/0.01)*.01` `/root/reference/R/espn_wp.R:87-99`). */
  private val a8BinnedAgg = Q(
    (s, d) => {
      Tables.events(s, d)
        .withColumn("bin", (round(col("value") / 50) * 50).cast(IntegerType))
        .groupBy("event_type", "bin")
        .agg(count(lit(1)).as("n"), avgDec2("value").as("avg_value"))
        .orderBy("event_type", "bin")
    },
    s"""SELECT event_type, CAST(round(value / 50) * 50 AS INT) AS bin,
      |  count(*) AS n,
      |  ${avgDec2Sql("value", "//")} AS avg_value
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)

  /** A10: log-loss over all slices at once — the reference's 20 separate
    * re-filtering passes (`/root/reference/R/espn_wp.R:236-274`) collapsed
    * into ONE cube pass with grouping sets. */
  private val a10LoglossCube = Q(
    (s, d) => {
      val li = Tables.lineitem(s, d)
        .withColumn("l_year", year(col("l_shipdate")).cast(IntegerType))
        .withColumn("pred", (col("l_discount") + lit(0.01)) * 5)
        .withColumn("label", (col("l_returnflag") === "R").cast(DoubleType))
      li.cube(col("l_linestatus"), col("l_year"))
        .agg(
          grouping_id().cast(IntegerType).as("gid"),
          stat4(logLoss(col("pred"), col("label"))).as("log_loss"),
          count(lit(1)).as("n"))
        .orderBy(col("gid"), col("l_linestatus").asc_nulls_first, col("l_year").asc_nulls_first)
    },
    """SELECT l_linestatus, l_year,
      |  CAST(GROUPING(l_linestatus, l_year) AS INT) AS gid,
      |  ROUND(CAST(-AVG(label * LN(pred) + (1 - label) * LN(1 - pred)) AS DOUBLE), 4) AS log_loss,
      |  count(*) AS n
      |FROM (
      |  SELECT l_linestatus, CAST(year(l_shipdate) AS INT) AS l_year,
      |    (l_discount + 0.01) * 5 AS pred,
      |    CAST(l_returnflag = 'R' AS DOUBLE) AS label
      |  FROM lineitem) x
      |GROUP BY CUBE (l_linestatus, l_year)
      |ORDER BY gid, l_linestatus NULLS FIRST, l_year NULLS FIRST""".stripMargin)

  /** A11: closed-form OLS via distributed aggregates
    * (`lm(diff ~ over)` `/root/reference/R/preseason_predictiveness.R:150-151`).
    * No driver-side fit, no ml dependency — covar/var/corr aggregates. */
  private val a11OlsFit = Q(
    (s, d) => {
      Tables.orders(s, d)
        .withColumn("o_year", year(col("o_orderdate")).cast(IntegerType))
        .withColumn("x", month(col("o_orderdate")).cast(DoubleType))
        .withColumn("y", col("o_totalprice"))
        .groupBy("o_year")
        .agg((olsAggs(col("x"), col("y")) :+ count(lit(1)).as("n")).head,
          (olsAggs(col("x"), col("y")) :+ count(lit(1)).as("n")).tail: _*)
        .orderBy("o_year")
    },
    """SELECT CAST(year(o_orderdate) AS INT) AS o_year,
      |  ROUND(CAST(covar_samp(x, y) / var_samp(x) AS DOUBLE), 4) AS slope,
      |  ROUND(CAST(AVG(y) - (covar_samp(x, y) / var_samp(x)) * AVG(x) AS DOUBLE), 4) AS intercept,
      |  ROUND(CAST(POW(corr(x, y), 2) AS DOUBLE), 4) AS r2,
      |  count(*) AS n
      |FROM (SELECT o_orderdate, CAST(month(o_orderdate) AS DOUBLE) AS x, o_totalprice AS y
      |      FROM orders) o
      |GROUP BY 1 ORDER BY 1""".stripMargin)

  /** A11b: two-regressor OLS (y ~ x1 + x2) via the closed-form normal
    * equations (`lm(diff ~ over + ps_point_diff)`,
    * `/root/reference/R/preseason_predictiveness.R:151`) — one distributed
    * aggregate pass per group, no driver-side fit. */
  private val a11bOls2Fit = Q(
    (s, d) => {
      val aggs = ols2Aggs(col("x1"), col("x2"), col("y")) :+ count(lit(1)).as("n")
      Tables.orders(s, d)
        .withColumn("o_year", year(col("o_orderdate")).cast(IntegerType))
        .withColumn("x1", month(col("o_orderdate")).cast(DoubleType))
        .withColumn("x2", dayofmonth(col("o_orderdate")).cast(DoubleType))
        .withColumn("y", col("o_totalprice"))
        .groupBy("o_year")
        .agg(aggs.head, aggs.tail: _*)
        .orderBy("o_year")
    },
    """WITH m AS (
      |  SELECT CAST(year(o_orderdate) AS INT) AS o_year,
      |    var_samp(CAST(month(o_orderdate) AS DOUBLE)) AS v1,
      |    var_samp(CAST(day(o_orderdate) AS DOUBLE)) AS v2,
      |    var_samp(o_totalprice) AS vy,
      |    covar_samp(CAST(month(o_orderdate) AS DOUBLE), CAST(day(o_orderdate) AS DOUBLE)) AS c12,
      |    covar_samp(CAST(month(o_orderdate) AS DOUBLE), o_totalprice) AS c1y,
      |    covar_samp(CAST(day(o_orderdate) AS DOUBLE), o_totalprice) AS c2y,
      |    AVG(CAST(month(o_orderdate) AS DOUBLE)) AS m1,
      |    AVG(CAST(day(o_orderdate) AS DOUBLE)) AS m2,
      |    AVG(o_totalprice) AS my,
      |    count(*) AS n
      |  FROM orders GROUP BY 1),
      |f AS (
      |  SELECT o_year, n, v1 * v2 - c12 * c12 AS det, v1, v2, vy, c12, c1y, c2y, m1, m2, my
      |  FROM m)
      |SELECT o_year,
      |  ROUND(CASE WHEN det > 0 THEN (v2 * c1y - c12 * c2y) / det END, 4) AS b1,
      |  ROUND(CASE WHEN det > 0 THEN (v1 * c2y - c12 * c1y) / det END, 4) AS b2,
      |  ROUND(my - (CASE WHEN det > 0 THEN (v2 * c1y - c12 * c2y) / det END) * m1
      |           - (CASE WHEN det > 0 THEN (v1 * c2y - c12 * c1y) / det END) * m2, 4) AS intercept,
      |  ROUND(CASE WHEN vy > 0 THEN
      |    ((CASE WHEN det > 0 THEN (v2 * c1y - c12 * c2y) / det END) * c1y
      |     + (CASE WHEN det > 0 THEN (v1 * c2y - c12 * c1y) / det END) * c2y) / vy END, 4) AS r2,
      |  n
      |FROM f ORDER BY o_year""".stripMargin)

  /** A6b: the 100-TB quantile path — percentile_approx (t-digest sketch,
    * fixed-size state) behind the `approx` flag of Relational.quantileAgg,
    * gated by a tolerance contract like x6: the sketch's answer must land
    * inside the exact ±10-percentile rank band (deterministic — the
    * t-digest has no RNG — so this is a stable, honest assertion; the
    * sketch values themselves are engine-specific and can't be compared). */
  private val a6bQuantilesApprox = Q(
    (s, d) => {
      val probs = Seq(0.2, 0.5, 0.8)
      val bands = Seq(0.1, 0.3, 0.4, 0.6, 0.7, 0.9)
      Tables.events(s, d)
        .groupBy("event_type")
        .agg(
          quantileAgg(col("value"), probs).as("ex"),
          quantileAgg(col("value"), probs, approx = true).as("ap"),
          quantileAgg(col("value"), bands).as("bd"))
        .select(
          col("event_type"),
          stat4(col("ex").getItem(1)).as("q50_exact"),
          col("ap").getItem(0).between(col("bd").getItem(0), col("bd").getItem(1)).as("ok20"),
          col("ap").getItem(1).between(col("bd").getItem(2), col("bd").getItem(3)).as("ok50"),
          col("ap").getItem(2).between(col("bd").getItem(4), col("bd").getItem(5)).as("ok80"))
        .orderBy("event_type")
    },
    """SELECT event_type,
      |  ROUND(CAST(quantile_cont(value, 0.5) AS DOUBLE), 4) AS q50_exact,
      |  TRUE AS ok20, TRUE AS ok50, TRUE AS ok80
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)

  /** A12: deterministic surrogate model scoring — the `add_xpass`/`add_dakota`
    * seam (`/root/reference/R/pass_rate_over_expected.R:16-29`): a logistic
    * scorer as pure column arithmetic (codegen-friendly, no UDF), plus the
    * derived over-expectation column. */
  private val a12SurrogateScore = Q(
    (s, d) => {
      val ind = (col("event_type") === "purchase").cast(DoubleType)
      val z = lit(-2.0) + col("value") * 0.004 + ind * 0.5
      Tables.events(s, d)
        .filter(col("event_id") < 2000)
        .withColumn("xscore", round(lit(1.0) / (lit(1.0) + exp(-z)), 6))
        .withColumn("score_oe", round(lit(100.0) * (ind - lit(1.0) / (lit(1.0) + exp(-z))), 6))
        .select("event_id", "xscore", "score_oe")
        .orderBy("event_id")
    },
    """SELECT event_id,
      |  ROUND(1.0 / (1.0 + EXP(-(-2.0 + value * 0.004 + ind * 0.5))), 6) AS xscore,
      |  ROUND(100.0 * (ind - 1.0 / (1.0 + EXP(-(-2.0 + value * 0.004 + ind * 0.5)))), 6) AS score_oe
      |FROM (SELECT event_id, value, CAST(event_type = 'purchase' AS DOUBLE) AS ind FROM events) e
      |WHERE event_id < 2000 ORDER BY event_id""".stripMargin)

  /** C2: the de-vig power-method fixed point
    * (`/root/reference/R/nfl_draft_espn_dk.R:28-40`): 10 iterations of
    * per-group re-scaling until implied probabilities sum to 1. The oracle
    * unrolls the same 10 stages as nested subqueries. */
  private val c2DevigFixpoint = {
    val base =
      """SELECT p_partkey, p_brand,
        |  1.2 * p_retailprice / CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2)))
        |    OVER (PARTITION BY p_brand) AS DOUBLE) AS pct
        |FROM part""".stripMargin
    val iterated = (1 to 10).foldLeft(base) { (sql, i) =>
      s"""SELECT p_partkey, p_brand, POW(pct, LN(2.0) / LN(2.0 / tot)) AS pct
         |FROM (SELECT p_partkey, p_brand, pct,
         |        SUM(pct) OVER (PARTITION BY p_brand) AS tot
         |      FROM ($sql) it$i) s$i""".stripMargin
    }
    Q(
      (s, d) => {
        val w = Window.partitionBy("p_brand")
        val seeded = Tables.part(s, d)
          .withColumn("pct",
            lit(1.2) * col("p_retailprice") /
              sum(dec2(col("p_retailprice"))).over(w).cast(DoubleType))
          .select("p_partkey", "p_brand", "pct")
        devig(seeded, Seq(col("p_brand")), "pct", iters = 10, target = 2.0)
          .select(col("p_partkey"), col("p_brand"), round(col("pct"), 4).as("pct"))
          .orderBy("p_partkey")
      },
      s"""SELECT p_partkey, p_brand, ROUND(pct, 4) AS pct
         |FROM ($iterated) fin ORDER BY p_partkey""".stripMargin)
  }

  /** R1: unpivot wide→long (`pivot_longer`,
    * `/root/reference/R/preseason_predictiveness.R:17-25`). */
  private val r1Unpivot = Q(
    (s, d) => {
      Tables.lineitem(s, d)
        .filter(col("l_orderkey") < 1000)
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_discount")),
          "measure", "val")
        .orderBy("l_orderkey", "l_linenumber", "measure")
    },
    """SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS val
      |FROM lineitem WHERE l_orderkey < 1000
      |UNION ALL
      |SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
      |FROM lineitem WHERE l_orderkey < 1000
      |ORDER BY l_orderkey, l_linenumber, measure""".stripMargin)

  /** R2: pivot long→wide with an explicit value list (`pivot_wider`,
    * `/root/reference/R/nfl_draft_espn_dk.R:43`) — explicit values keep the
    * output schema deterministic and skip the extra values-discovery job. */
  private val r2Pivot = Q(
    (s, d) => {
      Tables.lineitem(s, d)
        .withColumn("l_year", year(col("l_shipdate")).cast(IntegerType))
        .groupBy("l_year")
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .agg(sum(dec2(col("l_quantity"))))
        .select(
          col("l_year"),
          col("A").cast(DoubleType).as("A"),
          col("N").cast(DoubleType).as("N"),
          col("R").cast(DoubleType).as("R"))
        .orderBy("l_year")
    },
    """SELECT CAST(year(l_shipdate) AS INT) AS l_year,
      |  CAST(SUM(CASE WHEN l_returnflag = 'A' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS "A",
      |  CAST(SUM(CASE WHEN l_returnflag = 'N' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS "N",
      |  CAST(SUM(CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS "R"
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)

  /** R3: flatten with position (`unnest_wider`/`explode`,
    * `/root/reference/R/nfl_draft_espn_dk.R:11`). */
  private val r3Explode = Q(
    (s, d) => {
      Tables.part(s, d)
        .select(col("p_partkey"), posexplode(split(col("p_name"), " ")).as(Seq("pos", "word")))
        .orderBy("p_partkey", "pos")
    },
    """SELECT p_partkey,
      |  CAST(generate_subscripts(l, 1) - 1 AS INT) AS pos,
      |  unnest(l) AS word
      |FROM (SELECT p_partkey, string_split(p_name, ' ') AS l FROM part) x
      |ORDER BY p_partkey, pos""".stripMargin)

  /** R4: split one string column into several (`separate`,
    * `/root/reference/R/epa_predict.R:66`). */
  private val r4SplitCols = Q(
    (s, d) => {
      val parts = split(col("p_name"), " ")
      Tables.part(s, d)
        .select(
          col("p_partkey"),
          parts.getItem(0).as("tok1"),
          parts.getItem(1).as("tok2"),
          size(parts).as("n_tokens"))
        .orderBy("p_partkey")
    },
    """SELECT p_partkey,
      |  string_split(p_name, ' ')[1] AS tok1,
      |  string_split(p_name, ' ')[2] AS tok2,
      |  CAST(len(string_split(p_name, ' ')) AS INT) AS n_tokens
      |FROM part ORDER BY p_partkey""".stripMargin)

  /** A18: distributed logistic-regression *training* — ridge-IRLS over
    * aggregates (`Relational.logisticIrls`), closing the quality-classifier
    * loop: z14 scores documents with fixed weights, this LEARNS the weights
    * from a labeled corpus (label = "curated source", features = length and
    * whitespace-density quality signals — the fasttext-discriminator shape
    * of GPT-3/CCNet-style curation). Per-language model, 4 Newton steps,
    * each one map-side-combinable aggregate pass; the oracle unrolls the
    * SAME 4 steps as CTE stages with the identical Cramer 3×3 solve. */
  private val a18LogisticIrls = {
    val iters = 4
    val featsSql =
      """SELECT lang,
        |    ln(1.0 + n_chars) AS x1,
        |    CAST(length(text) - length(replace(text, ' ', '')) AS DOUBLE) / n_chars AS x2,
        |    CAST(source IN ('src0', 'src3', 'src6', 'src9') AS DOUBLE) AS y
        |  FROM documents""".stripMargin
    Q(
      (s, d) => {
        val feats = Tables.documents(s, d).select(
          col("lang"),
          log(lit(1.0) + col("n_chars")).as("x1"),
          ((length(col("text")) - length(expr("replace(text, ' ', '')"))).cast(DoubleType) /
            col("n_chars")).as("x2"),
          col("source").isin("src0", "src3", "src6", "src9").cast(DoubleType).as("y"))
        val beta = logisticIrls(feats, "lang", iters = iters, lambda = 1.0)
        val loss = feats.join(broadcast(beta), Seq("lang"))
          .withColumn("eta", col("b0") + col("b1") * col("x1") + col("b2") * col("x2"))
          .withColumn("mu", greatest(
            least(lit(1.0) / (lit(1.0) + exp(-col("eta"))), lit(0.999999)), lit(1e-6)))
          .groupBy("lang")
          .agg(count(lit(1)).as("n"),
            (-avg(col("y") * log(col("mu")) +
              (lit(1.0) - col("y")) * log(lit(1.0) - col("mu")))).as("ll"))
        beta.join(loss, Seq("lang"))
          .select(col("lang"), col("n"),
            stat4(col("b0")).as("b0"), stat4(col("b1")).as("b1"),
            stat4(col("b2")).as("b2"), stat4(col("ll")).as("log_loss"))
          .orderBy("lang")
      },
      s"""WITH feats AS (
         |  $featsSql),
         |${IrlsSql.ctes("feats", "lang", iters)},
         |loss AS (
         |  SELECT t.lang, count(*) AS n,
         |    -AVG(t.y * LN(t.mu) + (1.0 - t.y) * LN(1.0 - t.mu)) AS ll
         |  FROM (
         |    SELECT f.lang, f.y,
         |      GREATEST(LEAST(1.0 / (1.0 + EXP(-(b.b0 + b.b1 * f.x1 + b.b2 * f.x2))), 0.999999), 0.000001) AS mu
         |    FROM feats f JOIN b${iters}it b ON f.lang = b.lang) t
         |  GROUP BY t.lang)
         |SELECT b.lang, l.n,
         |  ROUND(b.b0, 4) AS b0, ROUND(b.b1, 4) AS b1, ROUND(b.b2, 4) AS b2,
         |  ROUND(l.ll, 4) AS log_loss
         |FROM b${iters}it b JOIN loss l ON b.lang = l.lang
         |ORDER BY b.lang""".stripMargin)
  }

  /** A19: calibration curve (reliability diagram) — the model-eval
    * primitive next to log-loss: bucket predictions into deciles of score,
    * compare mean predicted probability against observed positive rate per
    * bucket. A quality classifier that ranks well but is miscalibrated
    * poisons any threshold-based curation gate, so this panel belongs
    * beside a12/a18/z14. Cross-engine: xscore is already snapshotted at
    * 6 dp by a12's scorer, so mean_pred goes through exact DECIMAL(12,6)
    * sums (shuffle-order-independent) and back to double in one division;
    * frac_pos is a BIGINT/BIGINT division; the gap is one subtraction of
    * those two deterministic doubles. One aggregate pass, map-side
    * combinable, 10 output rows at any corpus size. */
  private val a19Calibration = Q(
    (s, d) => {
      val ind = (col("event_type") === "purchase").cast(DoubleType)
      val z = lit(-2.0) + col("value") * 0.004 + ind * 0.5
      Tables.events(s, d)
        .withColumn("label", (col("event_type") === "purchase").cast(LongType))
        .withColumn("xscore", round(lit(1.0) / (lit(1.0) + exp(-z)), 6))
        .withColumn("bucket", least(floor(col("xscore") * 10), lit(9L)))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"),
          sum(col("xscore").cast(DecimalType(12, 6))).as("sp"),
          sum(col("label")).as("npos"))
        .select(col("bucket"), col("n"),
          (col("sp").cast(DoubleType) / col("n")).as("mean_pred"),
          (col("npos") / col("n")).as("frac_pos"),
          ((col("sp").cast(DoubleType) / col("n")) - (col("npos") / col("n"))).as("gap"))
        .orderBy("bucket")
    },
    """WITH s AS (SELECT
      |    CAST(event_type = 'purchase' AS BIGINT) AS label,
      |    ROUND(1.0 / (1.0 + EXP(-(-2.0 + value * 0.004
      |      + CAST(event_type = 'purchase' AS DOUBLE) * 0.5))), 6) AS xscore
      |  FROM events),
      |g AS (SELECT LEAST(CAST(floor(xscore * 10) AS BIGINT), 9) AS bucket,
      |    CAST(count(*) AS BIGINT) AS n,
      |    sum(CAST(xscore AS DECIMAL(12,6))) AS sp,
      |    CAST(sum(label) AS BIGINT) AS npos
      |  FROM s GROUP BY 1)
      |SELECT bucket, n,
      |  CAST(sp AS DOUBLE) / n AS mean_pred,
      |  npos / n AS frac_pos,
      |  CAST(sp AS DOUBLE) / n - npos / n AS gap
      |FROM g ORDER BY bucket""".stripMargin)

  /** a20: grouped Welch two-sample t-test — the statistical gate behind
    * every "did this source's English slice drift?" question: per source,
    * test whether mean document length differs between the English docs
    * and the rest, without assuming equal variances (Welch), and report
    * the Satterthwaite effective df alongside the statistic.
    *
    * Scale + exactness: ONE map-side-combinable pass computes the six
    * conditional aggregates (n, Σx, Σx² per side). n and Σx are exact in
    * BIGINT (Σx caps out only past ~9e18 total chars per source); Σx² is
    * accumulated in DECIMAL(38,0) because a single 10⁹-char document
    * squares past the BIGINT range, where Spark would wrap silently while
    * DuckDB widens to HUGEINT — the decimal form is exact and identical
    * in both engines. Means, variances, t and df are then a fixed
    * sequence of IEEE double ops on those exact values, written with the
    * identical parse tree in both engines — bit-identical without
    * rounding machinery. Degenerate sources (a side with ≤1 doc — at
    * scale some group always is) emit NULL mean/t/df rather than an
    * engine-dependent NULL-vs-inf divide-by-zero. Output is |sources|
    * rows at any corpus size; no shuffle ever carries more than the
    * partial aggregate rows. */
  private val a20WelchTtest = Q(
    (s, d) => {
      val en = col("lang") === "en"
      val x = col("n_chars")
      val xd = x.cast(DecimalType(19, 0))
      val zeroD = lit(0).cast(DecimalType(38, 0))
      val g = Tables.documents(s, d).groupBy("source")
        .agg(
          sum(when(en, 1L).otherwise(0L)).as("n_en"),
          sum(when(en, x).otherwise(0L)).as("s_en"),
          sum(when(en, xd * xd).otherwise(zeroD)).as("ss_en"),
          sum(when(!en, 1L).otherwise(0L)).as("n_ot"),
          sum(when(!en, x).otherwise(0L)).as("s_ot"),
          sum(when(!en, xd * xd).otherwise(zeroD)).as("ss_ot"))
      val mEn = g("s_en").cast(DoubleType) / g("n_en")
      val mOt = g("s_ot").cast(DoubleType) / g("n_ot")
      val vEn = (g("ss_en").cast(DoubleType)
        - g("s_en").cast(DoubleType) * g("s_en").cast(DoubleType) / g("n_en")) / (g("n_en") - 1)
      val vOt = (g("ss_ot").cast(DoubleType)
        - g("s_ot").cast(DoubleType) * g("s_ot").cast(DoubleType) / g("n_ot")) / (g("n_ot") - 1)
      val vnEn = vEn / g("n_en")
      val vnOt = vOt / g("n_ot")
      val ok = g("n_en") > 1 && g("n_ot") > 1
      g.select(col("source"), col("n_en"), col("n_ot"),
          when(g("n_en") > 0, mEn).as("mean_en"),
          when(g("n_ot") > 0, mOt).as("mean_ot"),
          when(ok, (mEn - mOt) / sqrt(vnEn + vnOt)).as("t_stat"),
          when(ok, (vnEn + vnOt) * (vnEn + vnOt)
            / (vnEn * vnEn / (g("n_en") - 1) + vnOt * vnOt / (g("n_ot") - 1)))
            .as("df_welch"))
        .orderBy("source")
    },
    """WITH g AS (SELECT source,
      |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
      |    CAST(sum(CASE WHEN lang = 'en' THEN n_chars ELSE 0 END) AS BIGINT) AS s_en,
      |    sum(CASE WHEN lang = 'en'
      |      THEN CAST(n_chars AS DECIMAL(19,0)) * CAST(n_chars AS DECIMAL(19,0))
      |      ELSE CAST(0 AS DECIMAL(38,0)) END) AS ss_en,
      |    CAST(sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_ot,
      |    CAST(sum(CASE WHEN lang <> 'en' THEN n_chars ELSE 0 END) AS BIGINT) AS s_ot,
      |    sum(CASE WHEN lang <> 'en'
      |      THEN CAST(n_chars AS DECIMAL(19,0)) * CAST(n_chars AS DECIMAL(19,0))
      |      ELSE CAST(0 AS DECIMAL(38,0)) END) AS ss_ot
      |  FROM documents GROUP BY 1),
      |m AS (SELECT source, n_en, n_ot,
      |    CAST(s_en AS DOUBLE) / n_en AS mean_en,
      |    CAST(s_ot AS DOUBLE) / n_ot AS mean_ot,
      |    (CAST(ss_en AS DOUBLE) - CAST(s_en AS DOUBLE) * CAST(s_en AS DOUBLE) / n_en)
      |      / (n_en - 1) / n_en AS vn_en,
      |    (CAST(ss_ot AS DOUBLE) - CAST(s_ot AS DOUBLE) * CAST(s_ot AS DOUBLE) / n_ot)
      |      / (n_ot - 1) / n_ot AS vn_ot
      |  FROM g)
      |SELECT source, n_en, n_ot,
      |  CASE WHEN n_en > 0 THEN mean_en END AS mean_en,
      |  CASE WHEN n_ot > 0 THEN mean_ot END AS mean_ot,
      |  CASE WHEN n_en > 1 AND n_ot > 1 THEN
      |    (mean_en - mean_ot) / sqrt(vn_en + vn_ot) END AS t_stat,
      |  CASE WHEN n_en > 1 AND n_ot > 1 THEN
      |    (vn_en + vn_ot) * (vn_en + vn_ot)
      |      / (vn_en * vn_en / (n_en - 1) + vn_ot * vn_ot / (n_ot - 1)) END AS df_welch
      |FROM m ORDER BY source""".stripMargin)

  /** a21: per-source chi-square goodness-of-fit — a20's categorical
    * sibling: does a source's LANGUAGE MIX match the corpus-wide mix?
    * (The crawl-drift alarm for composition rather than length.) One
    * combinable pass computes observed counts per (source, fixed lang
    * set) via conditional aggregates plus the corpus margins; χ² =
    * Σ (o−e)²/e folds over the FIXED alphabetical language list as a
    * pinned left-to-right chain (z20's term() discipline — a
    * data-ordered sum over doubles would be engine-ambiguous), each
    * expected count two IEEE ops on exact ints. Languages OUTSIDE the
    * fixed list (and NULL lang) fold into an `other` category so the
    * observed and expected totals always agree, and dof = (#categories
    * present in the corpus) − 1 — data-derived, so a corpus that gains a
    * sixth language widens the test instead of silently deflating it.
    * Output is |sources| rows at any corpus size. */
  private val a21Chi2LangMix = Q(
    (s, d) => {
      val langs = Seq("de", "en", "es", "fr", "zh")
      val isOther = col("lang").isNull || !col("lang").isin(langs: _*)
      def o(l: String) =
        if (l == "other") sum(when(isOther, 1L).otherwise(0L))
        else sum(when(col("lang") === l, 1L).otherwise(0L))
      val cats = langs :+ "other"
      val dd = Tables.documents(s, d).select("source", "lang")
      val per = dd.groupBy("source")
        .agg(count(lit(1)).as("n_s"),
          cats.map(l => o(l).as(s"o_$l")): _*)
      val tot = dd.agg(count(lit(1)).as("n_tot"),
        cats.map(l => o(l).as(s"t_$l")): _*)
      // a category absent from the WHOLE corpus has e = 0 and o = 0 —
      // its χ² contribution is 0 by convention (and ANSI Spark would
      // otherwise raise on the division; the verify-skill rule: at scale
      // some group is always degenerate)
      def term(l: String) = {
        val e = col("n_s").cast(DoubleType) * col(s"t_$l") / col("n_tot")
        when(col(s"t_$l") === 0L, lit(0.0))
          .otherwise((col(s"o_$l") - e) * (col(s"o_$l") - e) / e)
      }
      val present = cats.map(l => when(col(s"t_$l") > 0L, 1L).otherwise(0L)).reduce(_ + _)
      per.crossJoin(broadcast(tot))
        .select(col("source"), col("n_s"),
          cats.map(term).reduce(_ + _).as("chi2"),
          (present - 1L).as("dof"))
        .orderBy("source")
    },
    """WITH per AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_s,
      |    CAST(SUM(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS o_de,
      |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS o_en,
      |    CAST(SUM(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS BIGINT) AS o_es,
      |    CAST(SUM(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS o_fr,
      |    CAST(SUM(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS BIGINT) AS o_zh,
      |    CAST(SUM(CASE WHEN lang IS NULL
      |      OR lang NOT IN ('de','en','es','fr','zh') THEN 1 ELSE 0 END) AS BIGINT) AS o_other
      |  FROM documents GROUP BY 1),
      |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tot,
      |    CAST(SUM(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS t_de,
      |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS t_en,
      |    CAST(SUM(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS BIGINT) AS t_es,
      |    CAST(SUM(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS t_fr,
      |    CAST(SUM(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS BIGINT) AS t_zh,
      |    CAST(SUM(CASE WHEN lang IS NULL
      |      OR lang NOT IN ('de','en','es','fr','zh') THEN 1 ELSE 0 END) AS BIGINT) AS t_other
      |  FROM documents)
      |SELECT source, n_s,
      |  CASE WHEN t_de = 0 THEN CAST(0.0 AS DOUBLE) ELSE
      |    (o_de - CAST(n_s AS DOUBLE) * t_de / n_tot) * (o_de - CAST(n_s AS DOUBLE) * t_de / n_tot)
      |    / (CAST(n_s AS DOUBLE) * t_de / n_tot) END
      |  + CASE WHEN t_en = 0 THEN CAST(0.0 AS DOUBLE) ELSE
      |    (o_en - CAST(n_s AS DOUBLE) * t_en / n_tot) * (o_en - CAST(n_s AS DOUBLE) * t_en / n_tot)
      |    / (CAST(n_s AS DOUBLE) * t_en / n_tot) END
      |  + CASE WHEN t_es = 0 THEN CAST(0.0 AS DOUBLE) ELSE
      |    (o_es - CAST(n_s AS DOUBLE) * t_es / n_tot) * (o_es - CAST(n_s AS DOUBLE) * t_es / n_tot)
      |    / (CAST(n_s AS DOUBLE) * t_es / n_tot) END
      |  + CASE WHEN t_fr = 0 THEN CAST(0.0 AS DOUBLE) ELSE
      |    (o_fr - CAST(n_s AS DOUBLE) * t_fr / n_tot) * (o_fr - CAST(n_s AS DOUBLE) * t_fr / n_tot)
      |    / (CAST(n_s AS DOUBLE) * t_fr / n_tot) END
      |  + CASE WHEN t_zh = 0 THEN CAST(0.0 AS DOUBLE) ELSE
      |    (o_zh - CAST(n_s AS DOUBLE) * t_zh / n_tot) * (o_zh - CAST(n_s AS DOUBLE) * t_zh / n_tot)
      |    / (CAST(n_s AS DOUBLE) * t_zh / n_tot) END
      |  + CASE WHEN t_other = 0 THEN CAST(0.0 AS DOUBLE) ELSE
      |    (o_other - CAST(n_s AS DOUBLE) * t_other / n_tot)
      |    * (o_other - CAST(n_s AS DOUBLE) * t_other / n_tot)
      |    / (CAST(n_s AS DOUBLE) * t_other / n_tot) END AS chi2,
      |  CAST(CASE WHEN t_de > 0 THEN 1 ELSE 0 END + CASE WHEN t_en > 0 THEN 1 ELSE 0 END
      |    + CASE WHEN t_es > 0 THEN 1 ELSE 0 END + CASE WHEN t_fr > 0 THEN 1 ELSE 0 END
      |    + CASE WHEN t_zh > 0 THEN 1 ELSE 0 END + CASE WHEN t_other > 0 THEN 1 ELSE 0 END
      |    - 1 AS BIGINT) AS dof
      |FROM per CROSS JOIN tot ORDER BY source""".stripMargin)

  /** a22: winsorized mean — the robust-mean report data-quality panels
    * pair with a15's z-score outliers: clamp each value to its group's
    * exact [p5, p95] (a6's percentile ≡ quantile_cont equivalence, 4-dp
    * snapshot so both engines clamp at the identical cutoff), then the
    * raw vs winsorized means side by side. Means ride exact DECIMAL(28,6)
    * snapshots of the doubles (engine-stable at scale 6, and wide enough
    * that a |value| up to 1e22 can't overflow the cast to a silent NULL
    * that sum() would skip — the a20 sum-of-squares widening discipline)
    * with one IEEE division at the boundary. Two passes — the quantile
    * aggregate (a
    * |group|-sized relation, broadcast back like a15's moments) and the
    * clamped re-aggregate; both map-side combinable. */
  private val a22WinsorizedMean = Q(
    (s, d) => {
      val e = Tables.events(s, d)
      val qs = e.groupBy("event_type")
        .agg(expr("percentile(value, array(0.05, 0.95))").as("qs"))
        .select(col("event_type"),
          stat4(col("qs").getItem(0)).as("qlo"),
          stat4(col("qs").getItem(1)).as("qhi"))
      e.join(broadcast(qs), Seq("event_type"))
        .withColumn("wv", least(greatest(col("value"), col("qlo")), col("qhi")))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          (sum(col("wv").cast("decimal(28,6)")).cast("double") / count(lit(1)))
            .as("winsor_mean"),
          (sum(col("value").cast("decimal(28,6)")).cast("double") / count(lit(1)))
            .as("raw_mean"))
        .orderBy("event_type")
    },
    """WITH q AS (SELECT event_type,
      |    ROUND(CAST(quantile_cont(value, 0.05) AS DOUBLE), 4) AS qlo,
      |    ROUND(CAST(quantile_cont(value, 0.95) AS DOUBLE), 4) AS qhi
      |  FROM events GROUP BY 1),
      |w AS (SELECT e.event_type, value,
      |    least(greatest(value, qlo), qhi) AS wv
      |  FROM events e JOIN q USING (event_type))
      |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(wv AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*) AS winsor_mean,
      |  CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*) AS raw_mean
      |FROM w GROUP BY 1 ORDER BY 1""".stripMargin)

  val all: Map[String, Q] = Map(
    "a5_corr_groups" -> a5CorrGroups,
    "a22_winsorized_mean" -> a22WinsorizedMean,
    "a20_welch_ttest" -> a20WelchTtest,
    "a21_chi2_langmix" -> a21Chi2LangMix,
    "a18_logistic_irls" -> a18LogisticIrls,
    "a19_calibration" -> a19Calibration,
    "a6_quantiles" -> a6Quantiles,
    "a7_minmax_rescale" -> a7MinmaxRescale,
    "a8_binned_agg" -> a8BinnedAgg,
    "a10_logloss_cube" -> a10LoglossCube,
    "a11_ols_fit" -> a11OlsFit,
    "a11b_ols2_fit" -> a11bOls2Fit,
    "a6b_quantiles_approx" -> a6bQuantilesApprox,
    "a12_surrogate_score" -> a12SurrogateScore,
    "c2_devig_fixpoint" -> c2DevigFixpoint,
    "r1_unpivot" -> r1Unpivot,
    "r2_pivot" -> r2Pivot,
    "r3_explode" -> r3Explode,
    "r4_split_cols" -> r4SplitCols)
}
