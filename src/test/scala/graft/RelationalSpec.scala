package graft

import graft.functions.RSemantics
import graft.operators.Relational
import graft.queries.RelationalQueries
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

class RelationalSpec extends SparkSpec {
  import spark.implicits._

  test("top1PerGroup picks exactly one deterministic row per group") {
    val df = Seq(("a", 1, "x"), ("a", 3, "y"), ("a", 3, "z"), ("b", 2, "w"))
      .toDF("k", "v", "tag")
    val got = Relational.top1PerGroup(df, Seq(col("k")), Seq(col("v").desc, col("tag").asc))
      .select("k", "tag").as[(String, String)].collect().toMap
    assert(got === Map("a" -> "y", "b" -> "w")) // tie on v=3 broken by tag
  }

  test("minMaxRescale spans [0,100] per group; constant group maps to midpoint") {
    val df = Seq(("g1", 10.0), ("g1", 20.0), ("g1", 30.0), ("g2", 7.0), ("g2", 7.0))
      .toDF("g", "v")
    val scaled = df.withColumn("s", Relational.minMaxRescale(df, Seq(col("g")), col("v")))
      .as[(String, Double, Double)].collect()
    val g1 = scaled.filter(_._1 == "g1").map(_._3).sorted
    assert(g1 === Array(0.0, 50.0, 100.0))
    assert(scaled.filter(_._1 == "g2").map(_._3).forall(_ == 50.0))
  }

  test("devig drives per-group probability sums to the fixed point 1.0") {
    val df = Seq(("b1", 0.5), ("b1", 0.4), ("b1", 0.3), ("b2", 0.9), ("b2", 0.6))
      .toDF("book", "pct")
    val out = Relational.devig(df, Seq(col("book")), "pct", iters = 10, target = 2.0)
      .groupBy("book").agg(sum("pct").as("tot")).as[(String, Double)].collect().toMap
    // the reference runs exactly 10 iterations; convergence is geometric,
    // ~5e-4 residual at typical 1.2x overround
    out.values.foreach(t => assert(math.abs(t - 1.0) < 1e-3, s"sum $t not at fixed point"))
  }

  test("devig fixed-point math converges on the reference's market shape (scalacheck)") {
    // pure-Scala replica of the per-group update: validates the math the
    // distributed version applies (tested above on one concrete frame).
    // Domain = the reference's actual use: two-outcome over/under markets
    // (`/root/reference/R/nfl_draft_espn_dk.R:28-43`), favorite <= 0.75,
    // overround 1.02x-1.2x. See Relational.devig scaladoc: the iteration's
    // local contraction rate is |1 - H/ln(target)| (H = entropy of the
    // implied distribution), so high-entropy many-outcome books 2-cycle and
    // near-certain favorites (H -> 0) converge sublinearly slowly.
    val gen = for {
      q0 <- Gen.chooseNum(0.25, 0.75)
      v <- Gen.chooseNum(1.02, 1.2)
    } yield List(q0 * v, (1 - q0) * v)
    val prop = Prop.forAll(gen) { pcts =>
      var p = pcts
      for (_ <- 1 to 50) {
        val tot = p.sum
        val k = math.log(2.0) / math.log(2.0 / tot)
        p = p.map(math.pow(_, k))
      }
      math.abs(p.sum - 1.0) < 1e-9
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, res.status.toString)
  }

  test("simhashPairs banded recall is exact for hamming < bands (vs brute force)") {
    import graft.operators.Dedup
    // seeded 64-bit signatures (negative values included — the signed
    // packing) plus planted near-dups (1-3 bit flips anywhere in the 64
    // bits) — the banded bucket join must find EXACTLY the brute-force
    // hamming<=3 pair set
    val rnd = new scala.util.Random(7)
    val base = Seq.tabulate(60)(i => (i.toLong, rnd.nextLong()))
    val planted = base.take(20).map { case (id, sig) =>
      val flips = 1 + rnd.nextInt(3)
      val flipped = (1 to flips).foldLeft(sig)((s, _) => s ^ (1L << rnd.nextInt(64)))
      (id + 1000, flipped)
    }
    val all = base ++ planted
    val sigs = all.toDF("doc_id", "simhash")
    val got = Dedup.simhashPairs(sigs, "doc_id")
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val brute = (for {
      (ia, sa) <- all; (ib, sb) <- all
      if ia < ib && java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (ia, ib)).toSet
    assert(got === brute)
  }

  test("lshCandidates maxBucket drops hot-bucket pairs, keeps cold ones") {
    import graft.operators.Dedup
    // band 0: docs 1..10 share key 7 (hot); band 1: docs 1,2 share key 9
    val sig = (1L to 10L).map(i => (i, 7L, if (i <= 2) 9L else 100L + i))
      .toDF("doc_id", "mh0", "mh1")
    val capped = Dedup.lshCandidates(sig, "doc_id", k = 2, maxBucket = Some(5))
      .as[(Long, Long)].collect().toSet
    assert(capped === Set((1L, 2L))) // hot mh0 bucket dropped, cold mh1 kept
    val uncapped = Dedup.lshCandidates(sig, "doc_id", k = 2)
      .as[(Long, Long)].collect().toSet
    assert(uncapped.size === 45) // all 10-choose-2 pairs via the hot bucket
  }

  test("star-contraction components equal min-label propagation on random graphs") {
    import graft.operators.Dedup
    val rnd = new scala.util.Random(11)
    // random sparse graph + a long CHAIN (the diameter case star
    // contraction exists for) + isolated nodes
    val n = 120
    val chain = (60 until 80).sliding(2).map(w => (w(0).toLong, w(1).toLong)).toSeq
    val random = Seq.fill(70)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b }
    val pairs = (chain ++ random).toDF("doc_a", "doc_b")
    val nodes = (0 until n).map(_.toLong).toDF("id")
    val byLabel = Dedup.connectedComponents(pairs, nodes, "id")
      .as[(Long, Long)].collect().toMap
    val byStar = Dedup.connectedComponentsStar(pairs, nodes, "id")
      .as[(Long, Long)].collect().toMap
    assert(byStar === byLabel)
  }

  test("incrementalComponents equals full recompute on random old/new splits") {
    import graft.operators.Dedup
    val rnd = new scala.util.Random(29)
    for (trial <- 1 to 3) {
      val n = 80
      val all = Seq.fill(60)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      // every 4th node arrives in the "batch"; the rest are the corpus
      val isNew = (id: Long) => id % 4 == 0
      val oldPairs = all.filter { case (a, b) => !isNew(a) && !isNew(b) }
      val newPairs = all.filter { case (a, b) => isNew(a) || isNew(b) }
      val oldNodes = (0 until n).map(_.toLong).filterNot(isNew)
      val newNodes = (0 until n).map(_.toLong).filter(isNew)
      val labels0 = Dedup.connectedComponents(
        oldPairs.toDF("doc_a", "doc_b"), oldNodes.toDF("id"), "id")
      val inc = Dedup.incrementalComponents(labels0, newNodes.toDF("id"),
          newPairs.toDF("doc_a", "doc_b"), "id")
        .as[(Long, Long)].collect().toMap
      val full = Dedup.connectedComponents(
          all.toDF("doc_a", "doc_b"), (0 until n).map(_.toLong).toDF("id"), "id")
        .as[(Long, Long)].collect().toMap
      assert(inc === full, s"trial $trial: incremental diverged from recompute")
    }
  }

  test("touched-cluster relabel after deletion equals full recompute (x44's takedown rule)") {
    import graft.operators.Dedup
    // the x44 delete-side rule: pair edges are pairwise properties, so
    // they partition by original cluster — after removing nodes it
    // suffices to re-run CC over the RETAINED MEMBERS OF TOUCHED CLUSTERS
    // with the edge set restricted to them; untouched clusters keep their
    // labels. Property-checked on random graphs, then pinned on a
    // deterministic bridge/label micro-case.
    def touchedOnlyDelete(allPairs: Seq[(Long, Long)], nodes: Seq[Long],
                          removed: Long => Boolean): Map[Long, Long] = {
      val labels0 = Dedup.connectedComponents(
        allPairs.toDF("doc_a", "doc_b"), nodes.toDF("id"), "id")
      val touched = labels0.filter(col("id").isin(nodes.filter(removed): _*))
        .select("cluster_id").distinct()
      val untouched = labels0.join(touched, Seq("cluster_id"), "left_anti")
        .select("id", "cluster_id")
      val tRetained = labels0.join(touched, Seq("cluster_id"), "left_semi")
        .filter(!col("id").isin(nodes.filter(removed): _*)).select("id")
      val keptIds = tRetained.as[Long].collect().toSet
      val subPairs = allPairs.filter { case (a, b) => keptIds(a) && keptIds(b) }
      val relab = Dedup.connectedComponents(
        subPairs.toDF("doc_a", "doc_b"), tRetained, "id")
      untouched.unionByName(relab.select("id", "cluster_id"))
        .as[(Long, Long)].collect().toMap
    }
    val rnd = new scala.util.Random(43)
    for (trial <- 1 to 3) {
      val n = 80
      val all = Seq.fill(55)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val nodes = (0 until n).map(_.toLong)
      val rm = (id: Long) => id % 5 == 2
      val inc = touchedOnlyDelete(all, nodes, rm)
      val kept = nodes.filterNot(rm)
      val full = Dedup.connectedComponents(
          all.filter { case (a, b) => !rm(a) && !rm(b) }.toDF("doc_a", "doc_b"),
          kept.toDF("id"), "id")
        .as[(Long, Long)].collect().toMap
      assert(inc === full, s"trial $trial: touched-only delete diverged")
    }
    // bridge split + label inheritance: removing 2 splits {1,2,3}; removing
    // 7 forces 8 to re-derive its label; {5,6} is untouched and keeps 5
    val micro = touchedOnlyDelete(
      Seq((1L, 2L), (2L, 3L), (5L, 6L), (7L, 8L)), 1L to 8L,
      id => id == 2L || id == 7L)
    assert(micro === Map(1L -> 1L, 3L -> 3L, 4L -> 4L, 5L -> 5L, 6L -> 5L, 8L -> 8L))
  }

  test("asOfJoin matches the latest right row at-or-before each left time") {
    val left = Seq((1L, 10L, "p1"), (1L, 20L, "p2"), (2L, 5L, "p3"))
      .toDF("k", "t", "tag")
    val right = Seq((1L, 10L, "r10"), (1L, 15L, "r15"), (1L, 30L, "r30"))
      .toDF("k", "t", "pay")
    val got = Relational.asOfJoin(left, right, "k", "t", Seq("pay"))
      .select("tag", "pay").as[(String, String)].collect().toMap
    assert(got("p1") === "r10") // tie: right at exactly left.t matches
    assert(got("p2") === "r15") // latest at-or-before, not the later r30
    assert(got("p3") === null)  // key with no right rows → null payload
    // a matched row whose payload IS null must yield null (DuckDB ASOF
    // semantics), not carry a stale older non-null value forward
    val rightNull = Seq((1L, 10L, Some("a")), (1L, 20L, None))
      .toDF("k", "t", "pay")
    val gotNull = Relational.asOfJoin(
        Seq((1L, 25L, "px")).toDF("k", "t", "tag"), rightNull, "k", "t", Seq("pay"))
      .select("pay").as[Option[String]].head()
    assert(gotNull === None)
  }

  test("asOfJoin forward direction matches the earliest right row at-or-after") {
    val left = Seq((1L, 10L, "p1"), (1L, 20L, "p2"), (1L, 40L, "p3"))
      .toDF("k", "t", "tag")
    val right = Seq((1L, 10L, "r10"), (1L, 25L, "r25"), (1L, 30L, "r30"))
      .toDF("k", "t", "pay")
    val got = Relational.asOfJoin(left, right, "k", "t", Seq("pay"),
        direction = "forward")
      .select("tag", "pay").as[(String, String)].collect().toMap
    assert(got("p1") === "r10") // tie at exactly left.t matches forward too
    assert(got("p2") === "r25") // earliest at-or-after, not the later r30
    assert(got("p3") === null)  // nothing after t=40
  }

  test("asOfJoin tolerance nulls out matches farther than the bound") {
    val left = Seq((1L, 100L, "near"), (1L, 200L, "far")).toDF("k", "t", "tag")
    val right = Seq((1L, 95L, "r95")).toDF("k", "t", "pay")
    val got = Relational.asOfJoin(left, right, "k", "t", Seq("pay"),
        tolerance = Some(lit(10L)))
      .select("tag", "pay").as[(String, String)].collect().toMap
    assert(got("near") === "r95") // 5 ticks back, inside the bound
    assert(got("far") === null)   // 105 ticks back, nulled out
  }

  test("sessionize cuts sessions at the gap threshold, inclusive boundary") {
    import java.sql.Timestamp
    val base = Timestamp.valueOf("2026-01-01 10:00:00").getTime
    def ts(min: Int) = new Timestamp(base + min * 60000L)
    val ev = Seq((1L, ts(0), 1L), (1L, ts(30), 2L), // 30 min = NOT > gap
      (1L, ts(61), 3L), // 31 min after → new session
      (2L, ts(5), 4L)).toDF("user_id", "ts", "event_id")
    val got = Relational.sessionize(ev, col("user_id"), col("ts"),
        col("event_id"), gapMicros = 30L * 60 * 1000000)
      .select("event_id", "session_id").as[(Long, Long)].collect().toMap
    assert(got(1L) === 1 && got(2L) === 1) // exactly-at-gap stays in session
    assert(got(3L) === 2)
    assert(got(4L) === 1) // each key starts at session 1
  }

  test("rangeJoin equals the brute-force containment join on random intervals") {
    val rnd = new scala.util.Random(13)
    val pts = Seq.tabulate(300)(i => (i.toLong, rnd.nextInt(10000).toLong)).toDF("pid", "t")
    val ivsRaw = Seq.tabulate(40) { i =>
      val s = rnd.nextInt(9500).toLong
      (i.toLong, s, s + 1 + rnd.nextInt(900)) // widths 1..900, bucket 512
    }
    val ivs = ivsRaw.toDF("iid", "s", "e")
    val got = Relational.rangeJoin(pts, "t", ivs, "s", "e", bucketWidth = 512L)
      .select("pid", "iid").as[(Long, Long)].collect().toSet
    val pdata = pts.as[(Long, Long)].collect()
    val brute = (for {
      (pid, t) <- pdata; (iid, s, e) <- ivsRaw
      if t >= s && t < e
    } yield (pid, iid)).toSet
    assert(got === brute)
  }

  test("rangeJoinAutoWidth matches brute force and bounds the explode factor") {
    val rnd = new scala.util.Random(17)
    val pts = Seq.tabulate(200)(i => (i.toLong, rnd.nextInt(10000).toLong)).toDF("pid", "t")
    // skewed interval lengths: most ~100 wide, one outlier spanning nearly
    // everything — the median-derived width must not let the outlier set
    // a tiny width for everyone (mean-derived width would)
    val ivsRaw = Seq.tabulate(30) { i =>
      val s = rnd.nextInt(9000).toLong
      (i.toLong, s, s + 50 + rnd.nextInt(100))
    } :+ (99L, 0L, 9999L)
    val ivs = ivsRaw.toDF("iid", "s", "e")
    val got = Relational.rangeJoinAutoWidth(pts, "t", ivs, "s", "e")
      .select("pid", "iid").as[(Long, Long)].collect().toSet
    val pdata = pts.as[(Long, Long)].collect()
    val brute = (for {
      (pid, t) <- pdata; (iid, s, e) <- ivsRaw
      if t >= s && t < e
    } yield (pid, iid)).toSet
    assert(got === brute)
    // the derived width is near the median length (~125), so a TYPICAL
    // interval explodes into ≤ 3 bucket rows; only the one outlier pays a
    // row count proportional to its own span (len/width + 1 ≈ 80) — the
    // skew lands on the skewed row, not on everyone
    val median = 125.0
    def rows(s: Long, e: Long) = (e - s) / median + 1
    ivsRaw.dropRight(1).foreach { case (_, s, e) => assert(rows(s, e) <= 3.0) }
    val explodeRows = ivsRaw.map { case (_, s, e) => rows(s, e) }.sum
    assert(explodeRows < ivsRaw.size * 3.0 + rows(0L, 9999L))
    // malformed intervals (s > e) are dropped, not exploded descending
    val bad = (Seq((777L, 500L, 400L)) ++ ivsRaw.take(3)).toDF("iid", "s", "e")
    val gotBad = Relational.rangeJoinAutoWidth(pts, "t", bad, "s", "e")
      .select("iid").distinct().as[Long].collect().toSet
    assert(!gotBad.contains(777L))
  }

  test("unionPad null-fills columns missing on either side (bind_rows semantics)") {
    val a = Seq((1, "x")).toDF("id", "only_a")
    val b = Seq((2, 9.5)).toDF("id", "only_b")
    val u = Relational.unionPad(Seq(a, b)).orderBy("id")
    assert(u.columns.toSet === Set("id", "only_a", "only_b"))
    val rows = u.collect()
    assert(rows(0).getAs[String]("only_a") == "x" && rows(0).isNullAt(u.columns.indexOf("only_b")))
    assert(rows(1).isNullAt(u.columns.indexOf("only_a")) && rows(1).getAs[Double]("only_b") == 9.5)
  }

  test("newRowsOnly keeps only unseen keys (update_db anti-join)") {
    val existing = Seq((1, "old"), (2, "old")).toDF("game_id", "v")
    val incoming = Seq((2, "dupe"), (3, "new")).toDF("game_id", "v")
    val got = Relational.newRowsOnly(incoming, existing, Seq("game_id"))
      .as[(Int, String)].collect()
    assert(got.toSeq === Seq((3, "new")))
  }

  test("bindCols zips two frames positionally by explicit order") {
    val l = Seq(("a", 1), ("b", 2)).toDF("name", "rank_l")
    val r = Seq(("y", 20), ("x", 10)).toDF("other", "rank_r")
    val got = Relational.bindCols(l, Seq(col("rank_l").asc), r, Seq(col("rank_r").asc))
      .select("name", "other").as[(String, String)].collect().toSet
    assert(got === Set(("a", "x"), ("b", "y")))
  }

  test("bindCols pads the shorter side with nulls instead of truncating") {
    val l = Seq(("a", 1), ("b", 2), ("c", 3)).toDF("name", "rank_l")
    val r = Seq(("x", 10)).toDF("other", "rank_r")
    val got = Relational.bindCols(l, Seq(col("rank_l").asc), r, Seq(col("rank_r").asc))
      .select("name", "other").collect()
      .map(row => (row.getString(0), Option(row.getString(1)))).toSet
    assert(got === Set(("a", Some("x")), ("b", None), ("c", None)))
  }

  test("ols2Aggs recovers an exact planar fit (b1, b2, intercept, r2)") {
    // y = 2*x1 + 3*x2 + 5 exactly; x1, x2 not collinear
    val df = Seq((1.0, 1.0), (2.0, 1.0), (1.0, 2.0), (3.0, 2.0), (2.0, 4.0))
      .toDF("x1", "x2")
      .withColumn("y", col("x1") * 2 + col("x2") * 3 + 5)
    val got = df.agg(
        Relational.ols2Aggs(col("x1"), col("x2"), col("y")).head,
        Relational.ols2Aggs(col("x1"), col("x2"), col("y")).tail: _*)
      .as[(Double, Double, Double, Double)].head()
    assert(got === ((2.0, 3.0, 5.0, 1.0)))
    // collinear regressors → null fit, matching lm's NA on a singular model
    val sing = df.withColumn("x2", col("x1") * 2)
    val s = sing.agg(Relational.ols2Aggs(col("x1"), col("x2"), col("y")).head).head()
    assert(s.isNullAt(0))
  }

  test("logisticIrls learns the separating direction and ridge keeps separation finite") {
    // y = 1 iff x1 > 0, with x2 pure noise: PERFECTLY separable, where the
    // unpenalized MLE diverges — the ridge term must keep the fit finite
    val df = (1 to 40).map { i =>
      val x1 = if (i % 2 == 0) 1.0 + (i % 5) * 0.1 else -1.0 - (i % 5) * 0.1
      ("g", x1, (i % 7) * 0.1, if (x1 > 0) 1.0 else 0.0)
    }.toDF("g", "x1", "x2", "y")
    val b = Relational.logisticIrls(df, "g", iters = 4, lambda = 1.0)
      .as[(String, Double, Double, Double)].head()
    assert(b._3 > 0.5, s"b1 should be strongly positive, got ${b._3}")
    assert(Seq(b._2, b._3, b._4).forall(v => !v.isNaN && !v.isInfinite && math.abs(v) < 100),
      s"ridge must bound the separable fit, got $b")
  }

  test("logisticIrls per-group fit matches a driver-side IRLS replica") {
    // two groups with different true slopes; overlap so the fit is interior
    val rows = for (g <- Seq("a", "b"); i <- 1 to 30) yield {
      val x1 = (i % 10) - 4.5
      val x2 = (i % 3) - 1.0
      val z = if (g == "a") 0.8 * x1 else -0.6 * x1 + 0.4 * x2
      (g, x1, x2, if (math.tanh(z) > (i % 7 - 3) * 0.25) 1.0 else 0.0)
    }
    val got = Relational.logisticIrls(rows.toDF("g", "x1", "x2", "y"), "g")
      .as[(String, Double, Double, Double)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    // pure-Scala replica of the same 4 ridge-Newton steps
    def fit(data: Seq[(Double, Double, Double)]): (Double, Double, Double) = {
      var (b0, b1, b2) = (0.0, 0.0, 0.0)
      for (_ <- 1 to 4) {
        val m = Array.ofDim[Double](3, 3); val r = new Array[Double](3)
        for ((x1, x2, y) <- data) {
          val eta = b0 + b1 * x1 + b2 * x2
          val mu = math.max(1e-6, math.min(0.999999, 1.0 / (1.0 + math.exp(-eta))))
          val w = mu * (1.0 - mu); val z = eta + (y - mu) / w
          val xs = Array(1.0, x1, x2)
          for (i <- 0 until 3; j <- 0 until 3) m(i)(j) += w * xs(i) * xs(j)
          for (i <- 0 until 3) r(i) += w * z * xs(i)
        }
        for (i <- 0 until 3) m(i)(i) += 1.0
        // Cramer 3x3
        def det3(a: Array[Array[Double]]) =
          a(0)(0) * (a(1)(1) * a(2)(2) - a(1)(2) * a(2)(1)) -
            a(0)(1) * (a(1)(0) * a(2)(2) - a(1)(2) * a(2)(0)) +
            a(0)(2) * (a(1)(0) * a(2)(1) - a(1)(1) * a(2)(0))
        val d = det3(m)
        def repl(k: Int) = {
          val c = m.map(_.clone); for (i <- 0 until 3) c(i)(k) = r(i); c
        }
        b0 = det3(repl(0)) / d; b1 = det3(repl(1)) / d; b2 = det3(repl(2)) / d
      }
      (b0, b1, b2)
    }
    for (g <- Seq("a", "b")) {
      val exp = fit(rows.filter(_._1 == g).map(t => (t._2, t._3, t._4)))
      val (g0, g1, g2) = got(g)
      assert(math.abs(g0 - exp._1) < 1e-8 && math.abs(g1 - exp._2) < 1e-8 &&
        math.abs(g2 - exp._3) < 1e-8, s"group $g: got ${got(g)}, expected $exp")
    }
  }

  test("quantileAgg approx stays inside the exact rank band") {
    val df = spark.range(10000).select((col("id") % 997).cast("double").as("v"))
    val row = df.agg(
      Relational.quantileAgg(col("v"), Seq(0.5)).as("ex"),
      Relational.quantileAgg(col("v"), Seq(0.5), approx = true).as("ap")).head()
    val ex = row.getSeq[Double](0).head
    val ap = row.getSeq[Double](1).head
    assert(math.abs(ap - ex) <= 997 * 0.02, s"approx $ap vs exact $ex")
  }

  test("logLoss matches the hand-computed metric") {
    val df = Seq((0.9, 1.0), (0.2, 0.0)).toDF("p", "y")
    val got = df.agg(Relational.logLoss(col("p"), col("y"))).as[Double].head()
    val want = -(math.log(0.9) + math.log(0.8)) / 2
    assert(math.abs(got - want) < 1e-12)
  }

  test("rMean is NA-poisoning; naRmMean ignores nulls (R semantics)") {
    val df = Seq(("g1", Some(1.0)), ("g1", Some(3.0)), ("g2", Some(5.0)), ("g2", None))
      .toDF("g", "v")
    val got = df.groupBy("g")
      .agg(RSemantics.rMean(col("v")).as("r"), RSemantics.naRmMean(col("v")).as("narm"))
      .collect().map(r => r.getString(0) -> (Option(r.get(1)), Option(r.get(2)))).toMap
    assert(got("g1") === (Some(2.0), Some(2.0)))
    assert(got("g2")._1.isEmpty)          // any-NA → NA, like R mean()
    assert(got("g2")._2 === Some(5.0))    // na.rm=TRUE form
  }

  test("dec2 sums are exact where double sums carry float noise") {
    val vals = Seq.fill(1000)(0.1)
    val df = vals.toDF("v")
    val dec = df.agg(RSemantics.sumDec2(col("v"))).head().getDecimal(0)
    assert(dec.toPlainString === "100.00")
  }

  test("upsert: updates beat snapshot, inserts land, re-apply is idempotent") {
    val snap = Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0)).toDF("k", "tag", "v")
    val batch = Seq((2L, "b", 20.0), (9L, "z", 9.0)).toDF("k", "tag", "v")
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val once = Relational.upsert(snap, batch, Seq("k"))
    assert(asMap(once) === Map(1L -> 1.0, 2L -> 20.0, 3L -> 3.0, 9L -> 9.0))
    assert(asMap(Relational.upsert(once, batch, Seq("k"))) === asMap(once))
    // in-batch duplicate keys resolve by the caller's order
    val dup = Seq((2L, "b", 100.0), (2L, "b", 200.0)).toDF("k", "tag", "v")
    val resolved = Relational.upsert(snap, dup, Seq("k"), order = Seq(col("v").desc))
    assert(asMap(resolved)(2L) === 200.0)
  }

  test("upsert property: merge equals the map-semantics reference model") {
    // reference model: a Map overwrite — upsert must agree for ANY
    // snapshot/batch with unique in-frame keys (Spark jobs per case, so
    // fewer cases than the pure-Scala props)
    val entries = Gen.listOfN(8, Gen.zip(Gen.chooseNum(0L, 11L), Gen.chooseNum(0.0, 9.0)))
      .map(_.toMap.toSeq) // unique keys within each frame
    val prop = Prop.forAll(Gen.zip(entries, entries)) { case (snap, batch) =>
      // listOfN(8)+toMap never yields an empty frame, so no guard needed
      val got = Relational.upsert(
          snap.toDF("k", "v"), batch.toDF("k", "v"), Seq("k"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      got == (snap.toMap ++ batch.toMap)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(res.passed, res.status.toString)
  }

  test("jaccardEstimate: identical shingle sets estimate 1.0, estimates stay in [0,1]") {
    import graft.operators.{Dedup, TextAnalysis}
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"),  // exact dup of 1
      (3L, "alpha beta gamma zeta eta")        // partial overlap
    ).toDF("doc_id", "text")
    val est = {
      val h = docs.withColumn("ws", split(col("text"), " "))
        .select(col("doc_id"), explode(TextAnalysis.shinglesExpr("ws", 3)).as("sh"))
        .select(col("doc_id"), TextAnalysis.hash32(col("sh")).as("hv")).distinct()
      val sig = Dedup.minhashSignature(h, "doc_id", 8)
      val pairs = Seq((1L, 2L), (1L, 3L)).toDF("doc_a", "doc_b")
      Dedup.jaccardEstimate(sig, pairs, "doc_id", 8)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    }
    assert(est((1L, 2L)) === 1.0) // identical sets: every slot matches
    assert(est((1L, 3L)) >= 0.0 && est((1L, 3L)) < 1.0)
  }

  test("groupedNtile replays the window ntile exactly (property)") {
    import org.apache.spark.sql.expressions.Window
    // random group sizes around the n=10 boundary cases (N < n, N = n,
    // N % n != 0) — the closed form must match SQL NTILE's ceil/floor
    // split for every one of them
    val gen = for {
      sizes <- Gen.listOfN(4, Gen.choose(1, 37))
      n <- Gen.choose(2, 11)
    } yield (sizes, n)
    val prop = Prop.forAll(gen) { case (sizes, n) =>
      val rows = sizes.zipWithIndex.flatMap { case (sz, g) =>
        (1 to sz).map(i => (s"g$g", (i * 7919) % 101, i.toLong))
      }
      val df = rows.toDF("grp", "v", "id")
      val w = Window.partitionBy("grp").orderBy("v", "id")
      val expected = df.withColumn("t", ntile(n).over(w))
        .select("grp", "id", "t").as[(String, Long, Int)].collect().toSet
      val got = Relational.groupedNtile(df, Seq("grp"), Seq("v", "id"), n, "t")
        .select("grp", "id", "t").as[(String, Long, Int)].collect().toSet
      got == expected
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(res.passed, res.status.toString)
    Housekeeping.releaseAllBlocks(spark)
  }

  test("groupedRowNumber replays the per-group window row_number exactly (property)") {
    import org.apache.spark.sql.expressions.Window
    // duplicate order values exercise the tiebreaker; NULL groups must
    // rank as their own group (the null-safe offset join)
    val gen = Gen.listOfN(4, Gen.choose(1, 37))
    val prop = Prop.forAll(gen) { sizes =>
      val rows = sizes.zipWithIndex.flatMap { case (sz, g) =>
        (1 to sz).map(i =>
          (if (g == 0) null else s"g$g", (i * 7919) % 11, i.toLong))
      }
      val df = rows.toDF("grp", "v", "id")
      val w = Window.partitionBy("grp").orderBy("v", "id")
      val expected = df.withColumn("rn", row_number().over(w).cast("long"))
        .select("grp", "id", "rn").as[(String, Long, Long)].collect().toSet
      val got = Relational.groupedRowNumber(df, Seq("grp"), Seq("v", "id"), "rn")
        .select("grp", "id", "rn").as[(String, Long, Long)].collect().toSet
      got == expected
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(res.passed, res.status.toString)
    Housekeeping.releaseAllBlocks(spark)
  }

  test("groupedRunningTotal replays the per-group window running sum exactly (property)") {
    import org.apache.spark.sql.expressions.Window
    // duplicate order values never occur (id is the order key); NULL
    // groups must cumulate as their own group (null-safe offset join)
    val gen = Gen.listOfN(4, Gen.choose(1, 30))
    val prop = Prop.forAll(gen) { sizes =>
      val rows = sizes.zipWithIndex.flatMap { case (sz, g) =>
        (1 to sz).map(i =>
          (if (g == 0) null else s"g$g", i.toLong, ((i * 31) % 97).toLong))
      }
      val df = rows.toDF("grp", "id", "v")
      val w = Window.partitionBy("grp").orderBy("id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val expected = df.withColumn("c", sum("v").over(w))
        .select("grp", "id", "c").as[(String, Long, Long)].collect().toSet
      val got = Relational.groupedRunningTotal(df, Seq("grp"), Seq("id"), "v", "c")
        .select("grp", "id", "c").as[(String, Long, Long)].collect().toSet
      got == expected
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(15), prop)
    assert(res.passed, res.status.toString)
    Housekeeping.releaseAllBlocks(spark)
  }

  test("runningTotal replays the global window running sum exactly (property)") {
    import org.apache.spark.sql.expressions.Window
    val gen = Gen.listOfN(60, Gen.choose(0L, 500L))
    val prop = Prop.forAll(gen) { vals =>
      val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
      val w = Window.orderBy("id").rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val expected = df.withColumn("c", sum("v").over(w))
        .select("id", "c").as[(Long, Long)].collect().toSet
      val got = Relational.runningTotal(df, Seq("id"), "v", "c")
        .select("id", "c").as[(Long, Long)].collect().toSet
      got == expected
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(15), prop)
    assert(res.passed, res.status.toString)
    Housekeeping.releaseAllBlocks(spark)
  }

  test("z61 reports NULL auc for a single-class language instead of dividing by zero") {
    // the degenerate corpus the advisory flagged: every doc of lang "xx"
    // comes from a positive source, so n_neg = 0 and the Mann–Whitney
    // denominator vanishes — the gate must surface a null AUC (and keep
    // the confusion counts), not NaN/Infinity or an engine-dependent
    // zero-division. Lang "yy" is mixed and must still score.
    val dir = tmpDir("auc_docs")
    (Seq.tabulate(6)(i => (i.toLong, s"w$i a b", "xx", "src0", 10L)) ++
      Seq.tabulate(6)(i =>
        (100L + i, s"v$i c d", "yy", if (i % 2 == 0) "src0" else "src1", 10L)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(dir + "/documents.parquet")
    val got = SparkEntry.queries("z61_classifier_auc")(spark, dir)
      .select("lang", "n_pos", "n_neg", "auc")
      .as[(String, Long, Long, Option[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got("xx")._1 === 6L && got("xx")._2 === 0L)
    assert(got("xx")._3.isEmpty, s"single-class lang must report null auc: $got")
    val yy = got("yy")
    assert(yy._1 === 3L && yy._2 === 3L && yy._3.isDefined
      && !yy._3.get.isNaN && !yy._3.get.isInfinite)
    Housekeeping.releaseAllBlocks(spark)
  }

  test("a21 chi-square is exactly 0 for a source matching the corpus mix, positive otherwise") {
    // drive the DECLARED query against a synthetic documents table: two
    // sources with the identical 50/50 en/de mix (expected counts are
    // exact dyadics → χ² is exactly 0.0), one source all-en (χ² > 0)
    val dir = tmpDir("chi2_docs")
    (Seq.tabulate(8)(i => (i.toLong, "t", if (i % 2 == 0) "en" else "de", "srcA", 10L)) ++
      Seq.tabulate(8)(i => (100L + i, "t", if (i % 2 == 0) "en" else "de", "srcB", 10L)) ++
      Seq.tabulate(16)(i => (200L + i, "t", "en", "srcC", 10L)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(dir + "/documents.parquet")
    val got = SparkEntry.queries("a21_chi2_langmix")(spark, dir)
      .select("source", "chi2").as[(String, Double)].collect().toMap
    // corpus mix: 24 en / 8 de. srcA and srcB each mirror their own size
    // times the corpus shares?  No — they are 50/50 vs corpus 75/25, so
    // only the POOLED corpus fits itself; compute the honest expectations:
    // srcA: n_s=8, e_en = 8*24/32 = 6, o_en = 4 → χ² > 0; srcC: o_en=16,
    // e_en = 12 → χ² > 0. Rebuild with a mix where one source matches.
    assert(got("srcA") === got("srcB"), "identical sources must score identically")
    assert(got("srcC") > 0.0)
    // a source whose mix EQUALS the corpus mix: make corpus 50/50 by
    // dropping srcC — separate table
    val dir2 = tmpDir("chi2_docs2")
    (Seq.tabulate(8)(i => (i.toLong, "t", if (i % 2 == 0) "en" else "de", "srcA", 10L)) ++
      Seq.tabulate(8)(i => (100L + i, "t", if (i % 2 == 0) "en" else "de", "srcB", 10L)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(dir2 + "/documents.parquet")
    val got2 = SparkEntry.queries("a21_chi2_langmix")(spark, dir2)
      .select("source", "chi2").as[(String, Double)].collect().toMap
    assert(got2("srcA") === 0.0 && got2("srcB") === 0.0,
      s"zero-drift sources must score exactly 0: $got2")
  }

  test("a20 Welch t-test: sign follows the mean gap, df inside the Welch bounds") {
    // mathematical contracts of the statistic, independent of the DuckDB
    // oracle: t has the sign of (mean_en - mean_ot); the Satterthwaite df
    // lies in [min(n1,n2) - 1, n1 + n2 - 2] whenever both variances are
    // positive (standard Welch bounds)
    val rows = SparkEntry.queries("a20_welch_ttest")(spark, "/root/testdata/sf0.001")
      .as[(String, Long, Long, Double, Double, Double, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (src, nEn, nOt, mEn, mOt, t, df) =>
      assert(!t.isNaN && !t.isInfinite, s"$src: t=$t")
      assert(math.signum(t) === math.signum(mEn - mOt), s"$src: sign mismatch")
      assert(df >= math.min(nEn, nOt) - 1 && df <= nEn + nOt - 2,
        s"$src: df=$df outside [${math.min(nEn, nOt) - 1}, ${nEn + nOt - 2}]")
    }
  }

  test("exactNdv matches COUNT(DISTINCT) on a nullable column (excludes the null group)") {
    // r13 ADVICE: the two-phase groupBy rewrite must NOT count the null
    // group — COUNT(DISTINCT c) excludes nulls. Nullable column with
    // duplicates AND nulls; the all-null column is the degenerate edge.
    val df = Seq[(java.lang.Long, java.lang.Long)](
      (1L, null), (2L, null), (2L, null), (null, null), (3L, null), (null, null))
      .toDF("v", "allnull")
    val viaGroup = RelationalQueries.exactNdv(df, "v").head.getLong(0)
    val viaDistinct = df.agg(countDistinct(col("v"))).head.getLong(0)
    assert(viaGroup === viaDistinct && viaGroup === 3L,
      s"ndv=$viaGroup, countDistinct=$viaDistinct")
    assert(RelationalQueries.exactNdv(df, "allnull").head.getLong(0) === 0L,
      "an all-null column has ndv 0, not 1")
  }

  test("f6 rounds each mean from its exact value, half away from zero") {
    // "half": 199 x 1.00 + 1 x 1.01 — the mean is exactly 1.00005, on the
    // half-way point at the 5th decimal: half away from zero gives 1.0001.
    // "below": 200 x 0.01 + 1 x 0.02 — the mean 0.010049751... lies 2.5e-7
    // below the half-way point 0.01005, so it rounds DOWN to 0.0100 (a
    // decimal avg rounded to 6 places first reads 0.010050 and rounds up).
    // "nulls": one nulled value (> 400) poisons the R mean only.
    // p4's avg_v and a8's avg_value take the same rounding.
    val dir = tmpDir("f6_events")
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val rows =
      Seq.fill(199)(("half", 1.00)) ++ Seq(("half", 1.01)) ++
        Seq.fill(200)(("below", 0.01)) ++ Seq(("below", 0.02)) ++
        Seq(("nulls", 2.00), ("nulls", 3.00), ("nulls", 401.00))
    rows.zipWithIndex.map { case ((t, v), i) => (i.toLong, i.toLong % 7, t, ts, v) }
      .toDF("event_id", "user_id", "event_type", "ts", "value")
      .write.parquet(dir + "/events.parquet")
    val got = SparkEntry.queries("f6_r_mean_semantics")(spark, dir)
      .select("event_type", "mean_poisoning", "mean_na_rm", "n")
      .as[(String, Option[Double], Option[Double], Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got("half") === ((Some(1.0001), Some(1.0001), 200L)))
    assert(got("below") === ((Some(0.01), Some(0.01), 201L)))
    assert(got("nulls") === ((None, Some(2.5), 3L)))
    val p4 = SparkEntry.queries("p4_null_predicates")(spark, dir)
      .select("event_type", "avg_v").as[(String, Option[Double])].collect().toMap
    assert(p4 === Map("half" -> Some(1.0001), "below" -> Some(0.01), "nulls" -> Some(2.5)))
    val a8 = SparkEntry.queries("a8_binned_agg")(spark, dir)
      .select("event_type", "bin", "avg_value").as[(String, Int, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(a8 === Map(("half", 0) -> 1.0001, ("below", 0) -> 0.01,
      ("nulls", 0) -> 2.5, ("nulls", 400) -> 401.0))
  }
}
