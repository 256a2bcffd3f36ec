package graft

import graft.operators.{Dedup, Multimodal, Similarity, TextAnalysis}
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    (3L, "the quick brown fox leaps over the lazy dog"), // near dup of 1
    (4L, "completely different words appear in here now")
  ).toDF("doc_id", "text")

  private def shingled = {
    val ws = docs.select(col("doc_id"), split(col("text"), " ").as("ws"))
    ws.select(col("doc_id"), explode(TextAnalysis.shinglesExpr("ws", 3)).as("sh")).distinct()
  }

  test("exactDedup keeps min id per content hash and counts copies") {
    val got = Dedup.exactDedup(docs, "doc_id", "text")
      .select("keep_id", "n_copies").as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 2L), (3L, 1L), (4L, 1L)))
  }

  test("minhash signatures are equal for identical shingle sets, not for disjoint ones") {
    val hv = shingled.select(col("doc_id"), TextAnalysis.hash32(col("sh")).as("hv"))
    val sig = Dedup.minhashSignature(hv, "doc_id", 8).collect()
      .map(r => r.getLong(0) -> (1 until 9).map(r.getLong).toVector).toMap
    assert(sig(1L) === sig(2L))
    assert(sig(1L) !== sig(4L))
  }

  test("lshCandidates surfaces the duplicate pair without a cartesian product") {
    val hv = shingled.select(col("doc_id"), TextAnalysis.hash32(col("sh")).as("hv"))
    val sig = Dedup.minhashSignature(hv, "doc_id", 8)
    val pairs = Dedup.lshCandidates(sig, "doc_id", 8)
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))      // identical docs always collide
    assert(!pairs.contains((1L, 4L)) && !pairs.contains((2L, 4L)))
  }

  test("banded LSH (4x2) keeps identical pairs and is a subset of 8x1 candidates") {
    val hv = shingled.select(col("doc_id"), TextAnalysis.hash32(col("sh")).as("hv"))
    val sig = Dedup.minhashSignature(hv, "doc_id", 8)
    val single = Dedup.lshCandidates(sig, "doc_id", 8).as[(Long, Long)].collect().toSet
    val banded = Dedup.lshCandidatesBanded(sig, "doc_id", bands = 4, rows = 2)
      .as[(Long, Long)].collect().toSet
    assert(banded.contains((1L, 2L)))       // identical docs agree in every band
    assert(banded.subsetOf(single))          // r=2 requires strictly more agreement
  }

  test("shingleJaccardPairs computes exact jaccard on a hand-checked pair") {
    val blocked = docs.withColumn("blk", lit("all"))
    val ws = blocked.select(col("doc_id"), col("blk"), split(col("text"), " ").as("ws"))
    val sh = ws.select(col("doc_id"), col("blk"),
      explode(TextAnalysis.shinglesExpr("ws", 3)).as("sh")).distinct()
    val got = Dedup.shingleJaccardPairs(sh, "doc_id", "blk")
      .filter(col("doc_a") === 1 && col("doc_b") === 3)
      .select("n_inter", "n_a", "n_b", "jaccard")
      .as[(Long, Long, Long, Double)].head()
    // 9 words → 7 shingles each; "jumps"→"leaps" breaks shingles 2,3,4 → 4 shared
    assert(got._1 === 4L && got._2 === 7L && got._3 === 7L)
    assert(math.abs(got._4 - 4.0 / 10.0) < 1e-12)
  }

  test("row-wise minhash signature equals the explode+groupBy form") {
    val rowwise = docs.select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 3)
      .withColumn("sh", TextAnalysis.shinglesExpr("ws", 3))
      .select(col("doc_id") +: Dedup.minhashSignatureExprs(
        expr(s"transform(sh, s -> ${TextAnalysis.hash32Sql("s")})"), 8)
        .zipWithIndex.map { case (c, i) => c.as(s"mh$i") }: _*)
    val hv = shingled.select(col("doc_id"), TextAnalysis.hash32(col("sh")).as("hv"))
    val grouped = Dedup.minhashSignature(hv, "doc_id", 8)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(rows(rowwise) === rows(grouped))
  }

  test("lshCandidatesAgainst equals the cross-pair slice of the full self-join") {
    val hv = shingled.select(col("doc_id"), TextAnalysis.hash32(col("sh")).as("hv"))
    val sig = Dedup.minhashSignature(hv, "doc_id", 8)
    val incoming = sig.filter(col("doc_id") <= 2)
    val base = sig.filter(col("doc_id") > 2)
    val got = Dedup.lshCandidatesAgainst(incoming, base, "doc_id", 8)
      .as[(Long, Long)].collect().toSet
    // the full self-join's pairs with exactly one side in the batch,
    // re-oriented (new, base)
    val full = Dedup.lshCandidates(sig, "doc_id", 8).as[(Long, Long)].collect()
    val want = full.collect {
      case (a, b) if a <= 2 && b > 2 => (a, b)
      case (a, b) if b <= 2 && a > 2 => (b, a)
    }.toSet
    assert(got === want)
  }

  test("benchmarkOverlap counts distinct shingle overlap; clean docs report 0") {
    val sh = shingled
    val bench = sh.filter(col("doc_id") === 1).select("sh") // doc 1's shingles
    val got = Dedup.benchmarkOverlap(docs, sh, bench, "doc_id")
      .as[(Long, Long, Boolean)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val nSh1 = sh.filter(col("doc_id") === 1).count()
    assert(got(1L) === ((nSh1, true)))  // the benchmark doc overlaps itself fully
    assert(got(2L) === ((nSh1, true)))  // exact dup of doc 1
    assert(got(4L) === ((0L, false)))   // disjoint text is clean
    assert(got(3L)._1 > 0 && got(3L)._1 < nSh1) // near dup: partial overlap
  }

  test("chunkDedup invariants on a random corpus: one keeper per distinct chunk, and it is the min") {
    // seeded random docs over a tiny vocab so chunk collisions are dense
    val rnd = new scala.util.Random(42)
    val vocab = Vector("a", "b", "c")
    val rdocs = (0L until 40L).map { id =>
      (id, Seq.fill(2 + rnd.nextInt(9))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }.toDF("doc_id", "text")
    val chunks = Dedup.chunkDedup(rdocs, "doc_id", "text", 2)
      .select("chash", "doc_id", "chunk_id", "kept")
      .as[(String, Long, Int, Boolean)].collect()
    chunks.groupBy(_._1).foreach { case (chash, rows) =>
      val kept = rows.filter(_._4)
      assert(kept.length === 1, s"$chash must keep exactly one occurrence")
      val minRow = rows.map(r => (r._2, r._3)).min
      assert((kept.head._2, kept.head._3) === minRow,
        s"$chash keeper must be the lexicographic (doc_id, chunk_id) min")
    }
  }

  test("contentBloom flags every exact dup (no false negatives); empty corpus is None") {
    val corpus = docs.filter(col("doc_id") =!= 2L) // docs 1, 3, 4
    val bloom = Dedup.contentBloom(corpus, "text")
    assert(bloom.isDefined)
    assert(Dedup.contentBloom(corpus.limit(0), "text").isEmpty)
    val probed = docs
      .select(col("doc_id"), md5(col("text")).as("h"))
      .withColumn("probable",
        call_function("graft_might_contain", lit(bloom.get), xxhash64(col("h"))))
      .as[(Long, String, Boolean)].collect().map(r => r._1 -> r._3).toMap
    // doc 2 is an exact dup of corpus doc 1 — a Bloom can NEVER miss it
    assert(probed(2L) === true)
    assert(probed(1L) === true) // in the corpus itself
  }

  test("connectedComponents labels chains with the min id; isolated nodes keep their own") {
    val pairs = Seq((2L, 5L), (5L, 9L), (11L, 12L)).toDF("doc_a", "doc_b") // chain 2-5-9, pair 11-12
    val nodes = Seq(2L, 5L, 9L, 11L, 12L, 99L).toDF("doc_id")
    val got = Dedup.connectedComponents(pairs, nodes, "doc_id")
      .as[(Long, Long)].collect().toMap
    assert(got === Map(2L -> 2L, 5L -> 2L, 9L -> 2L, 11L -> 11L, 12L -> 11L, 99L -> 99L))
  }

  test("both connected-components operators throw when a chain outlasts maxIters") {
    // chain 0-1-…-63: min-label propagation needs 63 rounds to converge,
    // star contraction more than two
    val pairs = (0L until 63L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val nodes = (0L until 64L).toDF("doc_id")
    val byLabel = intercept[IllegalStateException](
      Dedup.connectedComponents(pairs, nodes, "doc_id", maxIters = 3, localEdges = 0))
    assert(byLabel.getMessage.contains("maxIters=3"))
    val byStar = intercept[IllegalStateException](
      Dedup.connectedComponentsStar(pairs, nodes, "doc_id", maxIters = 2))
    assert(byStar.getMessage.contains("maxIters=2"))
  }

  /** `body`'s result and the stage names of the Spark jobs it ran, picked
    * by a job tag once the listener bus has drained. */
  private def withJobs[A](body: => A): (A, Seq[String]) = {
    val sc = spark.sparkContext
    val tag = "dedup-spec-jobs"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
            .exists(_.split(",").contains(tag))) jobs.add(e.stageInfos.map(_.name).mkString(" + "))
    }
    sc.addSparkListener(listener)
    sc.addJobTag(tag)
    val out = try body finally sc.removeJobTag(tag)
    ListenerBusDrain(sc)
    sc.removeSparkListener(listener)
    (out, jobs.toArray(Array.empty[String]).toSeq)
  }

  test("connectedComponents finishes a chain longer than maxIters on the driver in a few jobs") {
    val pairs = (0L until 63L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val nodes = (0L until 64L).toDF("doc_id")
    val (labels, jobs) = withJobs(Dedup.connectedComponents(pairs, nodes, "doc_id", maxIters = 3))
    assert(labels.as[(Long, Long)].collect().toMap === (0L until 64L).map(_ -> 0L).toMap)
    assert(jobs.size <= 4, jobs.mkString("Spark jobs:\n", "\n", ""))
    Housekeeping.releaseAllBlocks(spark)
  }

  test("the driver finish of connectedComponents equals the label-propagation rounds (property)") {
    // ids n..n+3 and the dropped ones are outside `nodes`; some node rows
    // repeat, some edges have a null end or are self-loops; the id columns
    // are Int, Long, Int nodes against Long edges, or Decimal nodes
    // against Double edges
    val gen = for {
      n <- Gen.choose(1, 24)
      end = Gen.frequency(1 -> Gen.const(Option.empty[Int]), 12 -> Gen.choose(0, n + 3).map(Some(_)))
      edges <- Gen.choose(0, 30).flatMap(Gen.listOfN(_, Gen.zip(end, end)))
      dropped <- Gen.listOf(Gen.choose(0, n - 1))
      repeated <- Gen.listOf(Gen.choose(0, n - 1))
      nullNode <- Gen.oneOf(false, true)
      types <- Gen.oneOf("int", "long", "int nodes, long edges", "decimal nodes, double edges")
    } yield (edges, (0 until n).filterNot(dropped.toSet) ++ repeated, nullNode, types)
    val prop = Prop.forAll(gen) { case (edges, ids, nullNode, types) =>
      val nodeIds = ids.map(Option(_)) ++ (if (nullNode) Seq(None) else Nil)
      val nodes = types match {
        case "long" => nodeIds.map(_.map(_.toLong)).toDF("id")
        case "decimal nodes, double edges" => nodeIds.toDF("id").select(col("id").cast("decimal(10,0)").as("id"))
        case _ => nodeIds.toDF("id")
      }
      val pairs = types match {
        case "int" => edges.toDF("doc_a", "doc_b")
        case "decimal nodes, double edges" =>
          edges.map { case (a, b) => (a.map(_.toDouble), b.map(_.toDouble)) }.toDF("doc_a", "doc_b")
        case _ => edges.map { case (a, b) => (a.map(_.toLong), b.map(_.toLong)) }.toDF("doc_a", "doc_b")
      }
      def labels(localEdges: Int) = {
        val df = Dedup.connectedComponents(pairs, nodes, "id", maxIters = 64, localEdges = localEdges)
        (df.schema.map(_.dataType), df.collect().map(_.toString).sorted.toSeq)
      }
      val (driver, rounds) = (labels(Dedup.LocalEdges), labels(0))
      Housekeeping.releaseAllBlocks(spark)
      Prop(driver == rounds) :| s"$types: driver $driver, rounds $rounds"
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(16), prop)
    assert(res.passed, res.status.toString)
  }

  test("connectedComponents rejects a non-numeric id column and names its type") {
    val pairs = Seq(("a", "b")).toDF("doc_a", "doc_b")
    val err = intercept[IllegalArgumentException](
      Dedup.connectedComponents(pairs, Seq("a", "b", "c").toDF("doc_id"), "doc_id"))
    assert(err.getMessage.contains("'doc_id' is string"))
  }

  test("pageRank: uniform on a regular graph, center-heavy on a star, mass conserved") {
    // 4-cycle: every node degree 2 → PageRank fixpoint is exactly uniform
    val cycle = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)).toDF("doc_a", "doc_b")
    val cr = Dedup.pageRank(cycle, iters = 5)
      .select("node", "rank").as[(Long, Double)].collect().toMap
    assert(cr.keySet === Set(1L, 2L, 3L, 4L))
    cr.values.foreach(r => assert(math.abs(r - 0.25) < 1e-9, s"rank $r"))
    // star 1-{2,3,4,5}: the hub outranks every leaf, leaves are equal
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L)).toDF("doc_a", "doc_b")
    val sr = Dedup.pageRank(star, iters = 10)
      .select("node", "rank").as[(Long, Double)].collect().toMap
    assert(sr(1L) > sr(2L) * 2, s"hub ${sr(1L)} vs leaf ${sr(2L)}")
    assert(Set(2L, 3L, 4L, 5L).map(sr).size === 1)
    // no dangling nodes + decimal sums → total mass stays ~1
    assert(math.abs(sr.values.sum - 1.0) < 1e-6)
    // pure function of the graph: a shuffled, repartitioned edge list
    // lands on bit-identical ranks (order-independent decimal sums)
    val sr2 = Dedup.pageRank(star.orderBy(col("doc_b").desc).repartition(7), iters = 10)
      .select("node", "rank").as[(Long, Double)].collect().toMap
    assert(sr2 === sr)
  }

  test("chunkDedup keeps the first occurrence of a duplicated chunk, within and across docs") {
    val cd = Seq(
      (1L, "a b c d e f"),        // chunks: [a b c], [d e f]
      (2L, "a b c x y z"),        // chunk 0 duplicates doc 1's chunk 0
      (3L, "p q r p q r")         // chunk 1 duplicates chunk 0 within the doc
    ).toDF("doc_id", "text")
    val got = Dedup.chunkDedup(cd, "doc_id", "text", 3)
      .select("doc_id", "chunk_id", "kept").as[(Long, Int, Boolean)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(got === Map(
      (1L, 0) -> true, (1L, 1) -> true,
      (2L, 0) -> false, (2L, 1) -> true,
      (3L, 0) -> true, (3L, 1) -> false))
  }

  test("simhash64 is a set signature: equal sets equal, different sets differ") {
    val words = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .select(col("doc_id"),
        TextAnalysis.hash32(col("w")).as("hv_hi"),
        TextAnalysis.hash32b(col("w")).as("hv_lo")).distinct()
    val s = Dedup.simhash64(words, "doc_id").as[(Long, Long)].collect().toMap
    assert(s(1L) === s(2L))
    assert(s(1L) !== s(4L))
    // near-dup differs in few bits: hamming(1,3) < hamming(1,4)
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(s(1L), s(3L)) < ham(s(1L), s(4L)))
  }
}

class ContainmentSpec extends SparkSpec {
  import spark.implicits._

  test("a fully-quoted document scores containment 1.0 while Jaccard stays low") {
    // doc 1's entire shingle set {abc, bcd} appears inside doc 2's
    // {abc, bcd, cde, def, efg}: containment(1→2) = 2/2 = 1.0 exactly,
    // Jaccard = 2/5 — the subset/quote case symmetric dedup never flags
    val docs = Seq(
      (1L, "en", "a b c d"),
      (2L, "en", "a b c d e f g"),
      (3L, "en", "p q r s t u")
    ).toDF("doc_id", "lang", "text")
    val shingled = docs
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), col("lang"),
        explode(TextAnalysis.shinglesExpr("ws", 3)).as("sh"))
      .distinct()
    val pairs = Dedup.shingleJaccardPairs(shingled, "doc_id", "lang")
      .withColumn("cont_ab", col("n_inter").cast("double") / col("n_a"))
      .select("doc_a", "doc_b", "cont_ab", "jaccard")
      .as[(Long, Long, Double, Double)].collect()
    assert(pairs.toSeq === Seq((1L, 2L, 1.0, 0.4)))
    // doc 3 shares nothing — the inverted-index join never pairs it
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }
}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private def vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f)),
    (1L, Array(1.0f, 0.0f, 0.0f)),   // identical to 0
    (2L, Array(0.0f, 1.0f, 0.0f)),   // orthogonal
    (3L, Array(3.0f, 4.0f, 0.0f))
  ).toDF("vec_id", "embedding")

  test("dot and norm match hand computation") {
    val r = vecs.filter(col("vec_id") === 3)
      .select(Similarity.dot("embedding", "embedding").as("d"),
        Similarity.norm("embedding").as("n"))
      .as[(Double, Double)].head()
    assert(r._1 === 25.0 && r._2 === 5.0)
  }

  test("bruteForceTopK ranks the identical vector first, excludes self, honors k") {
    val got = Similarity.bruteForceTopK(
      vecs.filter(col("vec_id") === 0), vecs, "vec_id", "embedding", k = 2)
      .as[(Long, Int, Long, Double)].collect().sortBy(_._2)
    assert(got.length === 2)
    assert(got(0)._3 === 1L && got(0)._4 === 1.0) // identical vector, cosine 1
    assert(got.forall(_._3 != 0L))                // self excluded
  }

  test("ivfAssign picks the nearest anchor with deterministic tiebreak; lloydRefine averages per cell") {
    val vs = Seq(
      (0L, Array(0.0f, 0.0f)), (1L, Array(10.0f, 10.0f)),  // the anchors themselves
      (2L, Array(1.0f, 1.0f)), (3L, Array(9.0f, 9.0f)),
      (4L, Array(5.0f, 5.0f))                               // equidistant → lower anchor id
    ).toDF("vec_id", "embedding")
    val anchors = vs.filter(col("vec_id") < 2)
      .select(col("vec_id").as("anchor_id"), col("embedding").as("anchor_vec"))
    val cells = Similarity.ivfAssign(vs, anchors, "vec_id", "embedding")
      .select("vec_id", "cell").as[(Long, Long)].collect().toMap
    assert(cells === Map(0L -> 0L, 2L -> 0L, 4L -> 0L, 1L -> 1L, 3L -> 1L))
    val refined = Similarity.lloydRefine(
      Similarity.ivfAssign(vs, anchors, "vec_id", "embedding"), "embedding")
      .as[(Long, Array[Float])].collect().toMap
    assert(refined(0L).toSeq === Seq(2.0f, 2.0f))  // mean of (0,0),(1,1),(5,5)
    assert(refined(1L).toSeq === Seq(9.5f, 9.5f))  // mean of (10,10),(9,9)
  }

  test("hyperplaneBucket assigns identical vectors to the same bucket") {
    val dims = 3
    val b = vecs.withColumn("bucket", Similarity.hyperplaneBucket("embedding", dims))
      .select("vec_id", "bucket").as[(Long, Long)].collect().toMap
    assert(b(0L) === b(1L))
    assert((0 until Similarity.NumPlanes).forall(j =>
      Similarity.planeWeight(0, j) >= -6 && Similarity.planeWeight(0, j) <= 6))
    // all planes must be DISTINCT weight vectors — the old mod-7 scheme
    // made plane 7 ≡ plane 0, silently halving the bucket space
    val planes = (0 until Similarity.NumPlanes)
      .map(j => (0 until 8).map(i => Similarity.planeWeight(i, j)))
    assert(planes.distinct.size === Similarity.NumPlanes, planes.toString)
  }

  test("randomProjection is deterministic, linear, and in [-8,8] integer weights") {
    val vs = Seq(
      (0L, Array(1.0f, 2.0f, -3.0f, 0.5f)),
      (1L, Array(2.0f, 4.0f, -6.0f, 1.0f))   // exactly 2 x vector 0
    ).toDF("vec_id", "embedding")
    val p = vs.withColumn("p", Similarity.randomProjection("embedding", 3, inDims = 4))
      .select("vec_id", "p").as[(Long, Array[Double])].collect().toMap
    // linearity: projection is a fixed linear map, so P(2v) = 2 P(v)
    // exactly (doubling a double is exponent arithmetic — no rounding)
    assert(p(1L).toSeq === p(0L).map(_ * 2.0).toSeq)
    // determinism: a second evaluation bit-matches the first
    val p2 = vs.withColumn("p", Similarity.randomProjection("embedding", 3, inDims = 4))
      .select("vec_id", "p").as[(Long, Array[Double])].collect().toMap
    assert(p2(0L).toSeq === p(0L).toSeq)
    // the weight lattice stays in [-8, 8] and output dims get distinct rows
    val rows = (0 until 3).map(j => (0 until 4).map(i => Similarity.projWeight(i, j)))
    assert(rows.flatten.forall(w => w >= -8 && w <= 8))
    assert(rows.distinct.size === 3, rows.toString)
  }

  test("pqTopK blocked on the IVF cell never crosses a cell boundary") {
    val vs = Seq(
      (0L, Array(0.0f, 0.0f)), (1L, Array(10.0f, 10.0f)),   // anchors + codebook
      (2L, Array(1.0f, 1.0f)), (3L, Array(2.0f, 2.0f)),     // cell 0
      (4L, Array(9.0f, 9.0f)), (5L, Array(8.0f, 8.0f))      // cell 1
    ).toDF("vec_id", "embedding")
    val anchors = vs.filter(col("vec_id") < 2)
      .select(col("vec_id").as("anchor_id"), col("embedding").as("anchor_vec"))
    val assigned = Similarity.ivfAssign(vs, anchors, "vec_id", "embedding")
      .select("vec_id", "embedding", "cell")
    val codes = Similarity.pqEncode(assigned, anchors, "vec_id", "embedding",
      m = 1, subDim = 2, carryCols = Seq("cell"), dims = 2)
    val got = Similarity.pqTopK(codes, anchors,
      assigned.filter(col("vec_id") === 2), "vec_id", "embedding",
      m = 1, subDim = 2, k = 5, blockCol = Some("cell"), dims = 2)
      .select("c_id").as[Long].collect().toSet
    // query 2 lives in cell 0: candidates from cell 1 (4, 5) must never
    // appear, however small their ADC distance — that's the IVF pruning
    assert(got === Set(0L, 3L), got.toString)
  }

  test("gramUpper matches the hand-computed second moments exactly") {
    val vs = Seq(
      (0L, Array(1.0f, 2.0f, 3.0f)),
      (1L, Array(0.5f, -1.0f, 4.0f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.gramUpper(vs, "embedding")
      .select("i", "j", "n", "gram")
      .as[(Int, Int, Long, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    // 3 dims → 6 upper-triangle cells, each the exact sum of two products
    assert(got.size === 6)
    assert(got((0, 0)) === ((2L, 1.0 * 1.0 + 0.5 * 0.5)))
    assert(got((0, 1)) === ((2L, 1.0 * 2.0 + 0.5 * -1.0)))
    assert(got((0, 2)) === ((2L, 1.0 * 3.0 + 0.5 * 4.0)))
    assert(got((1, 1)) === ((2L, 2.0 * 2.0 + -1.0 * -1.0)))
    assert(got((1, 2)) === ((2L, 2.0 * 3.0 + -1.0 * 4.0)))
    assert(got((2, 2)) === ((2L, 3.0 * 3.0 + 4.0 * 4.0)))
  }

  test("y11: IVF recall is monotone non-decreasing in nprobe (probe sets nest)") {
    val rows = SparkEntry.queries("y11_nprobe_curve")(spark, "/root/testdata/sf0.001")
      .select("nprobe", "recall_at_10").as[(Int, Double)].collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq === Seq(1, 2, 4))
    rows.sliding(2).foreach { case Array((p1, r1), (p2, r2)) =>
      assert(r2 >= r1, s"recall dropped from nprobe=$p1 ($r1) to nprobe=$p2 ($r2)")
    }
  }

  test("multi-probe bucketedTopK recall >= single-probe against brute force") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select("vec_id", "embedding")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "c_id").as[(Long, Long)].collect().toSet
    val brute = pairs(Similarity.bruteForceTopK(
      e.filter(col("vec_id") % 50 === 0), e, "vec_id", "embedding", k = 5))
    val single = pairs(Similarity.bucketedTopK(
      e, id => id % 50 === 0, "vec_id", "embedding", k = 5))
    val multi = pairs(Similarity.bucketedTopK(
      e, id => id % 50 === 0, "vec_id", "embedding", k = 5, probeRadius = 1))
    val rs = (single intersect brute).size
    val rm = (multi intersect brute).size
    assert(rm >= rs, s"multi-probe recall $rm < single-probe $rs")
    // the probed search space strictly contains the single-probe space, so
    // each query's best cosine can only improve or stay
    def best(df: org.apache.spark.sql.DataFrame) = df.filter(col("rank") === 1)
      .select("q_id", "cosine").as[(Long, Double)].collect().toMap
    val bs = best(Similarity.bucketedTopK(e, id => id % 50 === 0, "vec_id", "embedding", k = 5))
    val bm = best(Similarity.bucketedTopK(e, id => id % 50 === 0, "vec_id", "embedding", k = 5, probeRadius = 1))
    bs.foreach { case (q, c) => assert(bm(q) >= c, s"query $q got worse under multi-probe") }
  }

  test("IVF nprobe=3 recall >= nprobe=1 against brute force; per-query best never degrades") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select("vec_id", "embedding")
    val anchors = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("anchor_id"), col("embedding").as("anchor_vec"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "c_id").as[(Long, Long)].collect().toSet
    val brute = pairs(Similarity.bruteForceTopK(
      e.filter(col("vec_id") % 50 === 0), e, "vec_id", "embedding", k = 5))
    val one = Similarity.ivfTopK(e, anchors, id => id % 50 === 0, "vec_id", "embedding", k = 5)
    val three = Similarity.ivfTopK(e, anchors, id => id % 50 === 0, "vec_id", "embedding",
      k = 5, nprobe = 3)
    val r1 = (pairs(one) intersect brute).size
    val r3 = (pairs(three) intersect brute).size
    assert(r3 >= r1, s"nprobe=3 recall $r3 < nprobe=1 recall $r1")
    def best(df: org.apache.spark.sql.DataFrame) = df.filter(col("rank") === 1)
      .select("q_id", "cosine").as[(Long, Double)].collect().toMap
    val b1 = best(one); val b3 = best(three)
    b1.foreach { case (q, c) => assert(b3(q) >= c, s"query $q got worse under nprobe=3") }
  }

  test("m4's bucketed media ANN scores ARE brute force restricted to the bucket") {
    // the declared m4 rides the bucket join (linear at scale); brute force
    // stays the rerank primitive — this gate pins the equivalence: every
    // bucketed (query, candidate) cosine is bit-identical to the
    // brute-force cosine of that pair, so bucketing changes WHICH pairs
    // are scored, never their scores or relative order
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val pay = Multimodal.payloads(docs, "doc_id", "text")
    val emb = Multimodal.encodeEmbedding(spark, pay).toDF()
    val bucketed = Similarity.bucketedTopK(
        emb, id => id % 97 === 0, "doc_id", "emb", k = 5, dims = 8)
      .select("q_id", "c_id", "cosine").as[(Long, Long, Double)].collect()
    assert(bucketed.nonEmpty, "no same-bucket candidates at this SF")
    val brute = Similarity.bruteForceTopK(
        emb.filter(col("doc_id") % 97 === 0), emb, "doc_id", "emb",
        k = Int.MaxValue)
      .select("q_id", "c_id", "cosine").as[(Long, Long, Double)].collect()
      .map { case (q, c, cos) => (q, c) -> cos }.toMap
    bucketed.foreach { case (q, c, cos) =>
      assert(brute((q, c)) === cos, s"pair ($q, $c) scored differently")
    }
  }

  test("kmeansFit converges on separated clusters; wcss decreases monotonically") {
    val rnd = new scala.util.Random(5)
    val centers = Seq(
      Array.fill(8)(0.0f),
      Array.fill(8)(10.0f),
      Array.tabulate(8)(i => if (i % 2 == 0) -10.0f else 10.0f))
    val vecs = for { (c, ci) <- centers.zipWithIndex; j <- 0 until 20 }
      yield ((ci * 100 + j).toLong, c.map(x => x + rnd.nextGaussian().toFloat * 0.5f))
    val df = vecs.toDF("vec_id", "embedding")
    // seed anchors displaced from the true centers — the loop must walk home
    val init = centers.zipWithIndex
      .map { case (c, ci) => (ci.toLong, c.map(_ + 3.0f)) }
      .toDF("anchor_id", "anchor_vec")
    val res = Similarity.kmeansFit(df, init, "vec_id", "embedding",
      maxIters = 15, eps = 1e-3)
    assert(res.converged, "did not reach the movement threshold")
    res.history.map(_.wcss).sliding(2).foreach {
      case Seq(a, b) => assert(b <= a + 1e-6, s"wcss rose: $a -> $b")
      case _ =>
    }
    assert(res.history.forall(_.nCells == 3L))
    // recovered centroids sit on the true centers (noise sd 0.5, n=20 →
    // the mean is within ~0.35 of truth per dim with huge margin)
    val anchors = res.anchors.as[(Long, Array[Float])].collect().toMap
    centers.zipWithIndex.foreach { case (c, ci) =>
      val a = anchors(ci.toLong)
      val d = math.sqrt(c.zip(a).map { case (x, y) => (x - y) * (x - y) }.sum)
      assert(d < 1.0, s"anchor $ci ended $d away from its center")
    }
  }

  test("jacobiEigen solves a random symmetric matrix: A·v = λ·v, V orthonormal") {
    val rnd = new scala.util.Random(3)
    val n = 8
    val a = Array.fill(n, n)(0.0)
    for (i <- 0 until n; j <- i until n) {
      val x = rnd.nextDouble() * 4 - 2
      a(i)(j) = x; a(j)(i) = x
    }
    val (vals, vecs) = Similarity.jacobiEigen(a)
    for (k <- 0 until n; i <- 0 until n) {
      val av = (0 until n).map(j => a(i)(j) * vecs(j)(k)).sum
      assert(math.abs(av - vals(k) * vecs(i)(k)) < 1e-9,
        s"A·v != λ·v at eigenpair $k, row $i")
    }
    // columns orthonormal → the transpose is a valid rotation
    val rt = Array.tabulate(n, n)((i, j) => vecs(j)(i))
    assert(Similarity.orthogonalityDefect(rt) < 1e-10)
  }

  test("opqRotation balances the spectrum across subspaces (eigenvalue allocation)") {
    val n = 8
    // diagonal Gram with a steep ramp: natural contiguous tiling puts all
    // the variance in subspace 0
    val g = Array.tabulate(n, n)((i, j) => if (i == j) math.pow(2.0, n - i).toDouble else 0.0)
    val m = 4
    val r = Similarity.opqRotation(g, m)
    assert(Similarity.orthogonalityDefect(r) < 1e-10)
    // variance carried by output position p = Σᵢ R(p)(i)² · g(i)(i)
    def posVar(p: Int) = (0 until n).map(i => r(p)(i) * r(p)(i) * g(i)(i)).sum
    val subDim = n / m
    val subVars = (0 until m).map(s =>
      (s * subDim until (s + 1) * subDim).map(posVar).sum)
    val natural = (0 until m).map(s =>
      (s * subDim until (s + 1) * subDim).map(i => g(i)(i)).sum)
    assert(subVars.max / subVars.min < natural.max / natural.min / 4,
      s"allocation did not balance: rotated $subVars vs natural $natural")
  }

  test("rotateVec preserves pairwise geometry (orthogonal rotation, 6-dp rounding)") {
    val rnd = new scala.util.Random(17)
    val dims = 8
    val df = (0L until 12L).map(id =>
      (id, Array.fill(dims)((rnd.nextFloat() - 0.5f) * 3f))).toDF("vec_id", "v")
    // learn a rotation from this corpus's own Gram
    val rows = Similarity.gramUpper(df, "v").select("i", "j", "gram")
      .as[(Int, Int, Double)].collect().toSeq
    val r = Similarity.opqRotation(Similarity.gramToMatrix(rows, dims), m = 2)
    val rdf = df.withColumn("rv", Similarity.rotateVec("v", r))
    val a = rdf.select(col("vec_id").as("ia"), col("v").as("va"), col("rv").as("ra"))
    val b = rdf.select(col("vec_id").as("ib"), col("v").as("vb"), col("rv").as("rb"))
    val pairs = a.crossJoin(b).filter(col("ia") < col("ib"))
      .select(Similarity.dot("va", "vb").as("raw"),
        Similarity.dot("ra", "rb").as("rot"))
      .as[(Double, Double)].collect()
    pairs.foreach { case (raw, rot) =>
      // 6-dp component rounding perturbs a d-dim dot by O(d · |v| · 5e-7)
      assert(math.abs(raw - rot) < 1e-4, s"dot drifted: $raw vs $rot")
    }
  }
}

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("redactPii masks emails and phone numbers, leaves clean text alone") {
    val got = Seq(
      "reach me at jane.doe+x@mail.example.org or 555-123-4567 thanks",
      "no pii in this sentence at all")
      .toDF("t").select(TextAnalysis.redactPii(col("t")).as("r"))
      .as[String].collect()
    assert(got(0) === "reach me at [EMAIL] or [PHONE] thanks")
    assert(got(1) === "no pii in this sentence at all")
  }

  test("heavyHitters ranks by count desc then term asc, capped at k per group") {
    val hh = Seq(
      ("en", "b b b a a c"),
      ("en", "a"),
      ("de", "x y y")
    ).toDF("lang", "text")
    val got = TextAnalysis.heavyHitters(hh, "lang", "text", 2)
      .select("lang", "term", "n", "rnk").as[(String, String, Long, Int)]
      .collect().toSet
    // en: a=3 b=3 tie -> a first by term; c cut by k=2. de: y=2 x=1.
    assert(got === Set(
      ("en", "a", 3L, 1), ("en", "b", 3L, 2),
      ("de", "y", 2L, 1), ("de", "x", 1L, 2)))
  }

  test("classifierScore is the exact sum of per-token md5-derived weights") {
    def h32(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(d, 16)
    }
    def weight(t: String): Double =
      (h32("w" + (h32(t) % TextAnalysis.ClassifierDim)) % 2001 - 1000) / 1000.0
    val df = Seq("alpha beta", "alpha", "beta").toDF("text")
      .withColumn("ws", split(col("text"), " "))
      .select(col("text"), TextAnalysis.classifierScore("ws").as("score"))
    val got = df.as[(String, Double)].collect().toMap
    assert(got("alpha") === weight("alpha"))
    assert(got("beta") === weight("beta"))
    // seed is 0.0, so a two-token fold is bit-exactly the sum of singles
    assert(got("alpha beta") === weight("alpha") + weight("beta"))
    assert(math.abs(got("alpha")) <= 1.0)
  }

  test("markerCount counts non-overlapping occurrences") {
    val df = Seq(" the cat the dog the ").toDF("t")
    val n = df.select(TextAnalysis.markerCount(col("t"), " the ").as("n")).as[Int].head()
    assert(n === 3)
  }

  test("langPredict follows declaration order on ties and falls back to und") {
    val df = Seq(" aa bb ", " zz ").toDF("t")
    val scores = Seq(
      "en" -> TextAnalysis.markerCount(col("t"), " aa "),
      "de" -> TextAnalysis.markerCount(col("t"), " bb "))
    val got = df.select(TextAnalysis.langPredict(scores).as("l")).as[String].collect()
    assert(got(0) === "en") // tie 1-1 → first declared wins
    assert(got(1) === "und")
  }

  test("fingerprint is order-sensitive where set signatures are not") {
    val df = Seq("alpha beta gamma", "gamma beta alpha").toDF("t")
      .withColumn("ws", split(col("t"), " "))
    val fps = df.select(TextAnalysis.fingerprint("ws").as("f")).as[Long].collect()
    assert(fps(0) !== fps(1))
    assert(fps.forall(f => f >= 0 && f < 1000000007L))
  }

  test("hash32 stays in unsigned-32-bit range and is deterministic") {
    val df = Seq("spark", "spark", "duck").toDF("w")
    val hs = df.select(TextAnalysis.hash32(col("w")).as("h")).as[Long].collect()
    assert(hs(0) === hs(1))
    assert(hs(0) !== hs(2))
    assert(hs.forall(h => h >= 0L && h <= 0xFFFFFFFFL))
  }

  test("shinglesExpr produces size(ws)-n+1 n-grams in order") {
    val df = Seq("a b c d").toDF("t").withColumn("ws", split(col("t"), " "))
    val got = df.select(TextAnalysis.shinglesExpr("ws", 3).as("sh"))
      .as[Seq[String]].head()
    assert(got === Seq("a b c", "b c d"))
  }
}

class LmSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.Lm

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  test("mergeCounts: fit(A) + counts(B) equals fit(A ∪ B) exactly") {
    val a = docs((1L, "the cat sat on the mat"), (2L, "the dog sat"))
    val b = docs((3L, "the cat ran"), (4L, "a cat sat on a rug"))
    val merged = Lm.mergeCounts(Lm.bigramCounts(a), Lm.bigramCounts(b))
      .as[(String, String, Long)].collect().toSet
    val refit = Lm.bigramCounts(a.union(b))
      .as[(String, String, Long)].collect().toSet
    assert(merged === refit)
    // and the merged model SCORES identically to the refit one
    val probe = docs((9L, "the cat sat on a mat"), (10L, "zz yy"))
    def score(m: org.apache.spark.sql.DataFrame) =
      Lm.heldoutScored(m, probe).as[(Long, Int, Int, Double)].collect().toSet
    assert(score(Lm.mergeCounts(Lm.bigramCounts(a), Lm.bigramCounts(b)))
      === score(Lm.bigramCounts(a.union(b))))
  }

  test("mergeCounts with negated counts unlearns a batch exactly (x44's takedown rule)") {
    val keep = docs((1L, "the cat sat on the mat"), (2L, "the dog sat"))
    val gone = docs((3L, "the cat ran far"), (4L, "a cat sat on a rug"))
    val full = Lm.bigramCounts(keep.union(gone))
    val unlearned = Lm.mergeCounts(full,
        Lm.bigramCounts(gone).withColumn("n_bg", -col("n_bg")))
      .filter(col("n_bg") =!= 0)
    val refit = Lm.bigramCounts(keep).as[(String, String, Long)].collect().toSet
    assert(unlearned.as[(String, String, Long)].collect().toSet === refit)
    // a bigram seen ONLY in the removed docs ("cat ran") must vanish, not
    // linger as a zero row — zero-count rows would distort N1+ statistics
    assert(!refit.exists(r => r._1 == "cat" && r._2 == "ran"))
    // and the unlearned model scores like the refit one (KN stats agree)
    val probe = docs((9L, "the cat sat on a mat"))
    def score(m: org.apache.spark.sql.DataFrame) =
      Lm.heldoutScored(m, probe).as[(Long, Int, Int, Double)].collect().toSet
    assert(score(Lm.mergeCounts(full,
        Lm.bigramCounts(gone).withColumn("n_bg", -col("n_bg")))
      .filter(col("n_bg") =!= 0)) === score(Lm.bigramCounts(keep)))
  }

  test("model maintenance closes the loop: the merge lands back through the Store for tomorrow") {
    import org.apache.spark.sql.functions.{col, hash, lit, pmod}
    // the x40 lifecycle's write-back half: yesterday's stored model +
    // today's kept-batch counts merge and land via partition overwrite on
    // the SAME prev-hash sharding, so tomorrow's scorer reads the updated
    // artifact — and a no-op day (empty batch) leaves the table unchanged
    val store = graft.sources.Store(spark, tmpDir("lm_maint") + "/model", "part")
    def shard(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("part", pmod(hash(col("prev")), lit(4)))
    val base = docs((1L, "the cat sat on the mat"), (2L, "the dog sat"))
    store.rebuild(Iterator(shard(Lm.bigramCounts(base))))
    val batch = docs((3L, "the cat ran"), (4L, "a cat sat on a rug"))
    val merged = Lm.mergeCounts(store.read.drop("part"), Lm.bigramCounts(batch))
    store.overwritePartitions(shard(merged))
    val landed = store.read.drop("part")
      .as[(String, String, Long)].collect().toSet
    assert(landed === Lm.bigramCounts(base.union(batch))
      .as[(String, String, Long)].collect().toSet,
      "the landed artifact must equal the from-scratch refit")
    // idempotent no-op day: merging an empty batch and re-landing changes nothing
    val day2 = Lm.mergeCounts(store.read.drop("part"),
      Lm.bigramCounts(docs()).select(col("prev"), col("cur"), col("n_bg")))
    store.overwritePartitions(shard(day2))
    assert(store.read.drop("part").as[(String, String, Long)].collect().toSet === landed)
  }

  test("scoring the training corpus through the held-out path has zero unseen bigrams") {
    // every bigram of the train set is in the model, so the left joins
    // all hit and the formula reduces to the within-corpus KN form
    val train = docs(
      (1L, "the cat sat on the mat"),
      (2L, "the dog sat on the rug"),
      (3L, "a cat and a dog"))
    val scored = Lm.heldoutScored(Lm.bigramCounts(train), train)
      .as[(Long, Int, Int, Double)].collect()
    assert(scored.length === 3)
    assert(scored.forall(_._3 === 0), s"train-on-train must have n_unseen 0: ${scored.toSeq}")
    assert(scored.forall(r => r._4 < 0.0), "log-probs are negative")
  }
}

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("payloads + extractFeatures round-trip the documented stub exactly") {
    val docs = Seq((7L, "hello world"), (8L, "graft")).toDF("doc_id", "text")
    val pay = Multimodal.payloads(docs, "doc_id", "text")
    assert(pay.schema("payload").dataType.typeName === "binary")
    val feats = Multimodal.extractFeatures(spark, pay).collect()
      .map(f => f.doc_id -> f).toMap
    val cs = Multimodal.checksum("hello world".getBytes("UTF-8"))
    assert(feats(7L).n_bytes === 11 && feats(7L).checksum === cs)
    assert(feats(7L).width === (cs % 640 + 64).toInt)
    assert(feats(7L).height === ((cs / 640) % 480 + 48).toInt)
    assert(feats(8L).n_bytes === 5)
    val meta = pay.filter(col("doc_id") === 7).select(col("meta.head")).as[String].head()
    assert(meta === "hello wo")
  }

  test("resizePlan contain-fits into the box and never upscales") {
    val feats = Seq((1L, 640, 480), (2L, 100, 50), (3L, 120, 480))
      .toDF("doc_id", "width", "height")
    val got = Multimodal.resizePlan(feats, box = 224)
      .select("doc_id", "out_w", "out_h").as[(Long, Int, Int)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(got(1L) === ((224, 168)))  // 640x480 * (224/640)
    assert(got(2L) === ((100, 50)))   // already inside the box: untouched
    assert(got(3L) === ((56, 224)))   // portrait: height binds
  }

  test("frameSample yields n evenly-strided checksummed windows per payload") {
    val docs = Seq((1L, "abcdefghijklmnopqrstuvwxyz012345")).toDF("doc_id", "text") // 32 bytes
    val pay = Multimodal.payloads(docs, "doc_id", "text")
    val frames = Multimodal.frameSample(spark, pay, nFrames = 3, frameLen = 8)
      .collect().sortBy(_.frame_idx)
    assert(frames.map(_.offset).toSeq === Seq(0, 10, 20)) // stride = 32/3 = 10
    assert(frames.forall(_.n_bytes === 8))
    val want = Multimodal.checksum("klmnopqr".getBytes("UTF-8")) // bytes 10..17
    assert(frames(1).frame_checksum === want)
  }

  test("spanDupStats flags cross-doc AND within-doc repeated spans, counts all windows") {
    val docs = Seq(
      (1L, "x y z p q r"),     // shares "x y z" with doc 2
      (2L, "x y z a b c"),
      (3L, "u v w t s m"),     // fully unique
      (4L, "m m m m m"),       // every 3-window is the same span, repeated 3x
      (5L, "a b")              // shorter than k: no windows, absent from output
    ).toDF("doc_id", "text")
    val got = Dedup.spanDupStats(docs, "doc_id", "text", k = 3)
      .select("doc_id", "n_windows", "n_dup", "dup_frac")
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(got(1L) === ((4L, 1L, 0.25)))
    assert(got(2L) === ((4L, 1L, 0.25)))
    assert(got(3L) === ((4L, 0L, 0.0)))
    assert(got(4L) === ((3L, 3L, 1.0))) // within-doc repetition is duplication too
    assert(!got.contains(5L))
  }

  test("gopherRepetition matches hand-computed fractions and integer-exact verdict") {
    // doc 2: 30 distinct 3-char words (119 chars) — every n-gram unique,
    // so every top fraction is one gram's own chars and all dups are 0
    val unique30 = (1 to 30).map(i => f"w$i%02d").mkString(" ")
    val docs = Seq(
      (1L, "a b a b a b"), // 11 chars, heavy repetition
      (2L, unique30),
      (3L, "x")            // <2 words: absent
    ).toDF("doc_id", "text")
    val got = TextAnalysis.gopherRepetition(docs, "doc_id", "text")
      .select("doc_id", "top2_frac", "top3_frac", "dup5_frac", "keep")
      .as[(Long, Double, Double, Double, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    // doc 1: 2-grams = [a b]x3, [b a]x2 → top covers 3·3=9 of 11 chars
    // (9·5 > 11 → dropped); 3-grams = [a b a]x2, [b a b]x2 → 2·5=10 of 11;
    // 5-grams both occur once → dup5 = 0
    assert(got(1L) === ((9.0 / 11, 10.0 / 11, 0.0, false)))
    // doc 2: top 2-gram covers 7 of 119 chars (5.9% < 20%) → kept
    assert(got(2L) === ((7.0 / 119, 11.0 / 119, 0.0, true)))
    assert(!got.contains(3L))
  }

  test("gopherRepetition top gram ranks by occurrence count, not character coverage") {
    // 2-grams: [a b]x3 (covers 9 chars) vs [xxxxx yyyyy]x2 (covers 22) —
    // the published rule ranks by FREQUENCY, so the c=3 gram must win
    // even though the longer c=2 gram covers more characters
    val docs = Seq((1L, "a b a b a b xxxxx yyyyy xxxxx yyyyy"))
      .toDF("doc_id", "text") // 35 chars
    val top2 = TextAnalysis.gopherRepetition(docs, "doc_id", "text")
      .select("top2_frac").as[Double].collect().head
    assert(top2 === 9.0 / 35, "most frequent 2-gram [a b]x3 covers 9 chars")
    val top2r = TextAnalysis.gopherRepetitionRolling(docs, "doc_id", "text")
      .select("top2_frac").as[Double].collect().head
    assert(top2r === 9.0 / 35)
  }

  test("gopherKeepExpr (stateless gate) equals the rolling panel's keep verdict") {
    val unique30g = (1 to 30).map(i => f"w$i%02d").mkString(" ")
    val docs = Seq(
      (1L, "a b a b a b"),                       // repetition → drop
      (2L, unique30g),                           // clean → keep
      (3L, "m m m m m m m m m m m m"),           // degenerate → drop
      (4L, "x y"),                               // minimal 2-word doc
      (5L, "x"),                                 // <2 words: no panel row → gate false
      (6L, "a b a b a b xxxxx yyyyy xxxxx yyyyy") // count-vs-coverage case
    ).toDF("doc_id", "text")
    val exprKeep = docs
      .select(col("doc_id"), TextAnalysis.gopherKeepExpr(col("text")).as("k"))
      .as[(Long, Boolean)].collect().toMap
    val panelKeep = TextAnalysis.gopherRepetitionRolling(docs, "doc_id", "text")
      .select("doc_id", "keep").as[(Long, Boolean)].collect().toMap
    for (id <- 1L to 6L)
      assert(exprKeep(id) === panelKeep.getOrElse(id, false), s"doc $id")
  }

  test("spanKeepExpr (stateless gate) equals spanDupStats' verdict against a reference bloom") {
    import graft.operators.Dedup
    val ref = Seq((100L, "r1 r2 r3 r4 r5 r6")).toDF("doc_id", "text")
    // arrivals share no spans with EACH OTHER (distinct vocab per doc), so
    // corpus-total >= 2 over ref ∪ arrivals decomposes exactly into
    // within-doc repetition OR reference membership — the stream gate's form
    val arrivals = Seq(
      (1L, "a1 a2 a3 a4 a5 a6 a7 a8"),          // clean → keep
      (2L, "r1 r2 r3 r4 r5 x1"),                // mostly reference spans → drop
      (3L, "b b b b b b b b"),                  // all within-doc dups → drop
      (4L, "c1 c2"),                            // < k words: no windows → drop
      (5L, (Seq("d1", "d2", "d3", "d1", "d2", "d3") ++
        (1 to 24).map(i => f"u$i%02d")).mkString(" ")) // small dup frac → keep
    ).toDF("doc_id", "text")
    val bloom = Dedup.spanFpBloom(ref, "doc_id", "text", k = 3, bitsPerItem = 64L)
    assert(bloom.isDefined)
    val exprKeep = arrivals
      .select(col("doc_id"), Dedup.spanKeepExpr(col("text"), 3, bloom).as("k"))
      .as[(Long, Boolean)].collect().toMap
    val batchKeep = Dedup.spanDupStats(ref.union(arrivals), "doc_id", "text",
        k = 3, rolling = true)
      .select(col("doc_id"), (col("n_dup") * 2 <= col("n_windows")).as("k"))
      .as[(Long, Boolean)].collect().toMap
    for (id <- 1L to 5L)
      assert(exprKeep(id) === batchKeep.getOrElse(id, false), s"doc $id")
    assert(exprKeep(1L) && !exprKeep(2L) && !exprKeep(3L) && !exprKeep(4L) && exprKeep(5L))
    // no reference: verdict is pure within-doc duplication
    val noRef = arrivals
      .select(col("doc_id"), Dedup.spanKeepExpr(col("text"), 3, None).as("k"))
      .as[(Long, Boolean)].collect().toMap
    assert(noRef(2L), "without the reference bloom, doc 2 has no dup spans")
  }

  test("spanScrub merges overlapping dup windows into islands and rebuilds the rest") {
    import graft.operators.Dedup
    val docs = Seq(
      (1L, "s1 s2 s3 a1 a2 a3 a4"),          // shared 3-gram at pos 1
      (2L, "b1 s1 s2 s3 b2 b3 b4"),          // same 3-gram at pos 2
      (3L, "c0 s5 s6 s7 s8 c1 c2 c3"),       // shared 4-run → 2 overlapping windows
      (4L, "s5 s6 s7 s8 d1 d2 d3"),          //   ... merge into ONE island each
      (5L, "e1 e2 e3 x e1 e2 e3"),           // within-doc repeat → 2 islands
      (6L, "f1 f2"),                          // < k words: untouched
      (7L, "g1  g2 g3 g4")                    // clean, double space: ORIGINAL string survives
    ).toDF("doc_id", "text")
    val got = Dedup.spanScrub(docs, "doc_id", "text", k = 3)
      .select("doc_id", "n_dup_windows", "n_spans_removed", "n_removed_tokens", "clean_text")
      .as[(Long, Int, Int, Int, String)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4, r._5)).toMap
    assert(got(1L) === ((1, 1, 3, "a1 a2 a3 a4")))
    assert(got(2L) === ((1, 1, 3, "b1 b2 b3 b4")))
    assert(got(3L) === ((2, 1, 4, "c0 c1 c2 c3")))
    assert(got(4L) === ((2, 1, 4, "d1 d2 d3")))
    assert(got(5L) === ((2, 2, 6, "x")))
    assert(got(6L) === ((0, 0, 0, "f1 f2")))
    assert(got(7L) === ((0, 0, 0, "g1  g2 g3 g4")))
  }

  test("spanScrub rolling rung matches the md5 rung row-for-row") {
    import graft.operators.Dedup
    val docs = Seq(
      (1L, "s1 s2 s3 a1 a2 a3 a4"),
      (2L, "b1 s1 s2 s3 b2 b3 b4"),
      (3L, "c0 s5 s6 s7 s8 c1 c2 c3"),
      (4L, "s5 s6 s7 s8 d1 d2 d3"),
      (5L, "e1 e2 e3 x e1 e2 e3"),
      (6L, "f1 f2"),
      (7L, (1 to 30).map(i => f"w$i%02d").mkString(" "))
    ).toDF("doc_id", "text")
    val md5Rows = Dedup.spanScrub(docs, "doc_id", "text", k = 3)
      .orderBy("doc_id").collect().toSeq
    val rollRows = Dedup.spanScrub(docs, "doc_id", "text", k = 3, rolling = true)
      .orderBy("doc_id").collect().toSeq
    assert(md5Rows === rollRows)
  }

  test("spanScrubExpr (stateless) equals spanScrub's cleaned text against a reference bloom") {
    import graft.operators.Dedup
    val ref = Seq((100L, "r1 r2 r3 r4 r5 r6")).toDF("doc_id", "text")
    // arrivals share no spans with EACH OTHER (distinct vocab per doc), so
    // corpus-total >= 2 over ref ∪ arrivals decomposes exactly into
    // within-doc repetition OR reference membership — the stream gate's form
    val arrivals = Seq(
      (1L, "a1 a2 a3 a4 a5 a6 a7 a8"),          // clean → untouched
      (2L, "r1 r2 r3 r4 r5 x1"),                // reference spans → scrubbed
      (3L, "b b b b b b b b"),                  // all within-doc dups → emptied
      (4L, "c1 c2"),                            // < k words → untouched
      (5L, (Seq("d1", "d2", "d3", "d1", "d2", "d3") ++
        (1 to 24).map(i => f"u$i%02d")).mkString(" "))
    ).toDF("doc_id", "text")
    // generously sized filter: at 4 items × 64 bits Spark's BloomFilterImpl
    // measurably false-positives (~8% observed) — FPs only ever scrub MORE
    // (the documented conservative direction), but exact-string parity
    // needs an FP-free run, so size for one
    val bloom = Dedup.spanFpBloom(ref, "doc_id", "text", k = 3,
      expectedItems = Some(4096L), bitsPerItem = 16L)
    val exprClean = arrivals
      .select(col("doc_id"), Dedup.spanScrubExpr(col("text"), 3, bloom).as("t"))
      .as[(Long, String)].collect().toMap
    val batchClean = Dedup.spanScrub(ref.union(arrivals), "doc_id", "text", k = 3)
      .select(col("doc_id"), col("clean_text"))
      .as[(Long, String)].collect().toMap
    for (id <- 1L to 5L)
      assert(exprClean(id) === batchClean(id), s"doc $id")
    assert(exprClean(1L) === "a1 a2 a3 a4 a5 a6 a7 a8")
    assert(exprClean(2L) === "x1")   // r1..r5 windows all hit the reference
    assert(exprClean(3L) === "")
    assert(exprClean(4L) === "c1 c2")
  }

  test("stateless gates match batch operators on randomized repetitive docs") {
    // deterministic-seed fuzz over a tiny vocab (repetition-dense by
    // construction): the nested-HOF gates must agree with the batch
    // operators on every doc, not just the hand-picked cases
    val rnd = new scala.util.Random(1234)
    // two pools: repetition-dense (tiny vocab) and corpus-like (wide
    // vocab, ~30 words) so both verdicts appear
    val dirty = Vector("aa", "bb", "cc", "dd", "longword")
    val clean = (1 to 40).map(i => f"w$i%02d").toVector
    val docs = (1L to 30L).map { id =>
      val (vocab, n) =
        if (id % 2 == 0) (dirty, 2 + rnd.nextInt(30))
        else (clean, 24 + rnd.nextInt(12))
      (id, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }.toDF("doc_id", "text")
    val gotG = docs
      .select(col("doc_id"), TextAnalysis.gopherKeepExpr(col("text")).as("k"))
      .as[(Long, Boolean)].collect().toMap
    val wantG = TextAnalysis.gopherRepetitionRolling(docs, "doc_id", "text")
      .select("doc_id", "keep").as[(Long, Boolean)].collect().toMap
    for (id <- 1L to 30L)
      assert(gotG(id) === wantG.getOrElse(id, false), s"gopher doc $id")
    assert(gotG.values.exists(identity) && gotG.values.exists(!_),
      "fuzz corpus must exercise both verdicts")
    // span gate (no reference): per-doc equality against spanDupStats run
    // on each doc ALONE (single-doc corpus ⇒ corpus-total == within-doc)
    val gotS = docs
      .select(col("doc_id"), Dedup.spanKeepExpr(col("text"), 3, None).as("k"))
      .as[(Long, Boolean)].collect().toMap
    val rows = docs.as[(Long, String)].collect()
    for ((id, text) <- rows) {
      val one = Seq((id, text)).toDF("doc_id", "text")
      val want = Dedup.spanDupStats(one, "doc_id", "text", k = 3, rolling = true)
        .select(col("doc_id"), (col("n_dup") * 2 <= col("n_windows")).as("k"))
        .as[(Long, Boolean)].collect().toMap
      assert(gotS(id) === want.getOrElse(id, false), s"span doc $id: '$text'")
    }
    // span SCRUB: stateless rebuild == batch rebuild on each doc alone
    // (single-doc corpus ⇒ corpus-total == within-doc repetition)
    val gotC = docs
      .select(col("doc_id"), Dedup.spanScrubExpr(col("text"), 3, None).as("t"))
      .as[(Long, String)].collect().toMap
    for ((id, text) <- rows) {
      val one = Seq((id, text)).toDF("doc_id", "text")
      val want = Dedup.spanScrub(one, "doc_id", "text", k = 3)
        .select(col("doc_id"), col("clean_text"))
        .as[(Long, String)].collect().toMap
      assert(gotC(id) === want(id), s"scrub doc $id: '$text'")
    }
  }

  test("gopherRepetitionRolling matches the exact-gram panel row-for-row") {
    val unique30b = (1 to 30).map(i => f"w$i%02d").mkString(" ")
    val docs = Seq(
      (1L, "a b a b a b"), (2L, unique30b), (3L, "m m m m m m m m m m m m"),
      (4L, "x y")).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "top2_frac", "top3_frac", "top4_frac",
          "dup5_frac", "dup10_frac", "keep")
        .as[(Long, Double, Double, Double, Double, Double, Boolean)]
        .collect().sortBy(_._1).toSeq
    assert(rows(TextAnalysis.gopherRepetitionRolling(docs, "doc_id", "text"))
      === rows(TextAnalysis.gopherRepetition(docs, "doc_id", "text")))
  }

  test("spanDupStats rolling rung matches the md5 rung row-for-row") {
    // same docs as the md5 test: the fingerprint SPACE differs (31-bit
    // Rabin–Karp vs md5 string) but span identity — and therefore every
    // count — must agree exactly on collision-free data
    val docs = Seq(
      (1L, "x y z p q r"), (2L, "x y z a b c"), (3L, "u v w t s m"),
      (4L, "m m m m m"), (5L, "a b")
    ).toDF("doc_id", "text")
    def rows(rolling: Boolean) =
      Dedup.spanDupStats(docs, "doc_id", "text", k = 3, rolling = rolling)
        .select("doc_id", "n_windows", "n_dup", "dup_frac")
        .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(rows(rolling = true) === rows(rolling = false))
  }

  test("spanDecontaminate scores verbatim benchmark spans, ignores novel text") {
    val corpus = Seq(
      (1L, "q1 q2 q3 a b c"),   // leading 3-span is verbatim benchmark
      (2L, "a b c d e f"),      // clean
      (3L, "q1 q2 q3 q4 x y")   // two of four windows hit ("q1 q2 q3", "q2 q3 q4")
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "q1 q2 q3 q4")).toDF("doc_id", "text")
    val got = Dedup.spanDecontaminate(corpus, bench, "doc_id", "text", k = 3)
      .select("doc_id", "n_windows", "n_contam", "contam_frac")
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(got(1L) === ((4L, 1L, 0.25)))
    assert(got(2L) === ((4L, 0L, 0.0)))
    assert(got(3L) === ((4L, 2L, 0.5)))
  }

  test("dsir + temperature-mix declared queries: shares normalize, resample bounded") {
    val mix = SparkEntry.queries("z22_temperature_mix")(spark, "/root/testdata/sf0.001")
      .as[(String, Long, Long, Double, Double)].collect()
    assert(math.abs(mix.map(_._4).sum - 1.0) < 1e-9) // shares sum to 1
    assert(mix.forall(r => r._5 > 0))
    // temperature flattening: min/max share ratio must exceed min/max token ratio
    val tokMin = mix.map(_._3).min.toDouble / mix.map(_._3).max
    val shareMin = mix.map(_._4).min / mix.map(_._4).max
    assert(shareMin > tokMin, "sqrt temperature must flatten the distribution")
    val dsir = SparkEntry.queries("z21_dsir_sample")(spark, "/root/testdata/sf0.001")
      .as[(String, Long, Long, Double)].collect()
    assert(dsir.forall(r => r._3 >= 0 && r._3 <= r._2))
    // the in-domain source must score itself above the corpus mean of means
    val bySrc = dsir.map(r => r._1 -> r._4).toMap
    assert(bySrc("src0") > dsir.map(_._4).sum / dsir.length,
      "src0 should look most in-domain under its own LM")
  }

  test("stupid-backoff LM: train docs never back off, held-out docs do; scores negative") {
    val rows = SparkEntry.queries("z23_backoff_lm")(spark, "/root/testdata/sf0.001")
      .as[(Long, Int, Long, Double, Boolean)].collect()
    val (held, train) = rows.partition(_._5)
    assert(train.forall(_._3 === 0L), "the LM saw every train trigram — no backoff there")
    assert(held.map(_._3).sum > 0L, "held-out docs must exercise the backoff path")
    assert(rows.forall(r => r._4 < 0 && !r._4.isNaN && !r._4.isInfinite))
    // backing off costs ln(0.4) plus a weaker model: held-out mean must be lower
    val mean = (xs: Array[Double]) => xs.sum / xs.length
    assert(mean(held.map(_._4)) < mean(train.map(_._4)))
  }

  test("bm25 declared query: descending scores, bounded hits, deterministic reruns") {
    val run = () => SparkEntry.queries("z20_bm25")(spark, "/root/testdata/sf0.001")
      .as[(Long, Int, Double)].collect()
    val rows = run()
    assert(rows.length === 20)
    val scores = rows.map(_._3)
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    assert(rows.forall(r => r._2 >= 1 && r._2 <= 4 && r._3 > 0 && !r._3.isNaN))
    assert(run().toSeq === rows.toSeq) // shuffle-order-independent by construction
  }

  test("pqEncode picks the nearest sub-anchor per subspace; pqTopK ranks by ADC sum") {
    val vecs = Seq(
      (0L, Array(0.1f, 0.1f, 9f, 9f)),    // near a0 in sub0, a1 in sub1
      (1L, Array(0.2f, 0.2f, 9f, 9f)),    // the close candidate
      (2L, Array(10f, 10f, 0f, 0f))       // the far candidate (opposite codes)
    ).toDF("vec_id", "embedding")
    val codebook = Seq(
      (0L, Array(0f, 0f, 0f, 0f)),
      (1L, Array(10f, 10f, 10f, 10f))
    ).toDF("anchor_id", "anchor_vec")
    val codes = Similarity.pqEncode(vecs, codebook, "vec_id", "embedding", m = 2, subDim = 2, dims = 4)
      .as[(Long, Int, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(codes((0L, 0)) === 0L && codes((0L, 1)) === 1L)
    assert(codes((2L, 0)) === 1L && codes((2L, 1)) === 0L)
    val top = Similarity.pqTopK(codes = Similarity.pqEncode(vecs, codebook, "vec_id", "embedding", 2, 2, dims = 4),
      codebook = codebook, queries = vecs.filter(col("vec_id") === 0L),
      idCol = "vec_id", vecCol = "embedding", m = 2, subDim = 2, k = 2, dims = 4)
      .orderBy("rank").as[(Long, Int, Long, Double)].collect()
    assert(top.map(_._3).toSeq === Seq(1L, 2L)) // same-code candidate first
    // ADC by hand for candidate 1 (codes a0, a1): d(q_sub0, a0) + d(q_sub1, a1)
    val want = (0.1 * 0.1 + 0.1 * 0.1) + ((9.0 - 10) * (9.0 - 10) + (9.0 - 10) * (9.0 - 10))
    assert(math.abs(top(0)._4 - want) < 1e-6)
  }
}
