package graft.operators

import graft.Housekeeping
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}

/** Deduplication operators for training-data pipelines, designed shuffle-
  * first: every stage is expressible as explode → hash-partition → aggregate,
  * so each scales horizontally. At 100 TB the flow is:
  *
  *   exact:    one shuffle on the content hash (map-side combine first);
  *   minhash:  shingle explode (map side) → one shuffle keyed by doc for
  *             signatures → one shuffle keyed by (band, key) for the LSH
  *             bucket join — candidate pairs only, never O(n²);
  *   simhash:  same shape, 64 partial-sum aggregates in one pass;
  *   n-gram:   inverted-index self-join on shingle (blocked), never a
  *             cartesian product.
  */
object Dedup {

  /** Exact dedup by content hash: survivor = min id per hash.
    * One shuffle; with map-side combine the traffic is one row per distinct
    * hash per partition. */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), md5(col(textCol)).as("content_hash"))
      .groupBy("content_hash")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Chunk-level exact dedup — line dedup generalized to fixed word windows
    * (the reference pipeline for this is CCNet-style repeated-line removal;
    * cf. `/root/reference` has no analog — this is part of the 100-TB
    * extension layer): every chunk duplicated anywhere in the corpus keeps
    * only its first occurrence in (id, chunk_id) order; later copies are
    * flagged for removal.
    *
    * Two bounded stages, both skew-proof: a groupBy on the chunk hash whose
    * `min(struct)` is map-side combinable (a boilerplate chunk duplicated a
    * million times still reduces to one row per input partition before the
    * shuffle), and an equi-join of the winner relation — one row per
    * DISTINCT chunk — back onto the chunks. No windows over raw data, no
    * per-key state proportional to duplication count.
    *
    * Output: the chunk relation (id, chunk_id, n_tokens, chunk_text, chash)
    * plus a `kept` flag; callers aggregate or filter from there. */
  def chunkDedup(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val chunks = TextAnalysis.chunkWords(docs, idCol, textCol, k)
      .withColumn("chash", md5(col("chunk_text")))
    val winners = chunks
      .groupBy("chash")
      .agg(min(struct(col(idCol).as("id"), col("chunk_id").as("cid"))).as("__w"))
    chunks.join(winners, Seq("chash"))
      .withColumn("kept",
        col("__w.id") === col(idCol) && col("__w.cid") === col("chunk_id"))
      .drop("__w")
  }

  /** Minhash parameters: k universal hash functions (a_i*h + b_i) mod p over
    * the 32-bit word hash. Fixed constants keep runs reproducible. */
  val MinhashP: Long = 2147483647L
  val MinhashA: Seq[Long] = Seq(2971L, 5843L, 7559L, 9973L, 12007L, 14593L, 17881L, 19997L)
  val MinhashB: Seq[Long] = Seq(1571L, 3079L, 4517L, 6763L, 8429L, 10501L, 12553L, 14923L)

  /** Minhash signature over a (id, shingle-hash) exploded relation.
    * Input: columns (idCol, "hv"); output: idCol, mh0..mh{k-1}. */
  def minhashSignature(hashed: DataFrame, idCol: String, k: Int = 8): DataFrame = {
    require(k <= MinhashA.length, s"at most ${MinhashA.length} hash functions configured")
    val aggs = (0 until k).map { i =>
      min((col("hv") * MinhashA(i) + MinhashB(i)) % MinhashP).as(s"mh$i")
    }
    hashed.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** Unpivot a signature frame into the (id, band, key) band relation —
    * the shared first step of every LSH candidate/bloom path. */
  private def bands(sig: DataFrame, idCol: String, k: Int): DataFrame =
    sig.unpivot(
      Array(col(idCol)),
      (0 until k).map(i => col(s"mh$i")).toArray,
      "band", "key")

  /** The hot-bucket cap as a semi-join: keep only rows of (band, key)
    * buckets at or under `cap` members — ONE shared implementation so the
    * self-join and incremental paths can never diverge on cap semantics. */
  private def capBuckets(banded: DataFrame, cap: Long): DataFrame = {
    val sizes = banded.groupBy("band", "key")
      .agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= cap)
      .drop("__df")
    banded.join(sizes, Seq("band", "key"), "left_semi")
  }

  /** Self-join an (id, band, key) relation into distinct (a < b) candidate
    * pairs. One shuffle on the band key; bucket sizes bound the join
    * fan-out. Null keys never pair (join-on-null semantics).
    *
    * `maxBucket` is the hot-bucket knob (x4's stop-shingle cap, LSH form):
    * a bucket of df docs contributes df² join rows, and one boilerplate
    * band key can dominate the whole stage — dropping buckets over the cap
    * bounds the worst case while barely touching recall (a band shared by
    * thousands of docs carries no near-dup signal). Costs one extra
    * aggregation over the banded relation when set. */
  private def pairJoin(banded: DataFrame, idCol: String,
                       maxBucket: Option[Long]): DataFrame = {
    val kept = maxBucket.fold(banded)(capBuckets(banded, _))
    val a = kept.select(col(idCol).as("doc_a"), col("band"), col("key"))
    val b = kept.select(col(idCol).as("doc_b"), col("band"), col("key"))
    a.join(b, Seq("band", "key"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .distinct()
  }

  /** LSH candidate pairs from a signature frame: unpivot bands → self-join
    * on (band, key) → distinct (a < b) pairs. */
  def lshCandidates(sig: DataFrame, idCol: String, k: Int = 8,
                    maxBucket: Option[Long] = None): DataFrame =
    pairJoin(bands(sig, idCol, k), idCol, maxBucket)

  /** Signature-based Jaccard ESTIMATE for candidate pairs: the fraction of
    * matching minhash slots is an unbiased estimator of the pair's shingle
    * Jaccard (each slot matches with probability J). This is the cheap
    * verify stage between LSH candidates and an exact x4-style check — at
    * corpus scale it reads k longs per doc from the signature table
    * instead of re-shingling text. Two hash joins on the pair ids; the
    * estimate itself is a pure row expression (one int/int division —
    * deterministic across engines). Input `sig`: (idCol, mh0..mh{k-1}). */
  def jaccardEstimate(sig: DataFrame, pairs: DataFrame, idCol: String = "doc_id",
                      k: Int = 8): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val a = sig.select(col(idCol).as("doc_a") +:
      (0 until k).map(i => col(s"mh$i").as(s"__a$i")): _*)
    val b = sig.select(col(idCol).as("doc_b") +:
      (0 until k).map(i => col(s"mh$i").as(s"__b$i")): _*)
    val nMatch = (0 until k)
      .map(i => when(col(s"__a$i") === col(s"__b$i"), 1).otherwise(0))
      .reduce(_ + _)
    pairs.join(a, Seq("doc_a")).join(b, Seq("doc_b"))
      .withColumn("j_est", nMatch / lit(k))
      .select("doc_a", "doc_b", "j_est")
  }

  /** Row-wise minhash signature over a shingle-hash ARRAY column — the
    * streaming-safe form of [[minhashSignature]]: pure per-row HOF
    * expressions (min over a multiset equals min over its set, so no
    * distinct needed), zero shuffle, zero streaming state. Batch parity
    * with the explode+groupBy form is spec-asserted. Callers alias the
    * returned columns (mh0..mh{k-1} by convention). */
  def minhashSignatureExprs(hvArr: Column, k: Int = 8): Seq[Column] = {
    require(k <= MinhashA.length, s"at most ${MinhashA.length} hash functions configured")
    (0 until k).map(i =>
      array_min(transform(hvArr, h => (h * MinhashA(i) + MinhashB(i)) % MinhashP)))
  }

  /** Serialized Bloom filter over a signature frame's LSH band keys
    * ("mh$i:<value>" strings, xxhash64'd) — the corpus side of the
    * streaming near-dup gate: membership of ANY band key ⇒ probable LSH
    * collision with the corpus. By default the filter is SIZED FROM THE
    * DATA: one count of the band relation (k × docs items, NOT docs — a
    * docs-count guess undercounts 8× and silently saturates the filter
    * into dropping everything), 8 bits per item ≈ 2% false-positive rate.
    * False positives drop a clean doc; false negatives cannot happen.
    * Pass `expectedItems` to skip the count when the corpus size is
    * already known — it means BAND KEYS, not documents. Returns None for
    * an empty corpus (nothing can collide). */
  def bandKeyBloom(sig: DataFrame, idCol: String = "doc_id", k: Int = 8,
                   expectedItems: Option[Long] = None,
                   bitsPerItem: Long = 8L,
                   maxBucket: Option[Long] = None): Option[Array[Byte]] = {
    // mirror the batch candidate paths: a hot boilerplate bucket carries
    // no near-dup signal there (capBuckets drops it before pairing), so
    // it must not enter the gate's filter either — otherwise the gate
    // deterministically drops every doc sharing the boilerplate band,
    // docs the batch pipeline would KEEP
    val kept = maxBucket.fold(bands(sig, idCol, k))(capBuckets(bands(sig, idCol, k), _))
    val banded = kept
      .select(concat(col("band"), lit(":"), col("key").cast("string")).as("bkey"))
    bloomOver(banded, "bkey", expectedItems, bitsPerItem)
  }

  /** Shared sizing + build for every serialized-Bloom path — ONE
    * implementation so [[bandKeyBloom]] and [[contentBloom]] can never
    * drift on sizing or empty-input semantics. `keyed` must expose string
    * column `keyCol`; items means KEY ROWS, not documents.
    *
    * Spark's `BloomFilterAggregate` SILENTLY clamps its arguments to
    * `spark.sql.optimizer.runtime.bloomFilter.{maxNumItems, maxNumBits}`
    * (defaults 4M items / 67M bits) — at corpus scale that clamp would
    * quietly saturate the filter toward a ~100% false-positive rate, the
    * exact failure the data-derived sizing exists to prevent. Raise the
    * two confs for the build when the requested size exceeds them.
    *
    * NOT THREAD-SAFE: the conf raise/restore is session-global, so a
    * query planned CONCURRENTLY on the same SparkSession could observe
    * (or clobber) the temporary values. Fine under this repo's serial
    * execution discipline; a concurrent deployment should serialize bloom
    * builds or build the filter with explicit-size aggregate args. */
  private def bloomOver(keyed: DataFrame, keyCol: String,
                        expectedItems: Option[Long],
                        bitsPerItem: Long): Option[Array[Byte]] = {
    require(bitsPerItem > 0, s"bitsPerItem must be positive, got $bitsPerItem")
    val items = expectedItems.getOrElse(keyed.count()).max(1L)
    val numBits = items * bitsPerItem
    val spark = keyed.sparkSession
    val itemsConf = "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
    val bitsConf = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
    val (oldItems, oldBits) = (spark.conf.get(itemsConf), spark.conf.get(bitsConf))
    val row =
      try {
        if (oldItems.toLong < items) spark.conf.set(itemsConf, items)
        if (oldBits.toLong < numBits) spark.conf.set(bitsConf, numBits)
        keyed
          .agg(expr(s"graft_bloom_agg(xxhash64($keyCol), ${items}L, ${numBits}L)"))
          .head()
      } finally {
        spark.conf.set(itemsConf, oldItems)
        spark.conf.set(bitsConf, oldBits)
      }
    if (row.isNullAt(0)) None else Some(row.getAs[Array[Byte]](0))
  }

  /** Serialized Bloom filter over the corpus's exact content hashes — the
    * batch-ingest analog of [[bandKeyBloom]]: an arriving batch probes it
    * to skip rows that CANNOT be exact dups (Bloom false negatives are
    * impossible) and runs the exact semi-join only over the probable-dup
    * remainder. At 100 TB the filter (~1 GB per billion docs at 8
    * bits/item ≈ 2% false positives) broadcasts where the corpus's hash
    * set cannot. Sized from the data unless `expectedItems` is passed;
    * None for an empty corpus (nothing can be a dup). */
  def contentBloom(corpus: DataFrame, textCol: String,
                   expectedItems: Option[Long] = None,
                   bitsPerItem: Long = 8L): Option[Array[Byte]] =
    bloomOver(corpus.select(md5(col(textCol)).as("h")), "h",
      expectedItems, bitsPerItem)

  /** Serialized Bloom over an arbitrary join-key column — the semi-join
    * REDUCTION filter: before shuffling a 100-TB fact table into a
    * semi-join, broadcast a ~MB filter of the dim keys and drop the
    * (typically vast) fraction of fact rows that cannot match. False
    * positives just ride through to the exact join (which stays correct);
    * false negatives are impossible, so the reduction never drops a
    * matching row. Probe with
    * `graft_might_contain(lit(bloom), xxhash64(key.cast("string")))`. */
  def keyBloom(df: DataFrame, keyCol: String,
               expectedItems: Option[Long] = None,
               bitsPerItem: Long = 8L): Option[Array[Byte]] =
    bloomOver(df.select(col(keyCol).cast("string").as("k")).distinct(), "k",
      expectedItems, bitsPerItem)

  /** LSH candidates of an INCOMING batch against an existing corpus — the
    * incremental-ingest form: each arriving batch pairs only against the
    * base (one A×B bucket join), never re-pairing the corpus with itself,
    * so per-ingest cost is O(batch × bucket overlap) instead of the full
    * self-join. Returns distinct (doc_new, doc_base) pairs. The hot-bucket
    * cap applies to the BASE side's bucket sizes (corpus boilerplate is
    * the skew source; the batch is small by construction). Intra-batch
    * dups are the batch's own self-join — run `lshCandidates` on the batch
    * alone (cheap) if those matter. */
  def lshCandidatesAgainst(incomingSig: DataFrame, baseSig: DataFrame, idCol: String,
                           k: Int = 8, maxBucket: Option[Long] = None): DataFrame = {
    val base = maxBucket.fold(bands(baseSig, idCol, k))(
      capBuckets(bands(baseSig, idCol, k), _))
    bands(incomingSig, idCol, k).select(col(idCol).as("doc_new"), col("band"), col("key"))
      .join(base.select(col(idCol).as("doc_base"), col("band"), col("key")),
        Seq("band", "key"))
      .select("doc_new", "doc_base")
      .distinct()
  }

  /** Benchmark decontamination: per document, how many of its distinct
    * shingles appear in the benchmark set — the "is this training doc
    * contaminated with eval data" flag every corpus build needs. The
    * benchmark shingle set is the broadcast side (eval suites are tiny
    * next to the corpus); the overlap count is one semi-join-shaped
    * broadcast join + one aggregation, linear in corpus shingles. `docs`
    * supplies the full id universe so shingle-less and clean documents
    * both report 0. `docShingled` columns: (idCol, "sh"), distinct per
    * doc; `benchShingled` column: "sh". */
  def benchmarkOverlap(docs: DataFrame, docShingled: DataFrame,
                       benchShingled: DataFrame, idCol: String): DataFrame = {
    val overlap = docShingled
      .join(broadcast(benchShingled.select("sh").distinct()), Seq("sh"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_overlap"))
    docs.select(col(idCol))
      .join(overlap, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        (coalesce(col("n_overlap"), lit(0L)) > 0).as("contaminated"))
  }

  /** Banded LSH: the standard b-bands × r-rows construction. A pair
    * collides iff ALL r minhashes inside some band agree — the
    * probability curve 1-(1-j^r)^b gives the tunable precision/recall
    * knee that single-hash bands (r=1, `lshCandidates`) lack. Band key =
    * the r member hashes concatenated; same join shape, same scale story
    * (one shuffle on (band, key), bucket-bounded pair count). */
  def lshCandidatesBanded(sig: DataFrame, idCol: String, bands: Int, rows: Int,
                          maxBucket: Option[Long] = None): DataFrame = {
    require((0 until bands * rows).forall(i => sig.columns.contains(s"mh$i")),
      s"signature is missing mh0..mh${bands * rows - 1} (bands*rows exceeds its width)")
    val bandCols = (0 until bands).map { b =>
      val members = (b * rows until (b + 1) * rows).map(i => col(s"mh$i"))
      // null out the whole key if ANY member is null (concat_ws would
      // silently drop the null and truncated keys could falsely collide);
      // null keys then never pair, matching the r=1 join-on-null behavior
      val key = when(members.map(_.isNotNull).reduce(_ && _),
        concat_ws("_", members: _*))
      struct(lit(b).as("band"), key.as("key"))
    }
    pairJoin(
      sig.select(col(idCol), explode(array(bandCols: _*)).as("bk"))
        .select(col(idCol), col("bk.band").as("band"), col("bk.key").as("key")),
      idCol, maxBucket)
  }

  /** 64-bit simhash over an (id, hv_hi, hv_lo) exploded relation — the
    * element hash arrives as two 32-bit halves (first / second 8 md5 hex
    * digits: TextAnalysis.hash32 / hash32b) because a single 16-hex-digit
    * unsigned value can exceed Long.Max, which one engine or the other
    * mangles at construction; the halves never can. Per bit, sum ±1
    * weighted by the element's bit (bits 0-31 from hv_lo, 32-63 from
    * hv_hi); bit set where the sum is positive. Single aggregation pass,
    * 64 partial sums. Packing adds one distinct power of two per set bit
    * — distinct powers never carry, so the partial sums stay in BIGINT
    * range in both engines even though bit 63's coefficient is
    * Long.MinValue (the signed representation of 2⁶³).
    *
    * 64 bits is the scale-bearing width: with 4×16-bit bands a band key
    * spans 65 536 values, so the banded pair join's per-bucket population
    * is corpus/65 536 — the 32-bit form's 256-value bands made every
    * bucket corpus/256 and the pair join O(n²/256), a quadratic no cap
    * could hide at 10⁹ docs. */
  def simhash64(hashed: DataFrame, idCol: String): DataFrame = {
    def bitOf(j: Int): Column =
      if (j < 32) shiftright(col("hv_lo"), j).bitwiseAND(lit(1L))
      else shiftright(col("hv_hi"), j - 32).bitwiseAND(lit(1L))
    val bitSums = (0 until 64).map { j =>
      sum(when(bitOf(j) === 1L, 1).otherwise(-1)).as(s"b$j")
    }
    val packed = (0 until 64)
      .map(j => when(col(s"b$j") > 0, lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)
    hashed.groupBy(col(idCol)).agg(bitSums.head, bitSums.tail: _*)
      .select(col(idCol), packed.cast(LongType).as("simhash"))
  }

  /** SimHash near-dup pairs: band the 64-bit signature into `bands` equal
    * slices, equi-join docs that agree on at least one band, verify with
    * the exact Hamming distance. Pigeonhole gives EXACT recall for
    * `maxHamming < bands` (k bit flips can't touch all bands), so with the
    * defaults (4 bands, ≤3) this is the banded-LSH shape with a recall
    * guarantee, not a probability curve. Pairs only materialize inside
    * band buckets — never |docs|²; bucket width (64/bands bits) is the
    * skew knob at scale, exactly like the MinHash band key, and at the
    * default 16-bit width a band already spans 65 536 values. Arithmetic
    * (sign-extending) right shift is identical in Spark and DuckDB, so
    * the masked band keys agree even on negative signatures. */
  def simhashPairs(sigs: DataFrame, idCol: String, bands: Int = 4,
                   maxHamming: Int = 3): DataFrame = {
    require(maxHamming < bands, "pigeonhole recall needs maxHamming < bands")
    require(64 % bands == 0, s"bands must divide 64, got $bands")
    val width = 64 / bands
    val mask = (1L << width) - 1
    val banded = sigs.select(col(idCol).as("id"), col("simhash"),
      explode(array((0 until bands).map(j =>
        struct(lit(j).as("band"),
          shiftright(col("simhash"), j * width).bitwiseAND(lit(mask)).as("key"))): _*))
        .as("bk"))
      .select(col("id"), col("simhash"), col("bk.band"), col("bk.key"))
    // First-collision dedup instead of distinct(): a close pair collides
    // on several bands, but both signatures ride on the joined row, so
    // "this is the FIRST band where the keys agree" is a pure bit-op
    // filter — each pair survives exactly once and the would-be distinct
    // shuffle (≈ the full pair set, the dominant cost on a dup-dense
    // corpus) disappears entirely.
    def bandKey(sig: Column, i: Int) =
      shiftright(sig, i * width).bitwiseAND(lit(mask))
    val firstCollision = (0 until bands).map { i =>
      // bands i >= the colliding one impose nothing; earlier must differ
      (col("band") <= i) || (bandKey(col("a.simhash"), i) =!= bandKey(col("b.simhash"), i))
    }.reduce(_ && _)
    banded.as("a")
      .join(banded.as("b"), Seq("band", "key"))
      .filter(col("a.id") < col("b.id") && firstCollision)
      .withColumn("hamming",
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
          .cast(org.apache.spark.sql.types.IntegerType))
      .filter(col("hamming") <= maxHamming)
      .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"), col("hamming"))
  }

  /** Incremental connected components — merge an ingest batch into
    * EXISTING cluster labels without reclustering the corpus. Only the
    * clusters touched by a new edge are re-solved: membership edges
    * (member → its label id) keep each old component connected inside the
    * subgraph, so the subgraph fixpoint equals the full-recompute fixpoint
    * restricted to touched nodes — and the canonical min-member id is
    * preserved because every member of a touched cluster rides along.
    * Untouched labels pass through by anti-join. The 100-TB property: an
    * ingest pays O(batch + touched-cluster membership), never O(corpus);
    * label storage is the only corpus-sized relation read, and only twice
    * (semi + anti). The touched clusters' members are pinned once: they
    * feed both the membership edges and the node set, and the sub-solve
    * (driver-finished while its edges fit `LocalEdges`) reads them once
    * instead of re-deriving them from `labels` per consumer; they are freed
    * before returning. `newPairs` must only contain edges with at least one
    * endpoint in `newDocs` (exactly what `lshCandidatesAgainst` + a
    * batch-internal `lshCandidates` produce). Gated by x30's oracle:
    * incremental == full recompute, at any SF. */
  def incrementalComponents(labels: DataFrame, newDocs: DataFrame,
                            newPairs: DataFrame, idCol: String): DataFrame = {
    val ends = newPairs.select(col("doc_a").as(idCol))
      .union(newPairs.select(col("doc_b").as(idCol)))
      .distinct()
    val touched = labels.join(ends, Seq(idCol), "left_semi")
      .select("cluster_id").distinct()
    val members = Housekeeping.pin(labels.sparkSession)(
      labels.join(touched, Seq("cluster_id"), "left_semi"))
    val memberEdges = members.df.filter(col(idCol) =!= col("cluster_id"))
      .select(col(idCol).as("doc_a"), col("cluster_id").as("doc_b"))
    val nodes = newDocs.select(col(idCol))
      .union(members.df.select(col(idCol)))
      .distinct()
    // both paths of connectedComponents return an eagerly pinned frame,
    // so nothing downstream reads the members' blocks after this call
    val sub = connectedComponents(
      newPairs.select(col("doc_a"), col("doc_b")).union(memberEdges), nodes, idCol)
    members.free()
    labels.join(touched, Seq("cluster_id"), "left_anti")
      .select(col(idCol), col("cluster_id"))
      .union(sub.select(col(idCol), col("cluster_id")))
  }

  /** Largest edge count [[connectedComponents]] finishes on the driver.
    * The collected edges, the union-find map and the label relation (at
    * most one row per edge, broadcast back) take about 300 bytes of driver
    * heap per edge, so the limit implies at most ~60 MB. */
  val LocalEdges = 200000

  /** Duplicate clustering: connected components over a candidate-pair
    * edge list — every node ends up labeled with the smallest id of its
    * component (the survivor), in the id column's own type. `nodes`
    * supplies the full id universe: isolated docs keep their own id as
    * cluster, duplicate rows stay duplicated, and a null id gets a null
    * label. Only edges with both endpoints in `nodes` relay a label; null
    * endpoints and self-loops relay nothing. Ids must be numeric and are
    * compared by value, so an Int id column matches Long edges.
    *
    * Two strategies, chosen from the observed edge count:
    *   - driver finish: one action collects at most `localEdges + 1` of
    *     the edges inside `nodes`; if they fit, a min-root union-find on
    *     the driver labels every component in one step whatever its
    *     diameter, and the labels are joined back to `nodes` as a
    *     broadcast local relation. A few Spark jobs in all;
    *   - above the limit, iterative min-label propagation: each round is
    *     one shuffle-join + one aggregation and the loop runs ≤ diameter
    *     rounds; a component whose diameter exceeds `maxIters` throws
    *     IllegalStateException rather than return unconverged labels. At
    *     very large scale swap the loop body for alternating
    *     large-star/small-star contraction (same fixpoint).
    *
    * Both return an eagerly pinned frame whose blocks are the caller's to
    * release (`Housekeeping.releaseAllBlocks` after the action).
    * `localEdges = 0` sends every graph with an edge inside `nodes` to the
    * rounds (the reference path tests compare against). */
  def connectedComponents(pairs: DataFrame, nodes: DataFrame, idCol: String,
                          maxIters: Int = 20, localEdges: Int = LocalEdges): DataFrame = {
    import org.apache.spark.sql.types._
    // the convergence probe of the rounds sums the labels, which is sound
    // only for numeric ids (a string id would cast to null)
    val idType = nodes.schema(idCol).dataType
    require(idType match {
      case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType => true
      case _: DecimalType => true
      case _ => false
    }, s"connectedComponents needs a numeric id column; '$idCol' is ${idType.simpleString}")
    driverComponents(pairs, nodes, idCol, idType, localEdges)
      .getOrElse(propagateLabels(pairs, nodes, idCol, maxIters))
  }

  /** The driver finish of [[connectedComponents]], or None when more than
    * `limit` edges lie inside `nodes`. */
  private def driverComponents(pairs: DataFrame, nodes: DataFrame, idCol: String,
                               idType: DataType, limit: Int): Option[DataFrame] = {
    val spark = pairs.sparkSession
    // the rounds join both endpoints against the label frame, so an edge
    // with an endpoint outside `nodes` (or a null one) relays nothing.
    // The semi-joins compare by value under Spark's numeric coercion, as
    // the rounds' joins do; a kept endpoint equals a node id, so its cast
    // to the id type is exact
    val ids = nodes.select(col(idCol).as("id"))
    val inside = pairs.select(col("doc_a").as("a"), col("doc_b").as("b"))
      .join(ids, col("a") === col("id"), "left_semi")
      .join(ids, col("b") === col("id"), "left_semi")
      .select(col("a").cast(idType).as("a"), col("b").cast(idType).as("b"))
      .filter(col("a") =!= col("b"))
    val edges = inside.limit(limit + 1).collect()
    if (edges.length > limit) None
    else {
      // min-root union-find: every root is its set's minimum, so a node's
      // root is its component label. java.util.HashMap keys by equals(),
      // which is value equality for the boxed ids of one column type;
      // parent holds non-roots only
      val parent = new java.util.HashMap[AnyRef, AnyRef]()
      def find(x: AnyRef): AnyRef = {
        var root = x
        while (parent.containsKey(root)) root = parent.get(root)
        var y = x
        while (parent.containsKey(y)) y = parent.put(y, root)
        root
      }
      edges.foreach { e =>
        val ra = find(e.get(0).asInstanceOf[AnyRef])
        val rb = find(e.get(1).asInstanceOf[AnyRef])
        val c = ra.asInstanceOf[Comparable[AnyRef]].compareTo(rb)
        if (c < 0) parent.put(rb, ra) else if (c > 0) parent.put(ra, rb)
      }
      val labeled = new java.util.ArrayList[Row](parent.size())
      parent.keySet().forEach(x => labeled.add(Row(x, find(x))))
      val local = spark.createDataFrame(labeled,
        StructType(Seq(StructField(idCol, idType), StructField("cluster_id", idType))))
      // roots are absent from `local` and label themselves
      Some(Housekeeping.pin(spark)(
        nodes.select(col(idCol))
          .join(broadcast(local), Seq(idCol), "left")
          .select(col(idCol), coalesce(col("cluster_id"), col(idCol)).as("cluster_id"))).df)
    }
  }

  /** The distributed path of [[connectedComponents]]: iterative min-label
    * propagation, pinned per round. */
  private def propagateLabels(pairs: DataFrame, nodes: DataFrame, idCol: String,
                              maxIters: Int): DataFrame = {
    val spark = pairs.sparkSession
    // materialize the edge list once — it feeds every iteration, and its
    // upstream (the whole LSH candidate pipeline) must not re-run per round.
    // Housekeeping.pin, not bare localCheckpoint: Dataset.unpersist does NOT
    // free checkpoint blocks, so per-round frames would leak for the life of
    // the session (the round-3 bench-poisoning bug).
    //
    // Pre-partitioning the pinned frames on their join keys (so the
    // checkpoint's preserved outputPartitioning makes every round's
    // equi-join exchange-free) was TRIED and REVERTED this round: the
    // in-JVM A/B measured it 0.3–1.1 s SLOWER per CC consumer at bench
    // scale — the per-round exchanges are sub-MB and AQE coalesces them
    // to a few tasks, while fixed-width co-partitioned sorts pay 32 task
    // overheads per round. At 100 TB, where the symmetrized edge list is
    // corpus-sized and its per-round re-shuffle is material, the
    // co-partitioned form wins; the switch point is edge-relation size,
    // and re-introducing it there is a one-line change documented in
    // OPTIMIZATION_r13.md.
    val sym = Housekeeping.pin(spark)(
      pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst"))))
    // localCheckpoint (not cache) per iteration: the label frame is
    // re-derived from itself each round, so lineage — and with it plan
    // size and recomputation cost — would otherwise grow exponentially
    var labels = Housekeeping.pin(spark)(
      nodes.select(col(idCol).as("node"), col(idCol).as("cluster")))
    // convergence probe: `least()` makes every label non-increasing, so
    // for NUMERIC ids the label SUM is monotone non-increasing and stalls
    // exactly at the fixpoint — an unchanged sum ⟺ no label changed. One
    // wide-decimal aggregate over the (already checkpointed) label frame
    // per round, versus a full node-keyed join + count; cheap enough to
    // run EVERY round, so the loop also exits a round earlier. A null sum
    // (empty node set) is the fixpoint by definition.
    def labelSum(df: DataFrame): java.math.BigDecimal = {
      val s = df.agg(sum(col("cluster").cast("decimal(38,0)")).as("s")).head
      if (s.isNullAt(0)) java.math.BigDecimal.ZERO else s.getDecimal(0)
    }
    var prevSum = labelSum(labels.df)
    var changed = true
    var i = 0
    // one hop per materialized round: fusing two hops per checkpoint was
    // measured uniformly slower (plan size per action, not job count, is
    // the binding overhead — OPTIMIZATION_r14.md, "CC fused double-hops")
    def hop(l: DataFrame): DataFrame = {
      val nbrMin = sym.df.select(col("dst").as("node"), col("src"))
        .join(l, "node")
        .groupBy("src").agg(min("cluster").as("nbr_min"))
        .withColumnRenamed("src", "node")
      l.join(nbrMin, Seq("node"), "left")
        .select(col("node"),
          least(col("cluster"), coalesce(col("nbr_min"), col("cluster"))).as("cluster"))
    }
    while (changed && i < maxIters) {
      // lazy pin + probe-as-materializer (r13): the sum probe runs every
      // round anyway, so let IT materialize the checkpoint — one job per
      // round instead of an eager-checkpoint job plus a probe job. Safe
      // because the probe ALWAYS runs before the parent frame is freed.
      val next = Housekeeping.pinLazy(spark)(hop(labels.df))
      val nextSum = labelSum(next.df)
      changed = nextSum.compareTo(prevSum) != 0
      prevSum = nextSum
      labels.free()
      labels = next
      i += 1
    }
    // `changed` is accurate at exit (probed every round): true means a
    // component with diameter > maxIters exists and the labels are NOT the
    // fixpoint — fail rather than return truncated cluster ids
    if (changed) {
      labels.free()
      sym.free()
      throw new IllegalStateException(s"connectedComponents did not converge " +
        s"within maxIters=$maxIters: labels were still changing in the last round; " +
        "raise maxIters or use connectedComponentsStar (its round count grows " +
        "with log² n, not with the component diameter)")
    }
    // every checkpoint was EAGER, so nothing downstream reads the edge list
    // anymore — free its blocks here instead of leaking them into the
    // session (the returned frame's own checkpoint block is the caller's to
    // release, e.g. Housekeeping.releaseAllBlocks after the action)
    sym.free()
    labels.df.select(col("node").as(idCol), col("cluster").as("cluster_id"))
  }

  /** Connected components by alternating large-star / small-star
    * contraction (the documented swap for min-label propagation beyond
    * ~10⁹ edges, here wired and gate-tested, not just cited). Each
    * iteration hooks every node to the minimum of its neighborhood:
    * large-star re-points strictly-larger neighbors at the min,
    * small-star re-points smaller-or-equal ones; alternating the two
    * converges to a forest of stars in O(log² n) rounds versus the graph
    * DIAMETER for label propagation — the difference between ~20 and ~60
    * shuffle rounds on a chain-shaped component. Same fixpoint: every
    * node labeled with its component's minimum id. */
  def connectedComponentsStar(pairs: DataFrame, nodes: DataFrame, idCol: String,
                              maxIters: Int = 30): DataFrame = {
    def canon(e: DataFrame) = e.filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
      .distinct()
    def sym(e: DataFrame) = e.select(col("a").as("u"), col("b").as("v"))
      .union(e.select(col("b").as("u"), col("a").as("v")))
    def minOf(s: DataFrame) = s.groupBy("u")
      .agg(min("v").as("mn"))
      .select(col("u"), least(col("u"), col("mn")).as("m"))
    def largeStar(e: DataFrame) = {
      val s = sym(e)
      canon(s.join(minOf(s), "u").filter(col("v") > col("u"))
        .select(col("v").as("a"), col("m").as("b")))
    }
    def smallStar(e: DataFrame) = {
      val s = sym(e)
      val m = minOf(s)
      canon(s.join(m, "u").filter(col("v") < col("u"))
        .select(col("v").as("a"), col("m").as("b"))
        .union(m.select(col("u").as("a"), col("m").as("b"))))
    }
    val spark = pairs.sparkSession
    // Housekeeping.pin for every per-round frame (see connectedComponents:
    // bare localCheckpoint + Dataset.unpersist leaks the blocks)
    var edges = Housekeeping.pin(spark)(
      canon(pairs.select(col("doc_a").as("a"), col("doc_b").as("b"))))
    var stable = edges.df.isEmpty
    var i = 0
    while (!stable && i < maxIters) {
      // materialize the large-star result: smallStar references its input
      // six times (two sym copies, the min aggregate, the union), so an
      // unmaterialized intermediate would re-execute the large-star
      // join/aggregate subtree several times per round. Lazy pin (r13):
      // the PERSIST is what de-duplicates the six references — the first
      // reference computes and caches, the other five read blocks — so
      // letting `next`'s eager checkpoint drive it costs one job per
      // round instead of two. ls is materialized before ls.free() because
      // next's pin is EAGER.
      val ls = Housekeeping.pinLazy(spark)(largeStar(edges.df))
      val next = Housekeeping.pin(spark)(smallStar(ls.df))
      ls.free()
      // probe every other round (x8's trick): an extra contraction round
      // past the fixpoint is a no-op and cheaper than the probe's actions.
      // canon() dedupes, so count-equal + empty one-sided anti-join ⇔ equal sets
      if (i % 2 == 1 || i == maxIters - 1) {
        stable = next.df.count() == edges.df.count() &&
          next.df.join(edges.df, Seq("a", "b"), "left_anti").isEmpty
      }
      edges.free()
      edges = next
      i += 1
    }
    // same contract as connectedComponents: `stable` is accurate at exit
    // thanks to the final-round probe, and an unconverged exit fails
    if (!stable) {
      edges.free()
      throw new IllegalStateException(s"connectedComponentsStar did not reach " +
        s"the star fixpoint within maxIters=$maxIters; raise maxIters")
    }
    // at the fixpoint the edges form stars rooted at each component min.
    // Checkpoint the (smaller) label relation eagerly so the final edge
    // blocks can be freed here rather than leaking into the session; the
    // labels block itself is the caller's to release after its action.
    val labels = Housekeeping.pin(spark)(
      edges.df.select(col("b").as("node"), col("a").as("cluster"))
        .union(edges.df.select(col("a").as("node"), col("a").as("cluster")))
        .groupBy("node").agg(min("cluster").as("cluster")))
    edges.free()
    nodes.select(col(idCol))
      .join(labels.df.withColumnRenamed("node", idCol), Seq(idCol), "left")
      .select(col(idCol), coalesce(col("cluster"), col(idCol)).as("cluster_id"))
  }

  /** PageRank over the undirected candidate-pair graph — the centrality
    * rung of the dedup stack: where connectedComponents answers "which
    * docs form one duplicate family", pageRank answers "which member is
    * most central to it" (the canonical-representative pick that beats
    * min-id when families chain A~B~C and the middle doc is the true
    * template), and doubles as the crawl-graph quality prior
    * (harmonic/PageRank centrality is the standard URL-level signal in
    * web-corpus curation).
    *
    * Shape per iteration: one equi-join of the edge list against the
    * node-sized rank relation + one aggregation — both shuffles keyed the
    * same way every round, so the exchange is reusable; nothing is ever
    * node×node. The edge list and degree relation are pinned once
    * (Housekeeping — `Dataset.unpersist` would leak the checkpoint
    * blocks) and each round's rank frame is pinned/freed so lineage stays
    * flat at any iteration count. The returned frame's own block is the
    * caller's to release after its action (harnesses sweep via
    * `Housekeeping.releaseAllBlocks`).
    *
    * Engine-stable by construction: per-edge contributions rank/deg are
    * one IEEE division snapshot at DECIMAL(18,12) (scale ≤ 12 — the
    * double→decimal cast is engine-stable there and absorbs nothing
    * larger than 1e-8 wobble), summed in exact decimal (shuffle-order
    * independent), and the update is the literal expression
    * `(1 - d)/n + d * sum` — three IEEE ops in a fixed order. A
    * symmetrized pair graph has no dangling nodes and in-degree ≥ 1
    * everywhere, so no teleport-mass correction or outer join is needed.
    * Output: (node, deg, rank) for every node of the pair graph. */
  def pageRank(pairs: DataFrame, iters: Int = 5, damping: Double = 0.85): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val spark = pairs.sparkSession
    val sym = Housekeeping.pin(spark)(
      pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst"))))
    val deg = Housekeeping.pin(spark)(
      sym.df.groupBy("src").agg(count(lit(1)).as("deg")))
    // scalar metadata action (node count), not a data collect
    val n = deg.df.count().toDouble
    val rank = Housekeeping.pin(spark)(
      deg.df.select(col("src").as("node"), col("deg"),
        (lit(1.0) / lit(n)).as("rank")))
    // checkpoint cadence (r13, guide §1.2): a fixed small iteration count
    // needs NO per-round materialization — each round's frame is
    // referenced exactly once by the next, so the single final action
    // computes every round once through a plan of bounded depth, and the
    // per-round eager-checkpoint JOBS (one each, plus their driver gaps)
    // disappear. Only past `PinEvery` rounds does lineage depth justify a
    // cut; rank frames are then pinned/freed exactly as before.
    val PinEvery = 8
    var sinceLastPin = 0
    var lastPinned: Housekeeping.PinnedFrame = rank
    var rankDf = rank.df
    for (i <- 1 to iters) {
      val contrib = sym.df
        .join(rankDf, sym.df("src") === rankDf("node"))
        .select(col("dst"),
          (col("rank") / col("deg")).cast("decimal(18,12)").as("c"))
        .groupBy("dst").agg(sum("c").as("sc"))
      val next = deg.df.join(contrib, deg.df("src") === contrib("dst"))
        .select(col("src").as("node"), col("deg"),
          ((lit(1.0) - lit(damping)) / lit(n) +
            lit(damping) * col("sc").cast("double")).as("rank"))
      sinceLastPin += 1
      if (sinceLastPin >= PinEvery && i < iters) {
        val pinned = Housekeeping.pin(spark)(next)
        lastPinned.free()
        lastPinned = pinned
        rankDf = pinned.df
        sinceLastPin = 0
      } else rankDf = next
    }
    // ONE materialization computes every unpinned round (each round's
    // frame is referenced exactly once, so nothing re-executes), and lets
    // the edge/degree/intermediate blocks be freed here as before — the
    // returned frame's own block stays the caller's to release after its
    // action (harnesses sweep via Housekeeping.releaseAllBlocks).
    val out = Housekeeping.pin(spark)(rankDf)
    lastPinned.free()
    sym.free()
    deg.free()
    out.df
  }

  /** True n-gram Jaccard for candidate pairs via inverted-index self-join —
    * the verify stage after LSH, or (blocked by a cheap key like language)
    * a standalone near-dup pass. `shingled` columns: (idCol, blockCol, "sh"),
    * distinct per doc. */
  def shingleJaccardPairs(shingled: DataFrame, idCol: String, blockCol: String,
                          persistIndex: Boolean = true,
                          maxDocFreq: Option[Long] = None): DataFrame = {
    // stop-shingle removal: a shingle appearing in more than maxDocFreq
    // docs (boilerplate) contributes a posting list whose self-join is
    // O(df²) — dropping it bounds the worst bucket and barely moves
    // jaccard for true near-dups. THE knob that keeps the join linear-ish
    // at corpus scale. NOTE: sizes are computed after removal, so the
    // jaccard is over the capped shingle space on both sides of the ratio.
    // the kept-shingle set is DISTINCT-SHINGLE-SPACE sized (Heaps' law:
    // it grows with the corpus), so it joins UNHINTED — AQE broadcasts it
    // while it fits and degrades to a shuffle join when it doesn't; a
    // forced hint would bypass the size check and OOM the driver at web
    // scale (the bigram-table rule)
    val capped = maxDocFreq match {
      case Some(cap) =>
        val df = shingled.groupBy(col("sh")).agg(count(lit(1)).as("__df"))
        shingled.join(df.filter(col("__df") <= cap).select("sh"), Seq("sh"))
      case None => shingled
    }
    // the inverted index is referenced three times (sizes + both join
    // sides); materialize it once instead of re-running the shingle
    // explode per reference — at 100 TB this persist becomes a parquet
    // write of the index stage
    val idx = if (persistIndex)
      capped.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else capped
    val sizes = idx.groupBy(col(idCol)).agg(count(lit(1)).as("n_sh"))
    val a = idx.select(col(idCol).as("doc_a"), col(blockCol).as("blk"), col("sh"))
    val b = idx.select(col(idCol).as("doc_b"), col(blockCol).as("blk"), col("sh"))
    val inter = a.join(b, Seq("blk", "sh"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.withColumnRenamed("n_sh", "n_a"), col("doc_a") === col(idCol)).drop(idCol)
      .join(sizes.withColumnRenamed("n_sh", "n_b"), col("doc_b") === col(idCol)).drop(idCol)
      .withColumn("jaccard",
        col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter")))
  }

  /** Exact substring-span duplication stats — the corpus-level "repeated
    * span" signal behind suffix-array-style exact-substring dedup (find
    * every k-token span that occurs more than once ANYWHERE in the corpus,
    * including within one document, and score each document by how much of
    * it is such duplicated material). Span identity is the md5 of the
    * space-joined k-word window, computed for every overlapping position.
    *
    * Scale shape: the window fingerprints are generated in-scan (a
    * `transform` over the word array — no explode of raw positions leaves
    * the task until aggregated); the first aggregation keys on
    * (doc, fingerprint) and is map-side combinable, so the fingerprint
    * shuffle carries per-doc-distinct spans, not raw token positions; the
    * corpus-wide occurrence total is a second combinable aggregate on the
    * fingerprint alone; the dup verdict joins back at (doc, fingerprint)
    * granularity. Every stage is linear in corpus tokens with partial
    * aggregation — no window function, no self-join of the span relation.
    * Output: per-doc window/dup-window counts and the duplicated fraction
    * (one int division — engine-stable). */
  def spanDupStats(docs: DataFrame, idCol: String, textCol: String,
                   k: Int, rolling: Boolean = false): DataFrame = {
    require(k >= 1, s"span width must be positive, got $k")
    val perDocFp = spanFingerprints(docs, idCol, textCol, k, rolling)
    val totals = perDocFp.groupBy(col("fp"))
      .agg(sum(col("c")).as("t"))
    perDocFp.join(totals, Seq("fp"))
      .groupBy(col(idCol))
      .agg(sum(col("c")).cast("long").as("n_windows"),
        sum(when(col("t") >= 2, col("c")).otherwise(lit(0))).cast("long").as("n_dup"))
      .withColumn("dup_frac", col("n_dup") / col("n_windows"))
  }

  /** Per-document k-word span fingerprint counts: (idCol, fp, c) — the
    * shared first stage of [[spanDupStats]] and [[spanDecontaminate]].
    * Fingerprints are generated in-scan and aggregated map-side; docs
    * shorter than k words have no windows and are absent.
    *
    * Two fingerprint rungs: the md5-per-window form (`transform` over the
    * word array — O(n·k·word-bytes), engine-exact in DuckDB so it stays
    * the oracle-anchored default) and the ROLLING form (one md5 per WORD,
    * then Rabin–Karp O(1) slides through the native
    * `graft_rolling_windows` expression — O(n) total, the production
    * shape for wide spans; its residues are also engine-exact, via
    * per-window Horner folds in the oracle).
    *
    * The rolling fingerprint is a 62-BIT identity — TWO coprime lattices
    * (RollingA, RollingB) over the same word-hash stream, packed as
    * hi·2³¹ + lo (the m5b simhash64 convention). The span verdicts
    * compare fingerprints CORPUS-WIDE (dup = corpus total ≥ 2, decon =
    * benchmark match), so a single 31-bit lattice's birthday collisions
    * (n²/2³² — saturated at the 10⁹-doc scale these rungs target) would
    * inflate n_dup/n_contam; at 62 bits the collision expectation stays
    * ≪ 1 per 10⁹·100-word corpus. */
  private def spanFingerprints(docs: DataFrame, idCol: String, textCol: String,
                               k: Int, rolling: Boolean): DataFrame = {
    // fanOut (r13): the ANCHOR form pays one md5 per window — CPU-dense,
    // and the one-file bench corpus scans as ONE task (x19 A/B: −0.2 s
    // with fanOut; identity at production scan parallelism). The ROLLING
    // form is O(1) per word and regressed with the extra exchange, so it
    // keeps the raw scan.
    val spread = if (rolling) docs else graft.Tables.fanOut(docs)
    val words = spread
      .select(col(idCol), split(col(textCol), " ").as("w"))
      .filter(size(col("w")) >= k)
    val fps =
      if (rolling)
        words
          .withColumn("hs",
            expr(s"transform(w, x -> ${TextAnalysis.hash32Sql("x")})"))
          .select(col(idCol), explode(zip_with(
            TextAnalysis.rollingWindows(col("hs"), k, TextAnalysis.RollingA),
            TextAnalysis.rollingWindows(col("hs"), k, TextAnalysis.RollingB),
            (hi, lo) => hi * lit(2147483648L) + lo)).as("fp"))
      else
        words.select(col(idCol), explode(expr(
          s"transform(sequence(1, size(w) - ${k - 1}), i -> md5(concat_ws(' ', slice(w, i, $k))))"))
          .as("fp"))
    fps.groupBy(col(idCol), col("fp")).agg(count(lit(1)).as("c"))
  }

  /** Serialized Bloom over a reference corpus's ROLLING span fingerprints
    * (the dual-lattice 62-bit pack [[spanFingerprints]] emits) — the
    * static side a streaming span gate probes: at 100 TB the reference's
    * distinct-span set cannot broadcast, its ~MB/billion-spans filter
    * can. Probe with `graft_might_contain(lit(bloom),
    * xxhash64(fp.cast("string")))` (keyBloom's convention). */
  def spanFpBloom(docs: DataFrame, idCol: String, textCol: String, k: Int,
                  expectedItems: Option[Long] = None,
                  bitsPerItem: Long = 8L): Option[Array[Byte]] =
    keyBloom(spanFingerprints(docs, idCol, textCol, k, rolling = true)
      .select("fp"), "fp", expectedItems, bitsPerItem)

  /** Shared spanKeepExpr/spanScrubExpr stage: the dual-lattice rolling
    * fingerprint of every k-word window of the word array `ws`. */
  private def windowFps(ws: Column, k: Int): Column = {
    val hs = transform(ws, w => TextAnalysis.hash32(w))
    zip_with(
      TextAnalysis.rollingWindows(hs, k, TextAnalysis.RollingA),
      TextAnalysis.rollingWindows(hs, k, TextAnalysis.RollingB),
      (hi, lo) => hi * lit(2147483648L) + lo)
  }

  /** Shared spanKeepExpr/spanScrubExpr probe of a window fingerprint
    * against the reference Bloom; never a hit without one. */
  private def refBloomHit(refBloom: Option[Array[Byte]]): Column => Column =
    refBloom match {
      case Some(b) => f =>
        call_function("graft_might_contain", lit(b), xxhash64(f.cast("string")))
      case None => _ => lit(false)
    }

  /** The span-duplication keep/drop verdict as one pure row-local
    * expression — the streaming form of [[spanDupStats]]'s
    * `n_dup·2 ≤ n_windows` gate (x32's production rung) for stateless
    * routers. A window is duplicated if it repeats WITHIN the arriving
    * document or its fingerprint hits the REFERENCE corpus's span Bloom
    * ([[spanFpBloom]]) — exactly the corpus-total ≥ 2 verdict when the
    * reference holds the rest of the corpus and arrivals are new docs
    * (modulo Bloom false positives, which only ever DROP conservatively;
    * false negatives cannot happen). Same dual-lattice rolling
    * fingerprints as the batch rung, so verdicts are spec-gated
    * identical to `spanDupStats` over reference ∪ arrival. Docs under k
    * words are keep=false (no windows — the batch gate's semi-join drops
    * them). Within-doc counting is a nested HOF — O(windows²) per
    * arrival, the stateless-gate cost shape (see gopherKeepExpr). */
  def spanKeepExpr(text: Column, k: Int,
                   refBloom: Option[Array[Byte]]): Column = {
    val ws = split(text, " ")
    val fps = windowFps(ws, k)
    val refHit = refBloomHit(refBloom)
    val nWin = size(fps).cast(LongType)
    val nDup = size(filter(fps, f =>
      size(filter(fps, x => x === f)) >= 2 || refHit(f))).cast(LongType)
    coalesce(nWin >= 1L && nDup * 2 <= nWin, lit(false))
  }

  /** Span-level benchmark decontamination — z11's shingle-overlap check at
    * the granularity eval-contamination actually leaks: a corpus document
    * is contaminated to the degree its k-word spans appear verbatim in the
    * BENCHMARK set (Lee et al.-style exact-substring hygiene, vs z11's
    * doc-level any-overlap flag). Returns per corpus doc: window count,
    * benchmark-matching window count, and the contaminated fraction.
    *
    * Scale shape: both sides reduce to fingerprint aggregates before any
    * join; the verdict join is fp-keyed against the benchmark's DISTINCT
    * span set (benchmarks are eval suites — small — so AQE broadcasts it;
    * no forced hint, the corpus side never re-shuffles for a growing
    * benchmark). */
  def spanDecontaminate(corpus: DataFrame, bench: DataFrame, idCol: String,
                        textCol: String, k: Int,
                        rolling: Boolean = false): DataFrame = {
    require(k >= 1, s"span width must be positive, got $k")
    val corpusFp = spanFingerprints(corpus, idCol, textCol, k, rolling)
    val benchFp = spanFingerprints(bench, idCol, textCol, k, rolling)
      .select(col("fp")).distinct().withColumn("__hit", lit(1))
    corpusFp.join(benchFp, Seq("fp"), "left")
      .groupBy(col(idCol))
      .agg(sum(col("c")).cast("long").as("n_windows"),
        sum(when(col("__hit").isNotNull, col("c")).otherwise(lit(0)))
          .cast("long").as("n_contam"))
      .withColumn("contam_frac", col("n_contam") / col("n_windows"))
  }

  /** Duplicate-span REMOVAL — the production complement of
    * [[spanDupStats]]'s detect-and-score: instead of dropping (or merely
    * grading) a document whose k-word windows recur corpus-wide, strip the
    * duplicated spans and keep the remainder (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better" — their ExactSubstr
    * pipeline REMOVES the duplicated bytes rather than discarding docs;
    * cf. `/root/reference` has no analog — 100-TB extension layer).
    *
    * Semantics: a window is duplicated iff its fingerprint occurs ≥ 2
    * times corpus-wide (x18's verdict — both copies are scrubbed; the
    * conservative form, since boilerplate carries no training signal in
    * any copy). A token is removed iff ANY duplicated window covers it;
    * overlapping/touching windows therefore merge into maximal spans
    * (equal-width windows make the island rule adjacent-start arithmetic:
    * sorted starts break a span iff the gap exceeds k). Docs shorter than
    * k words have no windows and pass through untouched, as does any doc
    * with zero duplicated windows (its `clean_text` IS the input string —
    * no split/rejoin canonicalization).
    *
    * Scale shape: positions are generated in-scan (one posexplode of the
    * per-doc window-fingerprint array); the dup-fingerprint set comes from
    * ONE map-side-combinable count keyed by fp; the verdict join is
    * fp-keyed and unhinted (the dup set is usually small — AQE broadcasts
    * it while it fits, degrades to shuffle when boilerplate explodes); the
    * island merge and text rebuild are row-local HOFs over the per-doc
    * sorted dup-start array — no window function, no corpus sort, per-doc
    * state bounded by the doc's own window count. Output per doc:
    * (idCol, n_tokens, n_dup_windows, n_spans_removed, n_removed_tokens,
    * clean_frac, clean_text). */
  def spanScrub(docs: DataFrame, idCol: String, textCol: String,
                k: Int, rolling: Boolean = false): DataFrame = {
    require(k >= 1, s"span width must be positive, got $k")
    val words = docs.select(col(idCol), col(textCol),
      split(col(textCol), " ").as("w"))
    val eligible = words.filter(size(col("w")) >= k)
    // same two fingerprint rungs as spanFingerprints: md5-per-window stays
    // the cross-engine anchor; the dual-lattice rolling form is the
    // production shape (one md5 per WORD, O(1) slides — the x18b lesson,
    // and the verdict here too is corpus-wide, so 62 bits are required)
    val winFps =
      if (rolling)
        eligible
          .withColumn("hs",
            expr(s"transform(w, x -> ${TextAnalysis.hash32Sql("x")})"))
          .select(col(idCol), posexplode(zip_with(
            TextAnalysis.rollingWindows(col("hs"), k, TextAnalysis.RollingA),
            TextAnalysis.rollingWindows(col("hs"), k, TextAnalysis.RollingB),
            (hi, lo) => hi * lit(2147483648L) + lo)).as(Seq("p0", "fp")))
      else
        eligible.select(col(idCol), posexplode(expr(
          s"transform(sequence(1, size(w) - ${k - 1}), i -> md5(concat_ws(' ', slice(w, i, $k))))"))
          .as(Seq("p0", "fp")))
    val pos = winFps
      .select(col(idCol), (col("p0") + 1).cast("int").as("pos"), col("fp"))
    val dupFps = pos.groupBy(col("fp")).agg(count(lit(1)).as("t"))
      .filter(col("t") >= 2).select("fp")
    val perDoc = pos.join(dupFps, Seq("fp"))
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("pos"))).as("dp"),
        count(lit(1)).cast("int").as("n_dup_windows"))
    words.join(perDoc, Seq(idCol), "left")
      .withColumn("dp", coalesce(col("dp"), expr("CAST(array() AS array<int>)")))
      .withColumn("n_dup_windows", coalesce(col("n_dup_windows"), lit(0)))
      .withColumn("n_tokens", size(col("w")))
      // kept positions = the complement of the merged islands, assembled
      // from the sorted dup starts as ≤ islands+1 contiguous ranges —
      // O(tokens + dup windows) per doc. The first-written form (filter
      // every position against every dup start) is O(tokens·dup-windows):
      // on the dup-dense 10× soak corpus that interpreted-HOF product was
      // the dominant cost of the whole scrub (21 of 24 s), not the
      // fingerprinting it was blamed on. The oracle keeps the quadratic
      // form — identical integer sets, independently derived.
      .withColumn("kept", expr(
        s"""CASE WHEN size(dp) = 0 THEN sequence(1, size(w))
           |ELSE flatten(concat(
           |  CASE WHEN element_at(dp, 1) > 1
           |       THEN array(sequence(1, element_at(dp, 1) - 1))
           |       ELSE array(CAST(array() AS array<int>)) END,
           |  CASE WHEN size(dp) >= 2
           |       THEN transform(
           |         filter(sequence(2, size(dp)),
           |           i -> element_at(dp, i) - element_at(dp, i - 1) > $k),
           |         i -> sequence(element_at(dp, i - 1) + $k, element_at(dp, i) - 1))
           |       ELSE CAST(array() AS array<array<int>>) END,
           |  CASE WHEN element_at(dp, -1) + $k <= size(w)
           |       THEN array(sequence(element_at(dp, -1) + $k, size(w)))
           |       ELSE array(CAST(array() AS array<int>)) END))
           |END""".stripMargin))
      .withColumn("n_spans_removed", expr(
        s"""CASE WHEN size(dp) = 0 THEN 0
           |ELSE CAST(size(filter(sequence(1, size(dp)),
           |  i -> i = 1 OR element_at(dp, i) - element_at(dp, i - 1) > $k)) AS INT)
           |END""".stripMargin))
      .withColumn("n_removed_tokens", (col("n_tokens") - size(col("kept"))).cast("int"))
      .withColumn("clean_frac", size(col("kept")) / col("n_tokens"))
      .withColumn("clean_text", when(col("n_dup_windows") === 0, col(textCol))
        .otherwise(expr("concat_ws(' ', transform(kept, j -> element_at(w, j)))")))
      .select(col(idCol), col("n_tokens"), col("n_dup_windows"),
        col("n_spans_removed"), col("n_removed_tokens"), col("clean_frac"),
        col("clean_text"))
  }

  /** [[spanScrub]] as one pure row-local expression — the stateless
    * streaming form, mirroring [[spanKeepExpr]]'s verdict contract: a
    * window of the ARRIVING document is duplicated iff it repeats within
    * the document itself or its dual-lattice rolling fingerprint hits the
    * REFERENCE corpus's span Bloom ([[spanFpBloom]]) — exactly the batch
    * corpus-total ≥ 2 verdict when the reference holds the rest of the
    * corpus and arrivals are new docs (modulo Bloom false positives, which
    * only ever scrub MORE, the conservative direction). Returns the
    * cleaned text; a doc with no duplicated windows (or under k words)
    * passes through as the original string, matching the batch rung.
    * Within-doc counting is the nested-HOF O(windows²) shape all
    * stateless gates pay (see gopherKeepExpr); the token-coverage test
    * adds O(tokens·dup-windows). */
  def spanScrubExpr(text: Column, k: Int,
                    refBloom: Option[Array[Byte]]): Column = {
    val ws = split(text, " ")
    val fps = windowFps(ws, k)
    val refHit = refBloomHit(refBloom)
    // 1-based start positions of duplicated windows (sorted by construction:
    // filter preserves the positional order of the window array).
    val dupStarts = filter(
      transform(fps, (f, i) =>
        when(size(filter(fps, x => x === f)) >= 2 || refHit(f), i + 1)
          .otherwise(lit(null))),
      p => p.isNotNull)
    val kept = filter(sequence(lit(1), size(ws)), j =>
      !exists(dupStarts, p => j >= p && j <= p + (k - 1)))
    when(size(dupStarts) === 0, text)
      .otherwise(concat_ws(" ", transform(kept, j => element_at(ws, j))))
  }

  /** Stateless streaming twin of the FREQUENCY boilerplate scrub (the x46
    * batch rung): rebuild `text` from its aligned k-word segments, dropping
    * every segment whose 64-bit dual hash appears in `blocked` — the
    * corpus-derived boilerplate inventory, carried as one
    * array<struct<h1,h2>> column (crossJoin a broadcast one-row static
    * frame; see EventStreams.boilerplateScrub). Pure per-row expression:
    * no stream state, no watermark, and bit-identical to the batch
    * rebuild because segmentation, hashing, and join order are the same
    * arithmetic. A doc whose every segment is boilerplate rebuilds as the
    * empty string (the batch panel counts it as emptied). Scale note: the
    * one-row array transport is exact and fine while the inventory is
    * requests/tail-sized; a web-scale inventory swaps in the Bloom
    * transport (spanScrubExpr's refBloom seam) at the cost of false-
    * positive drops. */
  def boilerplateScrubExpr(text: Column, k: Int, blocked: Column): Column = {
    val ws = split(text, " ")
    val lastSeg = ((size(ws) - lit(1)) / lit(k)).cast("int")
    val segTexts = transform(sequence(lit(0), lastSeg),
      c => concat_ws(" ", slice(ws, c * lit(k) + lit(1), lit(k))))
    val keptSegs = filter(segTexts, t =>
      !array_contains(blocked,
        struct(TextAnalysis.hash32(t).as("h1"), TextAnalysis.hash32b(t).as("h2"))))
    // NULL text propagates as NULL (the takedownGate convention and the
    // batch x46 semantics: chunkWords yields no segments and the rebuilt
    // text stays null) — without the guard, size(null) = -1 would rebuild
    // a null arrival as the EMPTY string, silently rewriting it.
    when(text.isNull, text).otherwise(concat_ws(" ", keptSegs))
  }
}
