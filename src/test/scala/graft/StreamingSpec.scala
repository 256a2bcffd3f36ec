package graft

import graft.streaming.EventStreams
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.apache.spark.sql.types._
import java.sql.Timestamp

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType)))

  private def ts(m: Int) = Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")

  private def writeBatch(dir: String, rows: Seq[(Long, Timestamp, Long, String, Double)]): Unit =
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .repartition(1).write.mode("append").parquet(dir)

  test("drainToParquet is exactly-once across restarts (checkpointed E2)") {
    val src = tmpDir("stream_src"); val dest = tmpDir("stream_dest") + "/tbl"
    val ckpt = tmpDir("stream_ckpt")
    writeBatch(src, Seq((1L, ts(0), 10L, "click", 1.0), (2L, ts(1), 11L, "view", 2.0)))
    val q1 = EventStreams.drainToParquet(
      EventStreams.fileSource(spark, src, schema), dest, ckpt, "event_type")
    q1.awaitTermination()
    assert(spark.read.parquet(dest).count() === 2)

    writeBatch(src, Seq((3L, ts(2), 10L, "click", 3.0)))
    val q2 = EventStreams.drainToParquet(
      EventStreams.fileSource(spark, src, schema), dest, ckpt, "event_type")
    q2.awaitTermination()
    val ids = spark.read.parquet(dest).select("event_id").as[Long].collect().sorted
    assert(ids.toSeq === Seq(1L, 2L, 3L)) // old files not re-ingested, no dupes
  }

  test("watermarked windowed aggregation over a file stream") {
    val src = tmpDir("win_src")
    writeBatch(src, Seq(
      (1L, ts(5), 10L, "click", 1.0), (2L, ts(20), 10L, "click", 2.0),
      (3L, ts(25), 11L, "view", 4.0)))
    val agg = EventStreams.windowedTypeCounts(
      EventStreams.fileSource(spark, src, schema), "15 minutes", "30 minutes")
    val q = agg.writeStream.format("memory").queryName("win_counts")
      .outputMode(OutputMode.Complete()).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("win_counts")
      .select("win_start", "event_type", "n", "sum_value")
      .as[(Timestamp, String, Long, Double)].collect().toSet
    assert(got === Set(
      (ts(0), "click", 1L, 1.0), (ts(15), "click", 1L, 2.0), (ts(15), "view", 1L, 4.0)))
  }

  test("sliding watermarked windows: each event lands in len/slide overlapping windows") {
    val src = tmpDir("slide_src")
    writeBatch(src, Seq(
      (1L, ts(5), 10L, "click", 1.0),
      (2L, ts(20), 10L, "click", 2.0)))
    val agg = EventStreams.windowedTypeCounts(
      EventStreams.fileSource(spark, src, schema),
      windowLen = "30 minutes", watermark = "1 hour", slide = Some("15 minutes"))
    val q = agg.writeStream.format("memory").queryName("slide_counts")
      .outputMode(OutputMode.Complete()).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("slide_counts")
      .select("win_start", "event_type", "n", "sum_value")
      .as[(Timestamp, String, Long, Double)].collect().toSet
    // event :05 → windows starting 09:45 and 10:00; event :20 → 10:00 and 10:15
    assert(got === Set(
      (Timestamp.valueOf("2026-01-01 09:45:00"), "click", 1L, 1.0),
      (ts(0), "click", 2L, 3.0),
      (ts(15), "click", 1L, 2.0)))
  }

  test("dedupStream keeps first arrival per key within the watermark") {
    val src = tmpDir("dedup_src")
    writeBatch(src, Seq(
      (1L, ts(0), 10L, "h_aaa", 1.0), (2L, ts(1), 11L, "h_bbb", 2.0),
      (3L, ts(2), 12L, "h_aaa", 3.0),  // same content hash as event 1 → dropped
      (4L, ts(3), 13L, "h_ccc", 4.0)))
    val deduped = EventStreams.dedupStream(
      EventStreams.fileSource(spark, src, schema), Seq("event_type"), "30 minutes")
    val q = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append()).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("dedup_out").select("event_id").as[Long].collect().sorted
    assert(got.toSeq === Seq(1L, 2L, 4L))
  }

  test("curationRouter dedups, split-assigns, and partitions by split") {
    val src = tmpDir("route_src"); val dest = tmpDir("route_dest") + "/corpus"
    val ckpt = tmpDir("route_ckpt")
    writeBatch(src, Seq(
      (1L, ts(0), 10L, "h_aaa", 1.0), (2L, ts(1), 11L, "h_bbb", 2.0),
      (3L, ts(2), 12L, "h_aaa", 3.0), // duplicate content → dropped
      (4L, ts(3), 13L, "h_ccc", 4.0)))
    EventStreams.curationRouter(
      EventStreams.fileSource(spark, src, schema), Seq("event_type"),
      idCol = "event_id", dest, ckpt, "30 minutes").awaitTermination()
    val out = spark.read.parquet(dest)
    assert(out.select("event_id").as[Long].collect().sorted.toSeq === Seq(1L, 2L, 4L))
    // the split column is the PARTITION directory, and matches the batch
    // assignment for the same ids (engine/batch-boundary independence)
    val expected = Seq(1L, 2L, 4L).toDF("event_id")
      .select(col("event_id"),
        graft.operators.Sampling.splitAssign(col("event_id")).as("split"))
      .as[(Long, String)].collect().toMap
    val got = out.select(col("event_id"), col("split")).as[(Long, String)].collect().toMap
    assert(got === expected)
    assert(new java.io.File(dest).listFiles().exists(_.getName.startsWith("split=")))
  }

  test("curationRouter with a removal list drops takedowns before dedup state") {
    val src = tmpDir("route_rm_src"); val dest = tmpDir("route_rm_dest") + "/corpus"
    val ckpt = tmpDir("route_rm_ckpt")
    writeBatch(src, Seq(
      (1L, ts(0), 10L, "h_aaa", 1.0), // takedown-listed → must not enter dedup state
      (2L, ts(1), 11L, "h_aaa", 2.0), // same key arrives later: must SURVIVE —
                                      // if 1 had entered state, 2 would drop as its dup
      (3L, ts(2), 12L, "h_bbb", 3.0)))
    val removal = Seq(1L).toDF("event_id")
    EventStreams.curationRouter(
      EventStreams.fileSource(spark, src, schema), Seq("event_type"),
      idCol = "event_id", dest, ckpt, "30 minutes",
      removal = Some(removal)).awaitTermination()
    val out = spark.read.parquet(dest).select("event_id").as[Long].collect().sorted
    assert(out.toSeq === Seq(2L, 3L))
    // an id-only removal list must compose with the quality gates: the
    // router engages content-hash matching only when hashes are provided
    val dest2 = tmpDir("route_rm_dest2") + "/corpus"; val ckpt2 = tmpDir("route_rm_ckpt2")
    val src2 = tmpDir("route_rm_src2")
    // ≥24 unique words per doc: enough to clear the Gopher top-gram
    // coverage thresholds (see the gate-parity test's sizing note)
    Seq((1L, ts(0), (1 to 24).map(i => f"w$i%02d").mkString(" ")),
        (2L, ts(1), (1 to 24).map(i => f"x$i%02d").mkString(" ")))
      .toDF("event_id", "ts", "text").repartition(1).write.mode("append").parquet(src2)
    val sch2 = StructType(Seq(StructField("event_id", LongType),
      StructField("ts", TimestampType), StructField("text", StringType)))
    EventStreams.curationRouter(
      spark.readStream.schema(sch2).parquet(src2), Seq("event_id"),
      idCol = "event_id", dest2, ckpt2, "30 minutes",
      textCol = Some("text"),
      removal = Some(Seq(1L).toDF("event_id"))).awaitTermination()
    assert(spark.read.parquet(dest2).select("event_id").as[Long].collect().toSeq
      === Seq(2L))
  }

  test("curationRouter's rolling quality gates match the batch x32 gate verdicts on the same drain") {
    import graft.operators.{Dedup, TextAnalysis}
    val ref = Seq((100L, (1 to 24).map(i => f"r$i%02d").mkString(" ")))
      .toDF("doc_id", "text")
    // arrival docs share no spans with each other (distinct vocab), so the
    // batch corpus-wide span verdict over ref ∪ arrivals decomposes into
    // exactly what the stateless gate computes per row. Docs need ~24
    // unique words to clear the Gopher top-gram thresholds (a unique
    // n-gram still covers (n·w+n−1)/nc characters), so each doc that
    // isolates the SPAN gate must be long enough to pass the Gopher one.
    val arrivals = Seq(
      (1L, (1 to 24).map(i => f"a$i%02d").mkString(" ")),   // clean → keep
      // 20 reference words + 4 fresh: Gopher-clean, but 18 of 22 spans hit
      // the reference bloom → majority duplicated → span gate drops it
      (2L, ((1 to 20).map(i => f"r$i%02d") ++ (1 to 4).map(i => f"y$i%02d")).mkString(" ")),
      (3L, "b b b b b b b b"),                              // degenerate → drop
      (4L, "c1"),                                           // <2 words → drop
      (5L, (Seq("d1", "d2", "d3", "d1", "d2", "d3") ++      // small dup frac → keep
        (1 to 24).map(i => f"u$i%02d")).mkString(" ")))
    val src = tmpDir("gate_src"); val dest = tmpDir("gate_dest") + "/corpus"
    val ckpt = tmpDir("gate_ckpt")
    arrivals.zipWithIndex.map { case ((id, t), i) => (id, ts(i), t) }
      .toDF("doc_id", "ts", "text")
      .repartition(1).write.mode("append").parquet(src)
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("ts", TimestampType),
      StructField("text", StringType)))
    val bloom = Dedup.spanFpBloom(ref, "doc_id", "text", k = 3, bitsPerItem = 64L)
    EventStreams.curationRouter(
      spark.readStream.schema(docSchema).parquet(src),
      keyCols = Seq("text"), idCol = "doc_id", dest, ckpt, "30 minutes",
      textCol = Some("text"), spanRefBloom = bloom, spanK = 3).awaitTermination()
    val streamKept = spark.read.parquet(dest)
      .select("doc_id").as[Long].collect().toSet
    // batch verdicts: the exact x32 gate forms (rolling Gopher panel +
    // rolling span-dup stats over reference ∪ arrivals)
    val arrDf = arrivals.toDF("doc_id", "text")
    val gopKeep = TextAnalysis.gopherRepetitionRolling(arrDf, "doc_id", "text")
      .filter(col("keep")).select("doc_id").as[Long].collect().toSet
    val spanKeep = Dedup.spanDupStats(ref.union(arrDf), "doc_id", "text",
        k = 3, rolling = true)
      .filter(col("n_dup") * 2 <= col("n_windows"))
      .select("doc_id").as[Long].collect().toSet
    val batchKept = arrivals.map(_._1).toSet.intersect(gopKeep).intersect(spanKeep)
    assert(streamKept === batchKept)
    assert(streamKept === Set(1L, 5L)) // gates discriminate, not vacuous
    // survivors still get the batch-identical split assignment
    val expected = streamKept.toSeq.sorted.toDF("doc_id")
      .select(col("doc_id"),
        graft.operators.Sampling.splitAssign(col("doc_id")).as("split"))
      .as[(Long, String)].collect().toMap
    val got = spark.read.parquet(dest)
      .select(col("doc_id"), col("split")).as[(Long, String)].collect().toMap
    assert(got === expected)
  }

  test("curationRouter with scrubText edits survivors identically to the batch spanScrub") {
    import graft.operators.Dedup
    val ref = Seq((100L, (1 to 24).map(i => f"r$i%02d").mkString(" ")))
      .toDF("doc_id", "text")
    // all three survive the gates; doc 2 carries a 3-word reference run
    // (scrubbed via the bloom), doc 3 a within-doc repeat (scrubbed
    // locally), doc 1 is untouched — distinct vocab per doc, so the batch
    // corpus-wide verdict decomposes into the stateless per-row form
    val arrivals = Seq(
      (1L, (1 to 24).map(i => f"a$i%02d").mkString(" ")),
      (2L, (Seq("r01", "r02", "r03") ++ (1 to 24).map(i => f"y$i%02d")).mkString(" ")),
      (3L, (Seq("d1", "d2", "d3", "d1", "d2", "d3") ++
        (1 to 24).map(i => f"u$i%02d")).mkString(" ")))
    val src = tmpDir("scrub_src"); val dest = tmpDir("scrub_dest") + "/corpus"
    val ckpt = tmpDir("scrub_ckpt")
    arrivals.zipWithIndex.map { case ((id, t), i) => (id, ts(i), t) }
      .toDF("doc_id", "ts", "text")
      .repartition(1).write.mode("append").parquet(src)
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("ts", TimestampType),
      StructField("text", StringType)))
    // FP-free sizing (tiny filters measurably false-positive; FPs only
    // scrub more, but exact-string parity needs none)
    val bloom = Dedup.spanFpBloom(ref, "doc_id", "text", k = 3,
      expectedItems = Some(4096L), bitsPerItem = 16L)
    EventStreams.curationRouter(
      spark.readStream.schema(docSchema).parquet(src),
      keyCols = Seq("text"), idCol = "doc_id", dest, ckpt, "30 minutes",
      textCol = Some("text"), spanRefBloom = bloom, spanK = 3,
      scrubText = true).awaitTermination()
    val streamed = spark.read.parquet(dest)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(streamed.keySet === Set(1L, 2L, 3L), "all three docs pass the gates")
    // batch replay: the corpus-wide scrub over reference ∪ arrivals
    val batch = Dedup.spanScrub(ref.union(arrivals.toDF("doc_id", "text")),
        "doc_id", "text", k = 3)
      .select("doc_id", "clean_text").as[(Long, String)].collect().toMap
    for (id <- 1L to 3L) assert(streamed(id) === batch(id), s"doc $id")
    assert(streamed(1L) === (1 to 24).map(i => f"a$i%02d").mkString(" "))
    assert(streamed(2L) === (1 to 24).map(i => f"y$i%02d").mkString(" "))
    assert(streamed(3L) === (1 to 24).map(i => f"u$i%02d").mkString(" "))
  }

  test("curationRouter chains the inventory scrub after the span scrub, stream == batch chain") {
    import graft.operators.{Dedup, TextAnalysis}
    val b = "bb1 bb2 bb3 bb4" // the aligned 4-word boilerplate segment
    // batch-maintained inventory: the segment repeats across the base corpus
    val baseDocs = Seq((200L, s"$b x1 x2 x3 x4"), (201L, s"$b z1 z2 z3 z4"))
      .toDF("doc_id", "text")
    val inv = TextAnalysis.chunkWords(baseDocs, "doc_id", "text", 4)
      .select(TextAnalysis.hash32(col("chunk_text")).as("h1"),
        TextAnalysis.hash32b(col("chunk_text")).as("h2"))
      .groupBy("h1", "h2").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2).select("h1", "h2")
    // doc 1 clean; doc 2 leads with the boilerplate segment
    val arrivals = Seq(
      (1L, (1 to 24).map(i => f"a$i%02d").mkString(" ")),
      (2L, (Seq("bb1", "bb2", "bb3", "bb4") ++
        (1 to 20).map(i => f"c$i%02d")).mkString(" ")))
    val src = tmpDir("inv_src"); val dest = tmpDir("inv_dest") + "/corpus"
    val ckpt = tmpDir("inv_ckpt")
    arrivals.zipWithIndex.map { case ((id, t), i) => (id, ts(i), t) }
      .toDF("doc_id", "ts", "text")
      .repartition(1).write.mode("append").parquet(src)
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("ts", TimestampType),
      StructField("text", StringType)))
    EventStreams.curationRouter(
      spark.readStream.schema(docSchema).parquet(src),
      keyCols = Seq("text"), idCol = "doc_id", dest, ckpt, "30 minutes",
      textCol = Some("text"), spanK = 3, scrubText = true,
      boilerplateInventory = Some(inv), boilerplateK = 4).awaitTermination()
    val streamed = spark.read.parquet(dest)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(streamed.keySet === Set(1L, 2L))
    assert(streamed(1L) === (1 to 24).map(i => f"a$i%02d").mkString(" "))
    assert(streamed(2L) === (1 to 20).map(i => f"c$i%02d").mkString(" "))
    // the stream chain IS the batch chain: spanScrub then inventory scrub
    val batchChain = EventStreams.boilerplateScrub(
        Dedup.spanScrub(arrivals.toDF("doc_id", "text"), "doc_id", "text", k = 3)
          .select(col("doc_id"), col("clean_text").as("text")),
        inv, "text", 4)
      .select("doc_id", "scrubbed").as[(Long, String)].collect().toMap
    for (id <- 1L to 2L) assert(streamed(id) === batchChain(id), s"doc $id")
  }

  test("curated+scrubbed drain is exactly-once across a kill/resume, batch-identical") {
    import graft.operators.Dedup
    // the x37 lifecycle as a restartable stream: gate → scrub-edit →
    // checkpointed parquet drain. Day 1 drains, the query terminates
    // (AvailableNow = the kill point with a durable checkpoint), day 2's
    // files land, and a NEW query on the SAME checkpoint resumes — the
    // final table must hold each survivor exactly once with exactly the
    // batch spanScrub's edits (ids AND scrubbed token counts).
    val ref = Seq((100L, (1 to 24).map(i => f"r$i%02d").mkString(" ")))
      .toDF("doc_id", "text")
    val day1 = Seq(
      (1L, (1 to 24).map(i => f"a$i%02d").mkString(" ")),                    // untouched
      (2L, (Seq("r01", "r02", "r03") ++ (1 to 24).map(i => f"y$i%02d")).mkString(" "))) // ref span scrubbed
    val day2 = Seq(
      (3L, (Seq("d1", "d2", "d3", "d1", "d2", "d3") ++
        (1 to 24).map(i => f"u$i%02d")).mkString(" ")),                      // local repeat scrubbed
      (4L, (Seq("r04", "r05", "r06") ++ (1 to 24).map(i => f"w$i%02d")).mkString(" "))) // ref span scrubbed
    val src = tmpDir("resume_src"); val dest = tmpDir("resume_dest") + "/corpus"
    val ckpt = tmpDir("resume_ckpt")
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("ts", TimestampType),
      StructField("text", StringType)))
    val bloom = Dedup.spanFpBloom(ref, "doc_id", "text", k = 3,
      expectedItems = Some(4096L), bitsPerItem = 16L)
    def drain(): Unit = EventStreams.curationRouter(
      spark.readStream.schema(docSchema).parquet(src),
      keyCols = Seq("text"), idCol = "doc_id", dest, ckpt, "30 minutes",
      textCol = Some("text"), spanRefBloom = bloom, spanK = 3,
      scrubText = true).awaitTermination()
    day1.zipWithIndex.map { case ((id, t), i) => (id, ts(i), t) }
      .toDF("doc_id", "ts", "text").repartition(1).write.mode("append").parquet(src)
    drain() // day 1 lands, query terminates (the kill)
    assert(spark.read.parquet(dest).count() === 2)
    day2.zipWithIndex.map { case ((id, t), i) => (id, ts(10 + i), t) }
      .toDF("doc_id", "ts", "text").repartition(1).write.mode("append").parquet(src)
    drain() // resume on the same checkpoint: only day 2's files re-ingest
    val streamed = spark.read.parquet(dest)
      .select(col("doc_id"), col("text"),
        size(split(col("text"), " ")).as("n_toks"))
      .as[(Long, String, Int)].collect()
    // exactly-once: each survivor appears ONCE across both drains
    assert(streamed.map(_._1).sorted.toSeq === Seq(1L, 2L, 3L, 4L))
    // batch replay of the whole horizon: corpus-wide scrub over ref ∪ all
    val batch = Dedup.spanScrub(
        ref.union((day1 ++ day2).toDF("doc_id", "text")), "doc_id", "text", k = 3)
      .select(col("doc_id"), col("clean_text"),
        (col("n_tokens") - col("n_removed_tokens")).cast("int").as("n_toks"))
      .as[(Long, String, Int)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    streamed.foreach { case (id, text, n) =>
      assert((text, n) === batch(id), s"doc $id diverged from the batch edit")
    }
    assert(streamed.map(_._2).forall(_.split(" ").length >= 24)) // edits kept payload
  }

  test("two-wave ingest replay through the checkpointed router drain equals the x47 batch arms") {
    import graft.operators.{Dedup, TextAnalysis}
    // x47's composition claim, with the streaming ingest layer actually in
    // the loop: wave 1 and wave 2 arrive through curationRouter's
    // checkpointed drain — with a KILL/RESUME in the middle of wave 2 —
    // and each day's incremental resolution runs off the DRAINED arrivals.
    // The batch arm resolves the same waves from direct corpus filters;
    // the per-wave outcome panels AND the final map checksum must match
    // exactly (exactly-once transport + deterministic resolution).
    val d = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, d).select("doc_id", "source", "text")
      .localCheckpoint()
    val src = tmpDir("wave_src"); val dest = tmpDir("wave_dest") + "/arrivals"
    val ckpt = tmpDir("wave_ckpt")
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("ts", TimestampType),
      StructField("source", StringType), StructField("text", StringType)))
    def land(df: org.apache.spark.sql.DataFrame, m: Int): Unit =
      df.withColumn("ts", lit(ts(m))).select("doc_id", "ts", "source", "text")
        .repartition(1).write.mode("append").parquet(src)
    def drain(): Unit = EventStreams.curationRouter(
      spark.readStream.schema(docSchema).parquet(src),
      keyCols = Seq("doc_id"), idCol = "doc_id", dest, ckpt, "30 minutes")
      .awaitTermination()
    val wave1 = docs.filter(col("doc_id") % 10 === 0)
    val wave2 = docs.filter(col("doc_id") % 10 === 5)
    // x47's signature recipe, one pass for every candidate generator
    val sigAll = Dedup.minhashSignature(
      docs.select(col("doc_id"), split(col("text"), " ").as("ws"))
        .filter(size(col("ws")) >= 3)
        .select(col("doc_id"), explode(TextAnalysis.shinglesExpr("ws", 3)).as("sh"))
        .select(col("doc_id"), TextAnalysis.hash32(col("sh")).as("hv")),
      "doc_id", 8).localCheckpoint()
    val base = docs.filter(col("doc_id") % 5 =!= 0)
    val labels0 = Dedup.connectedComponents(
      Dedup.lshCandidates(sigAll.join(base.select("doc_id"), Seq("doc_id"), "left_semi"),
        "doc_id", 8),
      base, "doc_id").localCheckpoint()
    def resolve(labels: org.apache.spark.sql.DataFrame,
                arrivals: org.apache.spark.sql.DataFrame) = {
      val sigW = sigAll.join(arrivals, Seq("doc_id"), "left_semi")
      val sigPrior = sigAll.join(labels.select("doc_id"), Seq("doc_id"), "left_semi")
      val pairs = Dedup.lshCandidatesAgainst(sigW, sigPrior, "doc_id", 8)
        .select(col("doc_new").as("doc_a"), col("doc_base").as("doc_b"))
        .union(Dedup.lshCandidates(sigW, "doc_id", 8))
      Dedup.incrementalComponents(labels, arrivals, pairs, "doc_id")
        .localCheckpoint()
    }
    def panel(labels: org.apache.spark.sql.DataFrame, wave: Int,
              arrCond: org.apache.spark.sql.Column,
              priorCond: org.apache.spark.sql.Column) = {
      val cl = labels.groupBy("cluster_id").agg(
        sum(when(priorCond, 1L).otherwise(0L)).as("n_prior"),
        count(lit(1)).as("n_all"))
      labels.filter(arrCond).join(cl, Seq("cluster_id"))
        .select(col("doc_id"),
          when(col("n_prior") > 0, "joined_existing")
            .when(col("n_all") >= 2, "new_cluster")
            .otherwise("singleton").as("outcome"))
        .join(docs.select("doc_id", "source"), Seq("doc_id"))
        .groupBy("source", "outcome").agg(count(lit(1)).as("n"))
        .as[(String, String, Long)].collect().map(r => (wave, r._1, r._2, r._3))
        .toSet
    }
    def checksum(labels: org.apache.spark.sql.DataFrame): Long =
      labels.select(pmod(sum((col("doc_id") % 2147483647L)
          * (col("cluster_id") % 2147483647L) % 2147483647L), lit(2147483647L)))
        .as[Long].collect().head
    // ---- streamed arm: wave 1 lands and drains, day-1 resolution runs
    land(wave1, 0); drain()
    val drained1 = spark.read.parquet(dest).select("doc_id").localCheckpoint()
    assert(drained1.count() === wave1.count())
    val labels1s = resolve(labels0, drained1)
    // wave 2 arrives in TWO files with a kill/resume between them
    land(wave2.filter(col("doc_id") % 20 === 5), 10); drain() // the kill
    land(wave2.filter(col("doc_id") % 20 === 15), 20); drain() // the resume
    val drainedAll = spark.read.parquet(dest).select("doc_id")
    // exactly-once across the kill: every arrival exactly once
    assert(drainedAll.groupBy("doc_id").count().filter(col("count") > 1).count() === 0L)
    val drained2 = drainedAll.filter(col("doc_id") % 10 === 5).localCheckpoint()
    assert(drained2.count() === wave2.count())
    val labels2s = resolve(labels1s, drained2)
    // ---- batch arm: same resolution off direct corpus filters
    val labels1b = resolve(labels0, wave1.select("doc_id"))
    val labels2b = resolve(labels1b, wave2.select("doc_id"))
    // ---- stream == batch: per-wave outcome panels and final checksum
    assert(panel(labels1s, 1, col("doc_id") % 10 === 0, col("doc_id") % 5 =!= 0)
      === panel(labels1b, 1, col("doc_id") % 10 === 0, col("doc_id") % 5 =!= 0))
    assert(panel(labels2s, 2, col("doc_id") % 10 === 5, col("doc_id") % 10 =!= 5)
      === panel(labels2b, 2, col("doc_id") % 10 === 5, col("doc_id") % 10 =!= 5))
    assert(checksum(labels2s) === checksum(labels2b))
    Housekeeping.releaseAllBlocks(spark)
  }

  test("perplexityScore over a file stream equals the batch held-out scorer") {
    import graft.operators.Lm
    // reference corpus fits the model; arrivals contain seen bigrams,
    // bigrams with a seen prev only, a wholly unseen vocabulary, and a
    // one-word doc (no bigrams → absent on BOTH sides)
    val ref = Seq(
      (100L, "the cat sat on the mat"),
      (101L, "the dog sat on the rug")).toDF("doc_id", "text")
    val model = Lm.bigramCounts(ref)
    val arrivals = Seq(
      (1L, "the cat sat on the rug"),   // all bigrams seen
      (2L, "the cat ate the mat"),      // 'cat ate' unseen, prev seen
      (3L, "quantum flux capacitor"),   // wholly unseen vocabulary
      (4L, "mat"))                      // <2 words → no output row
    val src = tmpDir("ppl_src")
    arrivals.zipWithIndex.map { case ((id, t), i) => (id, ts(i), t) }
      .toDF("doc_id", "ts", "text")
      .repartition(1).write.mode("append").parquet(src)
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("ts", TimestampType),
      StructField("text", StringType)))
    val scored = EventStreams.perplexityScore(
      spark.readStream.schema(docSchema).parquet(src),
      model, "doc_id", "text", "ts")
    val q = scored.writeStream.format("memory").queryName("ppl_out")
      .outputMode(OutputMode.Complete()).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("ppl_out")
      .select("doc_id", "n_bigrams", "n_unseen", "avg_kn_logprob")
      .as[(Long, Int, Int, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val want = Lm.heldoutScored(model, arrivals.toDF("doc_id", "text"))
      .as[(Long, Int, Int, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got === want, s"stream $got != batch $want")
    assert(got.keySet === Set(1L, 2L, 3L))
    assert(got(1L)._2 === 0 && got(2L)._2 > 0, "n_unseen discriminates")
    assert(got(3L)._2 === got(3L)._1, "wholly unseen doc: every bigram unseen")
  }

  test("classifierScore gates a stream statelessly with batch-identical scores") {
    import graft.operators.TextAnalysis
    val rows = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "scan filter join merge sort"),
      (3L, "the a of and in to"))
    val src = tmpDir("qgate_src")
    rows.toDF("doc_id", "text").repartition(1).write.mode("append").parquet(src)
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    def scored(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("ws", split(col("text"), " "))
      .select(col("doc_id"), TextAnalysis.classifierScore("ws").as("score"))
    val q = scored(spark.readStream.schema(docSchema).parquet(src))
      .writeStream.format("memory").queryName("qgate_out")
      .outputMode(OutputMode.Append()).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("qgate_out").as[(Long, Double)].collect().toMap
    val batch = scored(rows.toDF("doc_id", "text")).as[(Long, Double)].collect().toMap
    assert(streamed === batch) // zero-state expression: stream ≡ batch bit-for-bit
  }

  test("discriminatorGate scores a stream off the fitted model, batch-identical") {
    import graft.operators.Relational
    // train frame: whitespace density correlates with the label, so the
    // fit learns a usable x2 coefficient; two languages, separate models
    val train = Seq(
      ("en", "a b c d e f g h", 1.0), ("en", "aa bb cc dd", 1.0),
      ("en", "wordswithoutspacesatall", 0.0), ("en", "longcompoundtoken x", 0.0),
      ("fr", "un deux trois quatre", 1.0), ("fr", "motcomposesansespace", 0.0),
      ("fr", "le la les un une", 1.0), ("fr", "agglutinationcomplete y", 0.0))
      .toDF("lang", "text", "y")
    def featsOf(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("__nc", length(col("text")))
      .withColumn("x1", log(lit(1.0) + col("__nc")))
      .withColumn("x2", (col("__nc") - length(expr("replace(text, ' ', '')")))
        .cast("double") / col("__nc"))
    val beta = Relational.logisticIrls(featsOf(train), "lang", iters = 4)
      .select(col("lang"),
        col("b0").cast("decimal(12,4)").cast("double").as("b0s"),
        col("b1").cast("decimal(12,4)").cast("double").as("b1s"),
        col("b2").cast("decimal(12,4)").cast("double").as("b2s"))
    // fit-time retention cutoff: per-lang median train eta (ships WITH
    // the model — a stream cannot rank inside an unbounded corpus)
    val model = featsOf(train).join(beta, Seq("lang"))
      .withColumn("eta", col("b0s") + col("b1s") * col("x1") + col("b2s") * col("x2"))
      .groupBy("lang", "b0s", "b1s", "b2s")
      .agg(percentile(col("eta"), lit(0.5)).as("cut"))
    // arrivals clone one train positive and one train negative per lang:
    // their etas equal those train rows' etas, which sit strictly above /
    // below the interpolated median cut as long as the fit ranks the four
    // train rows correctly — deterministic keep/drop expectations
    val arrivals = Seq(
      (1L, "en", "a b c d e f g h"), (2L, "en", "wordswithoutspacesatall"),
      (3L, "fr", "un deux trois quatre"), (4L, "fr", "motcomposesansespace"))
    val src = tmpDir("disc_src")
    arrivals.toDF("doc_id", "lang", "text").repartition(1)
      .write.mode("append").parquet(src)
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("lang", StringType),
      StructField("text", StringType)))
    val q = EventStreams.discriminatorGate(
        spark.readStream.schema(docSchema).parquet(src), model, "text")
      .select("doc_id", "eta", "keep")
      .writeStream.format("memory").queryName("disc_out")
      .outputMode(OutputMode.Append()).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("disc_out")
      .as[(Long, Double, Boolean)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // batch recompute with z42's feature definitions (n_chars ≡ length)
    val batch = featsOf(arrivals.toDF("doc_id", "lang", "text"))
      .join(model, Seq("lang"))
      .withColumn("eta", col("b0s") + col("b1s") * col("x1") + col("b2s") * col("x2"))
      .select(col("doc_id"), col("eta"), (col("eta") > col("cut")).as("keep"))
      .as[(Long, Double, Boolean)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(streamed === batch) // stateless expressions: stream ≡ batch bit-for-bit
    // the gate discriminates: spacey docs keep, agglutinated drop
    assert(streamed(1L)._2 && streamed(3L)._2)
    assert(!streamed(2L)._2 && !streamed(4L)._2)
    // empty text cannot kill the stream (ANSI /0): null score, drop
    val empties = EventStreams.discriminatorGate(
        Seq((9L, "en", "")).toDF("doc_id", "lang", "text"), model, "text")
      .select("doc_id", "eta", "keep")
      .as[(Long, Option[Double], Boolean)].collect()
    assert(empties.toSeq === Seq((9L, None, false)))
  }

  test("discriminatorGate serves the persisted z42 artifact batch-identically") {
    val d = "/root/testdata/sf0.001"
    // the REAL fitted artifact — same Store build + cache the declared
    // queries read; carries the fit-time per-lang cutoff
    val model = graft.queries.PipelineQueries.clsModel(spark, d)
    assert(model.columns.contains("cut"))
    val odd = Tables.documents(spark, d)
      .filter(col("doc_id") % 2 === 1).select("doc_id", "lang", "text")
    val src = tmpDir("disc2_src")
    odd.repartition(1).write.mode("append").parquet(src)
    val sch = StructType(Seq(StructField("doc_id", LongType),
      StructField("lang", StringType), StructField("text", StringType)))
    val q = EventStreams.discriminatorGate(
        spark.readStream.schema(sch).parquet(src), model, "text")
      .select("doc_id", "eta", "keep")
      .writeStream.format("memory").queryName("disc2_out")
      .outputMode(OutputMode.Append()).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("disc2_out")
      .as[(Long, Double, Boolean)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val batch = EventStreams.discriminatorGate(odd, model, "text")
      .select("doc_id", "eta", "keep")
      .as[(Long, Double, Boolean)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(streamed === batch)
    assert(streamed.size === odd.count())
    // the median cutoff splits the held-out half: both verdicts occur
    assert(streamed.values.exists(_._2) && streamed.values.exists(!_._2))
  }

  test("fertilityGate keeps compressing text, drops gibberish, off the fitted tokenizer") {
    import graft.operators.Vocab
    // fit on an in-domain reference corpus: multi-char tokens get learned,
    // so in-domain text compresses well below one token per character
    val ref = Seq.fill(6)("batch merge window batch merge window").toDF("text")
    val model = Vocab.unigramFit(ref, "text", maxTok = 4, initMulti = 8,
      pruneTo = 6, rounds = 2).select("token", "cost")
    val arrivals = Seq(
      (1L, "batch merge batch window"), // in-domain: reuses learned tokens
      (2L, "qzxj vkqp zzxx"),           // unseen chars: UNK fallback, ratio 1.0
      (3L, ""))                         // empty: null ratio, conservative drop
    val src = tmpDir("fert_src")
    arrivals.toDF("doc_id", "text").repartition(1)
      .write.mode("append").parquet(src)
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val q = EventStreams.fertilityGate(
        spark.readStream.schema(docSchema).parquet(src), model, "text",
        maxTokensPerChar = 0.7)
      .select("doc_id", "tokens_per_char", "keep")
      .writeStream.format("memory").queryName("fert_out")
      .outputMode(OutputMode.Append()).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("fert_out")
      .as[(Long, Option[Double], Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // stateless expressions: the batch application is bit-identical
    val batch = EventStreams.fertilityGate(
        arrivals.toDF("doc_id", "text"), model, "text", maxTokensPerChar = 0.7)
      .select("doc_id", "tokens_per_char", "keep")
      .as[(Long, Option[Double], Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(streamed === batch)
    assert(streamed(1L)._1.get < 0.7 && streamed(1L)._2)
    assert(streamed(2L)._1.get == 1.0 && !streamed(2L)._2,
      "unseen chars must segment via the UNK fallback at one token per char")
    assert(streamed(3L)._1.isEmpty && !streamed(3L)._2)
  }

  test("nearDupGate drops stream docs that LSH-collide with the static corpus") {
    import graft.operators.{Dedup, TextAnalysis}
    val corpus = Seq(
      (100L, "the quick brown fox jumps over the lazy dog today"),
      (101L, "sort merge join hash scan filter group order window")).toDF("doc_id", "text")
    val corpusSig = {
      val sh = corpus.select(col("doc_id"), split(col("text"), " ").as("ws"))
        .select(col("doc_id"), explode(TextAnalysis.shinglesExpr("ws", 3)).as("sh"))
        .select(col("doc_id"), TextAnalysis.hash32(col("sh")).as("hv")).distinct()
      Dedup.minhashSignature(sh, "doc_id", 8)
    }
    // auto-sized from the band count; hot-bucket cap mirrors the batch
    // candidate paths (no-op on this corpus, wiring exercised)
    val bloom = Dedup.bandKeyBloom(corpusSig, maxBucket = Some(16L))
    assert(bloom.isDefined)
    // empty corpus → everything passes
    assert(Dedup.bandKeyBloom(corpusSig.limit(0)).isEmpty)

    val src = tmpDir("gate_src")
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"), // dup of 100
      (2L, "completely different words appear in this text here now"),
      (3L, "too short")) // no shingles → always passes
      .toDF("doc_id", "text").repartition(1).write.mode("append").parquet(src)
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val gated = EventStreams.nearDupGate(
      spark.readStream.schema(docSchema).parquet(src), "text", bloom)
    val q = gated.writeStream.format("memory").queryName("gate_out")
      .outputMode(OutputMode.Append()).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val kept = spark.table("gate_out").select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq === Seq(2L, 3L)) // the corpus near-dup is gone
  }

  test("takedownGate drops listed ids AND re-uploaded content, stream == batch") {
    val src = tmpDir("takedown_src")
    Seq(
      (1L, "this document was subject to a takedown request yesterday"),
      (2L, "a perfectly ordinary document that stays in the corpus"),
      (9L, "this document was subject to a takedown request yesterday"), // re-upload of 1
      (3L, "another ordinary survivor document in the stream"))
      .toDF("doc_id", "text").repartition(1).write.mode("append").parquet(src)
    val removal = Seq((1L, "this document was subject to a takedown request yesterday"))
      .toDF("doc_id", "rm_text")
      .select(col("doc_id"), md5(col("rm_text")).as("content_hash"))
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val gated = EventStreams.takedownGate(
      spark.readStream.schema(docSchema).parquet(src), removal, "doc_id", Some("text"))
    val q = gated.writeStream.format("memory").queryName("takedown_out")
      .outputMode(OutputMode.Append()).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val kept = spark.table("takedown_out").select("doc_id").as[Long].collect().sorted
    // 1 goes by id; 9 goes by content hash despite its fresh id
    assert(kept.toSeq === Seq(2L, 3L))
    // the stream gate IS the batch gate (stateless pure joins)
    val batchKept = EventStreams.takedownGate(
        spark.read.parquet(src), removal, "doc_id", Some("text"))
      .select("doc_id").as[Long].collect().sorted
    assert(batchKept.toSeq === kept.toSeq)
    // id-only form: the re-upload sails through — the reason content_hash exists
    val idOnly = EventStreams.takedownGate(
        spark.read.parquet(src), removal, "doc_id", None)
      .select("doc_id").as[Long].collect().sorted
    assert(idOnly.toSeq === Seq(2L, 3L, 9L))
    // null text matches nothing: the row passes to downstream gates
    val nullText = EventStreams.takedownGate(
        Seq((7L, null: String)).toDF("doc_id", "text"), removal, "doc_id", Some("text"))
      .select("doc_id").as[Long].collect()
    assert(nullText.toSeq === Seq(7L))
    // a docs side that carries its OWN content_hash column must not make
    // the removal join ambiguous
    val docsWithHash = spark.read.parquet(src)
      .withColumn("content_hash", md5(col("text")))
    val withOwnHash = EventStreams.takedownGate(
        docsWithHash, removal, "doc_id", Some("text"))
      .select("doc_id").as[Long].collect().sorted
    assert(withOwnHash.toSeq === Seq(2L, 3L))
    // null-ID arrival: a null id never matches a left-anti equi-join, so an
    // uncheckable row would otherwise sail past the gate's PRIMARY check —
    // the default fails closed and drops it
    val nullIdDocs = Seq((None: Option[Long], "some fresh uncheckable text"))
      .toDF("doc_id", "text")
    assert(EventStreams.takedownGate(nullIdDocs, removal, "doc_id", Some("text"))
      .count() === 0L)
    // opt-out for pipelines where a downstream stage owns identity
    assert(EventStreams.takedownGate(nullIdDocs, removal, "doc_id", Some("text"),
      requireId = false).count() === 1L)
  }

  test("boilerplateScrub strips inventory segments in-flight, stream == batch rebuild") {
    import graft.operators.TextAnalysis
    val b = "alpha beta gamma delta" // the aligned 4-word boilerplate segment
    val docRows = Seq(
      (1L, s"$b one two three four"),
      (2L, s"$b five six seven eight"),
      (3L, "nine ten eleven twelve unique tail words here"),
      (4L, b)) // entirely boilerplate: rebuilds as the empty string
    val docs = docRows.toDF("doc_id", "text")
    // batch-maintained inventory: aligned segments with corpus df >= 2
    val segs = TextAnalysis.chunkWords(docs, "doc_id", "text", 4)
      .select(col("doc_id"), col("chunk_id"), col("chunk_text"),
        TextAnalysis.hash32(col("chunk_text")).as("h1"),
        TextAnalysis.hash32b(col("chunk_text")).as("h2"))
    val inv = segs.groupBy("h1", "h2").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2).select("h1", "h2")
    val expected = Map(
      1L -> "one two three four", 2L -> "five six seven eight",
      3L -> "nine ten eleven twelve unique tail words here", 4L -> "")
    // the expression path on a batch frame equals the x46 groupBy rebuild
    val exprOut = EventStreams.boilerplateScrub(docs, inv, "text", 4)
      .select("doc_id", "scrubbed").as[(Long, String)].collect().toMap
    assert(exprOut === expected)
    val rebuilt = segs.join(inv, Seq("h1", "h2"), "left_anti")
      .groupBy("doc_id").agg(array_join(transform(
        array_sort(collect_list(struct(col("chunk_id"), col("chunk_text")))),
        c => c.getField("chunk_text")), " ").as("rebuilt"))
    val batchOut = docs.join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("rebuilt"), lit("")))
      .as[(Long, String)].collect().toMap
    assert(batchOut === expected)
    // and the STREAM path is the same expression: stateless, no watermark
    val src = tmpDir("boiler_src")
    docs.repartition(1).write.mode("append").parquet(src)
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val gated = EventStreams.boilerplateScrub(
      spark.readStream.schema(docSchema).parquet(src), inv, "text", 4)
    val q = gated.writeStream.format("memory").queryName("boiler_out")
      .outputMode(OutputMode.Append()).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamOut = spark.table("boiler_out")
      .select("doc_id", "scrubbed").as[(Long, String)].collect().toMap
    assert(streamOut === expected)
  }

  test("boilerplateScrub propagates null text as null, never an empty rewrite") {
    import graft.operators.TextAnalysis
    // the takedownGate convention the advisory pinned: a null-text arrival
    // must stay null (downstream gates own that verdict) — size(null) = -1
    // would otherwise silently rebuild it as the EMPTY string, which reads
    // as "scrubbed to nothing" to every consumer
    val b = "alpha beta gamma delta"
    val docs = Seq((1L, s"$b keep these four"), (2L, s"$b other tail words x"),
        (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val segs = TextAnalysis.chunkWords(docs.filter(col("text").isNotNull),
        "doc_id", "text", 4)
      .select(TextAnalysis.hash32(col("chunk_text")).as("h1"),
        TextAnalysis.hash32b(col("chunk_text")).as("h2"))
    val inv = segs.groupBy("h1", "h2").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2).select("h1", "h2")
    val out = EventStreams.boilerplateScrub(docs, inv, "text", 4)
      .select("doc_id", "scrubbed")
      .as[(Long, Option[String])].collect().toMap
    assert(out(1L) === Some("keep these four"))
    assert(out(2L) === Some("other tail words x"))
    assert(out(3L).isEmpty, s"null text must propagate as null: $out")
  }

  test("annServe top-1 over a file stream equals the batch bucket-join replica") {
    import graft.operators.Similarity
    def vec(seed: Long): Array[Float] =
      Array.tabulate(64)(i => (((seed * 7 + i * 13) % 17) - 8).toFloat)
    // 16 corpus ids < one period of the seed formula → all vectors distinct
    val corpus = (100L to 115L).map(id => (id, vec(id))).toDF("vec_id", "embedding")
    val src = tmpDir("ann_src")
    // queries are exact twins of three corpus vectors: their buckets are
    // guaranteed non-empty, so all three must be served
    val qRows = Seq((1L, ts(5), vec(103L)), (2L, ts(10), vec(107L)), (3L, ts(15), vec(111L)))
    qRows.toDF("vec_id", "ts", "embedding").repartition(1).write.mode("append").parquet(src)
    val qSchema = StructType(Seq(
      StructField("vec_id", LongType), StructField("ts", TimestampType),
      StructField("embedding", ArrayType(FloatType))))
    val served = EventStreams.annServe(
      spark.readStream.schema(qSchema).parquet(src), corpus, "vec_id", "embedding", "ts")
    val q = served.writeStream.format("memory").queryName("ann_out")
      .outputMode(OutputMode.Complete()).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("ann_out").select("q_id", "c_id", "cosine")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap

    val cB = corpus.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
      .withColumn("c_nrm", Similarity.norm("c_vec"))
      .withColumn("bucket", Similarity.hyperplaneBucket("c_vec"))
    val qB = qRows.toDF("vec_id", "ts", "embedding")
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      .withColumn("q_nrm", Similarity.norm("q_vec"))
      .withColumn("bucket", Similarity.hyperplaneBucket("q_vec"))
    val exp = qB.join(cB, Seq("bucket"))
      .withColumn("cosine",
        round(Similarity.dot("q_vec", "c_vec") / (col("q_nrm") * col("c_nrm")), 6))
      .groupBy("q_id").agg(max(struct(col("cosine"), col("c_id"))).as("best"))
      .select(col("q_id"), col("best.c_id"), col("best.cosine"))
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got.keySet === Set(1L, 2L, 3L), s"every twin-backed query must be served: $got")
    assert(got === exp, s"stream $got != batch $exp")
  }

  test("mipsServe top-1 over a file stream equals the batch mipsTopK operator") {
    import graft.operators.Similarity
    def vec(seed: Long): Array[Float] =
      Array.tabulate(64)(i => (((seed * 7 + i * 13) % 17) - 8).toFloat)
    val corpus = (100L to 115L).map(id => (id, vec(id))).toDF("vec_id", "embedding")
    // queries are twins of corpus vectors with ids ABOVE the corpus id
    // space: in the batch arm's union frame a query-twin candidate ties
    // its corpus twin on dot and loses the id tiebreak, so both arms
    // rank over the effectively-same candidate set
    val qRows = Seq((901L, ts(5), vec(103L)), (902L, ts(10), vec(107L)),
      (903L, ts(15), vec(111L)))
    val src = tmpDir("mips_src")
    qRows.toDF("vec_id", "ts", "embedding").repartition(1).write.mode("append").parquet(src)
    val qSchema = StructType(Seq(
      StructField("vec_id", LongType), StructField("ts", TimestampType),
      StructField("embedding", ArrayType(FloatType))))
    val served = EventStreams.mipsServe(
      spark.readStream.schema(qSchema).parquet(src), corpus, "vec_id", "embedding", "ts",
      planes = 4)
    val q = served.writeStream.format("memory").queryName("mips_out")
      .outputMode(OutputMode.Complete()).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("mips_out").select("q_id", "c_id", "dot")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // cross-implementation parity: the BATCH operator on corpus ∪ queries
    val union = corpus.unionByName(
      qRows.map(r => (r._1, r._3)).toDF("vec_id", "embedding"))
    val exp = Similarity.mipsTopK(union, id => id >= 900L, "vec_id", "embedding",
        k = 1, planes = 4)
      .select("q_id", "c_id", "dot")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got.keySet === Set(901L, 902L, 903L), s"every twin-backed query must be served: $got")
    assert(got === exp, s"stream $got != batch $exp")
  }

  test("mipsServe post-filters tombstones: the stale index serves, deleted ids vanish") {
    import graft.operators.Similarity
    def vec(seed: Long): Array[Float] =
      Array.tabulate(64)(i => (((seed * 7 + i * 13) % 17) - 8).toFloat)
    val corpus = (100L to 115L).map(id => (id, vec(id))).toDF("vec_id", "embedding")
    // twins 901→103, 902→107, 903→111; requester 904 is itself tombstoned
    val qRows = Seq((901L, ts(5), vec(103L)), (902L, ts(10), vec(107L)),
      (903L, ts(15), vec(111L)), (904L, ts(20), vec(113L)))
    val tombs = Seq(103L, 107L, 904L).toDF("vec_id")
    val src = tmpDir("mips_tomb_src")
    qRows.toDF("vec_id", "ts", "embedding").repartition(1)
      .write.mode("append").parquet(src)
    val qSchema = StructType(Seq(
      StructField("vec_id", LongType), StructField("ts", TimestampType),
      StructField("embedding", ArrayType(FloatType))))
    val served = EventStreams.mipsServe(
      spark.readStream.schema(qSchema).parquet(src), corpus,
      "vec_id", "embedding", "ts", planes = 4, tombstones = Some(tombs))
    val q = served.writeStream.format("memory").queryName("mips_tomb_out")
      .outputMode(OutputMode.Complete()).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("mips_tomb_out").select("q_id", "c_id", "dot")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // the tombstoned requester is never served; the others fall back to
    // their best NON-tombstoned candidate off the STALE index
    assert(got.keySet === Set(901L, 902L, 903L), s"wrong served set: $got")
    assert(!got.values.exists(v => Set(103L, 107L).contains(v._1)),
      s"a tombstoned candidate was served: $got")
    // batch post-filter parity: surface every stale-index candidate
    // (k = corpus size), drop tombstoned + query-twin candidates (the
    // stream's candidates are corpus-only), take the best survivor
    val union = corpus.unionByName(
      qRows.map(r => (r._1, r._3)).toDF("vec_id", "embedding"))
    val exp = Similarity.mipsTopK(union, id => id >= 900L, "vec_id", "embedding",
        k = 32, planes = 4)
      .filter(!col("c_id").isin(103L, 107L) && col("c_id") < 900L
        && col("q_id") =!= lit(904L))
      .withColumn("r2", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("q_id").orderBy(col("rank").asc)))
      .filter(col("r2") === 1)
      .select("q_id", "c_id", "dot")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got === exp, s"stream $got != batch post-filter $exp")
    // an empty static corpus refuses stream construction with a named
    // error (the max-norm augmentation scalar is undefined)
    val err = intercept[IllegalArgumentException] {
      EventStreams.mipsServe(
        spark.readStream.schema(qSchema).parquet(src),
        corpus.filter(col("vec_id") < 0L), "vec_id", "embedding", "ts")
    }
    assert(err.getMessage.contains("empty"))
  }

  test("mipsServeSink applies a tombstone landed mid-stream at the very next batch") {
    import graft.operators.Similarity
    def vec(seed: Long): Array[Float] =
      Array.tabulate(64)(i => (((seed * 7 + i * 13) % 17) - 8).toFloat)
    val corpus = (100L to 115L).map(id => (id, vec(id))).toDF("vec_id", "embedding")
    val qSchema = StructType(Seq(
      StructField("vec_id", LongType), StructField("ts", TimestampType),
      StructField("embedding", ArrayType(FloatType))))
    val src = tmpDir("mips_live_src"); val ckpt = tmpDir("mips_live_ckpt")
    val dest = tmpDir("mips_live_dest"); val tombs = tmpDir("mips_live_tombs")
    def drain(): Unit = EventStreams.mipsServeSink(
      spark.readStream.schema(qSchema).parquet(src), corpus,
      "vec_id", "embedding", "ts", dest, ckpt,
      tombstonePath = Some(tombs), planes = 4).awaitTermination()
    // expected rows for a query set under a removal set: the y26-shaped
    // batch post-filter recompute (stale full-corpus index, k'=wide,
    // drop tombstoned candidates + requesters, keep the best survivor)
    def expect(qRows: Seq[(Long, java.sql.Timestamp, Array[Float])],
               removed: Set[Long]): Map[Long, Long] = {
      val union = corpus.unionByName(
        qRows.map(r => (r._1, r._3)).toDF("vec_id", "embedding"))
      Similarity.mipsTopK(union, id => id >= 900L, "vec_id", "embedding",
          k = 32, planes = 4)
        .filter(col("c_id") < 900L
          && !col("c_id").isin(removed.toSeq.map(Long.box): _*)
          && !col("q_id").isin(removed.toSeq.map(Long.box): _*))
        .withColumn("r2", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("q_id").orderBy(col("rank").asc)))
        .filter(col("r2") === 1)
        .select("q_id", "c_id")
        .as[(Long, Long)].collect().toMap
    }
    def served(): Map[Long, Long] = spark.read.parquet(dest)
      .select("q_id", "c_id").as[(Long, Long)].collect().toMap
    // ---- batch 1: no tombstone file exists yet (missing path = empty set)
    val b1 = Seq((901L, ts(5), vec(103L)), (902L, ts(10), vec(107L)))
    b1.toDF("vec_id", "ts", "embedding").repartition(1)
      .write.mode("append").parquet(src)
    drain()
    val after1 = served()
    assert(after1 === expect(b1, Set.empty), s"batch 1 diverged: $after1")
    assert(after1(901L) === 103L, "twin query must be served its twin pre-takedown")
    // ---- the takedown lands MID-STREAM: candidate 103 and requester 904
    Seq(103L, 904L).toDF("vec_id").repartition(1)
      .write.mode("append").parquet(tombs)
    // ---- batch 2 on the SAME checkpoint: the next drain must see it
    val b2 = Seq((903L, ts(15), vec(103L)), (904L, ts(20), vec(111L)))
    b2.toDF("vec_id", "ts", "embedding").repartition(1)
      .write.mode("append").parquet(src)
    drain()
    val after2 = served()
    // batch-1 output is immutable history (it served pre-takedown truth);
    // batch-2 output post-filters the takedown without any restart
    assert(after2.view.filterKeys(Set(901L, 902L)).toMap === after1)
    assert(after2.keySet === Set(901L, 902L, 903L),
      s"tombstoned requester 904 must get nothing: $after2")
    assert(after2(903L) !== 103L, s"tombstoned candidate served mid-stream: $after2")
    assert(after2.view.filterKeys(_ == 903L).toMap
      === expect(b2, Set(103L, 904L)).view.filterKeys(_ == 903L).toMap,
      "batch 2 diverged from the post-filter recompute")
  }

  test("scd2Sink maintains the history store across restarts and duplicate re-delivery") {
    // the CDC loop end to end: a change feed drains through the
    // checkpointed foreachBatch merge; batch 2 arrives AFTER a kill
    // (AvailableNow termination) and deliberately RE-DELIVERS batch 1's
    // rows (upstream at-least-once) — the replay-safe merge must land the
    // exact history a one-shot window derivation produces over the
    // DISTINCT feed, with one open version per key.
    val b1 = Seq((1L, "a", 100L, 1.0), (1L, "a", 200L, 2.0), (2L, "b", 150L, 5.0))
    val b2 = Seq((1L, "a", 300L, 3.0), (3L, "b", 320L, 7.0))
    def feed(rows: Seq[(Long, String, Long, Double)]) =
      rows.toDF("user_id", "event_type", "ts_us", "value")
    val src = tmpDir("scd2_src"); val ckpt = tmpDir("scd2_ckpt")
    val storePath = tmpDir("scd2_store_sink") + "/t"
    val schema2 = StructType(Seq(
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("ts_us", LongType), StructField("value", DoubleType)))
    def drain(): Unit = EventStreams.scd2Sink(
      spark.readStream.schema(schema2).parquet(src), storePath, "event_type",
      Seq("user_id", "event_type"), "ts_us", ckpt).awaitTermination()
    feed(b1).repartition(1).write.mode("append").parquet(src)
    drain() // batch 1 lands; the query terminates (the kill)
    // batch 2 + a duplicate copy of batch 1 (upstream re-delivery)
    feed(b2 ++ b1).repartition(1).write.mode("append").parquet(src)
    drain() // resume on the same checkpoint
    val hist = graft.sources.Store(spark, storePath, "event_type").read
    // replay safety: each version exactly once
    assert(hist.count() === (b1 ++ b2).size.toLong)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id", "event_type").orderBy(col("ts_us").asc)
    val derived = feed(b1 ++ b2)
      .withColumn("valid_from", col("ts_us"))
      .withColumn("valid_to", lead(col("ts_us"), 1).over(w))
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("user_id"), col("event_type"), col("value"),
        col("valid_from"), coalesce(col("valid_to"), lit(-1L)))
      .as[(Long, String, Double, Long, Long)].collect().toSet
    assert(rows(hist) === rows(derived), "sink history diverged from the rebuild")
    assert(hist.filter(col("valid_to").isNull).count() === 3L) // one open per key
  }

  test("versionedIngestSink lands each micro-batch as one version, exactly once") {
    val src = tmpDir("vsink_src"); val ckpt = tmpDir("vsink_ckpt")
    val storePath = tmpDir("vsink_store") + "/t"
    val store = graft.sources.Store(spark, storePath, "event_type")
    def drain(checkpoint: String): Unit = EventStreams.versionedIngestSink(
      EventStreams.fileSource(spark, src, schema), storePath, "event_type",
      checkpoint).awaitTermination()
    writeBatch(src, Seq((1L, ts(0), 10L, "click", 1.0), (2L, ts(1), 11L, "view", 2.0)))
    drain(ckpt)
    assert(store.versions === Seq(1L))
    assert(store.hasBatchTag("stream_batch_0"))
    // ---- the re-delivery shape: a RECREATED checkpoint replays batch 0
    // (same files, same batchId) — the in-entry tag catches it, and the
    // store neither duplicates the version nor the rows
    drain(tmpDir("vsink_ckpt_recreated"))
    assert(store.versions === Seq(1L), "re-delivered batch landed twice")
    assert(store.read.count() === 2L)
    // ---- normal progress on the original checkpoint: new files only
    writeBatch(src, Seq((3L, ts(2), 10L, "click", 3.0)))
    drain(ckpt)
    assert(store.versions === Seq(1L, 2L))
    // the lineage is a live CDC source: the delta read is exactly batch 2
    assert(store.readChanges(1, 2).select("event_id").as[Long].collect().toSeq
      === Seq(3L))
    assert(store.readVersion(2).count() === 3L)
  }

  test("scd2Sink carries a mid-flight schema evolution into the history store") {
    // the real mid-flight evolution shape: a streaming plan's schema is
    // fixed at start, so the source evolves ACROSS a restart — the first
    // drain runs pre-evolution, the second runs with the evolved schema
    // and the sink's mergeSchema arm (r12 verdict #5); the resulting
    // history must equal the s35-style one-shot window derivation, with
    // pre-evolution VERSIONS null-padding the new column.
    val b1 = Seq((1L, "a", 100L, 1.0), (2L, "a", 110L, 5.0))
    val b2 = Seq((1L, "a", 200L, 2.0), (3L, "a", 300L, 7.0))
    def feed(rows: Seq[(Long, String, Long, Double)]) =
      rows.toDF("user_id", "event_type", "ts_us", "value")
    val src1 = tmpDir("scd2_evo_src1"); val src2 = tmpDir("scd2_evo_src2")
    val ckpt1 = tmpDir("scd2_evo_ckpt1"); val ckpt2 = tmpDir("scd2_evo_ckpt2")
    val storePath = tmpDir("scd2_evo_store") + "/t"
    val preSchema = StructType(Seq(
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("ts_us", LongType), StructField("value", DoubleType)))
    val evoSchema = preSchema.add(StructField("score", DoubleType))
    feed(b1).repartition(1).write.mode("append").parquet(src1)
    EventStreams.scd2Sink(
      spark.readStream.schema(preSchema).parquet(src1), storePath,
      "event_type", Seq("user_id", "event_type"), "ts_us", ckpt1)
      .awaitTermination()
    // ---- the source evolves: batches now carry `score` ----
    feed(b2).withColumn("score", col("value") * 3)
      .repartition(1).write.mode("append").parquet(src2)
    // without the merge arm, the evolved batch keeps FAILING LOUDLY at the
    // sink (silent null-padding of history must be opt-in, the store gate)
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      EventStreams.scd2Sink(
        spark.readStream.schema(evoSchema).parquet(src2), storePath,
        "event_type", Seq("user_id", "event_type"), "ts_us", ckpt2)
        .awaitTermination()
    }
    // the failed batch never committed: resuming the SAME checkpoint with
    // mergeSchema on re-delivers it and lands the evolution exactly once
    EventStreams.scd2Sink(
      spark.readStream.schema(evoSchema).parquet(src2), storePath,
      "event_type", Seq("user_id", "event_type"), "ts_us", ckpt2,
      mergeSchema = true).awaitTermination()
    val hist = graft.sources.Store(spark, storePath, "event_type")
      .read(mergeSchema = true)
    assert(hist.count() === 4L)
    // pre-evolution versions surface score as typed NULL; evolved carry it
    assert(hist.filter(col("ts_us") < 200L && col("score").isNull).count() === 2L)
    assert(hist.filter(col("ts_us") >= 200L && col("score") === col("value") * 3)
      .count() === 2L)
    // the evolution did not break the tiling: key 1's pre-evolution open
    // version closed at the evolved batch's timestamp
    assert(hist.filter(col("user_id") === 1L && col("valid_from") === 100L
      && col("valid_to") === 200L).count() === 1L)
    assert(hist.filter(col("valid_to").isNull).count() === 3L)
  }

  test("mipsServeSinkGenerational switches index generations at the next batch") {
    import graft.operators.Similarity
    def vec(seed: Long): Array[Float] =
      Array.tabulate(64)(i => (((seed * 7 + i * 13) % 17) - 8).toFloat)
    val corpus1 = (100L to 115L).map(id => (id, vec(id))).toDF("vec_id", "embedding")
    val removed = Set(103L)
    val corpus2 = corpus1.filter(!col("vec_id").isin(removed.toSeq.map(Long.box): _*))
    val c1Path = tmpDir("mips_gen_c1"); val c2Path = tmpDir("mips_gen_c2")
    corpus1.repartition(1).write.mode("overwrite").parquet(c1Path)
    corpus2.repartition(1).write.mode("overwrite").parquet(c2Path)
    def mnormOf(c: org.apache.spark.sql.DataFrame): Double =
      c.agg(max(Similarity.norm("embedding")).cast("double")).head().getDouble(0)
    val ptrPath = tmpDir("mips_gen_ptr")
    // gen 1 pointer: the generation's M travels WITH it (index-build
    // artifact — y26's subtlety; the sink must never recompute it)
    Seq((1L, mnormOf(corpus1), c1Path)).toDF("serving_gen", "mnorm", "corpus_path")
      .repartition(1).write.mode("append").parquet(ptrPath)
    val qSchema = StructType(Seq(
      StructField("vec_id", LongType), StructField("ts", TimestampType),
      StructField("embedding", ArrayType(FloatType))))
    val src = tmpDir("mips_gen_src"); val ckpt = tmpDir("mips_gen_ckpt")
    val dest = tmpDir("mips_gen_dest")
    def drain(): Unit = EventStreams.mipsServeSinkGenerational(
      spark.readStream.schema(qSchema).parquet(src), ptrPath,
      "vec_id", "embedding", "ts", dest, ckpt, planes = 4).awaitTermination()
    // batch top-1 recompute against a given generation's corpus (the y27
    // rebuild-arm shape: the index excludes removed rows, no post-filter)
    def expect(c: org.apache.spark.sql.DataFrame,
               qRows: Seq[(Long, Timestamp, Array[Float])]): Map[Long, Long] = {
      val union = c.unionByName(
        qRows.map(r => (r._1, r._3)).toDF("vec_id", "embedding"))
      Similarity.mipsTopK(union, id => id >= 900L, "vec_id", "embedding",
          k = 32, planes = 4)
        .filter(col("c_id") < 900L)
        .withColumn("r2", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("q_id").orderBy(col("rank").asc)))
        .filter(col("r2") === 1)
        .select("q_id", "c_id")
        .as[(Long, Long)].collect().toMap
    }
    def served(): Map[Long, (Long, Long)] = spark.read.parquet(dest)
      .select("q_id", "c_id", "serving_gen")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    // ---- batch 1 serves off generation 1
    val b1 = Seq((901L, ts(5), vec(103L)), (902L, ts(10), vec(107L)))
    b1.toDF("vec_id", "ts", "embedding").repartition(1)
      .write.mode("append").parquet(src)
    drain()
    val after1 = served()
    assert(after1.view.mapValues(_._2).toMap === Map(901L -> 1L, 902L -> 1L),
      s"batch 1 must serve generation 1: $after1")
    assert(after1.view.mapValues(_._1).toMap === expect(corpus1, b1))
    assert(after1(901L)._1 === 103L, "twin served its twin off gen 1")
    // ---- the PROMOTION lands mid-stream: one metadata append
    Seq((2L, mnormOf(corpus2), c2Path)).toDF("serving_gen", "mnorm", "corpus_path")
      .repartition(1).write.mode("append").parquet(ptrPath)
    // ---- batch 2 on the SAME checkpoint serves generation 2, no restart
    val b2 = Seq((903L, ts(15), vec(103L)), (904L, ts(20), vec(111L)))
    b2.toDF("vec_id", "ts", "embedding").repartition(1)
      .write.mode("append").parquet(src)
    drain()
    val after2 = served()
    // batch-1 rows are immutable history; batch-2 rows carry gen 2
    assert(after2.view.filterKeys(Set(901L, 902L)).toMap === after1)
    assert(after2(903L)._2 === 2L && after2(904L)._2 === 2L,
      s"promotion not seen at the next batch: $after2")
    assert(after2(903L)._1 !== 103L, "removed id served off the old generation")
    assert(after2.view.filterKeys(Set(903L, 904L)).mapValues(_._1).toMap
      === expect(corpus2, b2), "batch 2 diverged from the gen-2 recompute")
    // a malformed pointer (missing mnorm) fails LOUDLY, never a silent pin
    val badPtr = tmpDir("mips_gen_badptr")
    Seq((1L, c1Path)).toDF("serving_gen", "corpus_path")
      .repartition(1).write.mode("append").parquet(badPtr)
    Seq((905L, ts(25), vec(104L))).toDF("vec_id", "ts", "embedding")
      .repartition(1).write.mode("append").parquet(src)
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      EventStreams.mipsServeSinkGenerational(
        spark.readStream.schema(qSchema).parquet(src), badPtr,
        "vec_id", "embedding", "ts", tmpDir("mips_gen_dest2"),
        tmpDir("mips_gen_ckpt2"), planes = 4).awaitTermination()
    }
    assert(err.getMessage.contains("serving pointer"))
  }

  test("mipsServeSink refuses tombstone files whose schema lacks the id column") {
    // r12 ADVICE: an imposed schema over files written under a different
    // column name reads all-NULL ids, the anti-joins match nothing, and
    // the takedown silently stops being enforced — the sink must fail
    // loudly at the batch instead
    def vec(seed: Long): Array[Float] =
      Array.tabulate(64)(i => (((seed * 7 + i * 13) % 17) - 8).toFloat)
    val corpus = (100L to 107L).map(id => (id, vec(id))).toDF("vec_id", "embedding")
    val qSchema = StructType(Seq(
      StructField("vec_id", LongType), StructField("ts", TimestampType),
      StructField("embedding", ArrayType(FloatType))))
    val src = tmpDir("mips_badtomb_src"); val tombs = tmpDir("mips_badtomb_tombs")
    // tombstones written under the WRONG column name
    Seq(103L).toDF("id").repartition(1).write.mode("append").parquet(tombs)
    Seq((901L, ts(5), vec(103L))).toDF("vec_id", "ts", "embedding")
      .repartition(1).write.mode("append").parquet(src)
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      EventStreams.mipsServeSink(
        spark.readStream.schema(qSchema).parquet(src), corpus,
        "vec_id", "embedding", "ts", tmpDir("mips_badtomb_dest"),
        tmpDir("mips_badtomb_ckpt"), tombstonePath = Some(tombs),
        planes = 4).awaitTermination()
    }
    assert(err.getMessage.contains("tombstone files"))
  }

  test("maxFilesPerTrigger throttles an AvailableNow drain into bounded batches") {
    // the ingest throttle SCALE.md names for continuous 100-TB/day runs:
    // a backlog of N files must drain as N bounded micro-batches, not one
    // unbounded bite
    val src = tmpDir("throttle_src")
    (1 to 3).foreach(i => writeBatch(src, Seq((i.toLong, ts(i), 10L, "click", 1.0))))
    val batches = new java.util.concurrent.atomic.AtomicInteger(0)
    val rows = new java.util.concurrent.atomic.AtomicLong(0L)
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(src)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batches.incrementAndGet(); rows.addAndGet(b.count()); ()
      }
      .option("checkpointLocation", tmpDir("throttle_ckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(rows.get() === 3L)
    assert(batches.get() === 3, s"expected 3 one-file batches, got ${batches.get()}")
  }

  test("dedupWithinWatermark drops re-deliveries across drains, emits first sighting once") {
    val src = tmpDir("sdedup_src"); val ckpt = tmpDir("sdedup_ckpt")
    val dest = tmpDir("sdedup_dest") + "/tbl"
    def drain(): Map[Long, Long] = {
      val q = EventStreams.dedupWithinWatermark(
          EventStreams.fileSource(spark, src, schema), Seq("event_id"))
        .writeStream.format("parquet")
        .option("path", dest)
        .outputMode(OutputMode.Append())
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.read.parquet(dest).groupBy("event_id").count()
        .as[(Long, Long)].collect().toMap
    }
    // batch 1: event 1 delivered twice (same key, different ts), event 2 once
    writeBatch(src, Seq(
      (1L, ts(0), 10L, "click", 1.0),
      (1L, ts(1), 10L, "click", 1.0),
      (2L, ts(2), 11L, "view", 2.0)))
    val v1 = drain()
    assert(v1 === Map(1L -> 1L, 2L -> 1L),
      "each key must be emitted exactly once per watermark window")
    // batch 2: event 1 re-delivered within the 10-min window → dropped
    // (dedup state survived the restart via the checkpoint); event 3 new
    writeBatch(src, Seq(
      (1L, ts(3), 10L, "click", 1.0),
      (3L, ts(30), 12L, "view", 3.0)))
    val v2 = drain()
    assert(v2 === Map(1L -> 1L, 2L -> 1L, 3L -> 1L),
      "a re-delivery inside the watermark must be dropped across drains")
  }

  test("quotaGate (transformWithState) enforces per-source token budgets across drains") {
    val src = tmpDir("quota_src"); val ckpt = tmpDir("quota_ckpt")
    def writeDocs(rows: Seq[(Long, String, Long)]): Unit =
      rows.toDF("doc_id", "source", "n_tokens")
        .repartition(1).write.mode("append").parquet(src)
    // transformWithState requires the RocksDB provider; scope it to this
    // test (suites run sequentially in the forked JVM)
    val prior = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val docSchema = StructType(Seq(
        StructField("doc_id", LongType), StructField("source", StringType),
        StructField("n_tokens", LongType)))
      // the memory sink cannot recover from a checkpoint, and checkpoint
      // recovery IS what's under test here — drain to parquet like the
      // other restartable shapes
      val dest = tmpDir("quota_dest") + "/tbl"
      def drain(): Map[Long, (Boolean, Long)] = {
        val in = EventStreams.fileSource(spark, src, docSchema)
          .as[EventStreams.DocIn]
        val q = EventStreams.quotaGate(in, budget = 100L)
          .writeStream.format("parquet")
          .option("path", dest)
          .outputMode(OutputMode.Append())
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        spark.read.parquet(dest)
          .select("doc_id", "admitted", "running_total")
          .as[(Long, Boolean, Long)].collect()
          .map(r => r._1 -> ((r._2, r._3))).toMap
      }
      // batch 1: srcA admits 60+30, rejects 20 (would hit 110), admits 5;
      // srcB has its own independent budget
      writeDocs(Seq((1L, "srcA", 60L), (2L, "srcA", 30L), (3L, "srcA", 20L),
        (4L, "srcA", 5L), (5L, "srcB", 90L)))
      val v1 = drain()
      assert(v1(1L) === ((true, 60L)) && v1(2L) === ((true, 90L)))
      assert(v1(3L) === ((false, 90L)), "doc 3 must be rejected, not clipped")
      assert(v1(4L) === ((true, 95L)), "a later smaller doc still fits")
      assert(v1(5L) === ((true, 90L)))
      // batch 2: state survived the restart via the checkpoint — srcA has
      // 5 tokens of headroom left, srcB 10
      writeDocs(Seq((6L, "srcA", 6L), (7L, "srcA", 5L), (8L, "srcB", 10L)))
      val v2 = drain()
      assert(v2(6L) === ((false, 95L)), "cross-drain total must persist")
      assert(v2(7L) === ((true, 100L)))
      assert(v2(8L) === ((true, 100L)))
    } finally {
      prior match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("quotaGate with a state TTL configured starts and drains (ProcessingTime mode)") {
    // regression gate: TTL'd ValueState is only legal in ProcessingTime
    // time mode — the documented stateTtl=Some(..) path used to throw at
    // query start under TimeMode.None. Eviction timing is not asserted
    // (wall-clock); what's under test is that the TTL path RUNS and the
    // state is live across drains within the TTL. NOTE the drain shape:
    // in ProcessingTime mode the engine schedules batches continuously to
    // advance the eviction clock, so AvailableNow never terminates AND
    // processAllAvailable() never unblocks (the operator keeps requesting
    // clock batches, so noNewData never latches — both measured here;
    // 3,700+ empty batch commits before the kill). The only terminating
    // drain is poll-the-sink-then-stop().
    val src = tmpDir("quota_ttl_src"); val ckpt = tmpDir("quota_ttl_ckpt")
    def writeDocs(rows: Seq[(Long, String, Long)]): Unit =
      rows.toDF("doc_id", "source", "n_tokens")
        .repartition(1).write.mode("append").parquet(src)
    val prior = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val docSchema = StructType(Seq(
        StructField("doc_id", LongType), StructField("source", StringType),
        StructField("n_tokens", LongType)))
      val dest = tmpDir("quota_ttl_dest") + "/tbl"
      def drain(expectRows: Int): Map[Long, (Boolean, Long)] = {
        val in = EventStreams.fileSource(spark, src, docSchema)
          .as[EventStreams.DocIn]
        val q = EventStreams.quotaGate(in, budget = 100L,
            stateTtl = Some(java.time.Duration.ofHours(1)))
          .writeStream.format("parquet")
          .option("path", dest)
          .outputMode(OutputMode.Append())
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.ProcessingTime(100L)).start()
        def read() =
          try spark.read.parquet(dest)
            .select("doc_id", "admitted", "running_total")
            .as[(Long, Boolean, Long)].collect()
          catch { case _: Exception => Array.empty[(Long, Boolean, Long)] }
        try {
          val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
          while (read().length < expectRows && System.nanoTime() < deadline) {
            if (q.exception.isDefined) throw q.exception.get
            Thread.sleep(200)
          }
        } finally q.stop()
        read().map(r => r._1 -> ((r._2, r._3))).toMap
      }
      writeDocs(Seq((1L, "srcA", 70L), (2L, "srcA", 40L)))
      val v1 = drain(expectRows = 2)
      assert(v1(1L) === ((true, 70L)))
      assert(v1(2L) === ((false, 70L)), "doc 2 must be rejected over budget")
      // within the TTL the running total persists across a restart
      writeDocs(Seq((3L, "srcA", 30L)))
      val v2 = drain(expectRows = 3)
      assert(v2(3L) === ((true, 100L)), "TTL'd state must survive the drain boundary")
    } finally {
      prior match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("aggStateMaintenance folds batches into state equal to full recompute") {
    val src = tmpDir("aggstate_src"); val state = tmpDir("aggstate_state") + "/tbl"
    val ckpt = tmpDir("aggstate_ckpt")
    def drain(): Unit = {
      val q = EventStreams.aggStateMaintenance(
        EventStreams.fileSource(spark, src, schema), state, ckpt)
      q.awaitTermination()
    }
    def stateMap() = EventStreams.readAggState(spark, state)
      .select(col("event_type"), col("n"), col("s_dec").cast("double"))
      .as[(String, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    writeBatch(src, Seq(
      (1L, ts(0), 10L, "click", 1.5), (2L, ts(1), 11L, "view", 2.0),
      (3L, ts(2), 10L, "click", 3.0)))
    drain()
    assert(stateMap() === Map("click" -> ((2L, 4.5)), "view" -> ((1L, 2.0))))
    // second drain merges only the NEW file (checkpoint skips the old one)
    writeBatch(src, Seq((4L, ts(3), 12L, "click", 10.0), (5L, ts(4), 13L, "buy", 7.0)))
    drain()
    assert(stateMap() === Map(
      "click" -> ((3L, 14.5)), "view" -> ((1L, 2.0)), "buy" -> ((1L, 7.0))))
    // re-drain with nothing pending: state unchanged
    drain()
    assert(stateMap() === Map(
      "click" -> ((3L, 14.5)), "view" -> ((1L, 2.0)), "buy" -> ((1L, 7.0))))
  }

  test("a recreated checkpoint against surviving state fails loudly, not silently resetting") {
    val src = tmpDir("reset_src"); val state = tmpDir("reset_state") + "/tbl"
    val ckpt = tmpDir("reset_ckpt")
    def drain(cp: String): Unit = EventStreams.aggStateMaintenance(
      EventStreams.fileSource(spark, src, schema), state, cp).awaitTermination()
    writeBatch(src, Seq((1L, ts(0), 10L, "click", 1.5)))
    drain(ckpt)
    writeBatch(src, Seq((2L, ts(1), 11L, "view", 2.0)))
    drain(ckpt) // state now at v1; a fresh checkpoint would restart at batch 0
    writeBatch(src, Seq((3L, ts(2), 12L, "buy", 3.0)))
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain(tmpDir("reset_ckpt2"))
    }
    def causes(t: Throwable): Seq[Throwable] =
      Option(t).map(c => c +: causes(c.getCause)).getOrElse(Seq.empty)
    assert(causes(ex).exists(c => c.isInstanceOf[IllegalStateException] &&
      c.getMessage.contains("checkpoint was recreated")))
    // the accumulated state survived untouched
    assert(EventStreams.readAggState(spark, state)
      .select(col("event_type"), col("n")).as[(String, Long)].collect().toMap
      === Map("click" -> 1L, "view" -> 1L))
  }

  test("cmsStateMaintenance folds batch sketches into a live frequency state") {
    val src = tmpDir("cms_src"); val state = tmpDir("cms_state") + "/tbl"
    val ckpt = tmpDir("cms_ckpt")
    def drain(): Unit = {
      val q = EventStreams.cmsStateMaintenance(
        EventStreams.fileSource(spark, src, schema), state, ckpt,
        termCol = "event_type")
      q.awaitTermination()
    }
    // the few-KB state row probes through z25's native read side; with a
    // handful of distinct terms the CMS upper bound is collision-free, so
    // estimates are EXACT counts
    def probe(term: String): Long = EventStreams.readAggState(spark, state)
      .select(call_function("graft_cms_estimate", col("sk"), lit(term)))
      .as[Long].head()
    writeBatch(src, Seq(
      (1L, ts(0), 10L, "click", 1.0), (2L, ts(1), 11L, "view", 2.0),
      (3L, ts(2), 10L, "click", 3.0)))
    drain()
    assert(probe("click") === 2L && probe("view") === 1L)
    // second drain merges only the new file's sketch into the state
    writeBatch(src, Seq((4L, ts(3), 12L, "click", 1.0), (5L, ts(4), 13L, "buy", 7.0)))
    drain()
    assert(probe("click") === 3L && probe("view") === 1L && probe("buy") === 1L)
    assert(EventStreams.readAggState(spark, state)
      .select("n_tot").as[Long].head() === 5L)
    // re-drain with nothing pending: state unchanged (idempotent)
    drain()
    assert(probe("click") === 3L && EventStreams.readAggState(spark, state)
      .select("n_tot").as[Long].head() === 5L)
  }

  test("intervalJoin correlates two streams per key within the time bound") {
    val clickDir = tmpDir("ssj_clicks"); val convDir = tmpDir("ssj_convs")
    writeBatch(clickDir, Seq(
      (1L, ts(0), 10L, "click", 1.0),   // matches conv at 10:05
      (2L, ts(30), 11L, "click", 1.0),  // matches conv at 10:35
      (3L, ts(40), 12L, "click", 1.0))) // no conversion
    writeBatch(convDir, Seq(
      (101L, ts(5), 10L, "conv", 9.0),
      (102L, ts(20), 10L, "conv", 9.0), // 20 min after click 1: outside bound
      (103L, ts(35), 11L, "conv", 9.0)))
    val clicks = EventStreams.fileSource(spark, clickDir, schema)
      .select(col("user_id"), col("ts").as("click_ts"), col("event_id").as("click_id"))
    val convs = EventStreams.fileSource(spark, convDir, schema)
      .select(col("user_id"), col("ts").as("conv_ts"), col("event_id").as("conv_id"))
    val joined = EventStreams.intervalJoin(
      clicks, convs, "user_id", "click_ts", "conv_ts",
      watermark = "1 hour", within = "10 minutes")
    val q = joined.writeStream.format("memory").queryName("ssj")
      .outputMode(OutputMode.Append()).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("ssj").select("click_id", "conv_id")
      .as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 101L), (2L, 103L)))
  }

  test("sessionCut emits once per user at the cumulative-value crossing") {
    val src = tmpDir("cut_src")
    writeBatch(src, Seq(
      (1L, ts(1), 1L, "e", 0.4), (2L, ts(2), 1L, "e", 0.4), (3L, ts(3), 1L, "e", 0.4),
      (4L, ts(1), 2L, "e", 0.1)))
    val evs = EventStreams.fileSource(spark, src, schema)
      .select(col("user_id"), unix_micros(col("ts")).as("ts"), col("value"))
      .as[EventStreams.Ev]
    val cuts = EventStreams.sessionCut(evs, cutoff = 1.0)
    val q = cuts.writeStream.format("memory").queryName("cuts")
      .outputMode(OutputMode.Append()).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("cuts").as[EventStreams.SessionCut].collect()
    assert(got.length === 1) // user 2 never crosses
    assert(got.head.userId === 1L && got.head.nEvents === 3)
    assert(math.abs(got.head.total - 1.2) < 1e-9)

    // a later batch must NOT re-emit for user 1 (state survives in checkpoint
    // within the same query; here we assert the state logic via second drain)
    writeBatch(src, Seq((5L, ts(4), 1L, "e", 0.4), (6L, ts(5), 2L, "e", 1.5)))
    val q2 = cuts.writeStream.format("memory").queryName("cuts2")
      .outputMode(OutputMode.Append()).trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    // fresh query re-reads all 6 events: user 1 emits once, user 2 now crosses
    val got2 = spark.table("cuts2").as[EventStreams.SessionCut].collect()
    assert(got2.count(_.userId == 1L) === 1)
    assert(got2.count(_.userId == 2L) === 1)
  }
}
