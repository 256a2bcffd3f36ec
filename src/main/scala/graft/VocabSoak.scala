package graft

import graft.operators.Vocab
import org.apache.spark.sql.functions._

/** Tokenizer-fit soak at PRODUCTION knobs — the measurement behind the
  * SCALE.md unigram row: fits the oracle rung (maxTok=4, pruneTo=16) and
  * the production-shaped rung (maxTok=8, pruneTo=32768 — wide enough that
  * pruning never bites on this corpus, i.e. the fit keeps every observed
  * multi-char candidate, the ≈32k-vocab posture) on an arbitrary table
  * dir, and reports per rung: fit wall time, vocab size, multi-char token
  * count, and corpus fertility (weighted tokens/word when the histogram
  * re-segments under the final costs — the z51 panel's headline number).
  *
  * Usage: `runMain graft.VocabSoak <tableDir>`
  * Prints one JSON line per rung.
  */
object VocabSoak {
  def main(args: Array[String]): Unit = {
    require(args.length >= 1, "usage: VocabSoak <tableDir>")
    val dir = args.head
    val spark = GraftSession.local()

    val docs = Tables.documents(spark, dir)
    // warmup: JVM + codegen + parquet reader init, and one tiny fit so the
    // first measured rung doesn't absorb classloading for the whole path
    Vocab.unigramFit(docs.limit(50), "text", maxTok = 2, initMulti = 4,
      pruneTo = 4, rounds = 1).write.format("noop").mode("overwrite").save()
    Housekeeping.releaseAllBlocks(spark)
    Seq(("oracle_16", 4, 24, 16), ("production_32k", 8, 64, 32768)).foreach {
      case (label, maxTok, initMulti, pruneTo) =>
        println(rung(spark, docs, label, maxTok, initMulti, pruneTo))
    }
    spark.stop()
  }

  /** Fits one rung over `docs` and returns its JSON line. */
  private def rung(spark: org.apache.spark.sql.SparkSession, docs: org.apache.spark.sql.DataFrame,
      label: String, maxTok: Int, initMulti: Int, pruneTo: Int): String = {
    val t0 = System.nanoTime()
    val fit = Vocab.unigramFit(docs, "text", maxTok = maxTok,
      initMulti = initMulti, pruneTo = pruneTo, rounds = 2)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (nVocab, nMulti) = {
      val r = fit.agg(count(lit(1)),
        sum(when(!col("is_char"), 1L).otherwise(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    val fitSec = (System.nanoTime() - t0) / 1e9
    // fertility: re-segment the word histogram under the final costs
    val t1 = System.nanoTime()
    val words = docs.select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("n"))
    val vmap = fit.agg(map_from_entries(
      collect_list(struct(col("token"), col("cost")))).as("vmap"))
    val f = words.crossJoin(broadcast(vmap))
      .select(col("n"),
        (size(Vocab.unigramViterbi(col("w"), col("vmap"), maxTok))
          .cast("long") * col("n")).as("toks"))
      .agg((sum(col("toks")).cast("double") / sum(col("n"))).as("fert"))
      .head().getDouble(0)
    val fertSec = (System.nanoTime() - t1) / 1e9
    fit.unpersist()
    Housekeeping.releaseAllBlocks(spark)
    f"""{"rung":"$label","maxTok":$maxTok,"pruneTo":$pruneTo,"fit_sec":$fitSec%.2f,"n_vocab":$nVocab,"n_multi":$nMulti,"fertility":$f%.4f,"fertility_sec":$fertSec%.2f}"""
  }
}
