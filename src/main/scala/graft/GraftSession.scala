package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Local defaults tuned for the test harness (local[N], one JVM); on a real
  * cluster callers pass their own master/conf and only the SQL-level settings
  * below matter. AQE stays on so skewed shuffles re-plan at runtime, and
  * shuffle partitions match local cores instead of the 200 default.
  */
object GraftSession {
  /** Local core count for every harness: `SPARK_GRAFT_CPUS`, default 4. */
  def envCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  def local(cpus: Int = envCpus): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // keep orderBy+limit compiling to TakeOrderedAndProject (per-partition
      // heap + driver merge of k rows) up to production top-k sizes: above
      // this threshold Spark falls back to a full sort + single-partition
      // GlobalLimit, which is exactly the plan the engine's top-k rungs
      // (vocab pruning at 32k, TakeOrdered search) are designed to avoid.
      // 1M rows of token-sized records is comfortably driver-safe.
      .config("spark.sql.execution.topKSortFallbackThreshold", "1048576")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // AQE coalescing floor (r13→r14, guide §2.5/§2.6): the default 1 MB
      // minPartitionSize serializes byte-tiny but CPU-dense stages (pair
      // scoring: vector dots, levenshtein, per-pair folds) onto ONE task —
      // bytes underestimate cost on compressed columnar data feeding
      // codegen-dense operators. r13 set the floor to 64k SESSION-WIDE;
      // the r14 per-query A/B showed that wins exactly where the pair
      // scorers run (x23 2.0 vs 7.2 s, x16 1.4 vs 3.6 s, x17 5.8 vs 6.4 s)
      // but COSTS the CC/minhash band 1.0–1.9 s per query in un-coalesced
      // tiny tasks across their many small stages (x24 3.6 vs 2.2 s,
      // x8 4.0 vs 2.7 s, m7 9.2 vs 7.3 s, z58 5.2 vs 3.9 s, x25 4.6 vs
      // 3.7 s). So the session default returns to Spark's 1m and the
      // pair-scoring queries declare the 64k floor as a query conf, which
      // the run step sets around them (Q.confs).
      // r13: partitioned-store reads with >32 partition dirs were paying a
      // DISTRIBUTED listing job (~100–150 ms of job overhead per read) —
      // on local FS the driver lists 60 paths in ~ms, so the threshold
      // rises to 1024 here (the upstream default is 32; an object-store
      // deployment, where listing really is the bottleneck, builds its own
      // session).
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.parquet.compression.codec", "snappy")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      // Spark's codegen cache (default 100 classes) is smaller than what
      // one pass over the registry generates, so a session that runs the
      // same queries again recompiled nearly every class in Janino (1129
      // of 1281 on a repeat pass over 42 queries). The cache is keyed on
      // the generated source, and by default each whole-stage class is
      // named after its stage id, which AQE assigns in the order it plans
      // stages: the same stage could get a new name, and a new compile, on
      // a re-run (74 of 86 classes for y11 on Bench's second iteration).
      // One class name lets identical stages share one class; the id stays
      // in the plan and in the generated code's comment. With it, one
      // graft.Bench pass at sf0.01 (warm-up plus every query once)
      // generates 4295 distinct classes; 6144 leaves ~40% headroom. The
      // cache holds classes, not data: those 4295 cost 164 MB of heap
      // (source-text keys, bytecode) plus 38 MB of Metaspace, ~47 KB a
      // class, so a full cache holds ~290 MB. maxEntries is a static conf,
      // read once per JVM when CodeGenerator is first used.
      .config("spark.sql.codegen.cache.maxEntries", "6144")
      .config("spark.sql.codegen.useIdInClassName", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
