package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Canonical loaders for the driver-generated test tables (TESTDATA.md).
  *
  * Analog of the reference's source layer: the SQLite fact-table scan
  * (`/root/reference/base_code.R:6-9`) and per-season RDS loads
  * (`/root/reference/1_rebuild_db.R:27`) both become lazy Parquet reads —
  * Catalyst handles predicate pushdown and column pruning that the reference
  * had to hand-write before `collect()`.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def region(spark: SparkSession, d: String): DataFrame    = apply(spark, d, "region")
  def nation(spark: SparkSession, d: String): DataFrame    = apply(spark, d, "nation")
  def customer(spark: SparkSession, d: String): DataFrame  = apply(spark, d, "customer")
  def supplier(spark: SparkSession, d: String): DataFrame  = apply(spark, d, "supplier")
  def part(spark: SparkSession, d: String): DataFrame      = apply(spark, d, "part")
  def orders(spark: SparkSession, d: String): DataFrame    = apply(spark, d, "orders")
  def lineitem(spark: SparkSession, d: String): DataFrame  = apply(spark, d, "lineitem")
  /** `events.ts` has shipped as two physical types across testdata
    * generations: parquet TIMESTAMP(NANOS) — which Spark's vectorized reader
    * rejects, so sessions set `spark.sql.legacy.parquet.nanosAsLong=true` and
    * the loader converts exactly (integer ns→µs division; a double division
    * would lose precision above 2^53) — and plain TIMESTAMP(MICROS), which
    * needs no conversion beyond a cast to the session-zone timestamp type.
    * Branch on the OBSERVED type so either generation loads identically. */
  def events(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampType}
    val raw = apply(spark, d, "events")
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampType => raw
      case _ => raw.withColumn("ts", col("ts").cast(TimestampType))
    }
  }
  def documents(spark: SparkSession, d: String): DataFrame = apply(spark, d, "documents")
  def embeddings(spark: SparkSession, d: String): DataFrame = apply(spark, d, "embeddings")

  /** Register every table as a temp view (for spark.sql access). */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    names.foreach(n => apply(spark, sfDir, n).createOrReplaceTempView(n))

  /** Fan a CPU-dense scan consumer out to full parallelism when the scan
    * itself cannot (r13, guide §2.5 "input skew: one huge unsplittable
    * file ... repartition immediately after the read"). The bench corpus
    * ships each table as ONE parquet file with one row group, so a scan
    * stage is ONE task no matter the split config — and stages that
    * expand text per row (shingle/window/n-gram explodes, rolling hashes)
    * burn seconds single-threaded on a 32-core box (z37's expansion
    * measured 3.9 s in one task).
    *
    * SCALE-GUARDED, not unconditional: the round-robin shuffle is only
    * inserted when the planned scan parallelism is actually BELOW the
    * cluster's (`defaultParallelism`). A production corpus scans as
    * thousands of splits, the guard sees parallelism ≥ cores, and the
    * helper is the identity — no corpus-sized text shuffle is ever added
    * at scale. Inspecting `df.rdd` costs one physical planning pass of
    * the (scan-shaped) frame, no job.
    *
    * SCAN-SHAPED ONLY (r13 ADVICE): on a frame whose plan contains a
    * shuffle (join/aggregate/window/repartition), `df.rdd` makes AQE
    * materialize upstream query stages EAGERLY — running jobs at plan
    * time and recomputing them when df is consumed. Such frames take
    * their parallelism from the shuffle anyway, so the helper is the
    * identity for them, enforced by a narrow-plan walk (no job). */
  def fanOut(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical._
    val narrowOnly = df.queryExecution.optimizedPlan.collectFirst {
      case n if !(n.isInstanceOf[LeafNode] || n.isInstanceOf[Project] ||
        n.isInstanceOf[Filter] || n.isInstanceOf[Generate]) => n
    }.isEmpty
    if (!narrowOnly) return df
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= target) df else df.repartition(target)
  }
}
