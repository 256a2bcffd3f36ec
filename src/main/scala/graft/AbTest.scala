package graft

import org.apache.spark.sql.SparkSession

/** In-JVM A/B config comparator (r13 optimization round): on a noisy
  * shared box, cross-JVM timing comparisons drift by 2×; alternating the
  * two configurations per iteration INSIDE one session and taking the min
  * per arm cancels the drift. Runtime-settable SQL confs only.
  *
  * Usage: runMain graft.AbTest <tableDir> <confKey=valA|valB> <query>...
  * Env: SPARK_GRAFT_CPUS, SPARK_GRAFT_AB_ITERS (default 3 per arm).
  */
object AbTest {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: AbTest <dir> <key=valA|valB> <query>...")
    val Array(key, vals) = args(1).split("=", 2)
    val Array(valA, valB) = vals.split("\\|", 2)
    val iters = sys.env.getOrElse("SPARK_GRAFT_AB_ITERS", "3").toInt
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    compare(spark, args(0), key, valA, valB, args.drop(2).toSeq, iters)
    spark.stop()
  }

  /** Times each query `iters` times per arm, alternating, and prints one
    * line per query. Fails before running anything if a query declares
    * `key` among its confs: the run step would set the declared value over
    * both arms. */
  def compare(spark: SparkSession, dir: String, key: String, valA: String, valB: String,
      names: Seq[String], iters: Int): Unit = {
    val declaring = names.filter(n => SparkEntry.registry(n).confs.contains(key))
    require(declaring.isEmpty, s"${declaring.mkString(", ")} declare(s) $key: both arms would run it")
    def run(name: String): Double = Bench.run(spark, dir, name).seconds
    names.foreach { name =>
      val (as, bs) = (Seq.newBuilder[Double], Seq.newBuilder[Double])
      def set(v: String): Unit = spark.conf.set(key, v)
      // warm up IN arm-A state (r13 ADVICE: warming in session-default /
      // previous query's arm-B state biased arm A's first iteration)
      set(valA); run(name)
      (1 to iters).foreach { _ =>
        set(valA); as += run(name)
        set(valB); bs += run(name)
      }
      val (a, b) = (as.result(), bs.result())
      println(f"AB $name%-28s $key A=$valA%-8s min=${a.min}%7.2f all=${a.map(x => f"$x%.2f").mkString(",")}  B=$valB%-8s min=${b.min}%7.2f all=${b.map(x => f"$x%.2f").mkString(",")}")
    }
  }
}
