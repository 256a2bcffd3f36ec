package graft

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
    val dir = args(0)
    val Array(key, vals) = args(1).split("=", 2)
    val Array(valA, valB) = vals.split("\\|", 2)
    val names = args.drop(2).toSeq
    val iters = sys.env.getOrElse("SPARK_GRAFT_AB_ITERS", "3").toInt
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")

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
    spark.stop()
  }
}
