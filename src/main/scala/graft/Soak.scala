package graft

/** Scale-soak harness: times a named subset of the declared queries against
  * an arbitrary table directory (e.g. the 10× generated corpus under
  * `target/soak10`) through the noop sink — the measurement behind
  * SCALE.md's "the dedup path scales ~linearly" claim, so the claim is a
  * number, not a design argument.
  *
  * Usage: `runMain graft.Soak <tableDir> <query> [query...]`
  * Prints one JSON line: {"sf":dir,"queries":{name:sec,...}}.
  */
object Soak {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Soak <tableDir> <query> [query...]")
    val (dir, names) = (args.head, args.tail.toSeq)
    val spark = GraftSession.local()

    def run(name: String): Double = Bench.run(spark, dir, name).seconds

    run(names.head) // warmup: JVM + codegen init
    val results = names.map(n => n -> (1 to 2).map(_ => run(n)).min)
    val qs = results.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    println(s"""{"sf":"$dir","queries":$qs}""")
    spark.stop()
  }
}
