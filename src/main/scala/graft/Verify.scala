package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB oracle compare (`tools/check.py`).
  *
  * Usage: runMain graft.Verify <sfDir> <outDir> [queryName...] — extra
  * args restrict the dump to the named queries (fast single-query
  * iteration; oracle_sql.json is always written in full for the checker).
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, only) = (args(0), args(1), args.drop(2).toSet)
    // a typo'd restrict-list name would otherwise be a silent no-op that
    // reads as a pass during single-query iteration
    val unknown = only -- SparkEntry.queries.keySet
    if (unknown.nonEmpty)
      System.err.println(s"[verify] WARNING: unknown query name(s): ${unknown.mkString(", ")}")
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.keys.filter(n => only.isEmpty || only(n)).foreach { name =>
      Bench.run(spark, sfDir, name, _.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name"))
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson)
    spark.stop()
  }

  /** `SparkEntry.oracleSql` as one JSON object. The string escape covers
    * backslash, quote, and ALL control chars (<0x20) — a tab or CR in the
    * SQL would otherwise make the checker's json.load fail and silently
    * zero the correctness check. */
  def oracleJson: String = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    SparkEntry.oracleSql.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
  }
}
