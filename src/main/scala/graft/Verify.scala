package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness.
    * The one escaper of both driver mains (Bench writes exception text).
    */
  def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val spark = Sessions.local()
    new java.io.File(outDir).mkdirs()
    // optional extra args: only dump queries whose name starts with one of
    // them (local iteration aid; the driver always passes exactly two args)
    val only = args.drop(2)
    val selected =
      if (only.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (n, _) => only.exists(n.startsWith) }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // Filter the oracle dump by the same prefixes as the result dump —
    // otherwise a partial run makes tools/verify_local.py fail every
    // declared-but-undumped query and exit 1.
    val oracle =
      if (only.isEmpty) SparkEntry.oracleSql
      else SparkEntry.oracleSql.filter { case (n, _) => only.exists(n.startsWith) }
    val json = oracle
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
