package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Usage:
  * `Verify <sfDir> <outDir> [prefix...]`; with prefixes, only matching
  * queries run and only their oracle SQL is written.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, prefixes @ _*) = args
    val selected = SparkEntry.queries.filter { case (n, _) =>
      prefixes.isEmpty || prefixes.exists(n.startsWith) }
    val spark = Sessions.local(Sessions.cpus)
    new java.io.File(outDir).mkdirs()
    // Drop stale dumps from prior runs: a leftover directory for a since-
    // renamed (or, with prefixes, unselected) query would otherwise be
    // picked up by the comparator as a rows-only entry and pollute the gate.
    Option(new java.io.File(outDir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && !selected.contains(f.getName))
      .foreach(Scratch.deleteRecursively)
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      finally CacheTracker.releaseAll()
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      oracleJson(SparkEntry.oracleSql.filter { case (k, _) => selected.contains(k) }))
    spark.stop()
  }

  /** Query name → oracle SQL as one JSON object (also the DuckDB bench's input). */
  def oracleJson(sql: Map[String, String]): String =
    sql.map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")

  /** A JSON string literal: backslash, quote, and ALL control chars
    * (<0x20) escaped — a tab or CR in builder-authored SQL would
    * otherwise make the driver's json.load fail and silently zero the
    * round's correctness.
    */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
