package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Optional args
  * after <sfDir> <outDir> restrict the run to the named queries (local
  * iteration; the driver always runs the full set). */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [query...]")
    val sfDir = args(0)
    val outDir = args(1)
    val only = args.drop(2).toSet
    val unknown = only -- SparkEntry.queries.keySet
    require(unknown.isEmpty,
      s"unknown query name(s): ${unknown.mkString(", ")} — a typo here would " +
        "otherwise produce an empty-but-successful verify run")
    def selected(name: String): Boolean = only.isEmpty || only(name)
    val spark = GraftSession.local(GraftSession.cpus)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => selected(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // Queries persist shared intermediates (LSH signatures, centroid
      // assignments) that live until the end of the action; drop them so
      // cached blocks don't accumulate across the 91-query run.
      spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => selected(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
