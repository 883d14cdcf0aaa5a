package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Dev tool for the optimization rounds: write `.explain("formatted")` for
  * the named queries (all when none given) to `<outDir>/<name>.txt` —
  * the plans/rNN before/after artifacts the optimization judge reads.
  * Building a query's DataFrame may run its eager prologue (gates,
  * persists, driver-side loops); the final plan itself is NOT executed.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <sfDir> <outDir> [query...]")
    val sfDir = args(0)
    val outDir = Paths.get(args(1))
    val names =
      if (args.length > 2) args.drop(2).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown query name(s): ${unknown.mkString(", ")}")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "16384")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(outDir)
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(outDir.resolve(s"$name.txt"), txt)
        println(s"[plandump] wrote $name")
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $name failed: ${e.getMessage}")
      }
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
