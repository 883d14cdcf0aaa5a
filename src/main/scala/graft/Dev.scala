package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.graftshim.GraftShim

/** Dev tools over the query registry (no names = every query):
  *
  *   runMain graft.Dev time  <sfDir> <reps>   [query...]
  *   runMain graft.Dev plans <sfDir> <outDir> [query...]
  *
  * `time` runs each query `reps` times into the noop sink (the FULL plan;
  * count() would let Catalyst prune unreferenced projections, as in
  * Bench) and prints one `[profile]` line: the wall seconds of every rep,
  * then the jobs, classes compiled, stages, tasks and summed task seconds
  * of the last rep. A query whose wall time is mostly jobs × scheduling
  * floor is overhead-bound; one dominated by task time is compute-bound;
  * one that compiles many classes pays for codegen.
  *
  * `plans` writes each query's `explain("formatted")` to
  * `<outDir>/<name>.txt`, planned on the session the query runs on (see
  * [[GraftSession.forInput]]). Building a query's DataFrame may run its
  * eager prologue (gates, persists, driver-side loops); the final plan
  * itself is not executed.
  *
  * Every name is checked before anything runs. The cache is cleared
  * before each query (and each rep): queries that persist intermediates
  * would otherwise get a CacheManager hit from the previous run and report
  * a number no standalone run can reproduce.
  */
object Dev {
  private val Usage =
    "usage: graft.Dev time <sfDir> <reps> [query...] | plans <sfDir> <outDir> [query...]"

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(GraftSession.cpus)
    try run(spark, args.toSeq) finally spark.stop()
  }

  /** Run one subcommand on the caller's session (never stopped here; its
    * cache is cleared on the way out). */
  def run(spark: SparkSession, args: Seq[String]): Unit = try args match {
    case "time" +: sfDir +: reps +: names => time(spark, sfDir, reps.toInt, checked(names))
    case "plans" +: sfDir +: outDir +: names => plans(spark, sfDir, outDir, checked(names))
    case _ => throw new IllegalArgumentException(Usage)
  } finally spark.catalog.clearCache()

  private def checked(names: Seq[String]): Seq[String] = {
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown query name(s): ${unknown.mkString(", ")}")
    if (names.nonEmpty) names else SparkEntry.queries.keys.toSeq.sorted
  }

  private def time(spark: SparkSession, sfDir: String, reps: Int,
      names: Seq[String]): Unit = {
    require(reps >= 1, Usage)
    val jobs, stages, tasks = new AtomicInteger(0)
    val taskMs = new AtomicLong(0L)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (t.taskInfo != null) taskMs.addAndGet(t.taskInfo.duration)
      }
    }
    var classes = 0L
    spark.sparkContext.addSparkListener(listener)
    try names.foreach { name =>
      val wall = (1 to reps).map { _ =>
        spark.catalog.clearCache()
        GraftShim.drainListeners(spark)
        Seq(jobs, stages, tasks).foreach(_.set(0)); taskMs.set(0L)
        val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
        val t = (System.nanoTime() - t0) / 1e9
        classes = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled
        t
      }
      GraftShim.drainListeners(spark)
      println(f"[profile] $name%-34s ${wall.map(t => f"$t%7.2f").mkString(" ")}" +
        f"  jobs=${jobs.get()}%4d classes=$classes%4d stages=${stages.get()}%4d" +
        f" tasks=${tasks.get()}%6d taskTime=${taskMs.get() / 1000.0}%8.2f")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def plans(spark: SparkSession, sfDir: String, outDir: String,
      names: Seq[String]): Unit = {
    val out = Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      spark.catalog.clearCache()
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        Files.writeString(out.resolve(s"$name.txt"),
          df.queryExecution.explainString(FormattedMode))
        println(s"[plans] wrote $name")
      } catch { case e: Throwable =>
        System.err.println(s"[plans] $name failed: ${e.getMessage}")
      }
    }
  }
}
