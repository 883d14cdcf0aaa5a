package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Dev profiler for the per-trigger fixed-cost hunt (guide §1.1/§7.1):
  * run each named query once and report how many Spark jobs, stages and
  * tasks it scheduled, plus total task time — the attribution VERDICT
  * r15 item 1 asks for. A streaming maintenance query whose wall-clock
  * is dominated by job-count × scheduling floor (tasks cheap, jobs many)
  * is overhead-bound; one dominated by task time is compute-bound.
  * Usage: runMain graft.JobCount <sfDir> [name ...]
  */
object JobCount {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = if (args.length > 1) args.drop(1).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "16384")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val taskMs = new AtomicLong(0L)
    val detail = sys.env.contains("JOBCOUNT_DETAIL")
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        if (detail) {
          val desc = j.stageInfos.sortBy(_.stageId).lastOption
            .map(_.name).getOrElse("?")
          jobStart.put(j.jobId, (System.nanoTime(), desc))
        }
      }
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        if (detail) {
          Option(jobStart.remove(e.jobId)).foreach { case (t0, desc) =>
            println(f"[job] ${e.jobId}%4d ${(System.nanoTime() - t0) / 1e6}%8.1f ms  $desc")
          }
        }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (t.taskInfo != null) taskMs.addAndGet(t.taskInfo.duration)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    // warmup
    spark.range(1000000L).selectExpr("sum(id)").collect()
    names.foreach { name =>
      spark.catalog.clearCache()
      jobs.set(0); stages.set(0); tasks.set(0); taskMs.set(0L)
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      // listener bus is async — give it a moment to drain before reading
      Thread.sleep(300)
      println(f"[jobcount] $name%-34s wall=$dt%7.2f jobs=${jobs.get()}%4d " +
        f"stages=${stages.get()}%4d tasks=${tasks.get()}%6d " +
        f"taskTime=${taskMs.get() / 1000.0}%8.2f")
    }
    spark.stop()
  }
}
