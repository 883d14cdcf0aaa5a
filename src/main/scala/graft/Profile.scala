package graft

import org.apache.spark.sql.SparkSession

/** Dev profiler: time selected queries repeatedly (steady-state vs warmup),
  * optionally print the formatted plan. Usage:
  *   runMain graft.Profile <sfDir> <reps> [name ...]   (no names = all)
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = args(1).toInt
    val names = if (args.length > 2) args.drop(2).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // topk_by_score / two-stage argmax are TypedImperativeAggregates:
      // ObjectHashAggregate abandons its hash map for sort-based agg at
      // 128 distinct keys per task by default. The aggregation state here
      // is k-bounded heaps (tiny), so a larger map is strictly safe and
      // avoids a per-task sort on every argmax query.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "16384")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      val times = (1 to reps).map { _ =>
        // Each rep pays its own persist()s (mirrors a Bench pass) — without
        // this, queries that persist intermediates (q35/q37/q47/q65) get a
        // CacheManager hit from the previous rep and report a number no
        // standalone run can reproduce. PROFILE_KEEP_CACHE=1 restores the
        // cache-assisted timing for comparison.
        if (!sys.env.contains("PROFILE_KEEP_CACHE")) spark.catalog.clearCache()
        val t0 = System.nanoTime()
        // noop sink: run the FULL plan (count() lets Catalyst prune
        // unreferenced projections — same rationale as Bench).
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[profile] $name%-28s ${times.map(t => f"$t%7.2f").mkString(" ")}")
    }
    if (sys.env.contains("PROFILE_EXPLAIN")) names.foreach { n =>
      println(s"==== $n ====")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
