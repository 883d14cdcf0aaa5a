package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft process decides its Spark session: every main
  * (`Main`, `Bench`, `Verify`, `Dev`) and the test suites build through
  * [[local]], so Tier-1 runs the production conf. */
object GraftSession {

  /** Local core count: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** `local[cpus]` with one shuffle partition per core, UTC, no UI, WARN
    * logs, [[NoForkLocalFileSystem]] for `file:` and a generated-class
    * cache sized for the calibration set (returns the JVM's existing
    * session if there is one). */
  def local(cpus: String): SparkSession = {
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
      .config("spark.hadoop.fs.file.impl", classOf[NoForkLocalFileSystem].getName)
      // Spark's JVM-wide generated-class cache holds 100 classes by
      // default, in 4 LRU segments. A pass over the calibration set (q1,
      // q7, q106, q109, q110 at sf0.001) compiles about 205, so at 100
      // every later pass recompiled 200; at 225, 54 (a segment overflows);
      // at 250, none.
      .config("spark.sql.codegen.cache.maxEntries", "250")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
