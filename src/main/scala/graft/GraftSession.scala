package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft process decides its Spark session: every main
  * (`Main`, `Bench`, `Verify`, `Dev`) and the test suites build through
  * [[local]], so Tier-1 runs the production conf. */
object GraftSession {

  /** Local core count: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** `local[cpus]` with one shuffle partition per core, UTC, no UI, WARN
    * logs and [[NoForkLocalFileSystem]] for `file:` (returns the JVM's
    * existing session if there is one). */
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
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
