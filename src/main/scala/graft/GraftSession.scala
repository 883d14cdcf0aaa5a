package graft

import java.io.FileNotFoundException
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftshim.GraftShim

/** The one place a graft process decides its Spark session: every main
  * (`Main`, `Bench`, `Verify`, `Dev`) and the test suites build through
  * [[local]], so Tier-1 runs the production conf.
  *
  * It also picks the execution mode of a query from the size of its
  * input ([[forInput]]): interpret short queries, compile long ones
  * (Kohn, Leis, Neumann, *Adaptive Execution of Compiled Queries*, ICDE
  * 2018). A query whose `sfDir` holds fewer than [[SmallInputBytes]]
  * runs on [[interpreted]], one reused clone of the caller's session
  * that generates no code; a larger input keeps codegen on the caller's
  * session. 8 MiB puts sf0.001 (0.47 MB) and sf0.01 (1.9 MB) below the
  * line and sf0.1 (17.5 MB), the Bench ruler, above it. Measured at
  * sf0.001 on 4 cores, with the class cache emptied before each query,
  * second pass, over the 12 queries of perfbench's `query-small` mix and
  * the 7 that lose to codegen at sf0.1 (q120, q161, q175, q189, q215,
  * q256, q391): 512 → 88 classes compiled and 16.9 → 12.3 s wall; 18 of
  * the 19 were faster, q96 tied, and every result digest was equal. */
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

  /** Inputs below this many bytes run interpreted, see [[forInput]]. */
  val SmallInputBytes: Long = 8L << 20

  private val sizes = new ConcurrentHashMap[String, java.lang.Long]()

  /** Bytes under `dir`, measured once per dir with one Hadoop
    * `getContentSummary`; a dir that does not exist counts as large. */
  def inputBytes(spark: SparkSession, dir: String): Long =
    sizes.computeIfAbsent(dir, _ => Long.box {
      val p = new Path(dir)
      try p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getContentSummary(p).getLength
      catch { case _: FileNotFoundException => Long.MaxValue }
    })

  /** The session a query over `dir` runs on: [[interpreted]] when `dir`
    * holds fewer than [[SmallInputBytes]], `spark` itself otherwise. */
  def forInput(spark: SparkSession, dir: String): SparkSession =
    if (inputBytes(spark, dir) < SmallInputBytes) interpreted(spark) else spark

  /** The interpreted clone, the session it was cloned from and that
    * session's conf when it was. */
  private final case class Clone(caller: SparkSession, conf: Map[String, String],
      session: SparkSession)
  private var current: Option[Clone] = None

  /** A clone of `spark` that plans with no generated code, reused across
    * calls while `spark` and its `conf.getAll` are those it was built
    * from. A clone, not `newSession`, keeps the caller's runtime SQL
    * confs and listeners; the caller's own conf is left as it is.
    *
    * `wholeStage=false` alone leaves every operator's projections and
    * predicates compiled: a bounded day-2 append measured 31–72 compiles
    * and an op median of 1.69 s against 1.59 s with codegen. The internal
    * `factoryMode=NO_CODEGEN` makes those factories take their
    * interpreted form too; with both, an append compiles 2 classes, not
    * 64–112:
    *  - the row joiner of `repoLanguage`'s partial count (3 grouping
    *    columns + 1 buffer): a partial hash aggregate has no interpreted
    *    joiner, whatever the task's conf says;
    *  - the serializer of `PartStats`' `Map` buffer, built when an
    *    executor serializes a task's observed metrics for the driver.
    *    That runs after the task, on a thread that no longer carries the
    *    session's conf, so it takes the default `FALLBACK` mode.
    * Each clone gets its own executor class loader, and Spark's class
    * cache is keyed by class loader, so the clone is reused: what it
    * still compiles is compiled once per clone, not once per call (the
    * first bounded append of a session compiles 2 classes, the next 0). */
  def interpreted(spark: SparkSession): SparkSession = synchronized {
    val conf = spark.conf.getAll
    current.filter(c => (c.caller eq spark) && c.conf == conf).getOrElse {
      val s = GraftShim.cloneSession(spark)
      s.conf.set("spark.sql.codegen.wholeStage", "false")
      s.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      val c = Clone(spark, conf, s)
      current = Some(c)
      c
    }.session
  }
}
