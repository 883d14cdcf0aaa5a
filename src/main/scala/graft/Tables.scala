package graft

import java.io.FileNotFoundException
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Named access to the driver-generated parquet tables (TESTDATA.md).
  *
  * Scale notes (100 TB story): every reader goes through
  * `spark.read.parquet` so Catalyst's vectorized parquet reader, filter
  * pushdown, and column pruning apply unchanged on a real cluster; the
  * `sfDir` is just a prefix and could be `s3://bucket/sf100/`.
  *
  * Schema pins. Inferring a parquet schema is one Spark job (the footer
  * read); at small inputs it was the largest fixed cost of building a
  * query (100 reads: 8.1–8.9 s inferred, 0.76–0.85 s with `.schema(s)`).
  * So each table's schema is inferred by Spark once ([[stored]]) and every
  * read passes it to `spark.read.schema(s)`, which runs no job: the types
  * are exactly those inference gives. An entry is keyed by the table path
  * and holds a fingerprint of its files (path, length and mtime of each,
  * from one driver-side listing, which runs no job); a table rewritten at
  * the same path gets new Spark part names and so re-resolves. Entries
  * live in one map per session, so a session whose conf would infer
  * differently never sees another's schema; each path keeps one entry,
  * replaced when its fingerprint changes.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Read a table and round-robin repartition it to the session's default
    * parallelism when the scan yields fewer input splits than that — the
    * optimization-guide §2.5 unsplittable-input fix, applied ONLY at
    * CPU-heavy per-row sites (per-position/shingle hashing, per-char and
    * per-element explodes). The driver testdata ships each table as ONE
    * parquet row group, so without this every pre-shuffle stage of such a
    * query runs on one core regardless of `local[N]`. The condition is
    * scale-adaptive, not local-tuned: at cluster scale a big table's scan
    * already has ≥ cores splits, the branch is false, and NO extra
    * exchange is added — while a genuinely tiny-but-explode-heavy input
    * (the 100 TB analogue: one fused dimension file feeding a hash
    * stage) still gets spread. Round-robin repartition is retry-safe
    * (sortBeforeRepartition stays on) and costs one shuffle of the
    * small input — microseconds next to the hashing it parallelizes. */
  def sharded(spark: SparkSession, sfDir: String, name: String): DataFrame =
    shard(apply(spark, sfDir, name))

  /** The same unsplittable-input fix for an arbitrary frame — streaming
    * micro-batches arrive as one small staged file (one scan partition),
    * so a CPU-heavy per-row stage inside a foreachBatch body is
    * single-threaded without it. No-op whenever the input already has
    * ≥ default-parallelism partitions (any real cluster-scale scan). */
  def shard(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val read = spark.read.schema(stored(spark, sfDir, name)).parquet(s"$sfDir/$name.parquet")
    if (name == "events") normalizeTs(read) else read
  }

  /** The schema table `name` under `sfDir` is stored with, as Spark infers
    * it (for `events`, `ts` as stored: Long when the files hold nanos),
    * pinned in `spark`'s map (see the object doc). A missing table is
    * left to Spark's inference, which reports it. */
  def stored(spark: SparkSession, sfDir: String, name: String): StructType = {
    require(all.contains(name), s"unknown table: $name")
    if (name == "events") spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$sfDir/$name.parquet"
    fingerprint(spark, path) match {
      case None => spark.read.parquet(path).schema
      case Some(files) =>
        val map = pinsOf(spark)
        Option(map.get(path)).filter(_.files == files).getOrElse {
          val pin = Pin(files, spark.read.parquet(path).schema)
          map.put(path, pin)
          pin
        }.schema
    }
  }

  /** `ev` (an events frame in its stored layout) with `ts` as µs
    * TimestampType. events.ts has shipped as parquet TIMESTAMP(NANOS) in
    * some data drops (Spark's vectorized reader rejects it —
    * [PARQUET_TYPE_ILLEGAL] — unless nanos are read as Long, which
    * [[stored]] sets) and as TIMESTAMP(MICROS) without timezone (read as
    * TIMESTAMP_NTZ) in others. Normalize BOTH to a µs TimestampType column
    * so every query sees one stable schema: nanos floor-truncate to µs
    * (FIXTURES.md pins oracle comparisons to ≥1s granularity), and NTZ
    * reinterprets in the session zone, which Verify/Bench pin to UTC —
    * value-identical to what DuckDB reads natively. */
  private[graft] def normalizeTs(ev: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampType}
    ev.schema("ts").dataType match {
      case LongType => ev.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType => ev
      case _ => ev.withColumn("ts", ev("ts").cast(TimestampType))
    }
  }

  /** A table's schema and the file fingerprint it was inferred from. */
  private final case class Pin(files: Seq[(String, Long, Long)], schema: StructType)

  private val pins = new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[String, Pin]]()

  private def pinsOf(spark: SparkSession): ConcurrentHashMap[String, Pin] = pins.synchronized {
    pins.computeIfAbsent(spark, _ => new ConcurrentHashMap[String, Pin]())
  }

  /** Let `clone`, a clone of `spark` whose conf infers as `spark`'s does,
    * read with `spark`'s entries, and add to them. */
  private[graft] def share(spark: SparkSession, clone: SparkSession): Unit =
    pins.synchronized(pins.put(clone, pinsOf(spark)))

  /** (path, length, mtime) of every file at or under `path`, from
    * `listStatus`, whose statuses read no permission (a local
    * `LocatedFileStatus` forks `ls` for it). */
  private def fingerprint(spark: SparkSession, path: String): Option[Seq[(String, Long, Long)]] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(st: FileStatus): Seq[(String, Long, Long)] =
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(walk)
      else Seq((st.getPath.toString, st.getLen, st.getModificationTime))
    try Some(fs.listStatus(p).toSeq.flatMap(walk))
    catch { case _: FileNotFoundException => None }
  }
}
