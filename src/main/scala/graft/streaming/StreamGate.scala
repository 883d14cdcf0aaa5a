package graft.streaming

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import graft.{Q, Tables}
import org.apache.commons.io.FileUtils
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graftshim.GraftShim
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.{BooleanType, DoubleType, LongType, StringType, StructType,
  TimestampNTZType}
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

/** Oracle-gated streaming executions (SURVEY §2.8): every gate runs a real
  * stream to completion and returns a read-back frame that the driver
  * checks against a DuckDB oracle, like any batch query.
  *
  * Anatomy of a gate. [[gate]] hands the body a fresh `graft-<q>-` work
  * directory named after the query id; the body then
  *  1. stages its input under `<work>/in` as one parquet file per
  *     micro-batch, in arrival order ([[stageOrderedBatches]],
  *     [[stageParityBatches]]), or as a copy of the events table
  *     ([[stageEvents]], [[stageWithSentinels]]);
  *  2. runs one step per trigger: a fold gate passes its step to
  *     [[foldStream]], which calls it with the trigger's session, batch and
  *     batch id; a sink gate hands a streaming frame to [[runToParquet]],
  *     which appends it to `<work>/out`;
  *  3. reads back what the run published (the newest generation through
  *     [[genBefore]] or [[lastGen]], the committed batches through
  *     [[committedBatchesBefore]], or the sink files) and shapes the
  *     oracle's result.
  *
  * Which helper owns which part of the run protocol:
  *  - [[streamSession]]: the isolated child session the stream runs on;
  *  - [[stagedStream]]: the file source over the staged input, one file
  *    per trigger;
  *  - [[foldStream]]: the `foreachBatch` wiring of a step;
  *  - [[finish]]: the checkpoint under `<work>/ckpt`, the available-now
  *    trigger, the wait for completion, the plan probe, dropping the
  *    staged input, and deleting `<work>` at JVM exit (read-backs are lazy,
  *    so the published outputs must outlive the gate).
  *
  * Replay contract of every step: the foreachBatch id is stable under
  * at-least-once redelivery, so a step rewrites only its own `gen=<id>` /
  * `batch=<id>` outputs and reads only what was published under ids
  * strictly below its own. A replayed batch therefore recomputes identical
  * outputs from identical inputs. */
object StreamGate {

  private val Sentinel = "__sentinel__"

  /** A gate named `name`: `body` gets the session, the data dir, and a
    * fresh work directory `graft-<q>-`, where `<q>` is the query id that
    * prefixes `name`. */
  private def gate(name: String, oracle: String)(
      body: (SparkSession, String, Path) => DataFrame): Q =
    Q(name, oracle) { (s, dir) =>
      body(s, dir, Files.createTempDirectory(s"graft-${name.takeWhile(_ != '_')}-"))
    }

  /** Stage `<dir>/events.parquet` (a single file in the driver testdata
    * layout) into `<work>/in/events.parquet/` as a DIRECTORY of files —
    * the streaming file source only accepts directories. Returns the
    * source root to hand to [[stagedEvents]]. */
  private def stageEvents(dir: String, work: Path): String = {
    val in = work.resolve("in").resolve("events.parquet")
    Files.createDirectories(in)
    val src = Paths.get(dir, "events.parquet")
    if (Files.isDirectory(src)) {
      val listing = Files.list(src)
      try listing.forEach { f =>
        if (f.getFileName.toString.endsWith(".parquet"))
          Files.copy(f, in.resolve(f.getFileName.toString),
            StandardCopyOption.REPLACE_EXISTING)
      } finally listing.close()
    } else Files.copy(src, in.resolve("events.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    work.resolve("in").toString
  }

  /** The events source over `srcRoot`, a staged copy of
    * `<dir>/events.parquet`, on a fresh [[streamSession]]; it reads with
    * the schema pinned for the original, so the copy is never inferred. */
  private def stagedEvents(s: SparkSession, dir: String, srcRoot: String): DataFrame =
    EventStream.events(streamSession(s), srcRoot, Tables.stored(s, dir, "events"))

  /** [[stageEvents]] plus sentinel rows `leadMicros` past the real maximum
    * `ts`; each sentinel is (event_id, user_id, event_type) with value 0.0
    * and empty props. Sentinels are written in the staged files' STORED
    * ts layout — the testdata's physical type has varied across drops
    * (Long nanos / µs NTZ / µs UTC, see [[graft.Tables]]), and a sentinel
    * file whose `ts` type disagrees with the staged files would fail the
    * stream's schema. The staged files are copies of `<dir>/events.parquet`,
    * so that layout is the schema pinned for it ([[Tables.stored]]); the
    * fresh staged copy is never inferred. Returns the source root. */
  private def stageWithSentinels(s: SparkSession, dir: String, work: Path,
      leadMicros: Long,
      sentinels: Seq[(Long, Long, String)] = Seq((-1L, -1L, Sentinel))): String = {
    val srcRoot = stageEvents(dir, work)
    val in = Paths.get(srcRoot, "events.parquet").toString
    val micros = Tables(s, dir, "events")
      .agg(max(unix_micros(col("ts")))).collect()(0).getLong(0) + leadMicros
    val stored = Tables.stored(s, dir, "events")
    val ts: Any = stored("ts").dataType match {
      case LongType => micros * 1000L
      case TimestampNTZType =>
        java.time.LocalDateTime.ofEpochSecond(
          Math.floorDiv(micros, 1000000L),
          Math.floorMod(micros, 1000000L).toInt * 1000,
          java.time.ZoneOffset.UTC)
      case _ =>
        java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
          Math.floorDiv(micros, 1000000L),
          Math.floorMod(micros, 1000000L) * 1000L))
    }
    val rows = new java.util.ArrayList[Row]()
    sentinels.foreach { case (id, uid, typ) => rows.add(Row(id, ts, uid, typ, 0.0, "")) }
    s.createDataFrame(rows, stored).write.mode("append").parquet(in)
    srcRoot
  }

  /** A dedicated child session for one stream execution: a clone of the
    * caller ([[GraftShim.cloneSession]]) over the same SparkContext, so it
    * keeps the caller's conf (an interpreted caller's codegen-off flags
    * included) and the caller's pinned table schemas ([[Tables.share]]),
    * while conf set on it never touches the caller's session (safe under
    * concurrent use).
    *
    * State-partition sizing: a streaming query creates one state store per
    * shuffle partition, a FIXED per-run cost (store setup + checkpoint
    * files) regardless of data volume. The gates process bounded test
    * tables, so the child session is capped at 8 partitions (measured:
    * q94 8.1 s → 3.1 s warm at local[32]); at 100 TB the same dial is
    * sized UP to the key cardinality instead.
    *
    * Checkpoint files go through [[FileSystemBasedCheckpointFileManager]],
    * the `FileSystem` of the path and so `fs.file.impl`. Spark's default,
    * FileContext-based manager reaches Hadoop's `RawLocalFs`, which builds
    * its own `RawLocalFileSystem` and forks `readlink` per rename and
    * `chmod` per file: about 285 processes per q96 run. The session's
    * Hadoop conf, which the checkpoint, state store and sink all use, sets
    * `fs.file.impl` to [[graft.NoForkLocalFileSystem]] whatever the
    * caller's is, uncached: Hadoop caches one `file:` instance per JVM,
    * keyed without the conf. Under a caller with the default local file
    * system that is the other 77 forks (`chmod`) of a q96 run. */
  private[streaming] def streamSession(s: SparkSession): SparkSession = {
    val ss = GraftShim.cloneSession(s)
    if (scala.util.Try(
        ss.conf.get("spark.sql.shuffle.partitions").toInt).toOption.forall(_ > 8))
      ss.conf.set("spark.sql.shuffle.partitions", "8")
    ss.conf.set("spark.sql.streaming.checkpointFileManagerClass",
      classOf[FileSystemBasedCheckpointFileManager].getName)
    ss.conf.set("fs.file.impl", classOf[graft.NoForkLocalFileSystem].getName)
    ss.conf.set("fs.file.impl.disable.cache", "true")
    Tables.share(s, ss)
    // The clone copies the caller's listeners; the plan probe records
    // each plan once however many of its listeners a session carries.
    graft.PlanProbe.attach(ss, "stream-child")
    ss
  }

  /** The staged input `in` as a file stream of `schema` on a child
    * session, one file per trigger (the source takes files oldest-first,
    * which is the staging order). */
  private def stagedStream(s: SparkSession, schema: StructType, in: String): DataFrame =
    streamSession(s).readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(in)

  /** Start `w` with its checkpoint under `work` and the available-now
    * trigger, wait for it to drain, record its plan, and drop the staged
    * input (the read-back reads only outputs, and the copies would
    * otherwise accumulate across bench passes). The read-back is lazy, so
    * `work` itself (outputs + checkpoint) is deleted at JVM exit instead,
    * bounding the scratch footprint to one process lifetime. */
  private def finish(w: DataStreamWriter[Row], work: Path): Unit = {
    val query = w.option("checkpointLocation", work.resolve("ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    query.awaitTermination()
    graft.PlanProbe.recordStreaming(query)
    FileUtils.deleteQuietly(work.resolve("in").toFile)
    FileUtils.forceDeleteOnExit(work.toFile)
  }

  /** Run the staged input `in` (of `schema`) through `step` once per
    * trigger: `step(session, batch, id)` gets the trigger's session, its
    * micro-batch and its replay-stable batch id. Returns once every staged
    * file has been consumed. */
  private[streaming] def foldStream(s: SparkSession, work: Path,
      schema: StructType, in: String)(
      step: (SparkSession, DataFrame, Long) => Unit): Unit =
    finish(stagedStream(s, schema, in).writeStream
      .foreachBatch((batch: DataFrame, id: Long) => step(batch.sparkSession, batch, id)),
      work)

  /** Run `df` through the shared parquet sink (append) under `work` and
    * read the output back on `s`, with `df`'s schema (the sink writes
    * exactly that, so no inference job runs). */
  private def runToParquet(s: SparkSession, df: DataFrame, work: Path): DataFrame = {
    val out = work.resolve("out").toString
    finish(df.writeStream.format("parquet").option("path", out)
      .outputMode("append"), work)
    s.read.schema(df.schema).parquet(out)
  }

  /** Stage `df` as two deterministic micro-batches under `<work>/in`:
    * even `idCol` values, then odd (see [[stageOrderedBatches]]). */
  private def stageParityBatches(work: Path, df: DataFrame, idCol: String): String =
    stageOrderedBatches(work,
      Seq(0, 1).map(p => df.filter(col(idCol) % 2 === p)))

  /** Stage arbitrary DataFrames as deterministic micro-batches under
    * `<work>/in`, one parquet file each, arrival order = sequence order
    * (strictly increasing mtimes; the file source takes files
    * oldest-first, one per trigger). Returns the input dir. */
  private[streaming] def stageOrderedBatches(work: Path, dfs: Seq[DataFrame]): String = {
    val in = work.resolve("in")
    Files.createDirectories(in)
    dfs.zipWithIndex.foreach { case (df, i) =>
      val tmp = work.resolve(s"stage-$i")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = {
        val listing = Files.list(tmp)
        try listing.toArray.map(_.asInstanceOf[Path])
          .filter(_.toString.endsWith(".parquet")).head
        finally listing.close()
      }
      val dest = in.resolve(s"batch-$i.parquet")
      Files.move(part, dest)
      require(dest.toFile.setLastModified(System.currentTimeMillis()
        - dfs.size * 60000L + i * 60000L))
      FileUtils.deleteQuietly(tmp.toFile)
    }
    in.toString
  }

  /** Stage an edge set (`u`, `v`, ...) as three micro-batches by
    * (u+v) mod 3. The set is persisted across the three writes, so its
    * plan (a lineitem self-join + support aggregate) runs once, not once
    * per batch. */
  private def stageEdgeThirds(work: Path, edges: DataFrame): String = {
    edges.persist(MEMORY_AND_DISK)
    val in = stageOrderedBatches(work,
      Seq(0, 1, 2).map(r => edges.filter((col("u") + col("v")) % 3 === r)))
    edges.unpersist()
    in
  }

  /** The events table staged as three chronological micro-batches (cuts
    * at 2024-01-11 and 2024-01-21) and streamed on the RocksDB state
    * store, which transformWithState requires (the default HDFS-backed
    * provider has no column families); set on the ISOLATED child
    * session. Cross-batch transitions then genuinely traverse the state. */
  private def eventThirdsStream(s: SparkSession, dir: String, work: Path): DataFrame = {
    val ev = Tables(s, dir, "events")
    val cut1 = lit("2024-01-11").cast("timestamp")
    val cut2 = lit("2024-01-21").cast("timestamp")
    val in = stageOrderedBatches(work, Seq(
      ev.filter(col("ts") < cut1),
      ev.filter(col("ts") >= cut1 && col("ts") < cut2),
      ev.filter(col("ts") >= cut2)))
    val stream = stagedStream(s, ev.schema, in)
    stream.sparkSession.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    stream
  }

  /** Union-read the committed `batch=K` subdirs of an accumulator store
    * with K strictly below `id` — the replay-total read: a crashed
    * trigger's own dir (k == id, possibly `_temporary`-only) is never
    * enumerated, and no whole-directory schema inference runs (inference
    * over a half-born store throws and would wedge the replay
    * permanently — the q296 review lesson). Batches below `id` are
    * committed by the stream's own ordering: the source never advances
    * past an uncommitted trigger. */
  private[graft] def committedBatchesBefore(
      sb: SparkSession, store: String, id: Long, empty: DataFrame): DataFrame = {
    val p = new HPath(store)
    val fs = p.getFileSystem(sb.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) empty
    else {
      // Stream ordering already guarantees k < id is committed; the
      // data-file check additionally makes the read total against
      // out-of-contract states (a `_temporary`-only dir from a manual
      // copy or an interrupted cleanup reads as absent, not as a throw).
      val done = fs.listStatus(p).toSeq
        .filter(_.getPath.getName.startsWith("batch="))
        .filter(st => fs.listStatus(st.getPath).exists { f =>
          val n = f.getPath.getName
          !n.startsWith("_") && !n.startsWith(".")
        })
        .map(_.getPath.getName.stripPrefix("batch=").toLong)
        .filter(_ < id).sorted
      if (done.isEmpty) empty
      else done.map(k => sb.read.parquet(s"$store/batch=$k"))
        .reduce(_.unionByName(_))
    }
  }

  /** The newest stored generation strictly before `id` (replay-safe base
    * resolution: a redelivered batch never reads its own output). Like
    * [[committedBatchesBefore]], only dirs containing committed data
    * files count — a `_temporary`-only dir from an interrupted cleanup
    * must neither throw nor shadow the older complete generation. */
  private[graft] def latestGenBefore(s: SparkSession,
      store: String, id: Long): Option[DataFrame] = {
    val p = new HPath(store)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else fs.listStatus(p).toSeq
      .filter(_.getPath.getName.startsWith("gen="))
      .filter(st => fs.listStatus(st.getPath).exists { f =>
        val n = f.getPath.getName
        !n.startsWith("_") && !n.startsWith(".")
      })
      .map(_.getPath.getName.stripPrefix("gen=").toLong)
      .filter(_ < id)
      .sorted.lastOption
      .map(g => s.read.parquet(s"$store/gen=$g"))
  }

  /** An empty frame with the columns of the DDL `schema`, built on
    * `range(0)`: a LONG column is the range's `id`, a STRING column is
    * `""`, a BOOLEAN column is `id <> id`, a DOUBLE column is `id` cast. */
  private def emptyFrame(s: SparkSession, schema: String): DataFrame =
    s.range(0).select(StructType.fromDDL(schema).fields.toSeq.map { f =>
      (f.dataType match {
        case LongType => col("id")
        case StringType => lit("")
        case BooleanType => col("id") =!= col("id")
        case DoubleType => col("id").cast(DoubleType)
      }).as(f.name)
    }: _*)

  /** The newest generation of `store` before `id` ([[latestGenBefore]]),
    * or an empty frame of `schema` ([[emptyFrame]]) while it has none. */
  private def genBefore(s: SparkSession, store: String, id: Long,
      schema: String): DataFrame =
    latestGenBefore(s, store, id).getOrElse(emptyFrame(s, schema))

  /** The final generation of `store`; a run that published none failed. */
  private def lastGen(s: SparkSession, store: String): DataFrame =
    latestGenBefore(s, store, Long.MaxValue)
      .getOrElse(sys.error(s"no generation was published under $store"))

  /** q92 runs the tumbling event-window aggregation through an ACTUAL
    * `writeStream` (file source → watermark → windowed agg → parquet file
    * sink) and gates the files the sink wrote against the same DuckDB SQL
    * as the batch q21 — turning the batch-parity theorem the streaming
    * specs prove into a driver-checked CORRECTNESS row.
    *
    * Append mode only emits a window once the watermark passes its end, so
    * the input is staged with one SENTINEL event appended 80 minutes after
    * the real maximum: the final watermark (max+80m−1h = max+20m) closes
    * every real window (each ends ≤ max+10m) while the sentinel's own
    * window stays open and is never emitted. The sentinel is additionally
    * filtered on read-back, so the checked result is exactly the batch q21
    * surface.
    *
    * At 100 TB the same topology runs unbounded: the file sink's per-window
    * append IS the incremental publish, and state stays bounded by the
    * 1-hour watermark (windows close and evict as event time advances). */
  val q92StreamTumbling: Q = gate(
    "q92_stream_tumbling",
    s"""SELECT CAST(floor(epoch(ts) / 600) * 600 AS BIGINT) AS win_start,
       |       event_type,
       |       count(*) AS n,
       |       ${Q.oSum6("value")} AS sum_value
       |FROM events GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin) { (s, dir, work) =>
    val srcRoot = stageWithSentinels(s, dir, work, 80L * 60 * 1000000)
    val agg = stagedEvents(s, dir, srcRoot)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), Q.dsum6(col("value")).as("sum_value"))
      .select(
        unix_timestamp(col("window.start")).as("win_start"),
        col("event_type"), col("n"), col("sum_value"))
    runToParquet(s, agg, work)
      .filter(col("event_type") =!= Sentinel)
      .orderBy(col("win_start"), col("event_type"))
  }

  /** q257: SLIDING event windows gated end-to-end — the overlapping-
    * window counterpart of q92's tumbling gate (20-minute windows every
    * 10 minutes, so each event contributes to exactly TWO windows).
    * Spark aligns sliding windows to the epoch, so the batch oracle is
    * closed-form: the two starts are ⌊e/600⌋·600 and that minus 600 —
    * one unnest, no window join. The sentinel sits 100 minutes past the
    * real maximum: the final watermark (max+40 min) clears every real
    * window end (≤ max+20 min) with a 20-minute margin — q92's margin
    * discipline re-derived for the longer window. State is bounded by
    * size/slide × the watermark horizon per key; at 100 TB the overlap
    * factor (2×) is the knob traded against trend smoothness. */
  val q257StreamSliding: Q = gate(
    "q257_stream_sliding",
    s"""WITH t AS (SELECT event_type, value,
       |                  CAST(floor(epoch(ts) / 600) * 600 AS BIGINT) AS w0
       |           FROM events),
       |x AS (SELECT event_type, value, unnest([w0, w0 - 600]) AS win_start
       |      FROM t)
       |SELECT win_start, event_type, count(*) AS n,
       |       ${Q.oSum6("value")} AS sum_value
       |FROM x GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin) { (s, dir, work) =>
    val srcRoot = stageWithSentinels(s, dir, work, 100L * 60 * 1000000)
    val agg = stagedEvents(s, dir, srcRoot)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "20 minutes", "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), Q.dsum6(col("value")).as("sum_value"))
      .select(
        unix_timestamp(col("window.start")).as("win_start"),
        col("event_type"), col("n"), col("sum_value"))
    runToParquet(s, agg, work)
      .filter(col("event_type") =!= Sentinel)
      .orderBy(col("win_start"), col("event_type"))
  }

  /** q94: the watermarked STREAM-STREAM join run end-to-end against the
    * driver oracle — purchase-to-click attribution (each purchase matches
    * the same user's clicks from the preceding 30 minutes), executed as an
    * actual two-sided streaming join (`EventStream.attributionJoin`) into
    * a parquet sink. Inner-join matches emit in the batch that finds them
    * (the watermark only bounds STATE, not emission), so no sentinel is
    * needed and the sink's files equal the batch θ-join the oracle runs.
    * At 100 TB the same topology holds: both sides' state evicts once the
    * watermark passes click_ts + 30 min. */
  val q94StreamAttribution: Q = gate(
    "q94_stream_attribution",
    """SELECT c.user_id, c.event_id AS click_id, p.event_id AS buy_id,
      |       CAST(floor(epoch(c.ts)) AS BIGINT) AS click_s,
      |       CAST(floor(epoch(p.ts)) AS BIGINT) AS buy_s,
      |       p.value
      |FROM events p JOIN events c
      |  ON c.user_id = p.user_id
      | AND c.event_type = 'click' AND p.event_type = 'purchase'
      | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
      |ORDER BY c.user_id, click_id, buy_id""".stripMargin) { (s, dir, work) =>
    val joined = EventStream.attributionJoin(
      stagedEvents(s, dir, stageEvents(dir, work)))
    runToParquet(s, joined, work)
      .orderBy(col("user_id"), col("click_id"), col("buy_id"))
  }

  /** q95: streaming SESSION windows gated end-to-end — gap-based sessions
    * (30-minute inactivity) via `session_window`, run as a real
    * watermarked writeStream. Sessions only emit once the watermark
    * passes their end (last event + gap), so the same sentinel device as
    * q92 closes every real session: one far-future event whose own
    * session stays open and unemitted. Oracle = the lag/running-sum
    * session derivation (the q22 equivalence), at per-session grain. */
  val q95StreamSessions: Q = gate(
    "q95_stream_sessions",
    """WITH marks AS (
      |  SELECT user_id, ts,
      |         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |                   >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_sess
      |  FROM events),
      |sess AS (
      |  SELECT user_id, ts,
      |         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
      |                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
      |  FROM marks)
      |SELECT user_id, CAST(floor(epoch(min(ts))) AS BIGINT) AS sess_start,
      |       count(*) AS n_events
      |FROM sess GROUP BY user_id, sess_id
      |ORDER BY user_id, sess_start""".stripMargin) { (s, dir, work) =>
    // 2 h past max ts: final watermark = max + 1 h, past every real
    // session's end (≤ max + 30 min). The sentinel's session stays open.
    val srcRoot = stageWithSentinels(s, dir, work, 2L * 60 * 60 * 1000000)
    val sessions = EventStream.sessionCounts(
      stagedEvents(s, dir, srcRoot))
    runToParquet(s, sessions, work)
      .filter(col("user_id") >= 0)
      .orderBy(col("user_id"), col("sess_start"))
  }

  /** q96: streaming exact dedup gated end-to-end — the input is staged as
    * TWO full copies of the events table (every row delivered twice, the
    * at-least-once redelivery shape), `dropDuplicatesWithinWatermark`
    * drops the replays, and the sink must equal the original table (the
    * oracle). Works whether the copies land in one micro-batch (state
    * dedup) or two (the second copy is either state-deduped or dropped as
    * late data below the advanced watermark — duplicates either way).
    * First-seen rows emit immediately in append mode; no sentinel. At
    * 100 TB/day state holds only the ids inside the 1-hour late-data
    * horizon — constant memory, which a batch distinct over an unbounded
    * log cannot offer. */
  val q96StreamDedup: Q = gate(
    "q96_stream_dedup",
    """SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
      |       user_id, event_type, value, props
      |FROM events ORDER BY event_id""".stripMargin) { (s, dir, work) =>
    val srcRoot = stageEvents(dir, work)
    val in = Paths.get(srcRoot, "events.parquet")
    // Second full copy: every event is delivered (at least) twice. The
    // listing is materialized BEFORE copying — iterating a directory
    // while adding entries to it has unspecified visibility (a stream
    // that surfaced the new files would copy dup-dup-* third copies).
    val files = {
      val listing = Files.list(in)
      try listing.toArray.map(_.asInstanceOf[Path]).toSeq
      finally listing.close()
    }
    files.foreach { f =>
      Files.copy(f, in.resolve(s"dup-${f.getFileName}"),
        StandardCopyOption.REPLACE_EXISTING)
    }

    val deduped = EventStream.dedupEvents(
      stagedEvents(s, dir, srcRoot))
      .select(col("event_id"), unix_timestamp(col("ts")).as("ts_s"),
        col("user_id"), col("event_type"), col("value"), col("props"))
    runToParquet(s, deduped, work).orderBy(col("event_id"))
  }

  /** q99: the INCREMENTAL near-dup pipeline run as a stream — document
    * batches arrive as micro-batches (file source, one file per trigger,
    * ordered by modification time), and each batch's `foreachBatch` pairs
    * it against the PERSISTED band index via
    * [[graft.ops.Dedup.incrementalDayRun]], then folds the batch's bands
    * into the index for the next trigger. Every pair is emitted exactly
    * once — on the batch where its later member arrives — so the appended
    * sink equals the full-batch LSH pair set, which is the oracle; with a
    * parity-split staging, `both_new` is exactly "same parity". This is
    * the day-N production topology (SCALE.md): at 100 TB the micro-batch
    * is a day's crawl, the index is the persisted archive, and per-trigger
    * cost is O(batch), never O(archive²). */
  val q99StreamDedupIncremental: Q = gate(
    "q99_stream_dedup_incremental",
    s"""WITH ${graft.ops.Dedup.duckLshPairCtes}
       |SELECT doc_a, doc_b, (doc_a % 2 = doc_b % 2) AS both_new
       |FROM pairs ORDER BY doc_a, doc_b""".stripMargin) { (s, dir, work) =>
    val docs = Tables(s, dir, "documents")
    val in = stageParityBatches(work, docs, "doc_id")
    val idx = work.resolve("bandidx").toString
    val outPairs = work.resolve("out").toString
    foldStream(s, work, docs.schema, in) { (sb, batch, id) =>
      // The foreachBatch id is replay-stable: a redelivered batch
      // overwrites its own band subdir and pair output (idempotent).
      val pairs = graft.ops.Dedup.incrementalDayRun(sb, idx, batch, id)
      pairs.write.mode("overwrite").parquet(s"$outPairs/batch=$id")
      pairs.unpersist()
    }
    s.read.parquet(outPairs)
      .select(col("doc_a"), col("doc_b"), col("both_new"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** q103: the incremental ANN index built as a STREAM — embedding batches
    * arrive as micro-batches (file source, mtime order, one per trigger);
    * the first trigger trains the frozen centroids, every trigger
    * assigns-and-appends to the stored inverted lists
    * ([[graft.ops.Similarity.ivfAppend]]), and the final stored index
    * serves the sample queries. The oracle is q100's: frozen-centroid
    * assignment commutes with arrival order, so the stream-built index
    * answers identically to a full rebuild — whether the days arrived by
    * batch job (q100) or by stream (this gate). */
  val q103StreamAnnIngest: Q = gate(
    "q103_stream_ann_ingest",
    graft.ops.Similarity.q100AnnIncremental.oracle.get) { (s, dir, work) =>
    // Two deterministic "days" (even vec_ids, then odd) — the same split
    // q100 builds by batch calls.
    val e = graft.ops.Similarity.embWithNorm(s, dir)
    val in = stageParityBatches(work, e, "vec_id")
    val idx = work.resolve("ivfidx").toString
    foldStream(s, work, e.schema, in) { (sb, batch, id) =>
      // The foreachBatch id is replay-stable: a redelivered batch
      // overwrites its own assign/batch=<id> dir (idempotent publish).
      graft.ops.Similarity.ivfAppend(sb, idx, batch, id)
    }
    graft.ops.Similarity.ivfQuery(s, idx, e, e.filter(col("vec_id") < 10))
      .orderBy(col("query_id"), col("rank"))
  }

  /** q234: the SELF-MAINTAINING streaming ANN index — q103's ingest loop
    * plus the retrain policy IN the loop: after each append the trigger
    * compares the live generation's assignment count against the
    * `n_at_train` baseline the generation recorded when its centroids
    * were trained, and at ≥ 2× growth fires
    * [[graft.ops.Similarity.ivfRetrain]] (re-seed k = semK(N), atomic
    * generation promote) before the next trigger. Growth-since-train is
    * the policy that works at EVERY corpus size: in the unclamped
    * region it coincides with the mean-list ≥ 2·TargetClusterSize
    * cost-law breach (k ∝ N), and at clamped-k sizes — where the list
    * ratio never moves — it still heals the seed bias a frozen early
    * train left behind. With the two parity days, day 2 doubles the
    * corpus, so the stream trains, degrades, and HEALS itself; the
    * final index is the fresh-train topology and q48's oracle gates the
    * whole loop. The check is two metadata-cheap counts per trigger; a
    * replayed trigger re-appends idempotently (retrain preserves
    * per-batch partitions) and at worst re-publishes an identical
    * generation — readers resolve the pointer, never an intermediate
    * state. This is the operational answer to "who calls ivfRetrain":
    * the ingest stream itself, on a measured breach, not a calendar. */
  val q234StreamAnnMaintain: Q = gate(
    "q234_stream_ann_maintain",
    graft.ops.Similarity.q48AnnIvf.oracle.get) { (s, dir, work) =>
    val e = graft.ops.Similarity.embWithNorm(s, dir)
    val in = stageParityBatches(work, e, "vec_id")
    val idx = work.resolve("ivfidx").toString
    foldStream(s, work, e.schema, in) { (sb, batch, id) =>
      graft.ops.Similarity.ivfAppend(sb, idx, batch, id)
      val root = graft.ops.Similarity.ivfCurrentRoot(sb, idx)
      val n = sb.read.parquet(s"$root/assign").count()
      val n0 = sb.read.parquet(s"$root/trainmeta").first().getLong(0)
      // 2·n0 − 1, not 2·n0: an integer-halved stream (odd corpus →
      // first day one row larger) must still count as "doubled".
      if (n >= 2L * n0 - 1L)
        graft.ops.Similarity.ivfRetrain(sb, idx,
          graft.ops.Similarity.embWithNorm(sb, dir), lloydIters = 0)
    }
    graft.ops.Similarity.ivfQuery(s, idx, e, e.filter(col("vec_id") < 10))
      .orderBy(col("query_id"), col("rank"))
  }

  /** In-loop band-index maintenance of q247/q259: a no-op while the
    * store fits the replay window (keepRecent = 2), one generation fold
    * once it doesn't. The cap-cross precondition must be checked BEFORE a
    * fold coarsens batch boundaries into `batch=-1` (a crossing between
    * two folded batches is invisible afterwards) — and ONLY then: between
    * folds the boundaries are intact, so the next pre-fold check (or the
    * final one, [[checkCompacted]]) still sees every boundary since the
    * last fold. Gating on pendingFold keeps the check O(folds × index),
    * not O(triggers × index). */
  private def compactInLoop(sb: SparkSession, idx: String): Unit = {
    if (graft.ops.Dedup.pendingFold(sb, idx, keepRecent = 2))
      graft.ops.Dedup.assertNoMidStreamCapCross(sb, idx)
    graft.ops.Dedup.compactBandIndex(sb, idx, keepRecent = 2)
  }

  /** After a q247/q259 run: the final cap-cross check covers the
    * boundaries created since the last in-loop fold (which checked
    * everything before it), and the maintenance must actually have
    * fired — a promoted `_bandgen-` pointer is the proof. */
  private def checkCompacted(s: SparkSession, idx: String, q: String): Unit = {
    graft.ops.Dedup.assertNoMidStreamCapCross(s, idx)
    val p = new HPath(idx)
    require(p.getFileSystem(s.sparkContext.hadoopConfiguration).listStatus(p)
      .exists(_.getPath.getName.startsWith("_bandgen-")),
      s"$q: in-loop compaction never promoted a generation")
  }

  /** The ids of the `batch=<id>` generations of the label store `lbl`. */
  private def labelBatches(s: SparkSession, lbl: String): Array[Long] = {
    val p = new HPath(lbl)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p))
      fs.listStatus(p).map(_.getPath.getName).filter(_.startsWith("batch="))
        .map(_.stripPrefix("batch=").toLong)
    else Array.empty[Long]
  }

  /** Label refresh of q244/q259. Prior labels = the highest generation
    * BELOW this batch id (a replay must not read its own crashed
    * attempt's output); they re-enter as their star forest — one
    * (min, member) edge per labeled doc, q233's exact re-entry shape — and
    * resolve with the batch's `pairs` into the cumulative labels,
    * published as `batch=<id>`. */
  private def refreshLabels(sb: SparkSession, lbl: String, pairs: DataFrame,
      id: Long): Unit = {
    val star = labelBatches(sb, lbl).filter(_ < id).maxOption match {
      case Some(p) =>
        sb.read.parquet(s"$lbl/batch=$p")
          .filter(col("doc_id") =!= col("cluster_id"))
          .select(col("cluster_id").as("doc_a"), col("doc_id").as("doc_b"))
      case None => emptyFrame(sb, "doc_a LONG, doc_b LONG")
    }
    graft.ops.Fuzzy.resolveClusters(sb,
        star.unionByName(pairs.select(col("doc_a"), col("doc_b"))))
      .write.mode("overwrite").parquet(s"$lbl/batch=$id")
  }

  /** HLL vocabulary fold of q252/q259: the batch's per-language sketch
    * unioned into the newest generation before `id`, published as
    * `gen=<id>`. */
  private def foldHll(sb: SparkSession, store: String, batch: DataFrame,
      id: Long): Unit = {
    // §2.5: the staged batch is one scan partition — shard before
    // the per-token explode+hash so the sketch build parallelizes.
    val own = Tables.shard(batch)
      .select(col("lang"), explode_outer(split(col("text"), " ")).as("w"))
      .groupBy(col("lang"))
      .agg(expr("hll_sketch_agg(w, 12)").as("sk"))
    val prev = latestGenBefore(sb, store, id)
      .getOrElse(own.limit(0))
      .select(col("lang"), col("sk").as("sk_prev"))
    // Lossless union per language; a language seen on only one
    // side carries its side's sketch through unchanged.
    own.join(prev, Seq("lang"), "full_outer")
      .select(col("lang"),
        when(col("sk").isNotNull && col("sk_prev").isNotNull,
          expr("hll_union(sk, sk_prev)"))
          .otherwise(coalesce(col("sk"), col("sk_prev"))).as("sk"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$store/gen=$id")
  }

  /** The exact per-language vocabulary of `docs` and whether the folded
    * sketch in `store` estimated it within ±5%: (lang, n_vocab, hll_ok). */
  private def hllVocab(s: SparkSession, store: String, docs: DataFrame): DataFrame = {
    val folded = lastGen(s, store)
      .select(col("lang"),
        expr("hll_sketch_estimate(sk)").cast("double").as("est"))
    docs.select(col("lang"), explode_outer(split(col("text"), " ")).as("w"))
      .groupBy(col("lang"))
      .agg(countDistinct(col("w")).as("n_vocab"))
      .join(broadcast(folded), "lang")
      .select(col("lang"), col("n_vocab"),
        (col("est") >= col("n_vocab") * 0.95 &&
          col("est") <= col("n_vocab") * 1.05).as("hll_ok"))
  }

  /** q247: band-index COMPACTION inside the streaming loop — the q234
    * self-maintenance pattern applied to the dedup index: four
    * micro-batches (doc_id mod 4) pair-and-append through q99's
    * topology, and after every trigger the loop calls
    * [[graft.ops.Dedup.compactBandIndex]] (keepRecent = 2 — the replay
    * window), which is a no-op while the store fits the window, folds
    * batch 0 into the consolidated `batch=-1` partition after batch 2,
    * and folds batch 1 after batch 3 — each an atomic `_bandgen-`
    * pointer promote UNDER the writer lease, while traffic is still
    * flowing. Gate equality against the full-corpus LSH pair oracle
    * proves compaction is content-preserving IN SITU: batch 3's pairs
    * are generated against the compacted generation (its archive reads
    * `batch=-1` ∪ recents through the pointer) and still land exactly
    * on the declarative pair set. `both_new` = same residue mod 4. This closes
    * the operational loop for the band index the way q234 closed it for
    * IVF: file-count maintenance fires from the ingest stream on a
    * measured condition (store past the replay window), not a calendar.
    * The final pointer is asserted — the gate fails if compaction
    * silently stopped firing. */
  val q247StreamBandCompact: Q = gate(
    "q247_stream_band_compact",
    s"""WITH ${graft.ops.Dedup.duckLshPairCtes}
       |SELECT doc_a, doc_b, (doc_a % 4 = doc_b % 4) AS both_new
       |FROM pairs ORDER BY doc_a, doc_b""".stripMargin) { (s, dir, work) =>
    val docs = graft.Tables(s, dir, "documents")
    val in = stageOrderedBatches(work,
      Seq(0, 1, 2, 3).map(p => docs.filter(col("doc_id") % 4 === p)))
    val idx = work.resolve("bandidx").toString
    val outPairs = work.resolve("out").toString
    foldStream(s, work, docs.schema, in) { (sb, batch, id) =>
      // Direct-to-parquet day run: the pair join's one pass IS the
      // publish (the checkpoint-then-rewrite pass this replaced was
      // two passes over the pair table per trigger).
      graft.ops.Dedup.incrementalDayRunTo(sb, idx, batch, id,
        s"$outPairs/batch=$id")
      compactInLoop(sb, idx)
    }
    // Batches 2 and 3 each push the store past keepRecent=2, so a
    // generation must have been promoted.
    checkCompacted(s, idx, "q247")
    s.read.parquet(outPairs)
      .select(col("doc_a"), col("doc_b"), col("both_new"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** q279: right-to-be-forgotten as a COMMAND TOPIC in the ingest loop —
    * the streaming day-2 shape q269 (batch purge) does not cover. One
    * file stream carries BOTH document batches and deletion commands
    * (command rows share the document schema, marked lang='__forget__'
    * — one topic, one ordering, exactly how a production pipeline
    * serializes adds and GDPR erasure against each other). Per trigger:
    * document rows are anti-joined against the persisted SUPPRESSION
    * LIST before entering [[graft.ops.Dedup.incrementalDayRun]]'s band
    * index, and command rows (a) append to the suppression list
    * (idempotent `batch=<id>` overwrite — replay-safe like every store
    * in this file) and (b) purge the live index through
    * [[graft.ops.Dedup.forgetDocs]] (new generation under the writer
    * lease). The suppression list is the piece an index purge alone
    * gets wrong: a deletion command must also BLOCK the doc's
    * re-arrival — here batch 2's ingest includes docs whose erasure
    * command arrived in batch 1, and they must never enter the store.
    *
    * Gate: the final labels from the purged+suppressed store equal
    * q269's from-scratch oracle over the corpus minus the deletion set
    * — erasure-as-command ≡ rebuild-without-the-docs, regardless of
    * arrival order; plus the q269 zero-trace assert over the FULL
    * deletion set (covers both the purge of stored rows and the
    * suppression of late arrivals). At 100 TB the suppression list is
    * ∝ total erasure requests (tiny, Catalyst broadcasts it unhinted —
    * degrading to shuffle if a purge wave ever isn't), the purge is
    * ∝ store size ONLY on command triggers, and ingest triggers pay one
    * anti-join more than q99. */
  val q279StreamForget: Q = gate(
    "q279_stream_forget",
    graft.ops.Dedup.q269ForgetDocs.oracle.get) { (s, dir, work) =>
    val docs = Tables(s, dir, "documents")
    val forgetIds = docs.filter(col("doc_id") % 37 === 0)
    // Command rows ride the document schema: the payload is the doc_id.
    val cmds = forgetIds
      .withColumn("text", lit(""))
      .withColumn("lang", lit("__forget__"))
    val in = stageOrderedBatches(work, Seq(
      docs.filter(col("doc_id") % 2 === 0),       // ingest day 0
      cmds,                                       // erasure wave (ALL ids)
      docs.filter(col("doc_id") % 2 === 1)))      // ingest day 1 (late arrivals)
    val idx = work.resolve("bandidx").toString
    val supp = work.resolve("suppress").toString
    foldStream(s, work, docs.schema, in) { (sb, batch, id) =>
      val fs = new HPath(supp)
        .getFileSystem(sb.sparkContext.hadoopConfiguration)
      val adds = batch.filter(col("lang") =!= "__forget__")
      if (adds.take(1).nonEmpty) {
        // Suppression first: a doc whose erasure already arrived must
        // never re-enter the store. Unhinted anti-join (deletion-set
        // discipline: broadcast when small, shuffle when not).
        val clean =
          if (fs.exists(new HPath(supp)))
            adds.join(sb.read.parquet(supp).select(col("doc_id")),
              Seq("doc_id"), "left_anti")
          else adds
        graft.ops.Dedup.incrementalDayRun(sb, idx, clean, id).unpersist()
      }
      val forget = batch.filter(col("lang") === "__forget__")
        .select(col("doc_id"))
      if (forget.take(1).nonEmpty) {
        forget.write.mode("overwrite").parquet(s"$supp/batch=$id")
        graft.ops.Dedup.forgetDocs(sb, idx, forget)
      }
    }
    // Zero trace: neither a purged row nor a suppressed late arrival may
    // be in the live generation.
    val leftover = s.read.parquet(graft.ops.Dedup.bandIndexRoot(s, idx))
      .join(broadcast(forgetIds.select(col("doc_id"))), Seq("doc_id"),
        "left_semi").limit(1).count()
    require(leftover == 0L,
      "q279: live index retains erased or suppressed doc_ids")
    graft.ops.Fuzzy.resolveClusters(s,
        graft.ops.Dedup.pairsFromStoredBands(s, idx))
      .orderBy(col("doc_id"))
  }

  /** q108: the PSI drift monitor run as a STREAM — the pre-ingest guard in
    * its production position. Document batches arrive as micro-batches;
    * each trigger (1) scores the incoming batch against the PERSISTED
    * archive histogram (full-outer bucket join, zero-filled — the same
    * union-of-buckets q98 builds in one pass) and (2) folds the batch's
    * own histogram into the store for the next trigger, idempotently
    * under `batch=<id>` like the q99 band index. State is ≤10 counters
    * per batch — the archive histogram never grows with corpus size, so
    * at 100 TB the per-trigger cost is O(batch) + a constant-size store
    * read. With the even/odd staging, batch 1's score against batch 0's
    * archive is EXACTLY the batch q98 computation — its oracle gates the
    * sink. */
  val q108StreamDrift: Q = gate(
    "q108_stream_drift",
    graft.ops.Curation.q98QualityDrift.oracle.get) { (s, dir, work) =>
    val docs = Tables(s, dir, "documents")
    val in = stageParityBatches(work, docs, "doc_id")
    val hist = work.resolve("hist").toString
    val outDir = work.resolve("out").toString
    foldStream(s, work, docs.schema, in) { (sb, batch, id) =>
      val own = batch
        .groupBy(graft.ops.Curation.lengthBucket.as("bucket"))
        .agg(count(lit(1)).as("n_new"))
      val histPath = new HPath(hist)
      val fs = histPath.getFileSystem(sb.sparkContext.hadoopConfiguration)
      val histDirs =
        if (fs.exists(histPath))
          fs.listStatus(histPath).filter(_.isDirectory)
            .map(_.getPath.getName)
            .filter(n => n.startsWith("batch=") && n != s"batch=$id")
            .toSeq
        else Seq.empty[String]
      if (fs.exists(histPath)) {
        // Archive = every batch but this one (replay-safe, like the
        // q99 band index): sum the stored per-batch histograms. An
        // explicit path list, not filter(batch =!= id) — the literal
        // id would force a fresh whole-stage codegen compile per
        // trigger (see Dedup.incrementalDayRun). A replayed batch
        // whose subdir is the ONLY one present still computes (and
        // overwrites) its psi row against an empty archive, exactly
        // as the filtered read did.
        val arch = (if (histDirs.nonEmpty)
          sb.read.option("basePath", hist)
            .parquet(histDirs.map(d => s"$hist/$d"): _*)
            .select(col("bucket"), col("n"))
        else own.limit(0).select(col("bucket"), col("n_new").as("n")))
          .groupBy(col("bucket")).agg(sum(col("n")).as("n_arch"))
        val c = arch.join(own, Seq("bucket"), "full_outer")
          .select(col("bucket"),
            coalesce(col("n_arch"), lit(0L)).as("n_arch"),
            coalesce(col("n_new"), lit(0L)).as("n_new"))
        graft.ops.Curation.psiOf(c)
          .write.mode("overwrite").parquet(s"$outDir/batch=$id")
      }
      own.select(col("bucket"), col("n_new").as("n"))
        .write.mode("overwrite").parquet(s"$hist/batch=$id")
    }
    s.read.parquet(outDir)
      .select(col("bucket"), col("n_arch"), col("n_new"), col("psi_contrib"))
      .orderBy(col("bucket"))
  }

  /** q114: the SCD2 dimension load run as a STREAM — event batches arrive
    * strictly later than everything already loaded (staged as a time
    * split, matching the nightly-load contract [[graft.ops.Events
    * .scd2Merge]] requires); each trigger SCD2-builds its own batch and
    * stitches it onto the stored history, publishing the new history as
    * generation `gen=<id>` (overwrite ⇒ replay-idempotent: a redelivered
    * batch re-derives its generation from the previous one). The final
    * generation must hash-match q107's FULL-REBUILD oracle — the stitch
    * theorem q113 proves once, checked here under micro-batch delivery.
    * Per-trigger cost is O(batch + current rows); the closed history
    * rides along in the generation file but is never re-windowed. */
  val q114StreamScd2: Q = gate(
    "q114_stream_scd2",
    graft.ops.Events.q107Scd2History.oracle.get) { (s, dir, work) =>
    val ev = Tables(s, dir, "events")
    val cut = lit("2024-01-08").cast("timestamp")
    val in = stageOrderedBatches(work,
      Seq(ev.filter(col("ts") < cut), ev.filter(col("ts") >= cut)))
    val store = work.resolve("scd2").toString
    foldStream(s, work, ev.schema, in) { (_, batch, id) =>
      scd2Publish(store, batch, id)
    }
    lastGen(s, store).orderBy(col("user_id"), col("version"))
  }

  /** q116: the LEFT-OUTER stream-stream join gated end-to-end — every
    * click with its attributed purchases, PLUS clicks that led to no
    * purchase (null buy columns). Outer rows only emit once the watermark
    * proves no match can still arrive (state eviction at click_ts + 30 min
    * — emission is watermark-driven, unlike q94's inner rows which emit in
    * the batch that finds them), so BOTH sides get a far-future sentinel:
    * each watermark node tracks only its own side's max event time, the
    * query watermark is their min, and a one-sided sentinel would leave
    * the other node — and therefore every real click's eviction — stuck at
    * max−1h < max+30m. Sentinels use distinct negative user_ids (they can
    * never join) and are filtered on read-back. At 100 TB this is the
    * funnel-outcome topology: state is watermark-bounded on both sides,
    * and the outer emission IS the incremental "no conversion" feed. */
  val q116StreamClickOutcomes: Q = gate(
    "q116_stream_click_outcomes",
    """SELECT c.user_id, c.event_id AS click_id, p.event_id AS buy_id,
      |       CAST(floor(epoch(c.ts)) AS BIGINT) AS click_s,
      |       CAST(floor(epoch(p.ts)) AS BIGINT) AS buy_s,
      |       p.value
      |FROM events c LEFT JOIN events p
      |  ON c.user_id = p.user_id
      | AND p.event_type = 'purchase'
      | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
      |WHERE c.event_type = 'click'
      |ORDER BY c.user_id, click_id, buy_id NULLS FIRST""".stripMargin) { (s, dir, work) =>
    // 3 h past max: final watermark = max + 2 h > every real click's
    // eviction deadline (≤ max + 30 min); the sentinels' own state never
    // evicts and never emits.
    val srcRoot = stageWithSentinels(s, dir, work, 3L * 60 * 60 * 1000000,
      Seq((-1L, -1L, "click"), (-2L, -2L, "purchase")))
    val joined = EventStream.attributionJoin(
      stagedEvents(s, dir, srcRoot), "left_outer")
    runToParquet(s, joined, work)
      .filter(col("user_id") >= 0)
      .orderBy(col("user_id"), col("click_id"), col("buy_id"))
  }

  /** q117: the STREAM-STATIC enrichment join gated end-to-end — the
    * events stream is joined to a broadcast dimension (customer ⋈ nation,
    * pre-joined statically) then windowed-aggregated, the standard
    * enrich-then-rollup streaming topology. The static side needs no
    * watermark and holds no state: it is re-resolved and broadcast per
    * micro-batch, so at 100 TB the dim can be slowly-changing and each
    * trigger reads its current snapshot — only the windowed agg keeps
    * state, bounded by the watermark. The watermark node sits BEFORE the
    * join, so the sentinel advances event time even though the inner join
    * drops its unmatched (negative) user_id. */
  val q117StreamEnrich: Q = gate(
    "q117_stream_enrich",
    s"""SELECT CAST(floor(epoch(e.ts) / 3600) * 3600 AS BIGINT) AS win_start,
       |       n.n_name AS nation, count(*) AS n,
       |       ${Q.oSum6("e.value")} AS sum_value
       |FROM events e
       |JOIN customer c ON e.user_id = c.c_custkey
       |JOIN nation n ON c.c_nationkey = n.n_nationkey
       |GROUP BY 1, 2 ORDER BY win_start, nation""".stripMargin) { (s, dir, work) =>
    // 3 h past max: final watermark = max + 2 h, past every 1-hour
    // window's end (≤ max + 1 h); the sentinel's own window stays open.
    val srcRoot = stageWithSentinels(s, dir, work, 3L * 60 * 60 * 1000000)
    val ev = stagedEvents(s, dir, srcRoot)
    val ss = ev.sparkSession
    val dim = broadcast(Tables(ss, dir, "customer")
      .join(Tables(ss, dir, "nation"),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("nation")))
    val agg = ev
      .withWatermark("ts", "1 hour")
      .join(dim, col("user_id") === col("c_custkey"))
      .groupBy(window(col("ts"), "1 hour"), col("nation"))
      .agg(count(lit(1)).as("n"), Q.dsum6(col("value")).as("sum_value"))
      .select(unix_timestamp(col("window.start")).as("win_start"),
        col("nation"), col("n"), col("sum_value"))
    runToParquet(s, agg, work)
      .orderBy(col("win_start"), col("nation"))
  }

  /** q126's per-trigger counter merge: batch (token, df, tf) partials are
    * summed into the newest generation strictly before `id` and published
    * as `gen=<id>` (replay overwrites its own generation from the same
    * base — idempotent under at-least-once delivery). The additive df
    * merge is valid iff each document arrives in exactly one batch. */
  private[graft] def vocabPublish(store: String, batch: DataFrame, id: Long): Unit = {
    val cur = batch
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("tok"))
      .agg(countDistinct(col("doc_id")).as("df"), count(lit(1)).as("tf"))
    val merged = latestGenBefore(batch.sparkSession, store, id) match {
      case Some(prev) => prev.unionByName(cur).groupBy(col("tok"))
        .agg(sum(col("df")).as("df"), sum(col("tf")).as("tf"))
      case None => cur
    }
    merged.write.mode("overwrite").parquet(s"$store/gen=$id")
  }

  /** One q114 trigger: SCD2-build `batch` alone, stitch it onto the
    * newest generation published BEFORE `id`, and overwrite `gen=<id>`.
    * Deterministic in (store-state-before-id, batch, id), so at-least-once
    * redelivery of a batch rewrites its generation with identical rows. */
  private[graft] def scd2Publish(store: String, batch: DataFrame, id: Long): Unit = {
    val b = graft.ops.Events.scd2Of(batch).persist(MEMORY_AND_DISK)
    latestGenBefore(batch.sparkSession, store, id) match {
      case Some(h) =>
        val hp = h.persist(MEMORY_AND_DISK)
        graft.ops.Events.scd2Merge(hp, b)
          .write.mode("overwrite").parquet(s"$store/gen=$id")
        hp.unpersist()
      case None =>
        b.write.mode("overwrite").parquet(s"$store/gen=$id")
    }
    b.unpersist()
  }

  /** q126: streaming top-k vocabulary maintenance — the design lesson this
    * gate encodes: top-k is NOT incrementally maintainable from a stored
    * top-k alone (a term outside today's top 20 can climb into it
    * tomorrow; once truncated, its count is gone). The maintainable state
    * is the FULL counter table; top-k is a read-time view. So each
    * micro-batch merges its (token, df, tf) partials into a stored counter
    * generation — additive merge, valid because a document arrives in
    * exactly one batch, so per-batch distinct-doc counts sum to the true
    * df — published idempotently under `gen=<batchId>` (a replayed batch
    * re-reads the newest generation strictly BEFORE its id, never its own
    * possibly-stale output), and the gate answers q58's exact top-20 from
    * the final generation. At 100 TB the counter table is
    * token-partitioned and the merge is a co-partitioned sum; the top-k
    * read is TakeOrdered over it — still never a global sort. */
  val q126StreamTopK: Q = gate(
    "q126_stream_topk",
    graft.ops.Training.q58VocabTopK.oracle.get) { (s, dir, work) =>
    val docs = Tables(s, dir, "documents")
    val in = stageParityBatches(work, docs, "doc_id")
    val store = work.resolve("vocab").toString
    foldStream(s, work, docs.schema, in) { (_, batch, id) =>
      vocabPublish(store, batch, id)
    }
    lastGen(s, store).orderBy(col("df").desc, col("tok"))
      .limit(20)
  }

  /** q158: the Markov transition feed (q155) run as an ACTUAL
    * transformWithState stream — per-user last-event ValueState completes
    * each (prev → next) edge in the trigger that sees `next`, across three
    * time-split micro-batches (one file per trigger, the q114 staging),
    * so cross-batch transitions genuinely traverse the RocksDB-backed
    * state. The sink's edge rows roll up to exactly the batch transition
    * matrix — q155's DuckDB oracle gates the sink. At 100 TB/day the
    * state is one tiny row per user (TTL-evictable), versus a batch lag
    * window that re-sorts the full history every run. */
  val q158StreamMarkov: Q = gate(
    "q158_stream_markov",
    graft.ops.Events.q155MarkovTransitions.oracle.get) { (s, dir, work) =>
    val stream = eventThirdsStream(s, dir, work)
      .select(col("user_id"), unix_micros(col("ts")).as("micros"),
        col("event_id"), col("event_type"))
      .as(Encoders.product[TransitionStream.Ev])
    val edges = TransitionStream.transitions(stream)
    runToParquet(s, edges.toDF(), work)
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("from_type"), col("to_type"))
  }

  /** q183: the MapState crosstab gated end-to-end — per-user×type running
    * counts maintained in a RocksDB MapState across three time-split
    * micro-batches; the sink's monotone emissions reduce to max(n) per
    * cell, which must equal the batch groupBy count. Completes the
    * transformWithState state-shape trio under the driver oracle
    * (ValueState: q158; timers: TimerSessions specs; MapState: here). */
  val q183StreamCrosstab: Q = gate(
    "q183_stream_crosstab",
    """SELECT user_id, event_type, count(*) AS n
      |FROM events GROUP BY 1, 2
      |ORDER BY user_id, event_type""".stripMargin) { (s, dir, work) =>
    val stream = eventThirdsStream(s, dir, work)
      .select(col("user_id"), col("event_type"))
      .as(Encoders.product[CrosstabStream.Ev])
    val cells = CrosstabStream.crosstab(stream)
    runToParquet(s, cells.toDF(), work)
      .groupBy(col("user_id"), col("event_type"))
      .agg(max(col("n")).as("n"))
      .orderBy(col("user_id"), col("event_type"))
  }

  /** q184: the ListState recent-activity buffer gated end-to-end — each
    * user's last-5 event ids maintained across three time-split triggers;
    * the oracle recomputes the same buffer as a rank window over the full
    * history. Cross-batch correctness is the point: a user's buffer must
    * stitch events from different triggers in (ts, event_id) order. */
  val q184StreamRecent: Q = gate(
    "q184_stream_recent",
    """WITH r AS (
      |  SELECT user_id, event_id,
      |         row_number() OVER (PARTITION BY user_id
      |                            ORDER BY ts DESC, event_id DESC) AS rn,
      |         count(*) OVER (PARTITION BY user_id) AS n
      |  FROM events)
      |SELECT user_id, CAST(max(n) AS BIGINT) AS n_seen,
      |       string_agg(CAST(event_id AS VARCHAR), ',' ORDER BY rn DESC) AS last5
      |FROM r WHERE rn <= 5
      |GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir, work) =>
    val stream = eventThirdsStream(s, dir, work)
      .select(col("user_id"), unix_micros(col("ts")).as("micros"),
        col("event_id"))
      .as(Encoders.product[RecentBuffer.Ev])
    val out = RecentBuffer.recent(stream)
    runToParquet(s, out.toDF(), work)
      .groupBy(col("user_id"))
      .agg(max(col("n_seen")).as("n_seen"),
        max_by(col("last5"), col("n_seen")).as("last5"))
      .orderBy(col("user_id"))
  }

  /** One fold step of the rolling Misra–Gries sketch (the mergeable-
    * summaries merge rule, relationally): union the stored counter rows
    * with the incoming batch's, sum per gram, and if over capacity
    * subtract the (k+1)-th largest combined count from all and keep the
    * positive — at most k items can exceed that cut, so the result is
    * ≤ k rows, and the cumulative undercount across every fold stays
    * ≤ N_total/(k+1) (Agarwal et al., PODS'12). All inputs are ≤ 2k tiny
    * counter rows; the scalar cut is a 1-row aggregate (the StreamGate
    * driver-scalar discipline — bounded by construction). */
  private[graft] def foldSketch(prev: DataFrame, own: DataFrame, k: Int): DataFrame = {
    // ONE materialization feeds all three consumers (count, cut, result):
    // `own` is a freq_sketch aggregate whose retained tail is
    // merge-order-dependent, so re-executing it per action could compute
    // the cut on one materialization and subtract it from another —
    // over-subtracting past the N/(k+1) bound exactly where the
    // 1/12000-vs-1/12001 threshold margin has no slack. localCheckpoint
    // is eager and ≤ 2k counter rows.
    val merged = prev.unionByName(own)
      .groupBy(col("gram")).agg(sum(col("cnt")).as("cnt"))
      .localCheckpoint()
    if (merged.count() <= k) merged
    else {
      val cut = merged.orderBy(col("cnt").desc, col("gram")).limit(k + 1)
        .agg(min(col("cnt"))).head().getLong(0)
      merged.select(col("gram"), (col("cnt") - cut).as("cnt"))
        .filter(col("cnt") > 0)
    }
  }

  /** q238: corpus heavy-hitter n-grams maintained as a STREAM — q235's
    * boilerplate-discovery sketch in its day-2 position. Document batches
    * arrive as micro-batches; each trigger computes the batch's OWN
    * Misra–Gries summary (the freq_sketch aggregate — bounded map-side
    * state, counter rows out) and folds it into the persisted rolling
    * sketch with [[foldSketch]], publishing generation `gen=<id>` derived
    * only from generations < id (replay-idempotent, the q114 chain
    * discipline). The store is ≤ k counter rows FOREVER — state does not
    * grow with the corpus, which is the whole point at 100 TB: the
    * vocabulary grows unboundedly, the sketch does not.
    *
    * The gate composes the guarantee end-to-end: after the last fold,
    * every trigram with global count > N/(k+1) is still in the store
    * (merge rule preserves the bound), so the exact recount + threshold
    * (share > 1/k > 1/(k+1)) over the full corpus must hash-match the
    * batch q235 oracle — which is exactly what the driver checks. */
  val q238StreamHeavyNgrams: Q = gate(
    "q238_stream_heavy_ngrams",
    graft.ops.TextAnalysis.duckHeavyNgramsOracle) { (s, dir, work) =>
    val k = graft.ops.TextAnalysis.HhCapacity
    val docs = Tables(s, dir, "documents")
    val in = stageParityBatches(work, docs, "doc_id")
    val store = work.resolve("sketch").toString
    foldStream(s, work, docs.schema, in) { (sb, batch, id) =>
      graft.functions.GraftFunctions.register(sb)
      val own = graft.ops.TextAnalysis.trigrams(batch)
        .agg(expr(s"freq_sketch(gram, $k)").as("cand"))
        .select(explode(col("cand")).as("e"))
        .select(col("e.item").as("gram"), col("e.lb").as("cnt"))
      val prev = latestGenBefore(sb, store, id).getOrElse(own.limit(0))
      foldSketch(prev, own, k).coalesce(1)
        .write.mode("overwrite").parquet(s"$store/gen=$id")
    }
    val cands = lastGen(s, store).select(col("gram"))
    val tok = graft.ops.TextAnalysis.trigrams(docs)
    val tot = tok.agg(count(lit(1)).as("n"))
    graft.ops.TextAnalysis.hhRecount(tok, cands.crossJoin(broadcast(tot)))
  }

  /** q244: streaming CLUSTER-LABEL maintenance — q233's star-forest label
    * refresh folded into q99's per-trigger loop, closing the last
    * "nightly batch" gap in the streaming dedup story: each micro-batch
    * pairs against the persisted band index (incrementalDayRun), then
    * refreshes the PERSISTED label table from the prior labels' star
    * forest ∪ the batch's pairs — O(labeled + batch-pairs) per trigger,
    * never a re-walk of the archive's edge set. Labels publish as
    * cumulative `batch=<id>` generations: a replayed batch recomputes
    * from the SAME prior generation and the same recomputed pairs (the
    * band index excludes the batch's own subdir), so the overwrite is
    * idempotent under at-least-once delivery. Star compression preserves
    * connectivity exactly, so the final generation equals the
    * full-corpus closure — q47's oracle rendering verbatim — and the
    * mid-stream hot-cap precondition is CHECKED over every batch
    * boundary ([[graft.ops.Dedup.assertNoMidStreamCapCross]]). */
  val q244StreamClusterMaintain: Q = gate(
    "q244_stream_cluster_maintain",
    s"""WITH RECURSIVE ${graft.ops.Dedup.duckLshPairCtes},
       |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
       |          UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach AS (SELECT u, v FROM edges
       |          UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u)
       |SELECT u AS doc_id, least(u, min(v)) AS cluster_id
       |FROM reach GROUP BY u ORDER BY doc_id""".stripMargin) { (s, dir, work) =>
    val docs = graft.Tables(s, dir, "documents")
    val in = stageParityBatches(work, docs, "doc_id")
    val idx = work.resolve("bandidx").toString
    val lbl = work.resolve("labels").toString
    foldStream(s, work, docs.schema, in) { (sb, batch, id) =>
      val pairs = graft.ops.Dedup.incrementalDayRun(sb, idx, batch, id)
      refreshLabels(sb, lbl, pairs, id)
      pairs.unpersist()
    }
    graft.ops.Dedup.assertNoMidStreamCapCross(s, idx)
    s.read.parquet(s"$lbl/batch=${labelBatches(s, lbl).max}")
      .select(col("doc_id"), col("cluster_id"))
      .orderBy(col("doc_id"))
  }

  /** q252: streaming DISTINCT-count maintenance via mergeable HLL
    * sketches (Spark's DataSketches `hll_sketch_agg`/`hll_union`) — the
    * cardinality counterpart of q238's Misra–Gries fold, and the
    * contrast to q126's top-k lesson: top-k is NOT incrementally
    * maintainable from a summary, but distinct counts ARE, because HLL
    * union is exactly lossless w.r.t. the sketch semantics (sketch(A) ∪
    * sketch(B) = sketch(A∪B) — the mergeable-summaries property). Each
    * micro-batch folds its per-language vocabulary sketch into a
    * constant-size generation store (one ~2^12-register binary per
    * language, FOREVER, while the vocabulary grows with the corpus);
    * replay recomputes the same union from the prior generation
    * (idempotent overwrite, the q238 store discipline).
    *
    * Estimates are engine-specific, so the gate follows q43's
    * error-envelope pattern: the oracle renders the EXACT per-language
    * vocabulary plus constant-true bounds, and Spark surfaces the exact
    * count (hash-gated) plus a boolean asserting the folded sketch's
    * estimate landed within ±5% (≈3σ at lgK=12, rse ≈ 1.6%). At 100 TB
    * this replaces a vocabulary-scale distinct per reporting window with
    * a kilobyte-sized mergeable state read. */
  val q252StreamHllVocab: Q = gate(
    "q252_stream_hll_vocab",
    """WITH t AS (SELECT lang, unnest(string_split(text, ' ')) AS w
      |           FROM documents)
      |SELECT lang, count(DISTINCT w) AS n_vocab, true AS hll_ok
      |FROM t GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir, work) =>
    val docs = graft.Tables(s, dir, "documents")
    val in = stageParityBatches(work, docs, "doc_id")
    val store = work.resolve("hllgen").toString
    foldStream(s, work, docs.schema, in) { (sb, batch, id) =>
      foldHll(sb, store, batch, id)
    }
    hllVocab(s, store, docs).orderBy(col("lang"))
  }

  /** q259: the SINGLE-LOOP day-2 composition gate — every maintenance
    * discipline the streaming dedup story has, running in ONE
    * `foreachBatch` over one checkpoint: each of four micro-batches
    * (doc_id mod 4) (1) pairs against the persisted band index
    * (q99's `incrementalDayRun`), (2) refreshes the persisted label
    * table from the prior generation's star forest ∪ the batch's pairs
    * (q244's re-entry), (3) folds the per-language HLL vocabulary
    * sketch into its generation store (q252's lossless union), and
    * (4) compacts the band index when it outgrows the replay window
    * (q247's fold-under-lease, with the pre-fold cap-cross check).
    * Three stores, three writer leases — the label and sketch publishes
    * run under [[graft.ops.GenStore.withLease]] on their own store
    * roots; compaction takes the band store's lease internally — so the
    * composed loop exercises the heartbeat-renewed single-writer
    * contract on every store it maintains, per trigger.
    *
    * The oracle is the UNION of the three outputs' existing full-corpus
    * renderings (q247's pair set, q244's recursive closure, q252's
    * exact vocabulary + estimate envelope) in one discriminated frame —
    * proving the disciplines COMPOSE: same pairs, same labels, same
    * sketch, under replay-idempotent publishes, when they share one
    * loop instead of owning one each. Per-trigger cost is the sum of
    * its parts: O(batch) pairing, O(labeled + batch-pairs) label
    * refresh, O(languages) sketch fold, no-op-until-breach compaction —
    * nothing scales with the archive. */
  val q259StreamFullMaintenance: Q = gate(
    "q259_stream_full_maintenance",
    s"""WITH RECURSIVE ${graft.ops.Dedup.duckLshPairCtes},
       |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
       |          UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach AS (SELECT u, v FROM edges
       |          UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
       |cl AS (SELECT u AS doc_id, least(u, min(v)) AS cluster_id
       |       FROM reach GROUP BY u),
       |vt AS (SELECT lang, count(DISTINCT w) AS n_vocab
       |       FROM (SELECT lang, unnest(string_split(text, ' ')) AS w
       |             FROM documents) GROUP BY 1)
       |SELECT 'pairs' AS part, doc_a AS a, doc_b AS b,
       |       (doc_a % 4 = doc_b % 4) AS ok FROM pairs
       |UNION ALL SELECT 'labels', doc_id, cluster_id, TRUE FROM cl
       |UNION ALL SELECT 'vocab_' || lang, n_vocab, CAST(NULL AS BIGINT), TRUE
       |FROM vt
       |ORDER BY part, a, b""".stripMargin) { (s, dir, work) =>
    val docs = graft.Tables(s, dir, "documents")
    val in = stageOrderedBatches(work,
      Seq(0, 1, 2, 3).map(p => docs.filter(col("doc_id") % 4 === p)))
    val idx = work.resolve("bandidx").toString
    val lbl = work.resolve("labels").toString
    val store = work.resolve("hllgen").toString
    val outPairs = work.resolve("out").toString
    foldStream(s, work, docs.schema, in) { (sb, batch, id) =>
      val hconf = sb.sparkContext.hadoopConfiguration
      // (1) pair against the archive, emit exactly-once pairs —
      // written in the pair join's OWN pass (no checkpoint+rewrite);
      // the label refresh below re-reads the tiny parquet output.
      val pairs = graft.ops.Dedup.incrementalDayRunTo(
        sb, idx, batch, id, s"$outPairs/batch=$id")
      // (2) label refresh under the label store's writer lease:
      // prior generation's star forest ∪ this batch's pairs,
      // published as cumulative batch=<id> (replay reads < id).
      val lblPath = new HPath(lbl)
      graft.ops.GenStore.withLease(lblPath.getFileSystem(hconf), lblPath) { _ =>
        refreshLabels(sb, lbl, pairs, id)
      }
      pairs.unpersist()
      // (3) HLL vocabulary fold under the sketch store's lease.
      val storePath = new HPath(store)
      graft.ops.GenStore.withLease(storePath.getFileSystem(hconf), storePath) { _ =>
        foldHll(sb, store, batch, id)
      }
      // (4) band-index compaction when the store outgrows the replay
      // window — cap-cross precondition checked pre-fold only.
      compactInLoop(sb, idx)
    }
    checkCompacted(s, idx, "q259")
    val pairsOut = s.read.parquet(outPairs)
      .select(lit("pairs").as("part"), col("doc_a").as("a"),
        col("doc_b").as("b"), col("both_new").as("ok"))
    val labelsOut = s.read.parquet(s"$lbl/batch=${labelBatches(s, lbl).max}")
      .select(lit("labels").as("part"), col("doc_id").as("a"),
        col("cluster_id").as("b"), lit(true).as("ok"))
    val vocabOut = hllVocab(s, store, docs)
      .select(concat(lit("vocab_"), col("lang")).as("part"),
        col("n_vocab").as("a"), lit(null).cast("long").as("b"),
        col("hll_ok").as("ok"))
    pairsOut.unionByName(labelsOut).unionByName(vocabOut)
      .orderBy(col("part"), col("a"), col("b"))
  }

  /** q296: STREAMING join-view maintenance — q295's two-sided delta-join
    * algebra in its day-2 position. The input is CDC-shaped: ONE change
    * topic carrying rows for BOTH tables (tagged by `kind`), because
    * that is how change capture actually arrives — there is no luxury of
    * "all of orders, then all of lineitems". Each trigger splits its
    * batch into ΔO/ΔL, computes ΔV = γ(ΔL⋈O_acc) + γ(L_acc⋈ΔO) +
    * γ(ΔL⋈ΔO) against the ACCUMULATED other-side stores, merges into the
    * prior view generation, and publishes `gen=<id>`; the old×old join
    * never runs. Replay safety is the strict `< id` discipline
    * everywhere: accumulators read only `batch < id` subdirs and the
    * view chains from the newest generation strictly before its id, so
    * a redelivered batch recomputes the identical delta from identical
    * inputs and idempotently overwrites its own outputs — in ANY
    * crash/replay interleaving of the three per-trigger writes.
    *
    * Per-trigger cost is ∝|Δ|·(matching accumulated rows), never
    * archive² — at 100 TB the accumulators are the partitioned store
    * the deltas probe (bucketed by join key in production so the probe
    * is shuffle-free), and the view merge is |keys|-bounded. The oracle
    * is the from-scratch join over everything that streamed: equality
    * proves the maintenance algebra under micro-batch arrival. */
  val q296StreamIvmJoin: Q = gate(
    "q296_stream_ivm_join",
    """SELECT o.o_custkey AS custkey, CAST(count(*) AS BIGINT) AS n_lines,
      |       CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
      |         AS sum_cents
      |FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir, work) =>
    val o = Tables(s, dir, "orders").select(lit("o").as("kind"),
      col("o_orderkey").as("ok"), col("o_custkey").as("custkey"),
      lit(null).cast("long").as("cents"))
    val l = Tables(s, dir, "lineitem").select(lit("l").as("kind"),
      col("l_orderkey").as("ok"), lit(null).cast("long").as("custkey"),
      round(col("l_extendedprice") * 100).cast("long").as("cents"),
      col("l_linenumber"))
    val topic = (0 to 2).map { slot =>
      o.filter(col("ok") % 3 === slot).unionByName(
        l.filter((col("ok") + col("l_linenumber")) % 3 === slot)
          .drop("l_linenumber"))
    }
    val in = stageOrderedBatches(work, topic)
    val oacc = work.resolve("oacc").toString
    val lacc = work.resolve("lacc").toString
    val view = work.resolve("view").toString
    foldStream(s, work, topic.head.schema, in) { (sb, batch, id) =>
      val dO = batch.filter(col("kind") === "o")
        .select(col("ok"), col("custkey"))
      val dL = batch.filter(col("kind") === "l")
        .select(col("ok"), col("cents"))
      // At production trigger counts the per-batch subdirs fold into
      // generations (q247's compaction) before the union grows.
      val oPrev = committedBatchesBefore(sb, oacc, id, dO.limit(0))
      val lPrev = committedBatchesBefore(sb, lacc, id, dL.limit(0))
      def agg(df: DataFrame) =
        df.groupBy(col("custkey"))
          .agg(count(lit(1)).as("dn"), sum(col("cents")).as("dc"))
      val delta = agg(dL.join(oPrev, "ok")
        .unionByName(lPrev.join(dO, "ok"))
        .unionByName(dL.join(dO, "ok")))
      val vPrev = latestGenBefore(sb, view, id).getOrElse(
        delta.select(col("custkey"), col("dn").as("n_lines"),
          col("dc").as("sum_cents")).limit(0))
      vPrev.join(delta, Seq("custkey"), "full_outer")
        .select(col("custkey"),
          (coalesce(col("n_lines"), lit(0L)) + coalesce(col("dn"), lit(0L)))
            .as("n_lines"),
          (coalesce(col("sum_cents"), lit(0L)) + coalesce(col("dc"), lit(0L)))
            .as("sum_cents"))
        .coalesce(1).write.mode("overwrite").parquet(s"$view/gen=$id")
      dO.write.mode("overwrite").parquet(s"$oacc/batch=$id")
      dL.write.mode("overwrite").parquet(s"$lacc/batch=$id")
    }
    lastGen(s, view).orderBy(col("custkey"))
  }

  /** q301: STREAMING late-dimension backfill — q300's early-fact pattern
    * in its day-2 position: facts and dimension rows arrive interleaved
    * on one CDC topic (slotted independently, so a third of the facts
    * genuinely precede their dimension row), and each trigger enriches
    * what it can and PARKS the rest. Per trigger: probe = own facts ∪
    * previously-parked facts; dims = accumulated ∪ own; matched rows
    * publish to the enriched store under `batch=<id>`, the still-
    * unmatched remainder snapshots to `parked/gen=<id>`, own dims append
    * to the accumulator. A parked fact carries its ARRIVAL trigger, so
    * `backfilled` (enriched later than it arrived) falls out of the
    * join, and the oracle renders the same flag arithmetically
    * (fact slot < dim slot). Replay safety: every read is strict <id —
    * committed `batch=K` listings ([[committedBatchesBefore]]) and the
    * newest parked generation before id — so a redelivered trigger
    * recomputes identical outputs and overwrites idempotently, in any
    * crash interleaving of the three writes.
    *
    * Per-trigger cost: |batch ∪ parked| ⋈ dims — the parked set is the
    * exception sliver by construction, and at 100 TB the dim accumulator
    * is the bucketed store the probe side co-partitions against. The
    * oracle is the complete naive join: equality proves park-and-reprobe
    * converges with nothing lost, duplicated, or double-flagged. */
  val q301StreamLateDim: Q = gate(
    "q301_stream_late_dim",
    """SELECT CAST(c.c_nationkey AS BIGINT) AS nationkey,
      |       CAST(count(*) AS BIGINT) AS n_orders,
      |       CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |         AS sum_cents,
      |       CAST(count(*) FILTER (WHERE o.o_orderkey % 3 < c.c_custkey % 3)
      |            AS BIGINT) AS n_backfilled
      |FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir, work) =>
    val dims = Tables(s, dir, "customer").select(lit("d").as("kind"),
      col("c_custkey").as("ck"), col("c_nationkey").cast("long").as("nk"),
      lit(null).cast("long").as("cents"), col("c_custkey").as("slotkey"))
    val facts = Tables(s, dir, "orders").select(lit("f").as("kind"),
      col("o_custkey").as("ck"), lit(null).cast("long").as("nk"),
      round(col("o_totalprice") * 100).cast("long").as("cents"),
      col("o_orderkey").as("slotkey"))
    val topic = (0 to 2).map { slot =>
      dims.filter(col("slotkey") % 3 === slot)
        .unionByName(facts.filter(col("slotkey") % 3 === slot))
        .drop("slotkey")
    }
    val in = stageOrderedBatches(work, topic)
    val dimacc = work.resolve("dimacc").toString
    val parked = work.resolve("parked").toString
    val enr = work.resolve("enr").toString
    foldStream(s, work, topic.head.schema, in) { (sb, batch, id) =>
      val dN = batch.filter(col("kind") === "d").select(col("ck"), col("nk"))
      val fN = batch.filter(col("kind") === "f")
        .select(col("ck"), col("cents"), lit(id).as("arr"))
      val dimsKnown = committedBatchesBefore(sb, dimacc, id, dN.limit(0))
        .unionByName(dN)
      val probe = latestGenBefore(sb, parked, id).getOrElse(fN.limit(0))
        .unionByName(fN)
      val joined = probe.join(dimsKnown, Seq("ck"), "left_outer")
        .localCheckpoint() // one materialization feeds both splits
      joined.filter(col("nk").isNotNull)
        .select(col("ck"), col("nk"), col("cents"),
          (col("arr") < id).as("backfilled"))
        .write.mode("overwrite").parquet(s"$enr/batch=$id")
      joined.filter(col("nk").isNull)
        .select(col("ck"), col("cents"), col("arr"))
        .coalesce(1).write.mode("overwrite").parquet(s"$parked/gen=$id")
      dN.write.mode("overwrite").parquet(s"$dimacc/batch=$id")
    }
    val leftover = latestGenBefore(s, parked, Long.MaxValue)
      .map(_.count()).getOrElse(0L)
    require(leftover == 0L,
      s"q301: $leftover facts never matched a dimension row (FK breach)")
    committedBatchesBefore(s, enr, Long.MaxValue,
        emptyFrame(s, "ck LONG, nk LONG, cents LONG, backfilled BOOLEAN"))
      .groupBy(col("nk").as("nationkey"))
      .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("sum_cents"),
        count_if(col("backfilled")).as("n_backfilled"))
      .orderBy(col("nationkey"))
  }

  /** Stage `ev` (which has a `day` column) as five chronological 6-day
    * slices from its first day; any trailing span beyond day 29 clamps
    * into the last slice — the oracles apply the identical least(...)
    * clamp. `ev` is persisted across staging: the first-day probe and the
    * five slice writes otherwise re-scan and re-derive it six times.
    * `shape` maps each slice to the rows staged. Returns the staged
    * schema and the input dir. */
  private def stageDaySlices(work: Path, ev: DataFrame,
      shape: DataFrame => DataFrame = identity): (StructType, String) = {
    ev.persist(MEMORY_AND_DISK)
    val minDay = ev.agg(min(col("day"))).collect()(0).getLong(0)
    val topic = (0 to 4).map { slice =>
      shape(ev.filter(expr(s"least((day - ${minDay}L) div 6, 4L)") === slice))
    }
    val in = stageOrderedBatches(work, topic)
    ev.unpersist()
    (topic.head.schema, in)
  }

  /** q322: STREAMING SPRT — q319's sequential test in its native
    * habitat: the monitor's whole point is deciding DURING the run, so
    * the honest gate replays the corpus as five chronological 6-day
    * slices through one foreachBatch and emits a (totals, cumulative
    * LLR, decision) row PER TRIGGER. Cumulative LLR is additive
    * (Σ_day x·L1+(n−x)·L0 = X·L1+(N−X)·L0), so per-trigger state is the
    * batch's 1-row (n, x) rollup appended to a replay-total store
    * ([[committedBatchesBefore]] — strict <id reads keep redelivery
    * idempotent); no row-grain state exists anywhere. Constants are the
    * SHARED [[graft.ops.Extended.SprtL1]] family, so the batch and
    * streaming gates cannot drift. The oracle renders the same five
    * slices arithmetically ((day − min)/6) and cumulates with a window —
    * equality proves the trigger-time decisions match what a batch
    * re-analysis would have said at each horizon.
    *
    * Per-trigger cost: one map-side-combined 1-row aggregate over the
    * batch plus a ≤id-row store read — O(batch) at any scale. */
  val q322StreamSprt: Q = gate(
    "q322_stream_sprt",
    s"""WITH d AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
       |                  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS p
       |           FROM events),
       |m AS (SELECT min(day) AS mind FROM d),
       |h AS (SELECT least((day - mind) // 6, 4) AS step,
       |             CAST(count(*) AS BIGINT) AS dn,
       |             CAST(sum(p) AS BIGINT) AS dx
       |      FROM d, m GROUP BY 1),
       |c AS (SELECT step,
       |             CAST(sum(dn) OVER (ORDER BY step) AS BIGINT) AS n,
       |             CAST(sum(dx) OVER (ORDER BY step) AS BIGINT) AS x
       |      FROM h),
       |k AS (SELECT step, n, x,
       |             x * (${graft.ops.Extended.SprtL1})
       |               + (n - x) * (${graft.ops.Extended.SprtL0}) AS cum_llr_nano
       |      FROM c)
       |SELECT step, n, x, cum_llr_nano,
       |       ${graft.ops.Extended.SprtDecision} AS decision
       |FROM k ORDER BY step""".stripMargin) { (s, dir, work) =>
    val (schema, in) = stageDaySlices(work, Tables(s, dir, "events")
      .select(expr("unix_timestamp(ts) div 86400").as("day"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("p")))
    val acc = work.resolve("acc").toString
    val out = work.resolve("out").toString
    foldStream(s, work, schema, in) { (sb, batch, id) =>
      // coalesce: an empty trigger's sum() is NULL and would poison
      // every later cumulative total (the slices are non-empty by
      // construction here, but a replay-total store must not depend
      // on that).
      val d1 = batch.agg(count(lit(1)).as("dn"),
        coalesce(sum(col("p")), lit(0L)).as("dx"))
      val prev = committedBatchesBefore(sb, acc, id, d1.limit(0))
      prev.unionByName(d1)
        .agg(sum(col("dn")).as("n"), sum(col("dx")).as("x"))
        .select(lit(id).as("step"), col("n"), col("x"),
          expr(s"x * (${graft.ops.Extended.SprtL1})"
            + s" + (n - x) * (${graft.ops.Extended.SprtL0})")
            .as("cum_llr_nano"))
        .withColumn("decision", expr(graft.ops.Extended.SprtDecision))
        .coalesce(1).write.mode("overwrite").parquet(s"$out/batch=$id")
      d1.coalesce(1).write.mode("overwrite").parquet(s"$acc/batch=$id")
    }
    committedBatchesBefore(s, out, Long.MaxValue,
        emptyFrame(s, "step LONG, n LONG, x LONG, cum_llr_nano LONG, decision STRING"))
      .orderBy(col("step"))
  }

  /** q347: STREAMING EWMA control chart — q340's monitor in deployment
    * shape: limits are estimated ONCE from the in-control baseline (the
    * first 6-day slice) and then FROZEN, and every later trigger extends
    * the EWMA recursion over the accumulated day series and re-emits the
    * per-type monitor row (days seen, current z, flags so far) — the
    * Phase-I/Phase-II split every real control chart runs with, which
    * the batch q340 (whole-series limits) deliberately does not have.
    *
    * State is the replay-total DAY store (q322's device): each trigger
    * appends its day-grain cents rollup; the fold re-runs over the
    * calendar-bounded day table, so per-trigger cost is O(batch) +
    * O(days) with NO row-grain state anywhere. Baseline stats are
    * re-derived from the store's first 6 days — a fixed set once slice 0
    * has arrived (chronological replay), so "recompute" and "freeze"
    * coincide. The recursion is q340's exact IEEE sequence (fold vs
    * recursive CTE; w by repeated ×0.64); the oracle renders each
    * trigger horizon as slice ≤ step, so equality proves every
    * trigger-time decision matches a batch re-analysis at that horizon. */
  val q347StreamEwma: Q = gate(
    "q347_stream_ewma",
    """WITH RECURSIVE d AS (
      |  SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
      |         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
      |  FROM events GROUP BY 1, 2),
      |m AS (SELECT min(day) AS mind FROM d),
      |sl AS (SELECT event_type, day, v, least((day - m.mind) // 6, 4) AS slice
      |       FROM d, m),
      |b AS (SELECT event_type, CAST(count(*) AS HUGEINT) AS n0,
      |             CAST(sum(v) AS HUGEINT) AS sv0,
      |             CAST(sum(CAST(v AS HUGEINT) * v) AS HUGEINT) AS svv0
      |      FROM sl WHERE slice = 0 GROUP BY 1),
      |ser AS (SELECT event_type, day, v, slice,
      |               row_number() OVER (PARTITION BY event_type ORDER BY day) AS t
      |        FROM sl),
      |r AS (
      |  SELECT b.event_type, 0 AS t,
      |         CAST(b.sv0 AS DOUBLE) / CAST(b.n0 AS DOUBLE) AS z,
      |         CAST(1 AS DOUBLE) AS w
      |  FROM b
      |  UNION ALL
      |  SELECT r.event_type, r.t + 1,
      |         CAST(0.2 AS DOUBLE) * CAST(s.v AS DOUBLE)
      |           + CAST(0.8 AS DOUBLE) * r.z,
      |         r.w * CAST(0.64 AS DOUBLE)
      |  FROM r JOIN ser s ON s.event_type = r.event_type AND s.t = r.t + 1),
      |fl AS (SELECT r.event_type, r.t, r.z, s.slice,
      |              (CAST(b.n0 AS DOUBLE) * r.z - CAST(b.sv0 AS DOUBLE))
      |                * (CAST(b.n0 AS DOUBLE) * r.z - CAST(b.sv0 AS DOUBLE))
      |                > CAST(b.n0 * b.svv0 - b.sv0 * b.sv0 AS DOUBLE)
      |                  * (CAST(1 AS DOUBLE) - r.w) AS flag
      |       FROM r JOIN b USING (event_type)
      |            JOIN ser s ON s.event_type = r.event_type AND s.t = r.t
      |       WHERE r.t >= 1),
      |steps AS (SELECT unnest(generate_series(0, 4)) AS step)
      |SELECT st.step, f.event_type,
      |       CAST(count(*) AS BIGINT) AS n_days,
      |       arg_max(round(f.z, 4), f.t) AS z_last,
      |       CAST(count(*) FILTER (WHERE f.flag) AS BIGINT) AS n_flagged
      |FROM steps st JOIN fl f ON f.slice <= st.step
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir, work) =>
    val dec = "decimal(38,0)"
    val (schema, in) = stageDaySlices(work, Tables(s, dir, "events")
      .withColumn("sec", unix_timestamp(col("ts")))
      .select(col("event_type"), expr("sec div 86400").as("day"),
        round(col("value") * 100).cast("long").as("cents")))
    val dayacc = work.resolve("dayacc").toString
    val out = work.resolve("out").toString
    foldStream(s, work, schema, in) { (sb, batch, id) =>
      val dB = batch.groupBy(col("event_type"), col("day"))
        .agg(sum(col("cents")).as("v"))
      val days = committedBatchesBefore(sb, dayacc, id,
        dB.limit(0)).unionByName(dB)
        .localCheckpoint() // feeds baseline, series, AND the day write
      val mind = days.agg(min(col("day")).as("mind"))
      val base = days.crossJoin(broadcast(mind))
        .filter(col("day") < col("mind") + 6)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).cast(dec).as("n0"),
          sum(col("v").cast(dec)).as("sv0"),
          sum(col("v").cast(dec) * col("v")).as("svv0"))
      val ser = days.withColumn("t", row_number().over(
        Window.partitionBy(col("event_type")).orderBy(col("day"))))
      val arr = ser.groupBy(col("event_type"))
        .agg(expr("transform(array_sort(collect_list(struct(t, v))), p -> p.v)")
          .as("arr"))
        .join(broadcast(base), "event_type")
      val states = arr.withColumn("sts",
        expr("""aggregate(arr,
               |  array(named_struct(
               |    'z', CAST(sv0 AS DOUBLE) / CAST(n0 AS DOUBLE),
               |    'w', CAST(1 AS DOUBLE))),
               |  (acc, e) -> array_append(acc, named_struct(
               |    'z', 0.2D * CAST(e AS DOUBLE) + 0.8D * element_at(acc, -1).z,
               |    'w', element_at(acc, -1).w * 0.64D)))""".stripMargin))
        .select(col("event_type"), col("n0"), col("sv0"), col("svv0"),
          posexplode(col("sts")).as(Seq("t", "st")))
        .filter(col("t") >= 1)
      states.select(col("event_type"), col("t").cast("long").as("t"),
          col("st.z").as("z"),
          ((expr("CAST(n0 AS DOUBLE)") * col("st.z") - expr("CAST(sv0 AS DOUBLE)"))
            * (expr("CAST(n0 AS DOUBLE)") * col("st.z") - expr("CAST(sv0 AS DOUBLE)"))
            > expr("CAST(n0 * svv0 - sv0 * sv0 AS DOUBLE)")
              * (expr("CAST(1 AS DOUBLE)") - col("st.w"))).as("flag"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"),
          expr("max_by(round(z, 4), t)").as("z_last"),
          count(when(col("flag"), 1)).as("n_flagged"))
        .select(lit(id).as("step"), col("event_type"), col("n_days"),
          col("z_last"), col("n_flagged"))
        .coalesce(1).write.mode("overwrite").parquet(s"$out/batch=$id")
      dB.coalesce(1).write.mode("overwrite").parquet(s"$dayacc/batch=$id")
    }
    committedBatchesBefore(s, out, Long.MaxValue, emptyFrame(s,
        "step LONG, event_type STRING, n_days LONG, z_last DOUBLE, n_flagged LONG"))
      .orderBy(col("step"), col("event_type"))
  }

  /** q355: STREAMING sequential-pattern support — q350's "a then
    * eventually b" funnel maintained across triggers: each micro-batch
    * folds into a per-(user, type) (min_ts, max_ts) PROFILE store (the
    * replay-total device at the grain mapGroupsWithState would hold —
    * two timestamps per key, the sessionless minimum), and every trigger
    * re-emits the full pattern table at its horizon. The oracle renders
    * each horizon as slice ≤ step, so equality proves the trigger-time
    * support/confidence match a batch re-analysis at every point in the
    * replay — including patterns flipping on as the consequent's later
    * events arrive.
    *
    * Per-trigger cost: O(batch) to profile + a |users|·|types|-grain
    * store merge + the 25-pattern rollup; no event-grain state. */
  val q355StreamSequential: Q = gate(
    "q355_stream_sequential",
    """WITH d AS (SELECT user_id, event_type,
      |                  CAST(floor(epoch(ts)) AS BIGINT) AS sec,
      |                  CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day
      |           FROM events),
      |m AS (SELECT min(day) AS mind FROM d),
      |sl AS (SELECT user_id, event_type, sec,
      |              least((day - m.mind) // 6, 4) AS slice FROM d, m),
      |steps AS (SELECT unnest(generate_series(0, 4)) AS step),
      |p AS (SELECT st.step, user_id, event_type,
      |             min(sec) AS mn, max(sec) AS mx
      |      FROM steps st JOIN sl ON sl.slice <= st.step
      |      GROUP BY 1, 2, 3),
      |na AS (SELECT step, event_type, CAST(count(*) AS BIGINT) AS n_ante
      |       FROM p GROUP BY 1, 2),
      |sup AS (SELECT a.step, a.event_type AS antecedent,
      |               b.event_type AS consequent,
      |               CAST(count(*) AS BIGINT) AS support
      |        FROM p a JOIN p b ON b.step = a.step
      |          AND b.user_id = a.user_id AND a.mn < b.mx
      |        GROUP BY 1, 2, 3)
      |SELECT CAST(s.step AS BIGINT) AS step, s.antecedent, s.consequent,
      |       s.support, na.n_ante,
      |       s.support * 1000000 // na.n_ante AS confidence_ppm
      |FROM sup s JOIN na ON na.step = s.step AND na.event_type = s.antecedent
      |ORDER BY 1, 2, 3""".stripMargin) { (s, dir, work) =>
    val (schema, in) = stageDaySlices(work, Tables(s, dir, "events")
        .withColumn("sec", unix_timestamp(col("ts")))
        .select(col("user_id"), col("event_type"), col("sec"),
          expr("sec div 86400").as("day")),
      _.select(col("user_id"), col("event_type"), col("sec")))
    val profacc = work.resolve("profacc").toString
    val out = work.resolve("out").toString
    foldStream(s, work, schema, in) { (sb, batch, id) =>
      val pB = batch.groupBy(col("user_id"), col("event_type"))
        .agg(min(col("sec")).as("mn"), max(col("sec")).as("mx"))
      val p = committedBatchesBefore(sb, profacc, id,
        pB.limit(0)).unionByName(pB)
        .groupBy(col("user_id"), col("event_type"))
        .agg(min(col("mn")).as("mn"), max(col("mx")).as("mx"))
        .localCheckpoint() // feeds both sides of the pair join + na
      val na = p.groupBy(col("event_type")).agg(count(lit(1)).as("n_ante"))
      p.as("a").join(p.as("b"),
          col("b.user_id") === col("a.user_id") &&
            col("a.mn") < col("b.mx"))
        .groupBy(col("a.event_type").as("antecedent"),
          col("b.event_type").as("consequent"))
        .agg(count(lit(1)).as("support"))
        .join(broadcast(na.withColumnRenamed("event_type", "antecedent")),
          "antecedent")
        .select(lit(id).as("step"), col("antecedent"), col("consequent"),
          col("support"), col("n_ante"),
          expr("support * 1000000 div n_ante").as("confidence_ppm"))
        .coalesce(1).write.mode("overwrite").parquet(s"$out/batch=$id")
      pB.coalesce(1).write.mode("overwrite").parquet(s"$profacc/batch=$id")
    }
    committedBatchesBefore(s, out, Long.MaxValue, emptyFrame(s,
        "step LONG, antecedent STRING, consequent STRING, support LONG, " +
          "n_ante LONG, confidence_ppm LONG"))
      .orderBy(col("step"), col("antecedent"), col("consequent"))
  }

  /** q384: INCREMENTAL CC maintained BY THE STREAM — q383's
    * [[graft.ops.Graph.ccFold]] as the per-trigger maintenance op, closing
    * the graph tier's operational loop the way q103/q234 closed it for the
    * IVF index and q99/q247 for the band index. Co-purchase edges arrive
    * in three micro-batches ((u+v) mod 3, file source, mtime order); each
    * trigger folds its delta into the PERSISTED label store (contract
    * endpoints to stored labels → CC on the ≤2·|Δ|-node meta-graph →
    * broadcast relabel) and publishes the updated table as `gen=<id>` —
    * replay-stable because a redelivered batch re-reads gen=<id−1> and
    * overwrites its own gen=<id> (and edge re-folding is a CC no-op). The
    * final store answers q383's FROM-SCRATCH full-graph oracle: labels
    * are min-ids at every generation, so folds chain regardless of how
    * the edges arrived. */
  val q384StreamCcIngest: Q = gate(
    "q384_stream_cc_ingest",
    graft.ops.Graph.q383CcIncremental.oracle.get) { (s, dir, work) =>
    val e0 = graft.ops.Graph.supportedEdges(s, dir)
    val in = stageEdgeThirds(work, e0)
    val store = work.resolve("cclabels").toString
    val labels = "n LONG, lab LONG"
    foldStream(s, work, e0.schema, in) { (sb, batch, id) =>
      graft.ops.Graph.ccFold(genBefore(sb, store, id, labels), batch)
        .write.mode("overwrite").parquet(s"$store/gen=$id")
    }
    genBefore(s, store, Long.MaxValue, labels)
      .select(col("n").as("node_id"), col("lab").as("component_id"))
      .orderBy(col("node_id"))
  }

  /** q397: INCREMENTAL tri-support maintained BY THE STREAM — q395's
    * [[graft.ops.Round13.triSupportFold]] as the per-trigger maintenance
    * op, the q384 pattern applied to the triangle-support index:
    * co-purchase edges arrive in three micro-batches ((u+v) mod 3, file
    * source, mtime order); each trigger folds its delta into the
    * PERSISTED (u, v, tri) store (|Δ|-grain adjacency probes, distinct
    * at new-triangle grain — the archive's wedge join never re-runs)
    * and publishes `gen=<id>` — replay-stable because a redelivered
    * batch re-reads gen=<id−1>, and the fold anti-joins already-indexed
    * edges so re-folding is a no-op. A triangle spanning batches is
    * counted exactly once, at the trigger where its LAST edge lands, so
    * the final store answers q388's FROM-SCRATCH full-graph oracle. */
  val q397StreamTriSupport: Q = gate(
    "q397_stream_tri_support",
    graft.ops.Round12.q388TriSupport.oracle.get) { (s, dir, work) =>
    val e0 = graft.ops.Graph.supportedEdges(s, dir)
    val in = stageEdgeThirds(work, e0)
    val store = work.resolve("trisupp").toString
    val support = "u LONG, v LONG, tri LONG"
    foldStream(s, work, e0.schema, in) { (sb, batch, id) =>
      graft.ops.Round13.triSupportFold(genBefore(sb, store, id, support), batch)
        .write.mode("overwrite").parquet(s"$store/gen=$id")
    }
    genBefore(s, store, Long.MaxValue, support)
      .select(col("u"), col("v"), col("tri").as("tri_support"))
      .orderBy(col("u"), col("v"))
  }

  /** q402: STREAMING CMS maintenance — the Count-Min registers
    * (q399's sum-mergeable linear sketch) maintained as an operational
    * loop: documents arrive in three micro-batches (doc_id mod 3), each
    * trigger computes ITS batch's sparse register counts and folds them
    * into the persisted store by per-cell ADDITION (`gen=<id>`,
    * replay-stable: a redelivered batch re-reads gen=<id−1> and
    * overwrites its own generation, so its counts land exactly once).
    * The final dense 4×32 surface answers q399's GLOBAL one-pass
    * oracle — sketch linearity as the maintenance contract, the
    * constant-size distinct-store dual of the q252 HLL vocabulary
    * fold. */
  val q402StreamCmsMaintain: Q = gate(
    "q402_stream_cms_maintain",
    graft.ops.Round13.q399CmsRegisters.oracle.get) { (s, dir, work) =>
    val docs = Tables(s, dir, "documents")
    val in = stageOrderedBatches(work,
      Seq(0, 1, 2).map(r => docs.filter(col("doc_id") % 3 === r)))
    val store = work.resolve("cms").toString
    val cms = "j LONG, c LONG, r LONG"
    foldStream(s, work, docs.schema, in) { (sb, batch, id) =>
      val prev = genBefore(sb, store, id, cms)
      graft.ops.Round13.cmsCounts(batch)
        .unionByName(prev)
        .groupBy(col("j"), col("c")).agg(sum(col("r")).as("r"))
        .write.mode("overwrite").parquet(s"$store/gen=$id")
    }
    graft.ops.Round13.cmsDense(s, genBefore(s, store, Long.MaxValue, cms))
  }

  /** The three-chained-store fold of q411/q419/q424, which differ only in
    * the kernel and the stored table names. `edges` (`u`, `v`[, `w`])
    * arrives in three micro-batches ([[stageEdgeThirds]]); each trigger
    * anti-joins its batch against the archived edges (replay guard: a
    * redelivered batch folds an EMPTY delta, touching nothing), lets
    * `fold(session, labels, kept, archive, delta)` return the updated
    * `kept` table (of `keptSchema`) and CC labels, and publishes kept /
    * labels / edges under `<work>/<store>/{<kept>,labels,edges}/gen=<id>`.
    * Returns the final `kept` generation. */
  private def componentStream(s: SparkSession, work: Path, edges: DataFrame,
      store: String, kept: String, keptSchema: String)(
      fold: (SparkSession, DataFrame, DataFrame, DataFrame, DataFrame) =>
        (DataFrame, DataFrame)): DataFrame = {
    val in = stageEdgeThirds(work, edges)
    val root = work.resolve(store).toString
    val edgeCols = edges.columns.toSeq
    val edgeSchema = edgeCols.map(c => s"$c LONG").mkString(", ")
    foldStream(s, work, edges.schema, in) { (sb, batch, id) =>
      val archive = genBefore(sb, s"$root/edges", id, edgeSchema)
      val labels = genBefore(sb, s"$root/labels", id, "n LONG, lab LONG")
      val prev = genBefore(sb, s"$root/$kept", id, keptSchema)
      // Replay guard: only never-archived edges form the delta.
      val delta = batch.select(edgeCols.map(col): _*)
        .join(archive, Seq("u", "v"), "left_anti")
      val (updated, newLabels) = fold(sb, labels, prev, archive, delta)
      updated.write.mode("overwrite").parquet(s"$root/$kept/gen=$id")
      newLabels.select(col("n"), col("lab"))
        .write.mode("overwrite").parquet(s"$root/labels/gen=$id")
      archive.unionByName(delta)
        .write.mode("overwrite").parquet(s"$root/edges/gen=$id")
    }
    genBefore(s, s"$root/$kept", Long.MaxValue, keptSchema)
  }

  /** q411: COMPONENT-GRAIN 3-core maintained BY THE STREAM — q407's
    * [[graft.ops.Round14.core3ComponentFold]] as the per-trigger
    * maintenance op (the q384 pattern carrying THREE chained indexes:
    * the edge archive, the CC labels, and the per-node core
    * membership). Co-purchase edges arrive in three micro-batches
    * ((u+v) mod 3, file source, mtime order); each trigger anti-joins
    * its batch against the archived edges (replay-stable: a redelivered
    * batch folds an EMPTY delta, touching nothing), ccFolds the labels,
    * re-peels ONLY the components its delta touched, passes every
    * untouched component's stored membership through, and publishes all
    * three tables under `gen=<id>`. A peel cascade that CROSSES batches
    * (an edge arriving in trigger 3 evicting nodes settled in trigger
    * 1) is exactly what the component-grain recompute handles — the
    * final store answers the FROM-SCRATCH full-graph 3-core oracle. */
  val q411StreamCore3Maintain: Q = gate(
    "q411_stream_core3_maintain",
    graft.ops.Round14.q407Core3Incremental.oracle.get) { (s, dir, work) =>
    componentStream(s, work, graft.ops.Graph.supportedEdges(s, dir),
        "core3", "core", "n LONG, in_core3 BOOLEAN") {
      (sb, labels, core, archive, delta) =>
        val (updated, newLabels, _) =
          graft.ops.Round14.core3ComponentFold(sb, labels, core, archive, delta)
        (updated, newLabels)
    }
      .select(col("n"), col("in_core3"))
      .orderBy(col("n"))
  }

  /** q419: COMPONENT-GRAIN LPA maintained BY THE STREAM — the second
    * kernel through the q411 three-chained-store pattern, proving the
    * streaming fold is kernel-generic exactly as q412 proved the batch
    * fold is (COVERAGE's twin policy routes component-grain kernels
    * here): co-purchase edges arrive in three micro-batches ((u+v) mod
    * 3, file source, mtime order); each trigger anti-joins its batch
    * against the archived edges (replay-stable: a redelivered batch
    * folds an EMPTY delta — [[Round14.componentFold]] then touches no
    * component and every stored label passes through byte-identical),
    * ccFolds the labels, re-runs q354's deterministic 4-round LPA ONLY
    * inside the components its delta touched, and publishes all three
    * tables (edges / CC labels / LPA labels) under `gen=<id>`. Within a
    * component the 4 synchronous rounds ARE the metric, so the
    * component grain is what makes the stream maintainable at all (the
    * r13 warm-start finding: resuming rounds from stored labels changes
    * the dynamics; untouched components instead REPLAY identically).
    * The final store answers q412's from-scratch full-graph oracle. */
  val q419StreamLpaMaintain: Q = gate(
    "q419_stream_lpa_maintain",
    graft.ops.Round14.q412LpaIncremental.oracle.get) { (s, dir, work) =>
    componentStream(s, work, graft.ops.Graph.supportedEdges(s, dir),
        "lpa", "lpalbl", "n LONG, lbl LONG") {
      (_, labels, lpa, archive, delta) =>
        val (updated, newLabels, _) = graft.ops.Round14.componentFold(
          labels, lpa, archive, delta)(graft.ops.Round14.lpa4)
        (updated, newLabels)
    }
      .select(col("n"), col("lbl"))
      .orderBy(col("n"))
  }

  /** q424: SPANNING FOREST maintained BY THE STREAM — the EDGE-grain
    * fold ([[graft.ops.Round14.componentFoldEdges]]) proven
    * stream-maintainable, completing the twin symmetry (q411/q419 carry
    * the NODE-grain fold; the forest result lives on edges): weighted
    * co-purchase edges arrive in three micro-batches ((u+v) mod 3);
    * each trigger anti-joins its batch against the archived edges
    * (replay-stable — a redelivered batch folds an EMPTY delta), ccFolds
    * the labels, re-runs Borůvka ONLY inside delta-touched components
    * (a cross-batch cycle EVICTING an archived forest edge is exactly
    * what the component recompute handles — q421's planted failure, at
    * trigger grain), passes untouched components' forest rows through,
    * and publishes edges / CC labels / forest under `gen=<id>`. The
    * final store answers q420's from-scratch full-graph oracle. */
  val q424StreamMsfMaintain: Q = gate(
    "q424_stream_msf_maintain",
    graft.ops.Round15.q420BoruvkaMsf.oracle.get) { (s, dir, work) =>
    val lp = Tables(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val e0 = lp.as("l1").join(lp.as("l2"),
        col("l1.l_orderkey") === col("l2.l_orderkey") &&
          col("l1.l_partkey") < col("l2.l_partkey"))
      .groupBy(col("l1.l_partkey").as("u"), col("l2.l_partkey").as("v"))
      .agg(count(lit(1)).as("w"))
      .filter(col("w") >= 2)
    componentStream(s, work, e0, "msf", "forest", "u LONG, v LONG, w LONG") {
      (sb, labels, forest, archive, delta) =>
        val (updated, newLabels, _) =
          graft.ops.Round14.componentFoldEdges(labels, forest, archive, delta)(
            te => graft.ops.Round15.boruvkaTiered(sb, te))
        (updated, newLabels)
    }
      .select(col("u"), col("v"), col("w"))
      .orderBy(col("u"), col("v"))
  }

  /** q427: STREAMING BLOOM maintenance — the membership bit set
    * (q425's OR-mergeable sketch) maintained as an operational loop,
    * completing the streaming sketch-fold family along its THIRD merge
    * monoid: q252 folds HLL by MAX, q402 folds CMS by ADDITION, and
    * this folds Bloom by OR (distinct union of bit sets) — the
    * IDEMPOTENT one, so unlike q402 (where a replayed batch would
    * double-count and the gen=<id> overwrite is load-bearing) and
    * q411/q419/q424 (where the archived-edge anti-join is), a
    * redelivered batch here is a no-op BY ALGEBRA: re-inserting a key
    * sets bits that are already set. The 1995 orders arrive in three
    * micro-batches (o_orderkey mod 3 — the same customer recurs across
    * batches, exercising exactly that idempotence); each trigger ORs
    * its batch's key bits into the store; the final packed-word
    * surface answers q425's global one-pass oracle. */
  val q427StreamBloomMaintain: Q = gate(
    "q427_stream_bloom_maintain",
    graft.ops.Round15.q425BloomRegisters.oracle.get) { (s, dir, work) =>
    val orders = Tables(s, dir, "orders")
      .filter(year(col("o_orderdate")) === 1995)
    val in = stageOrderedBatches(work,
      Seq(0, 1, 2).map(r => orders.filter(col("o_orderkey") % 3 === r)))
    val store = work.resolve("bloom").toString
    foldStream(s, work, orders.schema, in) { (sb, batch, id) =>
      val prev = genBefore(sb, store, id, "bit LONG")
      graft.ops.Round15.bloomBits(batch
        .select(col("o_custkey").cast("string").as("k")).distinct())
        .unionByName(prev).distinct()
        .write.mode("overwrite").parquet(s"$store/gen=$id")
    }
    graft.ops.Round15.bloomWords(s, genBefore(s, store, Long.MaxValue, "bit LONG"))
  }

  /** q435: STREAMING CDC chunk-index maintenance — q430's chunk store
    * maintained as an operational loop: documents arrive in three
    * micro-batches (doc_id mod 3 — DISJOINT doc sets, which is what
    * makes the per-chunk doc counts ADDITIVE: a chunk's contributing
    * docs never span a re-counted boundary), each trigger chunks ITS
    * docs ([[graft.ops.Round15.cdcCounts]] — chunking is perfectly
    * doc-local, the one kernel in the incremental family needing no
    * component analysis at all) and folds the sparse (h, n_docs,
    * n_occ, clen) partials into the `gen=<id>` store by (sum, sum,
    * max); replay-stable exactly like q402's CMS fold (a redelivered
    * batch re-reads gen=<id−1> and overwrites its own generation). The
    * final store answers q430's from-scratch oracle: top-10 shared
    * chunks + corpus totals. */
  val q435StreamCdcMaintain: Q = gate(
    "q435_stream_cdc_maintain",
    graft.ops.Round15.q430CdcChunks.oracle.get) { (s, dir, work) =>
    val docs = Tables(s, dir, "documents")
    val in = stageOrderedBatches(work,
      Seq(0, 1, 2).map(r => docs.filter(col("doc_id") % 3 === r)))
    val store = work.resolve("cdc").toString
    val chunks = "h STRING, n_docs LONG, n_occ LONG, clen LONG"
    foldStream(s, work, docs.schema, in) { (sb, batch, id) =>
      val prev = genBefore(sb, store, id, chunks)
      graft.ops.Round15.cdcCounts(batch)
        .unionByName(prev)
        .groupBy(col("h")).agg(sum(col("n_docs")).as("n_docs"),
          sum(col("n_occ")).as("n_occ"), max(col("clen")).as("clen"))
        .write.mode("overwrite").parquet(s"$store/gen=$id")
    }
    val ch = genBefore(s, store, Long.MaxValue, chunks).persist(MEMORY_AND_DISK)
    val tot = ch.agg(sum(col("n_occ")).as("total_chunks"),
      count(lit(1)).as("distinct_chunks"))
      .select(coalesce(col("total_chunks"), lit(0L)).as("total_chunks"),
        col("distinct_chunks"))
    ch.filter(col("clen") >= 16)
      .select(col("h").as("chunk_md5"), col("n_docs"), col("n_occ"),
        col("clen").as("chunk_len"))
      .orderBy(col("n_docs").desc, col("n_occ").desc, col("chunk_md5"))
      .limit(10)
      .crossJoin(broadcast(tot))
      .orderBy(col("n_docs").desc, col("n_occ").desc, col("chunk_md5"))
  }

  /** q444: STREAMING COMMUNITY-STATS maintenance — q436's modularity
    * readout kept current as weighted edges arrive, under a PINNED
    * partition (the full-graph weighted-LPA labels, computed once at
    * setup — the production topology where a nightly job re-labels and
    * the intraday stream only maintains the stats). The maintained
    * state is per-community (in_w, deg_w): an edge (u, v, w) adds w to
    * both endpoints' community strengths and, when the communities
    * coincide, w to that community's internal weight — BOTH pure sums
    * over edges, so disjoint micro-batches fold additively exactly like
    * q402's CMS counters and q435's chunk stats (the additive-monoid
    * twin class; replay-stable because a redelivered trigger re-reads
    * gen=<id−1> and overwrites its own generation). Total weight W
    * never needs its own register: Σ_c deg_w = 2W by construction. The
    * read path reattaches the label table's node counts and runs
    * [[graft.ops.Round15b.modularityRows]] — the gate is fold ≡ q436's
    * from-scratch oracle.
    *
    * Scale shape: per trigger two label-table hash joins at batch-edge
    * grain and one community-grain fold; the store never exceeds
    * #communities rows. */
  val q444StreamCommunityMaintain: Q = gate(
    "q444_stream_community_maintain",
    graft.ops.Round15b.q436Modularity.oracle.get) { (s, dir, work) =>
    val e = graft.ops.Round15.weightedEdges(s, dir)
      .persist(MEMORY_AND_DISK)
    val labelsPath = work.resolve("labels").toString
    graft.ops.Round15.wlpa4(e).write.mode("overwrite").parquet(labelsPath)
    val in = stageOrderedBatches(work,
      Seq(0, 1, 2).map(r => e.filter((col("u") + col("v")) % 3 === r)))
    val store = work.resolve("comm").toString
    val stats = "lbl LONG, in_w LONG, deg_w LONG"
    foldStream(s, work, e.schema, in) { (sb, batch, id) =>
      val lab = sb.read.parquet(labelsPath)
      val b = batch
        .join(lab.select(col("n").as("un"), col("lbl").as("lu")),
          col("u") === col("un"))
        .join(lab.select(col("n").as("vn"), col("lbl").as("lv")),
          col("v") === col("vn"))
        .persist(MEMORY_AND_DISK)
      val degP = b.select(col("lu").as("lbl"), col("w"))
        .unionAll(b.select(col("lv").as("lbl"), col("w")))
        .groupBy(col("lbl"))
        .agg(sum(col("w")).cast("long").as("deg_w"))
        .select(col("lbl"), lit(0L).as("in_w"), col("deg_w"))
      val inP = b.filter(col("lu") === col("lv"))
        .groupBy(col("lu").as("lbl"))
        .agg(sum(col("w")).cast("long").as("in_w"))
        .select(col("lbl"), col("in_w"), lit(0L).as("deg_w"))
      val prev = genBefore(sb, store, id, stats)
      degP.unionByName(inP).unionByName(prev)
        .groupBy(col("lbl"))
        .agg(sum(col("in_w")).cast("long").as("in_w"),
          sum(col("deg_w")).cast("long").as("deg_w"))
        .write.mode("overwrite").parquet(s"$store/gen=$id")
    }
    val st = genBefore(s, store, Long.MaxValue, stats).persist(MEMORY_AND_DISK)
    val ww = st.agg(coalesce(sum(col("deg_w")), lit(0L)).cast("long"))
      .head.getLong(0) / 2L
    if (ww == 0L)
      emptyFrame(s, "community LONG, n_nodes LONG, in_w LONG, deg_w LONG, q_ppm LONG")
    else {
      val nn = s.read.parquet(labelsPath).groupBy(col("lbl"))
        .agg(count(lit(1)).as("n_nodes"))
      val comm = nn.join(st, Seq("lbl"), "left")
        .select(col("lbl"), col("n_nodes"),
          coalesce(col("in_w"), lit(0L)).as("in_w"),
          coalesce(col("deg_w"), lit(0L)).as("deg_w"))
      graft.ops.Round15b.modularityRows(comm, ww)
    }
  }

  /** q453: STREAMING purchase-sequence graph maintenance — q448's
    * directed edge store built incrementally as customers' order
    * histories arrive. Batches split by o_custkey mod 3: consecutive-
    * order hops are CUSTOMER-LOCAL, so a customer-disjoint batch
    * computes every one of its customers' hops completely and the
    * per-edge hop counts fold additively (the q126 discipline — the
    * maintainable state is the FULL pre-threshold counter table, never
    * the thresholded graph: a support-1 edge may cross the gate when a
    * later customer re-walks it, so thresholding lives at read time).
    * Replay-stable by the generation-overwrite contract. The read path
    * thresholds ≥ 2 and runs the TIERED SCC kernel — the gate is
    * (incremental build + kernel at read) ≡ q448's definitional
    * closure oracle.
    *
    * Scale shape: per trigger one customer-grain window + the part-
    * pair expansion for THAT batch's customers only, one additive
    * (u, v) fold; the heavy kernel runs once at read, not per trigger.
    */
  val q453StreamSeqGraphMaintain: Q = gate(
    "q453_stream_seq_graph",
    graft.ops.Round15b.q448Scc.oracle.get) { (s, dir, work) =>
    val orders = Tables(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
    val lpPath = work.resolve("lp").toString
    Tables(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .write.mode("overwrite").parquet(lpPath)
    val in = stageOrderedBatches(work,
      Seq(0, 1, 2).map(r => orders.filter(col("o_custkey") % 3 === r)))
    val store = work.resolve("seq").toString
    foldStream(s, work, orders.schema, in) { (sb, batch, id) =>
      val lp = sb.read.parquet(lpPath)
      val o = batch.withColumn("rk", row_number().over(
        Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))))
      val cp = o.as("a").join(o.as("b"),
          col("b.o_custkey") === col("a.o_custkey") &&
            col("b.rk") === col("a.rk") + 1)
        .select(col("a.o_orderkey").as("k1"),
          col("b.o_orderkey").as("k2"))
      val part = cp
        .join(lp.as("p1"), col("p1.l_orderkey") === col("k1"))
        .join(lp.as("p2"), col("p2.l_orderkey") === col("k2"))
        .filter(col("p1.l_partkey") =!= col("p2.l_partkey"))
        .groupBy(col("p1.l_partkey").as("u"),
          col("p2.l_partkey").as("v"))
        .agg(count(lit(1)).as("w"))
      part.unionByName(genBefore(sb, store, id, "u LONG, v LONG, w LONG"))
        .groupBy(col("u"), col("v"))
        .agg(sum(col("w")).cast("long").as("w"))
        .write.mode("overwrite").parquet(s"$store/gen=$id")
    }
    val folded = genBefore(s, store, Long.MaxValue, "u LONG, v LONG, w LONG")
    graft.ops.Round15b.sccLabels(s,
        folded.filter(col("w") >= 2).select(col("u"), col("v")))
      .select(col("n"), col("scc_id")).orderBy(col("n"))
  }

  /** q393: STREAMING weighted sampling — A-ES's defining property (the
    * global top-k is contained in the union of per-shard top-k's, because
    * priorities are per-item and rank-stable) exercised as an operational
    * loop: documents arrive in two micro-batches, each trigger keeps ITS
    * batch's top-32 priorities (`batch=<id>`, replay-idempotent
    * overwrite), and the final answer re-ranks the ≤64 stored survivors —
    * byte-equal to q389's one-pass batch top-32 over the whole corpus.
    * This is exactly how a 1000-executor weighted sampler folds: bounded
    * per-shard state, one tiny final merge. */
  val q393StreamWeightedSample: Q = gate(
    "q393_stream_weighted_sample",
    graft.ops.Round12.q389WeightedSample.oracle.get) { (s, dir, work) =>
    val docs = Tables(s, dir, "documents")
    val in = stageParityBatches(work, docs, "doc_id")
    val store = work.resolve("aes").toString
    foldStream(s, work, docs.schema, in) { (_, batch, id) =>
      graft.ops.Round12.aesTop32(
        graft.ops.Round12.aesPriorities(batch))
        .write.mode("overwrite").parquet(s"$store/batch=$id")
    }
    graft.ops.Round12.aesTop32(
      committedBatchesBefore(s, store, Long.MaxValue,
        emptyFrame(s, "pos LONG, doc_id LONG, n_chars LONG, prio_nano LONG"))
        .select(col("doc_id"), col("n_chars"), col("prio_nano")))
  }

  val all: Seq[Q] = Seq(
    q393StreamWeightedSample, q397StreamTriSupport, q402StreamCmsMaintain,
    q322StreamSprt, q347StreamEwma, q355StreamSequential,
    q92StreamTumbling, q94StreamAttribution, q95StreamSessions,
    q96StreamDedup, q99StreamDedupIncremental, q103StreamAnnIngest,
    q108StreamDrift, q114StreamScd2, q116StreamClickOutcomes,
    q117StreamEnrich, q126StreamTopK, q158StreamMarkov, q183StreamCrosstab,
    q184StreamRecent, q234StreamAnnMaintain, q238StreamHeavyNgrams,
    q244StreamClusterMaintain, q247StreamBandCompact, q252StreamHllVocab,
    q257StreamSliding, q259StreamFullMaintenance, q279StreamForget,
    q296StreamIvmJoin, q301StreamLateDim, q384StreamCcIngest,
    q411StreamCore3Maintain, q419StreamLpaMaintain, q424StreamMsfMaintain,
    q427StreamBloomMaintain, q435StreamCdcMaintain,
    q444StreamCommunityMaintain, q453StreamSeqGraphMaintain)
}
