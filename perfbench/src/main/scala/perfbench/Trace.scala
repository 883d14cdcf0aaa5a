package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** In-memory trace of one run: spans recorded around calls into the
  * system's layers, Spark job/task records from a `SparkListener`, and
  * streaming trigger progress from a `StreamingQueryListener`. Nothing is
  * written until the run ends ([[toJson]]). */
final class Trace(sc: SparkContext) {
  private val SpanKey = "perfbench.span"
  private var nextId = 0
  private val stack = mutable.Stack[Int]()
  private var op = -1
  val spans = mutable.ArrayBuffer[Map[String, Any]]()
  val counters = mutable.ArrayBuffer[Map[String, Any]]()
  private val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Integer]()
  private val tasks = new java.util.concurrent.ConcurrentHashMap[Integer, Array[Double]]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Map[String, Any]]()

  private var on = false

  /** Starts op `id`; counts are kept only for traced ops. */
  def beginOp(id: Int, traced: Boolean): Unit = { op = id; on = traced }

  /** Runs `body` inside a span named `name` (layer-qualified, such as
    * `GitParse.parseLog`); jobs started meanwhile are attributed to it. */
  def span[T](name: String, note: String = "")(body: => T): T = {
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack.push(id)
    sc.setLocalProperty(SpanKey, id.toString)
    val start = System.currentTimeMillis()
    try body
    finally {
      val end = System.currentTimeMillis()
      stack.pop()
      sc.setLocalProperty(SpanKey, stack.headOption.map(_.toString).orNull)
      spans += Map("id" -> id, "parent" -> parent, "name" -> name, "op" -> op,
        "start" -> start, "end" -> end) ++ (if (note.nonEmpty) Map("note" -> note) else Map())
    }
  }

  /** A count measured at a layer boundary, attributed to the current op. */
  def count(name: String, value: Double): Unit =
    if (on) counters += Map("op" -> op, "name" -> name, "value" -> value)

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .map(_.toInt).getOrElse(-1)
      e.stageIds.foreach(s => stageSpan.put(s, span))
      // The call site of the job's final stage: its first frame outside Spark.
      val site = e.stageInfos.sortBy(-_.stageId).headOption.map(_.name).getOrElse("")
      jobStart.put(e.jobId, Map("job" -> e.jobId, "span" -> span, "start" -> e.time, "site" -> site))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach(j => jobs.add(j + ("end" -> e.time)))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val i = e.taskInfo
      if (m != null) {
        val span: Integer = Option(stageSpan.get(e.stageId)).getOrElse(-1)
        val delay = math.max(0L, (i.finishTime - i.launchTime) - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - i.gettingResultTime)
        val row = Array(m.executorRunTime / 1e3, delay / 1e3,
          (m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten) / 1e6,
          (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6, 1.0)
        tasks.compute(span, (_, acc) =>
          if (acc == null) row else acc.zip(row).map { case (a, b) => a + b })
      }
    }
  }

  def toJson: Map[String, Any] = Map(
    "spans" -> spans.toSeq,
    "counters" -> counters.toSeq,
    "jobs" -> jobs.asScala.toSeq,
    "tasks" -> tasks.asScala.toSeq.map { case (s, a) =>
      Map("span" -> s.intValue, "task_s" -> a(0), "sched_delay_s" -> a(1),
        "shuffle_mb" -> a(2), "spill_mb" -> a(3), "tasks" -> a(4)) },
    "triggers" -> StreamProgress.triggers.asScala.toSeq)
}

/** Streaming trigger progress of every session. The system runs its streams
  * in child sessions, each with its own listener manager, so the listener
  * is installed by class name through `spark.sql.streaming.streamingQueryListeners`,
  * which every session's manager instantiates. */
object StreamProgress {
  val triggers = new ConcurrentLinkedQueue[Map[String, Any]]()
}

class StreamProgressListener extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    StreamProgress.triggers.add(Map(
      "start" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
      "durations_s" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue / 1e3 }.toMap))
  }
}

/** File and byte listings of directories, for what a call wrote. */
object Listing {
  final case class Entry(size: Long, mtime: Long)

  /** Files that vanish during the walk (Spark cleans up asynchronously)
    * are skipped. */
  def of(dirs: Seq[String]): Map[String, Entry] =
    dirs.flatMap(d => walk(Paths.get(d), 3)).toMap

  private def walk(d: Path, attempts: Int): List[(String, Entry)] =
    Try {
      val s = Files.walk(d)
      try s.iterator.asScala.flatMap { p =>
        Try(p.toString -> Entry(Files.size(p), Files.getLastModifiedTime(p).toMillis))
          .toOption.filter(_ => Files.isRegularFile(p))
      }.toList
      finally s.close()
    }.recover { case _ if attempts > 1 && Files.isDirectory(d) => walk(d, attempts - 1) }
      .getOrElse(Nil)

  def bytes(l: Map[String, Entry]): Long = l.values.map(_.size).sum

  /** (files, bytes) that are new or changed in `after`. */
  def written(before: Map[String, Entry], after: Map[String, Entry]): (Int, Long) = {
    val w = after.filter { case (p, e) => !before.get(p).contains(e) }
    (w.size, w.values.map(_.size).sum)
  }

  def sizeMb(dirs: Seq[String]): Double = bytes(of(dirs)) / 1e6

  def delete(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator.asScala.toList.reverse.foreach(Files.deleteIfExists)
    finally s.close()
  }
}
