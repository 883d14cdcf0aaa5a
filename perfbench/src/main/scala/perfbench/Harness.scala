package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.sys.process._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.git.{GitAgg, GitCli, GitParse, Pipeline, Validate}

/** The benchmark's JVM side: one Spark session, one closed-loop client.
  *
  *   Harness <config.json> <result.json>
  *
  * `perfbench/run.py` writes the config (workload, seed, seconds, trace
  * flag, generated inputs, expected outputs) and turns the result (one
  * record per operation, set-up times, memory, disk and the trace) into
  * metrics. An operation is one `Main.runAppend` or one query (DataFrame
  * build plus the digest action). Output checks run after
  * each operation with the clock stopped. */
object Harness {
  val json = new ObjectMapper().registerModule(DefaultScalaModule)

  final case class Op(name: String, start: Long, end: Long, latency: Double,
      ok: Boolean, error: String)

  def main(args: Array[String]): Unit = {
    val cfg = json.readTree(new File(args(0)))
    val work = cfg.get("work").asText
    val cpus = Runtime.getRuntime.availableProcessors
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "16384")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/tmp/spark")
      .config("spark.sql.warehouse.dir", s"$work/tmp/warehouse")
    if (cfg.get("trace").asBoolean)
      builder.config("spark.sql.streaming.streamingQueryListeners", "perfbench.StreamProgressListener")
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val result = try new Run(spark, cfg).execute()
    finally spark.stop()
    json.writeValue(new File(args(1)), result + ("session_s" -> sessionS))
  }

  def strings(n: JsonNode): Seq[String] = n.elements.asScala.map(_.asText).toSeq

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** VmHWM of this process, in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
}

final class Run(spark: SparkSession, cfg: JsonNode) {
  import Harness._

  private val workload = cfg.get("workload").asText
  private val seconds = cfg.get("seconds").asDouble
  private val traced = cfg.get("trace").asBoolean
  private val work = cfg.get("work").asText
  private val setupReps = cfg.get("setup_reps").asInt
  private val tmpDir = Seq(System.getProperty("java.io.tmpdir"))
  private val trace = new Trace(spark.sparkContext)
  /** Lines the `git` shim on PATH has logged to `key`'s file (traced runs). */
  private def shimLog(key: String): Seq[String] = {
    val f = cfg.path(key).asText("")
    if (f.nonEmpty && Files.exists(Paths.get(f))) Files.readAllLines(Paths.get(f)).asScala.toSeq
    else Nil
  }
  private var checkNotes = Vector[String]()
  /** Record mode: keep each query's digests instead of checking them. */
  private val record = cfg.path("record").asBoolean(false)
  private val recorded = scala.collection.mutable.Map[String, Vector[String]]().withDefaultValue(Vector())

  /** What a workload's set-up hands to the timed phase. `setupReps` are
    * the times of the repeated set-up step, `setupOnce` that of the one-off
    * warm-up; `retained` are the store or data directories the disk metric
    * measures, besides the JVM's temp directory. */
  final case class Workload(setupReps: Seq[Double], setupOnce: Double, loop: Loop,
      retained: Seq[String], finalCheck: () => Boolean = () => true,
      queryModules: Map[String, String] = Map())

  def execute(): Map[String, Any] = {
    val w = workload match {
      case "etl-append" => etlAppend()
      case "query-small" => queries()
    }
    // Disk is measured once, after the first pass, so that it does not
    // depend on how many passes the machine's speed allowed. Spark's own
    // block-manager directory is left out: its cleanup follows GC timing.
    // A traced run's untraced phase is one pass: the reference for the
    // tracing overhead.
    var diskMb = 0.0
    val untraced = runPhase(w.loop, if (traced) 0 else seconds, 0, tr = false, afterFirstPass = () =>
      diskMb = Listing.sizeMb(w.retained :+ System.getProperty("java.io.tmpdir")))
    val tracedOps = if (!traced) Nil else {
      spark.sparkContext.addSparkListener(trace.sparkListener)
      val ops = runPhase(w.loop, seconds, untraced.size, tr = true)
      Thread.sleep(500) // let the listener bus drain
      ops
    }
    Map(
      "setup_reps_s" -> w.setupReps, "setup_once_s" -> w.setupOnce,
      "ops" -> untraced.map(opJson), "traced_ops" -> tracedOps.map(opJson),
      "final_ok" -> w.finalCheck(), "check_notes" -> checkNotes,
      "query_modules" -> w.queryModules, "digests" -> recorded.toMap,
      "peak_rss_mb" -> peakRssMb(), "disk_mb_retained" -> diskMb,
      "trace" -> (if (traced) trace.toJson else Map()))
  }

  private def opJson(o: Op) = Map("name" -> o.name, "start" -> o.start, "end" -> o.end,
    "latency_s" -> o.latency, "ok" -> o.ok, "error" -> o.error)

  /** A closed loop: op `i` starts when op `i - 1` and its check are done.
    * The clock of the timed phase stops during checks. The phase runs whole
    * passes of the workload's rotation, at least one, until `budget`
    * seconds of operation time have passed. */
  private def runPhase(loop: Loop, budget: Double, offset: Int, tr: Boolean,
      afterFirstPass: () => Unit = () => ()): Seq[Op] = {
    val ops = Vector.newBuilder[Op]
    var busy = 0.0
    var i = offset
    while (i == offset || busy < budget || (i - offset) % loop.pass != 0) {
      trace.beginOp(i, tr)
      val prepared = scala.util.Try(loop.prepare(i))
      val start = System.currentTimeMillis()
      val (res, lat) = timed(prepared.flatMap(_ => scala.util.Try(loop.op(i, tr))))
      val end = System.currentTimeMillis()
      val (check, checkS) = timed(res.flatMap(_ => scala.util.Try(loop.check(i))))
      System.err.println(f"[perfbench] op $i ${loop.name(i)}%s $lat%.2f s, check $checkS%.2f s")
      val err = check.failed.toOption.map(e => s"${e.getClass.getSimpleName}: ${e.getMessage}")
      ops += Op(loop.name(i), start, end, lat, check.getOrElse(false), err.getOrElse(""))
      if (err.nonEmpty || !check.getOrElse(true))
        System.err.println(s"[perfbench] op $i ${loop.name(i)} failed: ${err.getOrElse("output check")}")
      busy += lat
      i += 1
      if (i == offset + loop.pass) afterFirstPass()
    }
    ops.result()
  }

  /** One workload's operation rotation. `prepare(i)` readies the inputs of
    * operation `i` off the clock, `op(i, traced)` runs it, and `check(i)`
    * verifies its output. */
  final case class Loop(pass: Int, name: Int => String, prepare: Int => Unit,
      op: (Int, Boolean) => Unit, check: Int => Boolean)

  private def note(s: String): Unit = {
    checkNotes :+= s
    System.err.println(s"[perfbench] $s")
  }

  private def expectEq(what: String, got: Any, want: Any): Boolean = {
    if (got != want) note(s"$what: got $got, expected $want")
    got == want
  }

  // ---- git ETL -------------------------------------------------------------

  private lazy val repos = strings(cfg.get("repos"))
  private lazy val oracleCmd = strings(cfg.get("oracle_cmd"))

  /** Per-repo oracle from `gitgen.py oracle` over the repos' current history. */
  private def oracle(paths: Seq[String]): Map[String, JsonNode] = {
    val out = Process(oracleCmd ++ paths).!!
    json.readTree(out).fields.asScala.map(e => e.getKey -> e.getValue).toMap
  }

  /** Per-repo counts and sums of an ETL store, compared with the oracle. */
  private def checkStore(read: String => DataFrame, want: Map[String, JsonNode]): Boolean = {
    val c = read("commits").groupBy("repo_name").agg(count(lit(1)), sum("additions"),
      sum("deletions"), count_if(col("is_merge"))).collect()
      .map(r => r.getString(0) -> Seq(r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val fc = read("file_changes").groupBy("repo_name").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val tg = read("tags").groupBy("repo_name").agg(count(lit(1)), count_if(col("is_annotated"))).collect()
      .map(r => r.getString(0) -> Seq(r.getLong(1), r.getLong(2))).toMap
    val rp = read("repos").count()
    want.forall { case (repo, o) =>
      def l(k: String) = o.get(k).asLong
      expectEq(s"$repo commits", c.get(repo),
        Some(Seq(l("commits"), l("additions"), l("deletions"), l("merges")))) &&
      expectEq(s"$repo file_changes", fc.get(repo), Some(l("file_changes"))) &&
      expectEq(s"$repo tags", tg.get(repo).getOrElse(Seq(0L, 0L)), Seq(l("tags"), l("annotated_tags")))
    } && expectEq("repos", rp, want.size.toLong)
  }

  /** The pipeline in layer order, each boundary materialized, for a traced
    * op: the source of the extract, parse and transform times and counts.
    * The caller releases the result's cached frames. */
  private def tracedBuild(paths: Seq[String]): Pipeline.Result = {
    val infos = trace.span("GitCli.repoInfo")(paths.flatMap(GitCli.repoInfo))
    val raw = trace.span("GitCli.rawLogs")(GitCli.rawLogs(spark, infos).cache())
    trace.span("GitCli.rawLogs")(raw.count())
    val rawTags = trace.span("GitCli.rawTags")(GitCli.rawTags(spark, infos).cache())
    trace.span("GitCli.rawTags")(rawTags.count())
    val files = trace.span("GitCli.lsFiles")(GitCli.lsFiles(spark, infos).cache())
    trace.span("GitCli.lsFiles")(files.count())
    val parsed = trace.span("GitParse.parseLog") {
      val p = GitParse.parseLog(raw).cache()
      trace.count("GitParse.commits", p.count())
      p
    }
    val tags = trace.span("GitParse.parseTags")(GitParse.parseTags(rawTags).cache())
    trace.span("GitParse.parseTags")(tags.count())
    val flagged = trace.span("Validate.flagCommits") {
      val f = Validate.flagCommits(GitAgg.dedupCommits(parsed)).cache()
      trace.count("Validate.rejects", f.filter(!col("is_valid")).count())
      f
    }
    val commits = flagged.filter(col("is_valid")).drop("validation_errors", "is_valid")
    val fc = trace.span("GitParse.explodeFileChanges") {
      val e = GitParse.explodeFileChanges(commits).cache()
      trace.count("GitParse.file_changes", e.count())
      e
    }
    val r = trace.span("GitAgg.transform") {
      val fileChanges = GitAgg.dedupFileChanges(fc).cache()
      val authors = GitAgg.authors(commits).cache()
      val dTags = GitAgg.dedupTags(tags).cache()
      val repoMeta = GitAgg.repoMeta(commits)
        .join(GitAgg.repoLanguage(files).withColumnRenamed("repo_name", "name"), Seq("name"), "left")
        .cache()
      Seq(fileChanges, authors, dTags, repoMeta).foreach(_.count())
      Pipeline.Result(commits.drop("file_changes"), authors, fileChanges, dTags, repoMeta,
        flagged.filter(!col("is_valid")).select("repo_name", "sha", "validation_errors"))
    }
    Seq(raw, rawTags, files, parsed, tags, fc).foreach(_.unpersist())
    r.copy(release = () => { flagged.unpersist(); Seq(r.fileChanges, r.authors, r.tags, r.repos).foreach(_.unpersist()) })
  }

  /** The git processes `body` starts and the MB of `git log` output they
    * produce, counted by the `git` shim on PATH. */
  private def countGit[T](body: => T): T = {
    val (calls, logs) = (shimLog("git_calls").size, shimLog("git_log_bytes").size)
    val r = body
    trace.count("GitCli.git_procs", shimLog("git_calls").size - calls)
    trace.count("GitCli.log_mb", shimLog("git_log_bytes").drop(logs).map(_.trim.toLong).sum / 1e6)
    r
  }

  /** Listings around a publish, for bytes and files written. */
  private def published[T](store: String)(body: => T): T = {
    val before = Listing.of(Seq(store))
    val r = body
    val after = Listing.of(Seq(store))
    val (files, bytes) = Listing.written(before, after)
    trace.count("Pipeline.mb_written", bytes / 1e6)
    trace.count("Pipeline.files_written", files.toDouble)
    trace.count("Pipeline.store_files",
      after.keys.count(p => !Paths.get(p).getFileName.toString.matches("^[._].*")).toDouble)
    r
  }

  private def etlAppend(): Workload = {
    val batches = cfg.get("batches")
    val next = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
    def advance(p: String): Unit = {
      val files = strings(batches.get(Paths.get(p).getFileName.toString))
      (Process(Seq("git", "-C", p, "fast-import", "--quiet")) #< new File(files(next(p)))).!!
      Process(Seq("git", "-C", p, "read-tree", "main")).!!
      next(p) += 1
    }
    // The base store, built from the base history one repo at a time: the
    // first call creates the store, the others merge into it, so the set-up
    // is also the warm-up of the timed ops' code path.
    val store = s"$work/etl-append/store"
    val (_, base) = timed(repos.foreach { r =>
      val t = timed(graft.Main.runAppend(spark, Seq(r), store, None))._2
      System.err.println(f"[perfbench] base ${Paths.get(r).getFileName}%s $t%.2f s")
    })
    var want = oracle(repos)
    if (!checkStore(Pipeline.readSnapshot(spark, store, _), want))
      throw new IllegalStateException("the base store failed its check")
    // Op i advances one repo, rotating, by its next day-2 batch.
    def advanced(i: Int) = Seq(repos(i % repos.size))
    def prepare(i: Int): Unit = advanced(i).foreach(advance)
    def op(i: Int, tr: Boolean): Unit = {
      val touched = advanced(i)
      if (!tr) graft.Main.runAppend(spark, touched, store, None)
      else trace.span("op:etl-append") {
        // The extract/parse/transform layers materialized on their own;
        // etlAppend then runs them again inside its private publish path.
        tracedBuild(touched).release()
        published(store) {
          trace.span("Pipeline.publish", "covers Pipeline.etlAppend: re-extracts, merges, publishes") {
            countGit(Pipeline.etlAppend(spark, touched, store, None))
          }
          trace.span("Pipeline.compact") {
            Seq("commits", "file_changes", "tags", "repos").foreach(Pipeline.compact(spark, store, _))
          }
        }
        trace.span("Pipeline.report")(Pipeline.summaryReport(Pipeline.readSnapshot(spark, store, "commits")))
      }
    }
    def check(i: Int): Boolean = {
      val now = oracle(advanced(i))
      trace.count("Pipeline.new_log_mb",
        now.map { case (r, o) => o.get("log_bytes").asLong - want(r).get("log_bytes").asLong }.sum / 1e6)
      want = want ++ now
      checkStore(Pipeline.readSnapshot(spark, store, _), want)
    }
    // The appended store must equal a full run over the final history. The
    // full run costs about as much as two ops, so only traced runs make it;
    // every op is checked against the oracle.
    def finalCheck(): Boolean = !traced || {
      val full = s"$work/etl-append-final"
      graft.Main.run(spark, repos, full, None)
      val ok = Seq("commits", "file_changes", "tags", "repos").forall { t =>
        expectEq(s"final $t digest", Digest.of(Pipeline.readSnapshot(spark, store, t)),
          Digest.of(spark.read.parquet(s"$full/$t")))
      }
      Listing.delete(Paths.get(full))
      ok
    }
    Workload(Nil, base, Loop(repos.size, _ => "etl-append", prepare, op, check),
      Seq(s"$work/etl-append"), () => finalCheck())
  }

  // ---- queries ---------------------------------------------------------------

  private def queries(): Workload = {
    val data = s"$work/data"
    val sf = cfg.get("sf").asDouble
    val mix = strings(cfg.get("mix"))
    val expected = cfg.get("digests")
    val order = strings(cfg.get("order"))
    val modules = QueryModules.byQuery
    val reps = (0 until setupReps).map(_ => timed(DataGen.write(spark, data, sf, cfg.get("data_seed").asLong))._2)
    val all = graft.SparkEntry.queries
    val digests = scala.collection.mutable.Map[Int, String]()
    def run(q: String, tr: Boolean): String = {
      val fn = all(q)
      if (!tr) Digest.of(fn(spark, data))
      else {
        val m = modules.getOrElse(q, "other")
        val tmp0 = Listing.of(tmpDir)
        val d = trace.span(s"op:$q") {
          val df = trace.span(s"$m.build")(fn(spark, data))
          trace.span(s"$m.action")(Digest.of(df))
        }
        val tmp1 = Listing.of(tmpDir)
        trace.count(s"$m.tmp_mb", Listing.written(tmp0, tmp1)._2 / 1e6)
        d
      }
    }
    // Warm-up: one untimed pass over the mix in the timed phase's order, so
    // that each query follows the same query in both.
    val (_, warm) = timed(order.foreach { q =>
      val t = timed(run(q, tr = false))._2
      System.err.println(f"[perfbench] warm-up $q%s $t%.2f s")
    })
    def name(i: Int) = order(i % order.size)
    def op(i: Int, tr: Boolean): Unit = digests(i) = run(name(i), tr)
    def check(i: Int): Boolean = {
      val d = digests.remove(i).orNull
      recorded(name(i)) :+= d
      record || expectEq(s"${name(i)} digest", d, expected.path(name(i)).asText(null))
    }
    Workload(reps, warm, Loop(order.size, name, _ => (), op, check), Seq(data),
      queryModules = mix.map(q => q -> modules.getOrElse(q, "other")).toMap)
  }
}

/** The module that defines each query, by registry membership. */
object QueryModules {
  import graft.ops._
  val byQuery: Map[String, String] = Seq(
    "Relational" -> Relational.all, "Graph" -> Graph.all, "Dedup" -> Dedup.all,
    "Fuzzy" -> Fuzzy.all, "Similarity" -> Similarity.all, "Subword" -> Subword.all,
    "Round12" -> Round12.all, "Round13" -> Round13.all, "Round14" -> Round14.all,
    "Round15" -> Round15.all, "StreamGate" -> graft.streaming.StreamGate.all)
    .flatMap { case (m, qs) => qs.map(_.name -> m) }.toMap
}
