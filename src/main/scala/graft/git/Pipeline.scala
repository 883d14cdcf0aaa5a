package graft.git

import java.util.concurrent.{Callable, ConcurrentLinkedQueue, ExecutionException, Executors}
import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.{Await, Promise}
import scala.concurrent.duration.Duration
import scala.util.{Failure, Try}

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Encoders, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftShim

import graft.GraftSession

/** E1/E2: the end-to-end ETL pipeline (SURVEY §3) — extract all repos in
  * parallel, union, transform once, write the five output tables as parquet.
  *
  * The reference's sequential per-repo loop with cross-run SQLite upserts
  * becomes: repoList → parallel extract → union → one keyed
  * dedup/re-aggregation per output table → write. Equivalent because every
  * reference load is a keyed upsert with associative merge functions
  * (SURVEY §2.6), and this shape is embarrassingly parallel at 100 TB (each
  * output table is a single shuffle on its natural key).
  */
object Pipeline {

  final case class Result(
      commits: DataFrame,
      authors: DataFrame,
      fileChanges: DataFrame,
      tags: DataFrame,
      repos: DataFrame,
      rejects: DataFrame,
      /** Frees the pipeline's internal cache once outputs are materialized
        * (each run caches a plan over its own extraction, so without this,
        * repeated runs in one session accumulate dead cache entries). */
      release: () => Unit = () => ())

  /** Extract + transform (no write): the five reference tables plus the
    * validation rejects (SURVEY §2.2: the reference's dead validators shipped
    * as a filter/quality-flag stage — invalid commits are diverted, with
    * their error list, instead of silently loaded). */
  def build(spark: SparkSession, repoPaths: Seq[String],
      authorGate: Option[String] = None): Result = {
    val infos = gate(repoPaths, authorGate)
    new Extraction(spark, infos, GitCli.rawLogs(spark, infos)).result
  }

  /** The repos of `repoPaths` that pass the S5 author gate: a cheap
    * LIMIT-1 probe before full extraction (main.ts:338-343). Every
    * repo-scoped row of a run carries one of their names, so they are the
    * partitions the run touches, known without a Spark job. */
  private def gate(repoPaths: Seq[String], authorGate: Option[String]): Seq[RepoInfo] =
    repoPaths.flatMap(GitCli.repoInfo)
      .filter(r => authorGate.forall(p => GitCli.hasCommitsByAuthor(r.path, p)))

  /** One run's extraction of the repos `infos`, over their raw `git log`
    * text `logs`. The tables after the commits are built on call, so a
    * day-2 append's merges build theirs concurrently, each on its own
    * thread. The rejects are read through `observe` applied to the
    * flagged commits (valid and not). A `small` extraction (day-2 ranges
    * read on the driver) is not cached: its consumers share the logs
    * already read; any other is cached until [[release]]. */
  private final class Extraction(spark: SparkSession, infos: Seq[RepoInfo], logs: DataFrame,
      observe: DataFrame => DataFrame = identity, small: Boolean = false) {
    private val flagged = {
      val parsed = Validate.flagCommits(GitAgg.dedupCommits(GitParse.parseLog(logs)))
      if (small) parsed else parsed.cache()
    }
    private val valid = flagged.filter(col("is_valid")).drop("validation_errors", "is_valid")
    val commits: DataFrame = valid.drop("file_changes")
    def rejects: DataFrame = observe(flagged).filter(!col("is_valid"))
      .select(col("repo_name"), col("sha"), col("validation_errors"))
    def fileChanges: DataFrame = GitAgg.dedupFileChanges(GitParse.explodeFileChanges(valid))
    def tags: DataFrame = GitAgg.dedupTags(GitParse.parseTags(GitCli.rawTags(spark, infos)))
    /** (name, language) per repo, from `ls-files`. */
    def language: DataFrame = GitAgg.repoLanguage(GitCli.lsFiles(spark, infos))
      .withColumnRenamed("repo_name", "name")
    def release(): Unit = { flagged.unpersist(); () }

    def result: Result = Result(
      commits = commits,
      authors = GitAgg.authors(valid),
      fileChanges = fileChanges,
      tags = tags,
      repos = GitAgg.repoMeta(valid).join(language, Seq("name"), "left"),
      rejects = rejects,
      release = () => release())
  }

  /** E1/E2 with the S8 sink: write each table as parquet under outDir.
    * (The reference's one-transaction-per-repo atomicity is subsumed by
    * Spark's output-commit protocol per table — SURVEY §2.6 U6.) A root
    * manifest (and its header) left by an earlier [[etlAppend]] into
    * outDir is deleted first: it lives outside the table dirs, so it would
    * outlive their overwrite and name files that no longer exist. The run holds the
    * store-root writer lease, as [[etlAppend]] does, so it cannot
    * overwrite files an in-flight append is about to commit; a writer
    * refused at acquire does no work. */
  def etl(spark: SparkSession, repoPaths: Seq[String], outDir: String,
      authorGate: Option[String] = None): Result = {
    val base = new Path(outDir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.ops.GenStore.withLease(fs, base) { _ =>
      val r = build(spark, repoPaths, authorGate)
      fs.listStatus(base).map(_.getPath)
        .filter(p => Seq(ManifestPrefix, HeaderPrefix).exists(p.getName.startsWith))
        .foreach(fs.delete(_, false))
      r.commits.write.mode("overwrite").parquet(s"$outDir/commits")
      r.authors.write.mode("overwrite").parquet(s"$outDir/authors")
      r.fileChanges.write.mode("overwrite").parquet(s"$outDir/file_changes")
      r.tags.write.mode("overwrite").parquet(s"$outDir/tags")
      r.repos.write.mode("overwrite").parquet(s"$outDir/repos")
      r.rejects.write.mode("overwrite").parquet(s"$outDir/rejects")
      r.release()
      r
    }
  }

  /** Cross-run incremental mode (U1–U5 across successive runs): the
    * reference appends every run into the same SQLite file, so each load is
    * a keyed upsert against the cumulative table (src/database.ts:21-36,
    * 85-95, 109-117, 148-151, 228-236), and ONE transaction covers all five
    * loads of a run (transactions.ts:43-56).
    *
    * The four repo-scoped tables (commits, file_changes, tags, repos) are
    * stored PARTITIONED by repo: a run merges only the partitions of the
    * repos it touched — the run's gated repo list, known on the driver
    * before any Spark job. The committed snapshot is read partition-pruned
    * to that set, merged with the table's reference conflict semantics,
    * staged, and moved into the live partition dirs. Untouched repos'
    * files are never read, rewritten, or even listed: merge cost is
    * proportional to the run's output, not the archive — at 100 TB this is
    * the difference between an incremental publish and a full rewrite.
    *
    * Each merge reads only the committed snapshot and its own table, so
    * the five merges (and the rejects write) run concurrently, under the
    * writer lease, on a pool created for the run. All five tables then
    * commit together as ONE store manifest (see the protocol block below),
    * the analogue of the reference's transaction.
    *
    * `authors` is the one table that CANNOT be repo-partitioned: its key
    * is email and its counts accumulate ACROSS repos (database.ts:109-117),
    * so it keeps the whole-table merge — it is a dimension table, orders
    * of magnitude smaller than the fact tables.
    *
    * Day 2 costs O(new commits). The store's header records, per repo,
    * the branch and tip sha a run extracted and whether the repo's
    * `commits` partition holds exactly the valid commits reachable from
    * that tip (`exact`). A repo whose branch is unchanged, whose head is
    * exact and an ancestor of the new tip takes the BOUNDED path: only
    * `git log <stored>..<tip>` is read, and those commits carry keys the
    * store does not hold, so its commits and file_changes rows are added
    * as new files to the partition, with no stored read and no shuffle.
    * Its `repos` row (one per partition, replaced wholesale) is built
    * from the header's partition stats plus the new rows. Any other repo
    * (new, branch switched, history rewritten, not exact) reads its whole
    * log and takes the keyed merge; it is exact again once the merged
    * partition holds no more rows than the run extracted. A `git log`
    * that fails for a repo whose tip resolved fails the run before its
    * commit, so a failed read cannot pass for a range with no commits.
    * `ls-files` is read in full on every run, and so is `for-each-ref`,
    * once per repo, on the driver. The header records the SHA-256 of each
    * repo's `for-each-ref` output; a repo whose output has the recorded
    * digest is left out of the tags merge, and a run where no repo's
    * refs changed keeps the committed tags entries with no read, no job
    * and no write. Authors keep the re-add semantics: a bounded repo's
    * increment is aggregated over its stored commits plus the new ones,
    * which is exactly what a full extraction would have read.
    *
    * A run where every repo takes the bounded path plans all of its frames
    * (the extraction, the five merges, the authors increment's stored read
    * and the `repos` rows) on a clone of `spark` that generates no code,
    * see [[graft.GraftSession.interpreted]]; `spark`'s own conf is not
    * changed. A run with a full-path repo keeps codegen: its extraction
    * can be large.
    */
  def etlAppend(spark: SparkSession, repoPaths: Seq[String], outDir: String,
      authorGate: Option[String] = None): Unit =
    etlAppendStaged(spark, repoPaths, outDir, authorGate, _ => ())

  /** One repo of an append run: the tip it reads (None when the branch
    * names no commit) and, on the bounded path, the stored head it
    * extends. */
  private final case class RepoRun(info: RepoInfo, tip: Option[String], from: Option[String]) {
    /** The `git log` range the run reads; None when there is no commit
      * to read. */
    def rev: Option[String] = tip.map(t => from.fold(t)(f => s"$f..$t"))
  }

  /** [[etlAppend]] with a step hook called at each named point of the
    * publish sequence (`after:<table>` ×5, `before:flip`, `after:flip`) —
    * the crash-injection / interleave seam the store-level atomicity tests
    * drive (a hook that throws models a process kill at that instant; a
    * hook that reads models a concurrent snapshot reader). The `after:`
    * hooks fire in publish order once every merge has finished. Production
    * callers go through [[etlAppend]]'s no-op hook. */
  private[git] def etlAppendStaged(spark: SparkSession, repoPaths: Seq[String],
      outDir: String, authorGate: Option[String],
      step: String => Unit): Unit = {
    transact(spark, outDir, StoreTables) { (committed, header) =>
      // Built under the lease: a writer refused at acquire does no work.
      val infos = gate(repoPaths, authorGate)
      val touched = infos.map(_.name).distinct
      // Two paths with one name share a partition: no head describes it.
      val shared = infos.groupBy(_.name).collect { case (n, is) if is.size > 1 => n }.toSet
      val commitFiles = entriesOf(committed, "commits")
      val commitDirs = commitFiles.map(_.split('/').head).toSet
      val runs = infos.map { i =>
        val tip = GitCli.revParse(i.path, i.branch)
        val from = for {
          t <- tip
          h <- header.heads.get(i.name)
          if !shared(i.name) && h.branch == i.branch && h.exact &&
            (header.stats.contains(i.name) || !commitDirs(partDir("repo_name", i.name))) &&
            GitCli.isAncestor(i.path, h.sha, t)
        } yield h.sha
        RepoRun(i, tip, from)
      }
      val bounded = runs.filter(_.from.nonEmpty).map(_.info.name)
      val full = touched.filterNot(bounded.contains)
      // A bounded-only run reads a few new commits: every frame below is
      // planned on a session that generates no code.
      val session = if (full.isEmpty) GraftSession.interpreted(spark) else spark
      // Each repo's `for-each-ref` output, read once, here. A repo whose
      // output has the digest its tags partition was last merged from is
      // left out of the tags merge: its rows are a function of the name
      // and the output, and their upsert into the partition is a no-op.
      // Two paths with one name, or a failed read, record no digest and
      // always merge.
      val tagsRead = infos.map(i => i -> GitCli.tagRefs(i.path))
      val tagDigests = tagsRead.collect { case (i, Some(raw)) if !shared(i.name) =>
        i.name -> StoreHeader.tagsDigest(raw) }.toMap
      val tagsMerged = touched.filterNot(n => tagDigests.get(n).exists(header.tags.get(n).contains))
      // The run's valid commits by repo, observed on the rejects write;
      // the written commits partitions, observed on the commits write; the
      // authors row count. A range of a repo whose tip resolved names
      // commits, so a `git log` of it that fails fails the run.
      val commitsIn, commitsOut, authorsOut = new Observation()
      val r = new Extraction(session, infos,
        GitCli.rawLogsOf(session, runs.flatMap(x => x.rev.map(x.info -> _)),
          onDriver = full.isEmpty, strict = true),
        _.observe(commitsIn, PartStats.byRepo(when(col("is_valid"), col("repo_name"))).as("s")),
        small = full.isEmpty)
      try {
        // rejects are per-run diagnostics (no reference counterpart, outside
        // the manifest), overwritten by every run under the lease; the
        // repos merge waits for the stats their write observes.
        val observed = Promise[Map[String, PartStats]]()
        val rejects = () => {
          observed.complete(Try {
            r.rejects.write.mode("overwrite").parquet(s"$outDir/rejects")
            PartStats.fromObserved(commitsIn.get("s"))
          }).future.value.get.get
          Nil
        }
        // Per touched repo: the stats `written` adds to a bounded repo's
        // stored ones; a full repo's are `written`'s alone.
        def withStored(written: Map[String, PartStats]): Seq[(String, PartStats)] =
          touched.flatMap { n =>
            (if (bounded.contains(n)) (header.stats.get(n) ++ written.get(n)).reduceOption(_ + _)
            else written.get(n)).map(n -> _)
          }
        // Each repo's `repos` row is the stats of the valid commits
        // reachable from its tip (a bounded repo's stored ones plus its new
        // commits, a full repo's extraction) and its `ls-files` language.
        // The row replaces the stored one wholesale, so it is written with
        // no stored read; a repo without valid commits keeps its stored
        // row. The language is read while the rejects write runs.
        def repoRows = {
          import session.implicits._
          val lang = r.language.collect().map(l => l.getString(0) -> l.getString(1)).toMap
          withStored(Await.result(observed.future, Duration.Inf))
            .map { case (n, s) => (n, s.maxAt, s.rows, lang.get(n)) }
            .toDF("name", "at", "total_commits", "language")
            .select(col("name"), timestamp_micros(col("at")).as("last_commit_at"),
              col("total_commits"), lit(false).as("is_archived"), col("language"))
        }
        val boundedFiles = commitFiles.filter(f =>
          bounded.exists(n => f.startsWith(partDir("repo_name", n) + "/")))

        // One merge per table in publish order, each from the table's
        // committed entries to its next ones.
        val merges = Seq[(String, Seq[String] => Seq[String])](
          // ON CONFLICT(repo_name, sha) DO UPDATE (database.ts:21-36)
          "commits" -> (mergePartitioned(session, outDir, _, "commits", "repo_name",
            r.commits, full, bounded, append = true,
            _.observe(commitsOut, PartStats.byRepo(col("repo_name")).as("s")))(
            GitAgg.upsertLatest(_, _, Seq("repo_name", "sha")))),
          // ON CONFLICT(email): counts add, dates min/max, new name wins (:109-117)
          // A bounded repo's increment counts its stored commits too.
          "authors" -> { mine =>
            val commits =
              if (boundedFiles.isEmpty) r.commits
              else readFiles(session, new Path(outDir, "commits"), boundedFiles,
                r.commits.schema).unionByName(r.commits)
            mergeWhole(session, outDir, mine, "authors", GitAgg.authors(commits).schema,
              _.observe(authorsOut, count(lit(1)).as("n")))(
              _.fold(GitAgg.authors(commits))(GitAgg.addAuthors(_, commits)))
          },
          // INSERT OR IGNORE (:148-151): stored row wins
          "file_changes" -> (mergePartitioned(session, outDir, _, "file_changes",
            "repo_name", r.fileChanges, full, bounded, append = true)(
            GitAgg.upsertKeepFirst(_, _, Seq("repo_name", "sha", "file_path")))),
          // ON CONFLICT(repo_name, tag_name) DO UPDATE (:228-236), from
          // the outputs read above; with no repo to merge, the committed
          // entries stand.
          "tags" -> { mine =>
            if (tagsMerged.isEmpty) mine
            else mergePartitioned(session, outDir, mine, "tags", "repo_name",
              GitAgg.dedupTags(GitParse.parseTags(GitCli.rawTagsOf(session, tagsRead.collect {
                case (i, Some(raw)) if tagsMerged.contains(i.name) => i.name -> raw }))),
              tagsMerged)(GitAgg.upsertLatest(_, _, Seq("repo_name", "tag_name")))
          },
          // ON CONFLICT(name) DO UPDATE (:85-95)
          "repos" -> (mergePartitioned(session, outDir, _, "repos", "name",
            repoRows, Nil, touched)(
            GitAgg.upsertLatest(_, _, Seq("name")))))
        // The merge threads inherit `session` as their active session, so
        // conf read outside a Dataset action (the `repos` rows' encoder) is
        // its conf.
        val entries = GraftShim.withActive(session)(concurrently(merges.map {
          case (table, merge) => () => merge(entriesOf(committed, table)) } :+ rejects))
        merges.foreach { case (table, _) => step(s"after:$table") }
        step("before:flip")
        val in = observed.future.value.get.get
        // A merged partition was written whole; a bounded one got new rows.
        val stats = withStored(PartStats.fromObserved(commitsOut.get("s"))).toMap
        // A merged partition is exact when it holds no more rows than the
        // run extracted: nothing outside the tip's history survived.
        val heads = runs.collect { case x @ RepoRun(i, Some(tip), _) if !shared(i.name) =>
          i.name -> RepoHead(i.branch, tip, x.from.nonEmpty ||
            stats.get(i.name).map(_.rows).getOrElse(0L) ==
              in.get(i.name).map(_.rows).getOrElse(0L))
        }
        val next = merges.map(_._1).zip(entries).foldLeft(committed) {
          case (snap, (table, mine)) => replacing(snap, table)(_ => mine)
        }
        (next, StoreHeader(header.heads -- touched ++ heads, header.stats -- touched ++ stats,
          Some(authorsOut.get("n").asInstanceOf[Long]), header.tags -- touched ++ tagDigests))
      } finally r.release()
    }
    step("after:flip")
  }

  /** Name prefix of the threads [[etlAppend]] runs its merges on. */
  private[git] val MergeThreadPrefix = "graft-store-merge-"

  /** Run `tasks` on a fixed pool of one thread per task and return
    * their results in order. The pool is created for this call, so its
    * threads inherit the caller's SparkContext local properties, and every
    * thread is joined before return: no task outlives the call (nor the
    * writer lease it runs under). Every task runs to completion; the
    * first failure in `tasks` order is rethrown only then. */
  private def concurrently[T](tasks: Seq[() => T]): Seq[T] = {
    val threads = new ConcurrentLinkedQueue[Thread]()
    val n = new AtomicInteger()
    val pool = Executors.newFixedThreadPool(tasks.size, (task: Runnable) => {
      val t = new Thread(task, s"$MergeThreadPrefix${n.incrementAndGet()}")
      t.setDaemon(true)
      threads.add(t)
      t
    })
    try {
      val futures = tasks.map(t => pool.submit(new Callable[T] { def call(): T = t() }))
      val done = futures.map(f => Try(f.get()).recoverWith {
        case e: ExecutionException => Failure(e.getCause)
      })
      done.map(_.get)
    } finally {
      pool.shutdown()
      threads.forEach(_.join())
    }
  }

  /** The five store-committed tables, in publish order. */
  private[git] val StoreTables =
    Seq("commits", "authors", "file_changes", "tags", "repos")

  // -----------------------------------------------------------------------
  // The store manifest — the commit protocol of the incremental store.
  //
  // Layout: `<outDir>/<table>/[<partdir>/]part-….parquet` data files, and
  // at the root ONE `_store-manifest-<seq>` file listing every committed
  // data file of every table as a root-relative path
  // (`commits/repo_name=a/part-….parquet`), sorted. Data files are
  // immutable and uniquely named (Spark's per-job UUID part names), so a
  // writer only ever ADDS files before its commit.
  //
  // Commit point: [[transact]] commits the next manifest ONCE per write —
  // all five tables of an [[etlAppend]] run, or one table of a [[compact]]
  // or standalone publish, carrying every other table's entries forward —
  // through `GenStore.commit` under the store-root writer lease: ownership
  // re-check, then an atomic rename at exactly seq+1 (a seq committed
  // underneath fails loudly). A one-file rename is the only atomicity
  // needed, available on object stores where directory renames are not.
  // [[readSnapshot]] resolves the manifest and reads exactly its files, so
  // every table reads at the SAME committed write: staging, file moves and
  // a run that is mid-publish are invisible (the reference's single SQLite
  // transaction, transactions.ts:43-56).
  //
  // Crash residue: a writer that dies before the commit leaves only files
  // the manifest does not name (plus dot-prefixed staging and tmp files)
  // and the previous snapshot fully intact, so even the NON-idempotent
  // authors merge (counts ADD) reruns from exactly the committed totals.
  // The next writer deletes the unnamed files in the dirs it writes;
  // [[compact]] scans every partition dir of its table. `rejects` lives
  // outside the manifest and is overwritten under the lease alongside the
  // merges, so a run that dies before the flip may leave its own rejects
  // behind until the next run overwrites them.
  //
  // GC: right after the commit, the writer deletes the files the new
  // manifest no longer names, so at rest a raw directory read of a table
  // equals its manifest snapshot (underscore-prefixed manifests are
  // invisible to Spark's file index). Single writer per store (the
  // lease); a reader overlapping a later write's GC should re-resolve the
  // manifest or run with spark.sql.files.ignoreMissingFiles.
  //
  // Header: each manifest has a [[StoreHeader]] next to it under the same
  // seq, `_store-header-<seq>`: per repo the branch, tip sha and `exact`
  // flag its last extraction recorded and the digest of the tag list its
  // `tags` partition was merged from, per `commits` partition its summary
  // stats, and the `authors` row count (the format is on [[StoreHeader]]).
  // [[transact]] writes header seq+1 (through the same `GenStore.commit`,
  // replacing any orphan a crashed writer left at that seq) right before
  // manifest seq+1, so the manifest rename commits both, and a header
  // counts only while the manifest of its seq is the live one. Manifest
  // entries stay data files only. A manifest without a header (plain
  // [[etl]] output, a store from before headers, a listing commit) reads
  // as "no heads, no stats": its repos take the full path and its report
  // scans. The stats are observed (`Dataset.observe`) on the writes that
  // run anyway; a writer that rewrites partitions without producing new
  // stats drops those partitions' stats, heads and tag digests, and
  // [[compact]] carries them forward, since it does not change content.
  //
  // `rejects` holds the invalid commits of the run's extraction: a bounded
  // run reads only the new commits, so it reports only new rejects.
  // -----------------------------------------------------------------------

  private val ManifestPrefix = "_store-manifest-"
  private val HeaderPrefix = "_store-header-"

  private def readManifest(fs: FileSystem, m: Path): Seq[String] = {
    val in = fs.open(m)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(_.nonEmpty).toList
    finally in.close()
  }

  /** The header committed with manifest `seq`; empty when it has none. */
  private def readHeader(fs: FileSystem, base: Path, seq: Long): StoreHeader = {
    val h = new Path(base, f"$HeaderPrefix$seq%09d")
    if (fs.exists(h)) StoreHeader.parse(readManifest(fs, h)) else StoreHeader.empty
  }

  /** The live manifest's entries and header, if the store has a manifest. */
  private def committedState(fs: FileSystem, base: Path): Option[(Seq[String], StoreHeader)] =
    graft.ops.GenStore.latest(fs, base, ManifestPrefix)
      .map { case (seq, m) => (readManifest(fs, m), readHeader(fs, base, seq)) }

  /** `value`'s partition dir name under `partCol`, as partitionBy writes it. */
  private def partDir(partCol: String, value: String): String =
    s"$partCol=" + org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName(value)

  /** The committed files `files` (`store`-relative) of a partitioned
    * table, read with `schema` pinned: no schema-inference job, and the
    * partition column's values come from the dir names via basePath. */
  private def readFiles(spark: SparkSession, store: Path, files: Seq[String],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).option("basePath", store.toString)
      .parquet(files.map(f => new Path(store, f).toString): _*)

  /** `table`'s entries of a store snapshot, table-relative. */
  private def entriesOf(snap: Seq[String], table: String): Seq[String] =
    snap.filter(_.startsWith(s"$table/")).map(_.stripPrefix(s"$table/"))

  /** `snap` with `table`'s entries replaced by what `f` makes of them
    * (table-relative both ways). */
  private def replacing(snap: Seq[String], table: String)(
      f: Seq[String] => Seq[String]): Seq[String] =
    snap.filterNot(_.startsWith(s"$table/")) ++
      f(entriesOf(snap, table)).map(e => s"$table/$e")

  /** The store's one write path. Under the store-root writer lease (the
    * `_maintenance.lease` protocol of the index stores: a second writer
    * is refused at acquire, a killed one is taken over after the TTL):
    * recover `tables` from pre-manifest crash states, resolve the
    * committed snapshot and its header, hand them to `body`, commit what
    * `body` returns as the next manifest and header, then delete the files
    * it no longer names. A store without a manifest (plain [[etl]] output,
    * or a fresh dir) is its own listing, committed as seq 0 with an empty
    * header before any file moves in — so from then on junk is always
    * distinguishable from data, even after a crash mid-first-run. */
  private def transact(spark: SparkSession, outDir: String, tables: Seq[String])(
      body: (Seq[String], StoreHeader) => (Seq[String], StoreHeader)): Unit = {
    val base = new Path(outDir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.ops.GenStore.withLease(fs, base) { lease =>
      def commit(seq: Long, files: Seq[String], header: StoreHeader): Unit = {
        val h = new Path(base, f"$HeaderPrefix$seq%09d")
        if (fs.exists(h)) fs.delete(h, false)
        graft.ops.GenStore.commit(fs, base, HeaderPrefix, h.getName, header.render, Some(lease))
        graft.ops.GenStore.commit(fs, base, ManifestPrefix,
          f"$ManifestPrefix$seq%09d", files.sorted.mkString("\n"), Some(lease))
      }
      tables.foreach(recoverRetired(fs, base, _))
      val (seq, snap, header) = graft.ops.GenStore.latest(fs, base, ManifestPrefix) match {
        case Some((seq, m)) => (seq, readManifest(fs, m), readHeader(fs, base, seq))
        case None =>
          val files = (StoreTables ++ tables).distinct.flatMap(t =>
            listDataFiles(fs, new Path(base, t)).map(f => s"$t/$f"))
          commit(0L, files, StoreHeader.empty)
          (0L, files, StoreHeader.empty)
      }
      // Orphaned manifest and header tmps and lease-takeover claims (no
      // gen= dirs here).
      Seq(ManifestPrefix, HeaderPrefix).foreach(graft.ops.GenStore.preClean(fs, base, _, seq, Nil))
      val (next, nextHeader) = body(snap, header)
      if (next.toSet != snap.toSet || nextHeader != header) {
        commit(seq + 1, next, nextHeader)
        snap.diff(next).foreach(f => fs.delete(new Path(base, f), false))
      }
    }
  }

  /** Stage `write`'s output under `staged`, then move its data files into
    * `dest` (names carry the writing job's UUID — collision-free by
    * construction). Returns the moved files, `dest`-relative. */
  private def stageInto(fs: FileSystem, staged: Path, dest: Path)(
      write: String => Unit): Seq[String] = {
    fs.delete(staged, true)
    write(staged.toString)
    val moved = listDataFiles(fs, staged).map { rel =>
      val to = new Path(dest, rel)
      fs.mkdirs(to.getParent)
      require(fs.rename(new Path(staged, rel), to), s"publish move failed for $rel into $dest")
      rel
    }
    fs.delete(staged, true)
    moved
  }

  /** Whole-table keyed merge (dimension tables): read the committed files
    * `mine` with `schema` (None when there are none), move what `merged`
    * makes of them, through `observe`, in; returns the table's next
    * entries. */
  private def mergeWhole(spark: SparkSession, outDir: String, mine: Seq[String],
      table: String, schema: org.apache.spark.sql.types.StructType,
      observe: DataFrame => DataFrame)(
      merged: Option[DataFrame] => DataFrame): Seq[String] = {
    val path = new Path(outDir, table)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    cleanJunk(fs, path, mine.toSet, Seq(""))
    val stored = if (mine.nonEmpty) Some(readFiles(spark, path, mine, schema)) else None
    stageInto(fs, new Path(outDir, s".$table.__staged"), path)(
      observe(merged(stored)).write.mode("overwrite").parquet(_))
  }

  /** Partitioned keyed merge (fact tables). The store read of the
    * committed files `mine` is pruned to the `merged` partition values;
    * those rows are merged with `incoming` and the partitions replaced.
    * The `fresh` values' rows are written with no stored read: their
    * committed files are kept when `append` (the rows carry keys the store
    * does not hold), and replaced otherwise (a row that replaces its
    * partition wholesale). `incoming`'s values must all be in `merged` or
    * `fresh`. The written frame goes through `observe`. Returns the
    * table's next entries. */
  private def mergePartitioned(spark: SparkSession, outDir: String,
      mine: Seq[String], table: String, partCol: String, incoming: DataFrame,
      merged: Seq[String], fresh: Seq[String] = Nil, append: Boolean = false,
      observe: DataFrame => DataFrame = identity)(
      merge: (DataFrame, DataFrame) => DataFrame): Seq[String] = {
    val store = new Path(outDir, table)
    val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // A store written by the old FLAT layout (or the empty-table marker)
    // has data files at the root: those rows span ALL repos, so a pruned
    // merge would lose the untouched ones when the root files are
    // replaced. Migrate with one unpruned full merge; every later run is
    // partition-pruned.
    val flatData = mine.exists(!_.contains("/"))
    // Dir names use Spark's own partition-path escaping, so the prune
    // matches exactly what partitionBy wrote.
    val mergedDirs = merged.map(partDir(partCol, _)).toSet
    val appendedDirs = if (append) fresh.map(partDir(partCol, _)).toSet else Set.empty[String]
    // Junk scan scoped to the dirs this run writes: junk elsewhere is
    // invisible to snapshot readers and reaped by compact's full pass.
    cleanJunk(fs, store, mine.toSet,
      if (flatData || mine.isEmpty) Seq("") else (merged ++ fresh).map(partDir(partCol, _)))
    // The SNAPSHOT is the file listing: the store read enumerates exactly
    // the committed files of the merged partitions — no recursive
    // directory listing of the archive, ever (the 100 TB cost a dir-based
    // read would pay at plan time even with partition pruning).
    val files =
      if (flatData) mine else mine.filter(f => mergedDirs.contains(f.split('/').head))
    val result =
      if (files.isEmpty) incoming
      else merge(readFiles(spark, store, files, incoming.schema), incoming)
        .select(incoming.columns.map(col): _*)
    val staged = new Path(outDir, s".$table.__staged")
    val written = stageInto(fs, staged, store)(
      observe(result).write.mode("overwrite").partitionBy(partCol).parquet(_))
    // Untouched partitions and appended ones keep their entries; the
    // written others (all root files on the migration path) are replaced.
    val replaced = written.map(_.split('/').head).toSet -- appendedDirs
    val kept =
      if (flatData && written.nonEmpty) Nil
      else mine.filterNot(f => replaced.contains(f.split('/').head))
    // An empty merged result (e.g. a run with no tags) writes no
    // partition files; a table with no files yet gets a flat empty-
    // schema'd parquet instead, so it stays readable — replaced by real
    // partition dirs the first time any appear.
    val marker =
      if (written.isEmpty && mine.isEmpty)
        stageInto(fs, staged, store)(result.write.mode("overwrite").parquet(_))
      else Nil
    kept ++ written ++ marker
  }

  /** Every data file under `dir` (recursive), `dir`-relative, skipping
    * dot- and underscore-prefixed staging/tmp/metadata entries. Walks with
    * `listStatus`: `listFiles` wraps each entry in a `LocatedFileStatus`,
    * whose constructor reads the permission, which the local file system
    * loads by forking `ls`. */
  private def listDataFiles(fs: FileSystem, dir: Path): Seq[String] = {
    def walk(d: Path, prefix: String): Seq[String] =
      fs.listStatus(d).toSeq.flatMap { st =>
        val name = st.getPath.getName
        if (name.startsWith(".") || name.startsWith("_")) Nil
        else if (st.isDirectory) walk(st.getPath, s"$prefix$name/")
        else if (name.endsWith(".parquet")) Seq(prefix + name)
        else Nil
      }
    if (fs.exists(dir)) walk(dir, "") else Seq.empty
  }

  /** Delete the data files in `dirs` (table-relative; "" = the table
    * root) that the committed snapshot does not name: moved in by a
    * writer that died before its commit. Scoping the scan to the dirs the
    * caller is about to write keeps per-publish IO proportional to the
    * run, not the archive's file count. */
  private def cleanJunk(fs: FileSystem, store: Path, named: Set[String],
      dirs: Seq[String]): Unit =
    dirs.distinct.foreach { d =>
      val dir = if (d.isEmpty) store else new Path(store, d)
      if (fs.exists(dir))
        fs.listStatus(dir)
          .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
          .map(f => if (d.isEmpty) f.getPath.getName else s"$d/${f.getPath.getName}")
          .filterNot(named)
          .foreach(rel => fs.delete(new Path(store, rel), false))
    }

  /** Undo a crash of the PRE-manifest layout's retire→promote swaps, kept
    * for stores that last published under that layout: a retired table
    * dir (`.{table}.__retired-*` at the root) or partition dir
    * (`.retired-<uuid>--<partdir>` in the table) is restored when its live
    * dir is missing — the promote never happened — and is post-promote
    * junk otherwise. Stale compaction staging is always junk. Dot-
    * prefixed names are invisible to Spark's file index either way. */
  private def recoverRetired(fs: FileSystem, base: Path, table: String): Unit = {
    if (!fs.exists(base)) return
    val store = new Path(base, table)
    val retired = fs.listStatus(base).map(_.getPath)
      .filter(_.getName.startsWith(s".$table.__retired-"))
    if (!fs.exists(store)) {
      require(retired.length <= 1,
        s"unrecoverable state for $table: ${retired.length} retired dirs")
      retired.foreach(r => require(fs.rename(r, store),
        s"crash rollback failed for $table"))
    } else retired.foreach(fs.delete(_, true))
    if (fs.exists(store))
      fs.listStatus(store).map(_.getPath).foreach { p =>
        if (p.getName.startsWith(".retired-")) {
          // name = .retired-<36-char-uuid>--<partdir>
          val part = p.getName.drop(".retired-".length + 36 + 2)
          val dest = new Path(store, part)
          if (part.nonEmpty && !fs.exists(dest))
            require(fs.rename(p, dest), s"crash rollback failed for $dest")
          else fs.delete(p, true)
        } else if (p.getName.startsWith(".compact-staged-")) fs.delete(p, true)
      }
  }

  /** Standalone partitioned publish of one table: [[mergePartitioned]]
    * committed as the next store manifest, every other table's entries
    * carried forward. Without a repo list, the touched partition values
    * are read from `incoming` (one Spark job). Null values would silently
    * miss the snapshot prune and corrupt the merge — refused loudly. The
    * header drops the touched values' heads, stats and tag digests: this
    * writer produces none. */
  private[git] def publishPartitioned(spark: SparkSession, outDir: String,
      table: String, partCol: String, incoming: DataFrame)(
      merge: (DataFrame, DataFrame) => DataFrame): Unit =
    transact(spark, outDir, Seq(table)) { (snap, header) =>
      val touched = incoming.select(col(partCol)).distinct()
        .as(Encoders.STRING).collect().toSeq
      require(!touched.contains(null), s"$table: null $partCol cannot be partition-merged")
      (replacing(snap, table)(mergePartitioned(spark, outDir, _, table, partCol,
        incoming, touched)(merge)), header.without(touched))
    }

  /** Read a table at the store's committed snapshot: resolve the root
    * manifest and read exactly the files it names for `table` — all
    * tables resolve at the same committed write, and a write that is
    * staging, moving files in, or has crashed mid-way is invisible. A
    * store table with no files reads as empty. A store without a manifest
    * (plain [[etl]] output), or a table outside it (rejects), is a
    * directory read. */
  def readSnapshot(spark: SparkSession, outDir: String, table: String): DataFrame = {
    val base = new Path(outDir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val store = new Path(base, table)
    graft.ops.GenStore.latest(fs, base, ManifestPrefix)
      .map(m => entriesOf(readManifest(fs, m._2), table)) match {
      case Some(files) if files.nonEmpty =>
        spark.read.option("basePath", store.toString)
          .parquet(files.map(f => new Path(store, f).toString): _*)
      case Some(_) if StoreTables.contains(table) => spark.emptyDataFrame
      case _ => spark.read.parquet(store.toString)
    }
  }

  /** Compact a repo-partitioned table written by [[etlAppend]]. Files
    * pile up in a partition two ways: a day-2 append on the bounded path
    * adds its rows as new files next to the stored ones, and a keyed merge
    * may leave one write's fan-out of several files. Partitions at or
    * below `filesPerPartition` data files are skipped (idempotent: a
    * second compact run touches nothing); each of the rest is folded into
    * one file, moved in, and committed as ONE new store manifest — readers
    * mid-compaction keep the old snapshot, whose files are dropped only
    * after the commit. Content is untouched, so the header (heads, stats
    * and tag digests) is carried forward; only the physical file layout
    * changes.
    * Compaction is also the full junk pass: it scans EVERY partition dir
    * of the table, so files a crashed publish moved into a dir no later
    * run writes are reaped here. */
  def compact(spark: SparkSession, outDir: String, table: String,
      filesPerPartition: Int = 1): Unit = {
    val store = new Path(outDir, table)
    val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(store)) return
    transact(spark, outDir, Seq(table))((snap, header) => (replacing(snap, table) { mine =>
      val dirOf = (f: String) => f.split('/').init.mkString("/")
      cleanJunk(fs, store, mine.toSet, "" +: fs.listStatus(store)
        .filter(_.isDirectory).map(_.getPath.getName)
        .filterNot(n => n.startsWith(".") || n.startsWith("_")).toSeq)
      mine.groupBy(dirOf).toSeq.sortBy(_._1).flatMap {
        case (dir, files) =>
          if (dir.isEmpty || files.length <= filesPerPartition) files
          else {
            val partDir = new Path(store, dir)
            // No basePath: the partition column stays in the path, not the
            // rewritten files — same layout the publish writes.
            stageInto(fs, new Path(store, s".compact-staged-$dir"), partDir)(
              spark.read.parquet(partDir.toString)
                .coalesce(1).write.mode("overwrite").parquet(_))
              .map(n => s"$dir/$n")
          }
      }
    }, header))
  }

  /** S8 bucketed-layout sink (opt-in): the two fact tables are saved as
    * catalog tables bucketed AND sorted on (repo_name, sha), so every
    * downstream keyed operation on that key — the U1/U3 cross-run dedup,
    * the commits⋈file_changes star join, an as-of join against commit
    * history — plans as a shuffle-free sort-merge over co-located buckets.
    * At 100 TB this moves the dominant join cost from a cluster-wide
    * exchange to a local merge per bucket, paid once at write time.
    * Dimension tables (authors, tags, repos) stay plain: they broadcast.
    * Proven by a plan assertion in MainSpec (zero Exchange in the fact
    * join) — the same machinery BucketedJoinSpec demonstrates on TPC-H. */
  def etlBucketed(spark: SparkSession, repoPaths: Seq[String],
      tablePrefix: String, buckets: Int = 8,
      authorGate: Option[String] = None): Result = {
    val r = build(spark, repoPaths, authorGate)
    Seq("commits" -> r.commits, "file_changes" -> r.fileChanges).foreach {
      case (name, df) =>
        df.write.mode("overwrite")
          .bucketBy(buckets, "repo_name", "sha").sortBy("repo_name", "sha")
          .saveAsTable(s"${tablePrefix}_$name")
    }
    r.authors.write.mode("overwrite").saveAsTable(s"${tablePrefix}_authors")
    r.tags.write.mode("overwrite").saveAsTable(s"${tablePrefix}_tags")
    r.repos.write.mode("overwrite").saveAsTable(s"${tablePrefix}_repos")
    r.release()
    r
  }

  /** S8 JDBC sink option, mirroring the reference's embedded-file database
    * contract (db/index.ts:4: a single SQLite file consumed by external BI
    * tools). Derby is the embedded JDBC engine available on the Spark
    * classpath; `jdbc:derby:/path;create=true` is the moral equivalent of
    * the reference's `/var/tmp/git-analytics.db`. Parquet stays the primary
    * sink (SURVEY §2.1 S8) — this is the compatibility path, and it
    * single-streams through one connection per table, so it is for serving
    * summaries, not 100 TB fact tables. */
  def etlJdbc(spark: SparkSession, repoPaths: Seq[String], jdbcUrl: String,
      authorGate: Option[String] = None): Result = {
    val r = build(spark, repoPaths, authorGate)
    val props = new java.util.Properties()
    def w(table: String, df: DataFrame): Unit =
      df.write.mode("overwrite").jdbc(jdbcUrl, table, props)
    w("commits", r.commits)
    w("authors", r.authors)
    w("file_changes", r.fileChanges)
    w("tags", r.tags)
    w("repos", r.repos)
    // validation_errors is array-typed — JDBC needs a scalar rendering
    w("rejects", r.rejects.withColumn("validation_errors",
      concat_ws("; ", col("validation_errors"))))
    r.release()
    r
  }

  /** S10: formatted console summary report (src/transforms.ts:64-86). A
    * table with no commits reports 0 for every count and no date range. */
  def summaryReport(commits: DataFrame): String = {
    val row = GitAgg.summaryStats(commits).collect()(0)
    formatReport((0 to 5).map(i => if (row.isNullAt(i)) 0L else row.getLong(i)),
      if (row.isNullAt(6)) None else Some((row.getString(6), row.getString(7))))
  }

  private def formatReport(n: Seq[Long], dates: Option[(String, String)]): String = {
    val fmt = java.text.NumberFormat.getIntegerInstance(java.util.Locale.US)
    val lines = Seq("Commits:        ", "Additions:      ", "Deletions:      ",
      "Files changed:  ", "Merge commits:  ", "Unique authors: ")
      .zip(n).map { case (k, v) => s"  $k${fmt.format(v)}" } ++
      dates.map { case (from, to) => s"  Date range:     $from .. $to" }
    ("Summary" +: lines).mkString("\n")
  }

  /** [[summaryReport]] of the store at `outDir`. When its header has the
    * stats of every committed `commits` partition and the `authors` row
    * count, the report is built from them, with no Spark job; otherwise
    * it scans the committed `commits` table. Unique authors is the
    * `authors` row count: every email in `authors` came from a valid
    * commit the store keeps, and every stored commit's email was counted
    * in. Root-level `commits` entries are ignored: under a header an
    * append wrote, the only one is the empty-table marker (a flat-layout
    * store is migrated by its first append). */
  def storeReport(spark: SparkSession, outDir: String): String =
    headerReport(spark, outDir)
      .getOrElse(summaryReport(readSnapshot(spark, outDir, "commits")))

  /** [[storeReport]] from the header alone; None when it does not cover
    * the store. */
  private[git] def headerReport(spark: SparkSession, outDir: String): Option[String] = {
    val base = new Path(outDir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    committedState(fs, base).flatMap { case (entries, header) =>
      val parts = entriesOf(entries, "commits").filter(_.contains("/"))
        .map(_.split('/').head).distinct
      val byDir = header.stats.map { case (r, s) => partDir("repo_name", r) -> s }
      val stats = parts.map(byDir.get)
      for {
        authors <- header.authors
        all <- if (stats.forall(_.nonEmpty)) Some(stats.flatten) else None
      } yield {
        val t = all.foldLeft(PartStats.zero)(_ + _)
        val day = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd")
          .withZone(java.time.ZoneId.of(spark.conf.get("spark.sql.session.timeZone")))
        def date(micros: Long) = day.format(
          java.time.Instant.EPOCH.plus(micros, java.time.temporal.ChronoUnit.MICROS))
        formatReport(Seq(t.rows, t.additions, t.deletions, t.filesChanged, t.merges, authors),
          if (t.rows == 0) None else Some((date(t.minAt), date(t.maxAt))))
      }
    }
  }
}
